"""Per-query measurement probe for optimization work (guide section 1).

Uses bench.py's session, sizing and count() materialization, but runs a
SELECTED subset of queries with repeats, optional noop-sink
materialization, plan capture and config A/B - so a single query can be
isolated and re-measured in seconds instead of re-running the whole
sweep.  Any __spark_entry__.queries() name can be probed; snap_pipeline
is bench.py's headline form of it.  With no names, the probe runs
bench.py's sweep.

Usage:
  SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 SPARK_GRAFT_CPUS=4 \
  python tools/bench_probe.py [--repeats 3] [--noop] [--plans DIR] q1 q2 ...

  TEXEL_PROBE_CONF="spark.sql.codegen.maxFields=256;spark.foo=bar" for A/B.

Before the timed repeats, the first query named runs once, untimed:
a session's first query pays its one-off class-loading and JIT cost.

Prints one JSON line: {"queries": {name: [s1, s2, ...]}, "build":
{name: [b1, b2, ...]}, "rows": {...}} - per repeat, the seconds to run
the query and, under "build", the seconds to get its DataFrame: reading
the input tables (for snap_pipeline, writing the synthetic corpus) and
the Python -> JVM calls that construct the plan.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names from __spark_entry__.queries()")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--noop", action="store_true", help="noop-sink write instead of count()")
    ap.add_argument("--plans", default=None, help="directory to write <query>.txt explain output")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    from __spark_entry__ import queries
    from bench import SWEEP, headline_snap_pipeline, setup

    registry = queries()
    if args.list:
        print("\n".join(registry))
        return

    extra = {}
    for kv in os.environ.get("TEXEL_PROBE_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark, sf_dir, sf, cpus, n_docs = setup("texel-probe", extra)

    def build(name: str):
        if name == "snap_pipeline":
            return headline_snap_pipeline(spark, n_docs, cpus)
        return registry[name](spark, sf_dir)

    names = args.queries or ["snap_pipeline", *SWEEP]
    build(names[0]).count()  # warm-up, untimed
    timings: dict[str, list[float]] = {}
    builds: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    for name in names:
        for i in range(args.repeats):
            t0 = time.perf_counter()
            df = build(name)
            builds.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.perf_counter()
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            else:
                n = df.count()
            timings.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            rows[name] = n
            spark.sparkContext.setJobDescription(None)
            if args.plans and i == 0:
                # count()/noop run a new QueryExecution, so the frame's own
                # one is executed here, untimed: AQE then finalizes it and
                # the file shows the plan that ran (isFinalPlan=true)
                qe = df._jdf.queryExecution()
                qe.toRdd().count()
                os.makedirs(args.plans, exist_ok=True)
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted"))

    print(json.dumps({"sf": sf, "cpus": cpus, "queries": timings, "build": builds, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
