"""Skew quantification for the salted (zoom, tile_id) shuffle (north rule).

Synthesizes a Zipf-hot tile distribution (dense-urban-cell shape: a few
tiles carry most features), runs the pipeline's pre-sink repartition with
and without the salt column, and reports the per-partition row-count
distribution (max / p99 / mean) plus wall time.  Write tasks are
per-partition, so partition balance IS write-task balance: an unsalted
hot tile lands on one writer task; salting spreads it over salt_buckets
tasks.

Usage: python3 tools/bench_skew.py [n_rows=2_000_000] [zipf_s=1.2]
Writes the table into BENCH/SKEW.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def partition_histogram(df):
    from pyspark.sql import functions as F

    counts = [
        r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()
    ]
    counts.sort()
    n = len(counts)
    return {
        "partitions": n,
        "max": counts[-1] if counts else 0,
        "p99": counts[min(n - 1, int(0.99 * n))] if counts else 0,
        "p50": counts[n // 2] if counts else 0,
        "mean": round(sum(counts) / max(n, 1), 1),
    }


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    zipf_s = float(sys.argv[2]) if len(sys.argv) > 2 else 1.2
    from pyspark.sql import functions as F

    from texel_spark.session import get_spark

    spark = get_spark(
        app_name="texel-skew",
        shuffle_partitions=64,
        # the probe measures writer-task sizes: AQE's small-partition
        # coalescing would merge them and hide the per-key structure
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Zipf-hot tile ids, JVM-side: tile rank r with p(r) ~ r^-s via the
    # closed-form inverse CDF on a deterministic uniform hash
    # (no Python in the generator)
    n_tiles = 4096
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_003)).cast("double") + 0.5) / 1_000_003.0
    a = 1.0 - zipf_s  # s != 1
    scale = float(n_tiles) ** a - 1.0
    rank = F.least(
        F.lit(n_tiles - 1),
        F.floor(F.pow(F.lit(1.0) + u * F.lit(scale), F.lit(1.0 / a))).cast("long") - 1,
    )
    rows = (
        spark.range(n_rows)
        .withColumn("tile_id", F.greatest(F.lit(0), rank))
        .withColumn("zoom", F.lit(12))
        .withColumn("doc_id", F.col("id").cast("string"))
        .withColumn("span_idx", F.pmod(F.col("id"), F.lit(7)).cast("int"))
        .drop("id")
        .cache()
    )
    rows.count()
    top = rows.groupBy("tile_id").count().orderBy(F.desc("count")).limit(5).collect()
    hot_share = sum(r["count"] for r in top) / n_rows

    report = {"n_rows": n_rows, "zipf_s": zipf_s, "hot5_share": round(hot_share, 3)}
    for salted in (False, True):
        df = rows
        if salted:
            df = df.withColumn("salt", F.pmod(F.xxhash64("doc_id", "span_idx"), F.lit(8)))
            shuffled = df.repartition(F.col("zoom"), F.col("tile_id"), F.col("salt")).drop("salt")
        else:
            shuffled = df.repartition(F.col("zoom"), F.col("tile_id"))
        t0 = time.perf_counter()
        hist = partition_histogram(shuffled)
        hist["secs"] = round(time.perf_counter() - t0, 2)
        report["salted" if salted else "unsalted"] = hist

    print(json.dumps(report))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    un, sa = report["unsalted"], report["salted"]
    with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as f:
        f.write(f"""# Salted-shuffle skew quantification

Zipf(s={zipf_s}) tile distribution over {n_tiles} tiles, {n_rows:,} rows
(top-5 tiles carry {report['hot5_share']:.0%} of all rows - the
dense-urban-cell shape).  The pipeline's pre-sink repartition keyed
(zoom, tile_id) vs (zoom, tile_id, salt) with 8 salt buckets; write
tasks are per shuffle partition, so the partition row-count distribution
is the write-task size distribution.

| repartition key | partitions | max rows | p99 | p50 | mean |
|---|---|---|---|---|---|
| (zoom, tile_id) | {un['partitions']} | {un['max']:,} | {un['p99']:,} | {un['p50']:,} | {un['mean']:,} |
| (zoom, tile_id, salt) | {sa['partitions']} | {sa['max']:,} | {sa['p99']:,} | {sa['p50']:,} | {sa['mean']:,} |

**Salting cuts the largest write task {un['max'] / max(sa['max'], 1):.1f}x**
(straggler bound: the slowest writer gates the stage; AQE cannot split a
skewed *write* partition, the explicit salt can).

Reproduce: `python3 tools/bench_skew.py {n_rows} {zipf_s}`
""")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
