#!/usr/bin/env python3
"""Benchmark of the texel-spark snap/tile engine.

    python3 perfbench/run.py --workload snap_tiles --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached under
perfbench/.cache, untimed), starts a Spark session on local[<slots>]
(one slot per core, or per two cores on snap_tiles), reads the inputs
and runs the workload's warm-up passes (together: ``setup_s``), then
runs passes back to back (a closed loop, one client thread) for ``--seconds``.
Every pass records a signature of its output rows, computed inside the
timed pass in the same Spark job; after the loop, each signature is
checked against a reference computed outside the timed region by code
the pass does not run.  The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run is split: untraced passes, then a restarted
session with Spark's event log on and tagged jobs, traced passes, the
per-layer probes, and the parsed event log.  perfbench/README.md lists
every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("snap_tiles", "spatial_joins")
MIN_PASSES = 3  # per timed loop; 2 in each half of a traced run

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.read_explode_s": "s",
    "sources.features": "count",
    "sources.span_violations": "count",
    "functions.parse_s": "s",
    "functions.fallback_rows": "count",
    "kernel.snap_s": "s",
    "kernel.members": "count",
    "kernel.vertices": "count",
    "kernel.us_per_vertex": "us",
    "kernel.columnar_share": "ratio",
    "snap_tiles.snap_stage_s": "s",
    "snap_tiles.fanout_s": "s",
    "snap_tiles.tile_rows": "count",
    "snap_tiles.sink_s": "s",
    "snap_tiles.sink_jobs": "count",
    "snap_tiles.sink_files": "count",
    "snap_tiles.sink_write_amp": "ratio",
    "spatial_queries.pip_join_s": "s",
    "spatial_queries.knn_join_s": "s",
    "spatial_queries.rasterize_s": "s",
    "spatial_queries.tile_pyramid_rollup_s": "s",
    "spatial_queries.pip_candidates_per_row": "ratio",
    "dedup.ngram_jaccard_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.minhash_verify_s": "s",
    "text.bm25_topk_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.fixed_overhead_s": "s",
    "spark.task_skew": "ratio",
    "proc.jvm_cpu_s": "s",
    "proc.worker_cpu_s": "s",
    "proc.driver_cpu_s": "s",
    "proc.cpu_util": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "error_rate": "ratio",
}


@dataclass
class Pass:
    wall_s: float
    result: object  # workloads.PassResult, or None when the pass raised
    error: str | None
    cpu: dict  # role -> CPU seconds spent during the pass
    peak_rss_mb: float
    window_ms: tuple[int, int]


def _log(msg: str) -> None:
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _rounded(xs) -> list[float]:
    return [round(x, 2) for x in xs]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _configure_env(work: str) -> None:
    """Process environment shared by the driver, the JVMs and the Python
    workers: the repository importable from anywhere, scratch files
    inside the checkout, and a driver heap sized for a shared host."""
    for sub in ("tmp", "oracle"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TEXEL_SPARK_ORACLE_SCRATCH"] = os.path.join(work, "oracle")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no JVM (the Spark launcher included) writes an hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session(work: str, slots: int, java_options: str, eventlog_dir: str | None = None):
    from texel_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at its maximum (SPARK_GRAFT_DRIVER_MEM): grown on
        # demand, its size followed GC timing, and peak RSS with it
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} {java_options}".strip(),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        # the same split sizing bench.py uses for small local tables
        "spark.sql.files.maxPartitionBytes": "8388608",
        "spark.sql.files.openCostInBytes": "1048576",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + eventlog_dir,
            }
        )
    spark = get_spark(
        app_name="texel-perfbench", master=f"local[{slots}]", shuffle_partitions=max(slots, 16), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and, through it, the
    PySpark daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def reap_children(root: int) -> None:
    """Kill and wait for any process this run left behind."""
    from perfbench.procstat import tree_stats

    deadline = time.monotonic() + 10
    while True:
        left = {pid: st[0] for pid, st in tree_stats(root).items() if pid != root}
        if not left:
            return
        if time.monotonic() > deadline:
            if deadline > 0:
                _log(f"killing leftover processes: {left}")
                deadline = 0
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def warm_up(wl, spark) -> list[float]:
    """The workload's untimed warm-up passes; returns their wall times."""
    from perfbench.workloads import timed

    walls = []
    for i in range(wl.warmup_passes):
        spark.sparkContext.setJobDescription(f"warmup {i}")
        walls.append(timed(wl.run_pass, spark, f"warmup {i}")[0])
    return walls


def run_passes(wl, spark, prefix: str, seconds: float, sampler, root: int, min_passes: int) -> list[Pass]:
    """Closed loop: passes back to back until ``seconds`` have elapsed
    (at least one pass, and ``min_passes`` unless that takes over twice
    as long)."""
    from perfbench.procstat import cpu_split

    passes: list[Pass] = []
    start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        if passes and elapsed >= seconds and (len(passes) >= min_passes or elapsed >= 2 * seconds):
            return passes
        i = len(passes)
        job_tag = f"{prefix} {i}"
        spark.sparkContext.setJobDescription(job_tag)
        cpu0 = cpu_split(root)
        sampler.reset_peak()
        w0 = time.time()
        t0 = time.perf_counter()
        result, error = None, None
        try:
            result = wl.run_pass(spark, job_tag)
        except Exception:
            error = traceback.format_exc()
        wall = time.perf_counter() - t0
        w1 = time.time()
        cpu1 = cpu_split(root)
        peak = sampler.peak_mb()
        if error:
            print(f"perfbench: {prefix} {i} failed:\n{error}", file=sys.stderr)
        passes.append(
            Pass(wall, result, error, {k: cpu1[k] - cpu0[k] for k in cpu0}, peak, (int(w0 * 1e3), int(w1 * 1e3)))
        )


def _pass_ok(p: Pass, expect: dict) -> bool:
    return p.error is None and all(p.result.sigs.get(k) == v for k, v in expect.items())


def measure(args, work: str) -> dict:
    from perfbench import eventlog
    from perfbench.inputs import ensure_inputs
    from perfbench.procstat import RssSampler
    from perfbench.workloads import WORKLOADS, timed

    cls = WORKLOADS[args.workload]
    cache_dir = os.path.join(HERE, ".cache")
    t0 = time.perf_counter()
    wl = cls(ensure_inputs(cache_dir, args.seed, cls.sizes), work, args.seed)
    wl.prepare(cache_dir)
    _log(f"inputs ready in {time.perf_counter() - t0:.1f}s: {wl.inputs}")
    root = os.getpid()
    cores = len(os.sched_getaffinity(0))
    slots = max(1, cores // cls.cores_per_slot)
    sampler = RssSampler(root)
    sampler.start()
    try:
        seconds, min_passes = (args.seconds / 2, 2) if args.trace else (args.seconds, MIN_PASSES)
        t0 = time.perf_counter()
        start_s, spark = timed(start_session, work, slots, wl.java_options)
        wl.load(spark)
        warmups = warm_up(wl, spark)
        setup_s = time.perf_counter() - t0
        _log(f"setup {setup_s:.2f}s on local[{slots}] (session {start_s:.2f}s, warm-up passes {_rounded(warmups)})")
        passes = run_passes(wl, spark, "pass", seconds, sampler, root, min_passes)

        traced, layers = [], {}
        if args.trace:
            eventlog_dir = os.path.join(work, "eventlog")
            spark.stop()
            spark = start_session(work, slots, wl.java_options, eventlog_dir)
            wl.load(spark)
            warm_up(wl, spark)
            traced = run_passes(wl, spark, "pass", seconds, sampler, root, min_passes)
            _log(f"{len(traced)} traced passes")
            layers = wl.probe(spark, spark.sparkContext.setJobDescription)
            _log("probes done")
        _log(f"{len(passes)} passes: {_rounded(p.wall_s for p in passes)}")
        spark.sparkContext.setJobDescription("reference")
        expect, static_failures = wl.reference(spark)
        _log("reference done")
        spark.stop()
    finally:
        sampler.close()

    static_failures += wl.probe_failures
    if static_failures:
        print(f"perfbench: failed checks: {static_failures}", file=sys.stderr)
    everything = passes + traced
    attempted = len(everything)
    failed = attempted if static_failures else sum(not _pass_ok(p, expect) for p in everything)
    summary = {"correct": failed == 0 and not static_failures, "attempted": attempted, "failed": failed}

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median([p.wall_s for p in passes]),
            "rows_per_s": _median([p.result.rows / p.wall_s for p in passes if p.result]),
            "cpu_s": _median([sum(p.cpu.values()) for p in passes]),
            "peak_rss_mb": max(p.peak_rss_mb for p in passes),
            "ok_rate": 1.0 - failed / attempted,
        }
        return {**summary, "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}}

    untraced_s = _median([p.wall_s for p in passes])
    traced_s = _median([p.wall_s for p in traced])
    log = eventlog.parse(eventlog.find_log(os.path.join(work, "eventlog")))
    engine = eventlog.pass_metrics(log, "pass", [p.window_ms for p in traced])
    layers.update({f"spark.{k}": v for k, v in engine.items()})
    cpu = {role: _median([p.cpu[role] for p in traced]) for role in ("jvm", "worker", "driver")}
    layers.update(
        {
            "session.start_s": start_s,
            "session.warmup_s": warmups[0] - untraced_s,
            "proc.jvm_cpu_s": cpu["jvm"],
            "proc.worker_cpu_s": cpu["worker"],
            "proc.driver_cpu_s": cpu["driver"],
            "proc.cpu_util": _median([sum(p.cpu.values()) / (p.wall_s * cores) for p in traced]),
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - untraced_s,
            "error_rate": failed / attempted,
        }
    )
    layers.update(wl.traced_layers([p.result for p in traced if p.result], log))
    metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    return {**summary, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "texel_spark")):
        print(f"perfbench: no texel_spark package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    _configure_env(work)
    try:
        result = measure(args, work)
    finally:
        t0 = time.perf_counter()
        try:
            if "pyspark" in sys.modules:
                shutdown_jvm()
        finally:
            reap_children(os.getpid())
            shutil.rmtree(work, ignore_errors=True)
            _log(f"stopped in {time.perf_counter() - t0:.1f}s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
