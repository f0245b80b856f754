"""SparkSession factory with the engine's scale defaults.

AQE (runtime re-planning, skew-join splitting, partition coalescing) is on
by default: the (zoom, tile_id) key space is Zipfian at planet scale (dense
urban tiles), so skew handling must be automatic plus explicit salting in
the writers (see operators.snap_tiles).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession


def _worker_daemon_conf() -> dict:
    """Confs that make Spark fork Python workers from texel_spark.worker_daemon.

    The daemon starts before any task's ``--py-files`` are on its path, so
    it can only import this package from a directory: that directory's
    parent goes on the workers' PYTHONPATH, whatever the driver's cwd,
    ahead of any value a running JVM already holds (``spark-submit
    --conf``).  Imported from a zip (the tools/package.py artifact), the
    stock daemon stays.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(root):
        return {}
    existing = (SparkConf().get("spark.executorEnv.PYTHONPATH") or "").split(os.pathsep)
    return {
        "spark.python.daemon.module": "texel_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([root] + [p for p in existing if p and p != root]),
    }


def get_spark(
    app_name: str = "texel-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # one BLAS/OpenMP thread per Python worker: Spark already runs one
    # worker per task slot, so library-internal thread pools only
    # oversubscribe (32 workers x N openblas threads); measured ~13%
    # fewer worker CPU cycles on the snap stage at local[32].  Local-mode
    # workers inherit this process env; executorEnv covers real clusters.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2000-row Arrow batches: the whole-batch numpy snap kernel's
        # working set (per-level key/candidate arrays over all points in
        # the batch) then stays cache-resident - measured 12-19% fewer
        # Python-worker CPU cycles and faster walls at BOTH local[8] and
        # local[32] vs 10k-row batches on the flagship stage
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # default 100 disables whole-stage codegen for any stage whose
        # schema tops 100 fields - which silently drops the 129-column
        # MinHash signature aggregate (128 per-permutation mins + key)
        # into interpreted mode (measured 44.5s -> 30s on the sf1.0
        # corpus from this one setting).  256 covers every operator in
        # the engine; scale-independent (codegen width, not data size).
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", "1")
    # fixed worker CPU per Python task (a 40-task empty mapInPandas at
    # local[2], 4-core host, pyspark 4.1.2): 0.24 s with pyspark.daemon,
    # 0.04 s with texel_spark.worker_daemon
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
