"""SparkSession factory with the engine's scale defaults.

AQE (runtime re-planning, skew-join splitting, partition coalescing) is on
by default: the (zoom, tile_id) key space is Zipfian at planet scale (dense
urban tiles), so skew handling must be automatic plus explicit salting in
the writers (see operators.snap_tiles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    # scans keep Spark's default split math: each Python task pays ~0.25-0.3 s
    # of fixed worker CPU before its first row (measured on 4 cores, pyspark 4.1)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", "1")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
