"""Unsplittable-input guard (spark_optimization_guide section 2.5).

Parquet scans cannot split a row group: a table written as one file with
one row group (the driver's testdata layout) yields exactly ONE non-empty
scan task no matter how many splits the `spark.sql.files.*` split
settings plan - so every map-side stage fused into that scan
(shingling, hashing, partial aggregation) runs single-threaded on a
32-core session.  The guide's fix for unsplittable input is to
"repartition immediately after the read"; `spread_input` does that, but
ONLY after probing that the scan is actually starved:

* many input files (>= session parallelism) -> splittable, no-op;
* local parquet footers report >= parallelism row groups -> no-op;
* non-file inputs or unreadable/remote footers -> no-op (fail open: a
  wrong repartition at 100 TB costs a full-corpus shuffle, a missed one
  costs nothing on well-laid-out data);
* otherwise round-robin repartition, sized by the data (>= 64 KiB of
  compressed input per partition, at least 8) and capped at `WAVES`
  waves of the session's parallelism (straggler smoothing).

Each operator spreads its scan once; an operator that composes another
(curation_pipeline over near_dup_components) leaves the spread to the
inner one, so no frame reaching `spread_input` has been spread already.

At production scale inputs arrive as thousands of multi-row-group files
and the probe short-circuits on the file count without touching any
footer, so this guard is free exactly where it is unnecessary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

WAVES = 2


def spread_input(df: DataFrame) -> DataFrame:
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    row_groups = 0
    total_bytes = 0
    try:
        import pyarrow.parquet as pq

        for f in files:
            if f.startswith("file:"):
                path = f.split(":", 1)[1]
            elif ":" in f.split("/", 1)[0]:
                return df  # remote scheme: cannot probe footers cheaply
            else:
                path = f
            if not os.path.exists(path) or not path.endswith(".parquet"):
                return df
            total_bytes += os.path.getsize(path)
            row_groups += pq.ParquetFile(path).num_row_groups
            if row_groups >= target:
                return df
    except Exception:
        return df
    return df.repartition(spread_partitions(total_bytes, target))


def spread_partitions(total_bytes: int, parallelism: int) -> int:
    """Partition count scales with DATA (>=64 KiB of compressed input per
    partition, at least 8) - a tiny table gets a few real partitions
    instead of cores x 2 near-empty ones.  The cap of `WAVES` waves of
    the session's cores applies last, so it holds below 4 slots too."""
    return min(parallelism * WAVES, max(8, (total_bytes >> 16) + 1))
