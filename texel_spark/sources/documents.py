"""Interleaved text+media document source (the engine's input model).

Input table shape (BASELINE.json input_hint):
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Geometries are carried by spans with kind='geom' (WKT in ``text``); all
other spans pass through the engine untouched.  The per-row invariant -
span-sequence equality (kind, text, media_ref, order) - mirrors the
reference passing attribute columns through verbatim
(/root/reference/processing/processing.go:162-171).

The synthetic generator is hash-derived per doc_id (splitmix64), so the
same doc_id always yields the same document regardless of partitioning,
parallelism or scale factor - that is what makes correctness checks and
resume idempotent at any cluster size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)
DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), False),
    ]
)

# NetherlandsRDNewQuad matrix bounding box (tms20 NetherlandsRDNewQuad.json)
RD_EXTENT = (-285401.92, 22598.08, 595401.92, 903401.92)

_WORDS = (
    "tile grid snap polygon vector zoom matrix pixel ring vertex the a of "
    "and data span doc stream batch key value scan join agg map"
).split()

# the "missing corner" golden polygon (snap/snap_test.go:31-50) is planted
# in a deterministic subset of docs so pipeline outputs are pinned to the
# reference goldens end-to-end
GOLDEN_POLYGON = [
    [
        (117220.282, 440135.898),
        (117210.713, 440135.101),
        (117211.129, 440130.102),
        (117222.198, 440131.000),
        (117221.990, 440133.510),
        (117220.500, 440133.380),
    ]
]

_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return z ^ (z >> 31)


def _rands(doc_index: int, n: int, salt: int = 0):
    """n deterministic 64-bit values for one document."""
    out = []
    state = _splitmix64((doc_index << 8) ^ salt ^ 0x5EED_5EED)
    for _ in range(n):
        state = _splitmix64(state)
        out.append(state)
    return out


def _geom_wkt_for(doc_index: int, slot: int, extent=None) -> str:
    """Deterministic polygon inside the extent (default: RD): a
    quadrilateral with a hash-positioned centre, hash-sized radius,
    sometimes with a hole.  The golden reference polygon is only mixed in
    for the default (RD) extent."""
    if extent is None and doc_index % 20 == 0:
        rings = GOLDEN_POLYGON
    else:
        h = _rands(doc_index, 6, salt=slot + 1)
        min_x, min_y, max_x, max_y = extent or RD_EXTENT
        # keep away from the border so snapping never exits the grid
        cx = min_x + 10_000 + (h[0] % int(max_x - min_x - 20_000))
        cy = min_y + 10_000 + (h[1] % int(max_y - min_y - 20_000))
        r = 50 + (h[2] % 2000)
        e = 1 + (h[3] % max(1, r // 2))
        outer = [
            (cx - r, cy - e),
            (cx + e, cy - r),
            (cx + r, cy + e),
            (cx - e, cy + r),
        ]
        rings = [outer]
        if h[4] % 4 == 0:
            ri = max(2, r // 4)
            rings.append(
                [
                    (cx - ri, cy),
                    (cx, cy + ri),
                    (cx + ri, cy),
                    (cx, cy - ri),
                ]
            )
    from ..functions.wkt import polygon_to_wkt

    return polygon_to_wkt(rings)


def build_document(doc_index: int, extent=None) -> tuple[str, list]:
    """One deterministic interleaved document."""
    h = _rands(doc_index, 3)
    n_spans = 1 + h[0] % 8
    spans = []
    for i in range(n_spans):
        hh = _rands(doc_index, 3, salt=1000 + i)
        kind_roll = hh[0] % 10
        if kind_roll < 5:
            words = [_WORDS[(hh[1] >> (j * 5)) % len(_WORDS)] for j in range(3 + hh[2] % 9)]
            spans.append(("text", " ".join(words), None, i))
        elif kind_roll < 7:
            scheme = ("img", "img", "vid", "img", "aud", "vid")[hh[1] % 6]
            spans.append(("media", None, f"{scheme}://doc{doc_index}/{i}", i))
        else:
            spans.append(("geom", _geom_wkt_for(doc_index, i, extent), None, i))
    # guarantee at least one geometry span in a deterministic subset
    if doc_index % 5 == 0 and not any(s[0] == "geom" for s in spans):
        spans.append(("geom", _geom_wkt_for(doc_index, 99, extent), None, len(spans)))
    return (f"doc-{doc_index:09d}", spans)


def synth_documents(
    spark: SparkSession, n_docs: int, partitions: int | None = None, extent=None
) -> DataFrame:
    """Deterministic synthetic interleaved-document table; ``extent``
    places the geometry spans in another grid's native bounds (default:
    Netherlands RD)."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [build_document(int(i), extent) for i in pdf["id"]]
            yield pd.DataFrame({"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]})

    rng = spark.range(n_docs, numPartitions=partitions)
    return rng.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


def materialize_documents(spark: SparkSession, n_docs: int, path: str, partitions: int | None = None) -> DataFrame:
    """Write the synthetic table to parquet and read it back - the honest
    input shape for benchmarks: production scans Iceberg/parquet (JVM
    columnar reader), it does not run a Python generator stage."""
    (
        synth_documents(spark, n_docs, partitions)
        .write.mode("overwrite")
        # bound file size so scans split into enough tasks at any core
        # count (parquet splits land on row-group starts; many small
        # row-groups/files = real parallelism, no empty-chunk tasks)
        .option("maxRecordsPerFile", 5000)
        .parquet(path)
    )
    return spark.read.parquet(path)


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents -> one row per span, order column retained (narrow op).
    SQL text: a pass builds this once per scan, and each Column call is
    several py4j round trips (operators/sqltext.py)."""
    return docs.selectExpr("doc_id", "posexplode(spans) AS (span_idx, span)").selectExpr(
        "doc_id",
        "span_idx",
        "span.kind AS kind",
        "span.text AS text",
        "span.media_ref AS media_ref",
        "span.offset AS offset",
    )


def geometry_spans(docs: DataFrame) -> DataFrame:
    """Only the geometry-carrying spans (predicate pushes into the scan)."""
    return explode_spans(docs).where("kind = 'geom'").selectExpr("doc_id", "span_idx", "text AS wkt")


def reassemble_spans(exploded: DataFrame) -> DataFrame:
    """Inverse of explode_spans: rebuild the spans array in offset order."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_idx", F.struct("kind", "text", "media_ref", "offset").alias("s")))
            ).alias("ordered")
        )
        .select("doc_id", F.expr("transform(ordered, x -> x.s)").alias("spans"))
    )


def span_sequence_violations(original: DataFrame, roundtrip: DataFrame) -> int:
    """Count docs whose (kind, text, media_ref, order) sequence changed.

    This is the engine's per-row invariant (BASELINE.json input_hint);
    run it after any stage that claims pass-through semantics.
    """

    def canon(df):
        return df.select(
            "doc_id",
            F.md5(
                F.to_json(
                    F.expr("transform(spans, x -> struct(x.kind as kind, x.text as text, x.media_ref as media_ref))")
                )
            ).alias("sig"),
        )

    a = canon(original).alias("a")
    b = canon(roundtrip).alias("b")
    joined = a.join(b, "doc_id", "full_outer")
    return joined.where(
        F.col("a.sig").isNull() | F.col("b.sig").isNull() | (F.col("a.sig") != F.col("b.sig"))
    ).count()
