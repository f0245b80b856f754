"""Dataset-curation operators: deterministic splits and per-source caps.

Training-data pipelines need REPRODUCIBLE curation at 100 TB: the same
document must land in the same train/val/test split on every run, on any
cluster, with no RNG state - so both operators key on a content-stable
md5 of the document id (the same first-8-hex-chars base hash the dedup
family uses), and both are pure JVM column expressions reproducible in
ANSI SQL (DuckDB oracles in __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _id_hash
from .spread import spread_input

_DEFAULT_WEIGHTS: list[tuple[str, int]] = [("train", 90), ("val", 5), ("test", 5)]


def _split_exprs(weights: list[tuple[str, int]]):
    """(bucket, split) column expressions for the cumulative-weight bands."""
    denom = sum(w for _, w in weights)
    bucket = _id_hash() % denom
    acc = 0
    split = None
    for name, w in weights:
        acc += w
        split = F.when(bucket < acc, name) if split is None else split.when(bucket < acc, name)
    return bucket, split


def hash_split(documents: DataFrame, weights: list[tuple[str, int]] | None = None) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = id-hash modulo
    the weight total, split = the bucket's cumulative-weight band.

    Stateless per row (no shuffle, no RNG): adding documents never moves
    an existing document's split, and re-running on a different cluster
    layout yields byte-identical assignments - the property random
    splits lose at scale.  Integer weights keep the band edges exact.
    """
    bucket, split = _split_exprs(weights or _DEFAULT_WEIGHTS)
    return documents.select("doc_id", bucket.alias("bucket"), split.alias("split"))


def hash_split_sql(weights: list[tuple[str, int]] | None = None) -> str:
    weights = weights or _DEFAULT_WEIGHTS
    denom = sum(w for _, w in weights)
    hv = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    acc = 0
    whens = []
    for name, w in weights:
        acc += w
        whens.append(f"WHEN ({hv} % {denom}) < {acc} THEN '{name}'")
    return f"""
SELECT doc_id,
       {hv} % {denom} AS bucket,
       CASE {' '.join(whens)} END AS split
FROM documents
"""


def per_source_cap(documents: DataFrame, cap: int = 100) -> DataFrame:
    """Deterministic per-source downsampling: keep at most ``cap``
    documents per source, chosen as the cap smallest (id-hash, doc_id)
    pairs - a stable uniform sample that never moves with partitioning.

    Scale shape: sources under the cap (the long tail) pass through with
    NO sort - only documents of oversized sources (found by a map-side-
    combined count, broadcast back) enter the row_number window, so the
    per-source sort is bounded by the few heavy sources rather than the
    corpus.  The result is identical to a plain window-over-everything
    (the oracle's form).
    """
    counts = documents.groupBy("source").agg(F.count("*").alias("n_src"))
    big = counts.where(F.col("n_src") > cap).select("source", F.lit(True).alias("oversized"))
    d = documents.select("doc_id", "source").join(F.broadcast(big), "source", "left")
    small_keep = d.where(F.col("oversized").isNull()).select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(_id_hash().asc(), F.col("doc_id").asc())
    big_keep = (
        d.where(F.col("oversized").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= cap)
        .select("doc_id", "source")
    )
    return small_keep.union(big_keep)


def per_source_cap_sql(cap: int = 100) -> str:
    hv = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"""
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {hv}, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source FROM r WHERE rk <= {cap}
"""


_DEFAULT_MIX: list[tuple[str, int]] = [
    ("src0", 1000), ("src1", 750), ("src2", 500), ("src3", 250), ("src4", 100),
]


def _mix_hash(col: str = "doc_id"):
    """Salted id hash for mixture decisions - a DIFFERENT band than
    hash_split's (salt 'mix:') so sampling never correlates with split
    assignment (an unsalted reuse would, e.g., put every kept doc of a
    50%-sampled source in the first half of the split bands)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col(col).cast("string"))), 1, 8),
        16, 10,
    ).cast("long")


def source_mixture(
    documents: DataFrame,
    rates: list[tuple[str, int]] | None = None,
    default_permille: int = 300,
) -> DataFrame:
    """Deterministic per-source weighted sampling - the 'data mixing'
    step that reweights corpus sources to target proportions before
    training.  ``rates`` gives keep-rates in permille per source; other
    sources keep ``default_permille``.

    Keep iff salted-id-hash % 1000 < rate: stateless per row (a scan
    filter Catalyst pushes to the reader - no shuffle, no RNG, no
    per-source state), so the same document survives with the same
    mixture on every run and cluster layout, and upweighting a source
    later only ADDS documents (bands are nested: rate r's survivors are
    a superset of rate r' < r's).
    """
    rates = rates if rates is not None else _DEFAULT_MIX
    rate = F.lit(default_permille)
    for name, r in rates:
        rate = F.when(F.col("source") == name, r).otherwise(rate)
    return documents.where(_mix_hash() % 1000 < rate).select("doc_id", "source")


def source_mixture_sql(
    rates: list[tuple[str, int]] | None = None, default_permille: int = 300
) -> str:
    rates = rates if rates is not None else _DEFAULT_MIX
    hv = "CAST(CONCAT('0x', substr(md5(CONCAT('mix:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)"
    whens = " ".join(f"WHEN source = '{n}' THEN {r}" for n, r in rates)
    return f"""
SELECT doc_id, source FROM documents
WHERE {hv} % 1000 < CASE {whens} ELSE {default_permille} END
"""


def curation_pipeline(
    documents: DataFrame,
    min_ws_tokens: int = 20,
    bpt_lo: int = 480,
    bpt_hi: int = 600,
    cap: int = 100,
    weights: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """The end-to-end training-data curation composition: quality filter
    -> near-dup canonical survivors -> per-source cap -> deterministic
    split.  Output: (doc_id, source, split) - the manifest a training
    run consumes.

    Stage order is the 100 TB order: the stateless quality predicate
    (whitespace-token floor + bytes-per-BPE-token band, the boilerplate/
    non-text screen) runs FIRST at the scan so the expensive stages -
    MinHash signatures, component rounds - see only the surviving
    fraction; dedup precedes the source cap so duplicate-heavy sources
    can't fill their quota with copies; the split is assigned last and
    depends only on doc_id, so re-curating with different thresholds
    never moves a surviving document across splits.  Every stage is the
    already-oracled operator (token_counts metrics, near_dup_components,
    per_source_cap, hash_split) composed declaratively - Catalyst fuses
    the filter into the scan and the whole composition stays one plan.
    The pipeline does not spread its own input: the one spread
    (operators.spread) is the MinHash stage's, over the filtered
    (doc_id, text) rows.
    """
    from .dedup import near_dup_components
    from .text import BPE_TOKEN_RE

    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0))
    bpt = F.floor(F.lit(100) * F.length("text") / F.greatest(bpe, F.lit(1)))
    docs = documents.where((ws >= min_ws_tokens) & (bpt >= bpt_lo) & (bpt <= bpt_hi))
    comp = near_dup_components(docs)
    canon = docs.join(comp.where(F.col("is_canonical") == 1).select("doc_id"), "doc_id")
    capped = per_source_cap(canon, cap)
    _, split = _split_exprs(weights or _DEFAULT_WEIGHTS)
    return capped.select("doc_id", "source", split.alias("split"))


def curation_pipeline_sql(
    min_ws_tokens: int = 20,
    bpt_lo: int = 480,
    bpt_hi: int = 600,
    cap: int = 100,
    weights: list[tuple[str, int]] | None = None,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
) -> str:
    """DuckDB twin: the same four stages as one nested-CTE query (the
    minhash chain runs over the filtered `docs` CTE via its `relation`
    parameter)."""
    from .dedup import minhash_lsh_sql
    from .text import BPE_TOKEN_RE

    pat = BPE_TOKEN_RE.replace("'", "''")
    pairs_inner = minhash_lsh_sql(n, bands, rows_per_band, relation="docs")
    hv = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    weights = weights or _DEFAULT_WEIGHTS
    denom = sum(w for _, w in weights)
    acc = 0
    whens = []
    for name, w in weights:
        acc += w
        whens.append(f"WHEN ({hv} % {denom}) < {acc} THEN '{name}'")
    return f"""
WITH RECURSIVE docs AS (
  SELECT * FROM documents
  WHERE len(string_split(text, ' ')) >= {min_ws_tokens}
    AND FLOOR(100 * length(text)
              / GREATEST(len(regexp_extract_all(text, '{pat}')), 1))
        BETWEEN {bpt_lo} AND {bpt_hi}
),
pairs AS ({pairs_inner}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
comp AS (SELECT u AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY u),
canon AS (
  SELECT d.doc_id, d.source FROM docs d LEFT JOIN comp c USING (doc_id)
  WHERE COALESCE(c.component_id, d.doc_id) = d.doc_id
),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {hv}, doc_id) AS rk
  FROM canon
)
SELECT doc_id, source, CASE {' '.join(whens)} END AS split
FROM r WHERE rk <= {cap}
"""


def sequence_pack(documents: DataFrame, budget: int = 128, n_salt: int = 8) -> DataFrame:
    """Concat-and-chunk sequence packing: where does each document land
    when the corpus is concatenated (in a deterministic order) and cut
    into fixed ``budget``-token training sequences - the packing step
    every LLM pretraining pipeline runs before batching.

    Order inside a shard is (id-hash, doc_id) - the same RNG-free
    md5 order the curation family uses - so assignments are
    byte-identical across runs and cluster layouts.  A document is
    stamped with the chunk its FIRST token falls in plus its offset
    there; docs may straddle chunk boundaries (concat-and-chunk
    semantics, not bin packing).

    Scale shape: the running sum is windowed PER SHARD (shard = id-hash
    % n_salt), never a global single-partition window - at 100 TB you
    set n_salt ~ a few x cluster cores so each shard's sort is a few GB
    and every shard packs independently (global sequence ids are
    (shard, chunk_id) pairs).  All integer outputs; oracle is the same
    window in ANSI SQL.
    """
    hv = _id_hash()
    tok = F.size(F.split(F.col("text"), " "))
    d = documents.select(
        "doc_id", (hv % n_salt).cast("long").alias("shard"), tok.cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(_id_hash().asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        start,
        F.floor(start / budget).cast("long").alias("chunk_id"),
        (start % budget).cast("long").alias("offset_in_chunk"),
    )


def sequence_pack_sql(budget: int = 128, n_salt: int = 8) -> str:
    hv = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"""
WITH d AS (
  SELECT doc_id, {hv} % {n_salt} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY {hv}, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_offset
  FROM d
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(FLOOR(start_offset / {budget}) AS BIGINT) AS chunk_id,
       CAST(start_offset % {budget} AS BIGINT) AS offset_in_chunk
FROM s
"""


def deterministic_shuffle(documents: DataFrame, n_shards: int = 16) -> DataFrame:
    """Global pre-training shuffle with zero RNG state: every document
    gets a (shard, position) from md5 hashes of its id, reproducing the
    exact same global order on any cluster, any partitioning, any rerun.

    Uses a DIFFERENT hash (salted ``doc_id || '#shuffle'``) than
    hash_split's band hash so split membership and shuffle order are
    statistically independent.  Scale shape: one shuffle to n_shards
    groups + a per-shard sort (each shard a bounded slice of the
    corpus); consumers read shards in id order, rows in position order.
    """
    key = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#shuffle"))), 1, 8), 16, 10
    ).cast("long")
    d = documents.select("doc_id", key.alias("skey"))
    w = Window.partitionBy(F.col("skey") % n_shards).orderBy(F.col("skey").asc(), F.col("doc_id").asc())
    return d.select(
        "doc_id",
        (F.col("skey") % n_shards).cast("long").alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def deterministic_shuffle_sql(n_shards: int = 16) -> str:
    key = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#shuffle'), 1, 8)) AS BIGINT)"
    return f"""
SELECT doc_id,
       {key} % {n_shards} AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY {key} % {n_shards}
                               ORDER BY {key}, doc_id) - 1 AS BIGINT) AS pos
FROM documents
"""


def quality_funnel(
    documents: DataFrame,
    min_tokens: int = 50,
    max_tokens: int = 90,
    stop_permille: int = 30,
    dup_permille: int = 600,
    top_permille: int = 150,
) -> DataFrame:
    """Stage-by-stage retention funnel for a Gopher-style quality filter
    chain (Rae et al. 2021 §A.1.1): every dataset paper publishes this
    table, and at 100 TB you need it BEFORE materializing the filtered
    corpus - a threshold that silently drops 95% of a source should be
    caught from one report, not from a finished run.

    Stages apply cumulatively (doc counted at stage k iff it passed
    1..k): token count >= min, <= max, stopword rate, duplicate-token
    fraction, top-token share.  All thresholds are integer permille
    cross-multiplications (no float quotients), so the DuckDB oracle is
    bit-exact.  Default thresholds are tuned to have per-stage signal on
    the synthetic fixture corpus.

    Scale shape: ONE pass - five conditional sums in a single global
    aggregate (map-side partials, 6-value shuffle), then a driver-sized
    stack() to rows.  No joins, no Python workers, no per-stage rescan.
    """
    from .text import token_metric_cols

    m = token_metric_cols()
    n_tok, n_stop, n_uniq, top_tok = m["n_tok"], m["n_stop"], m["n_uniq"], m["top_tok"]
    c1 = (n_tok >= min_tokens).cast("long")
    c2 = c1 * (n_tok <= max_tokens).cast("long")
    c3 = c2 * (n_stop * 1000 >= n_tok * stop_permille).cast("long")
    c4 = c3 * ((n_tok - n_uniq) * 1000 <= n_tok * dup_permille).cast("long")
    c5 = c4 * (top_tok * 1000 <= n_tok * top_permille).cast("long")
    agg = spread_input(documents).agg(
        F.count("*").alias("n0"),
        F.sum(c1).alias("n1"),
        F.sum(c2).alias("n2"),
        F.sum(c3).alias("n3"),
        F.sum(c4).alias("n4"),
        F.sum(c5).alias("n5"),
    )
    return agg.selectExpr(
        "stack(6, 0, 'raw', n0, 1, 'min_tokens', n1, 2, 'max_tokens', n2,"
        " 3, 'stopword_rate', n3, 4, 'dup_tokens', n4, 5, 'top_token', n5)"
        " AS (stage_idx, stage, n_pass)"
    )


def quality_funnel_sql(
    min_tokens: int = 50,
    max_tokens: int = 90,
    stop_permille: int = 30,
    dup_permille: int = 600,
    top_permille: int = 150,
) -> str:
    from .text import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH t AS (
  SELECT string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT len(toks) AS n_tok,
         len(list_filter(toks, x -> x IN ({stops}))) AS n_stop,
         len(list_distinct(toks)) AS n_uniq,
         list_max(list_transform(list_distinct(toks),
                                 u -> len(list_filter(toks, x -> x = u)))) AS top_tok
  FROM t
), f AS (
  SELECT CASE WHEN n_tok >= {min_tokens} THEN 1 ELSE 0 END AS c1,
         CASE WHEN n_tok >= {min_tokens} AND n_tok <= {max_tokens} THEN 1 ELSE 0 END AS c2,
         CASE WHEN n_tok >= {min_tokens} AND n_tok <= {max_tokens}
               AND n_stop * 1000 >= n_tok * {stop_permille} THEN 1 ELSE 0 END AS c3,
         CASE WHEN n_tok >= {min_tokens} AND n_tok <= {max_tokens}
               AND n_stop * 1000 >= n_tok * {stop_permille}
               AND (n_tok - n_uniq) * 1000 <= n_tok * {dup_permille} THEN 1 ELSE 0 END AS c4,
         CASE WHEN n_tok >= {min_tokens} AND n_tok <= {max_tokens}
               AND n_stop * 1000 >= n_tok * {stop_permille}
               AND (n_tok - n_uniq) * 1000 <= n_tok * {dup_permille}
               AND top_tok * 1000 <= n_tok * {top_permille} THEN 1 ELSE 0 END AS c5
  FROM m
), a AS (
  SELECT COUNT(*) AS n0, SUM(c1) AS n1, SUM(c2) AS n2, SUM(c3) AS n3,
         SUM(c4) AS n4, SUM(c5) AS n5
  FROM f
)
SELECT 0 AS stage_idx, 'raw' AS stage, CAST(n0 AS BIGINT) AS n_pass FROM a
UNION ALL SELECT 1, 'min_tokens', CAST(n1 AS BIGINT) FROM a
UNION ALL SELECT 2, 'max_tokens', CAST(n2 AS BIGINT) FROM a
UNION ALL SELECT 3, 'stopword_rate', CAST(n3 AS BIGINT) FROM a
UNION ALL SELECT 4, 'dup_tokens', CAST(n4 AS BIGINT) FROM a
UNION ALL SELECT 5, 'top_token', CAST(n5 AS BIGINT) FROM a
"""


def run_curation_pipeline(
    documents: DataFrame,
    output_dir: str,
    shard_buckets: int = 8,
    resume: bool = True,
    cap: int = 100,
    _after_shard_hook=None,
) -> dict:
    """Materializing runner for `curation_pipeline`: writes the curated
    corpus (full rows, split-partitioned) with per-shard resume and
    per-partition lineage metrics - the LLM-side twin of
    snap_tiles.run_pipeline's checkpointed sink.

    The curated frame is persisted once (MinHash signatures + component
    rounds are the expensive part; they must not re-run per shard), then
    written as ``shard_buckets`` independent jobs keyed by a doc_id hash;
    the manifest at <output_dir>/manifest.json is rewritten ATOMICALLY
    (tmp + rename) after every shard, so a mid-run kill re-does only the
    unfinished shards and never touches completed shards' files.  After
    the data, one lineage table (shard x split x source row/char counts)
    lands under metrics/ - the per-partition row-count evidence a 100 TB
    ingest audits instead of recounting the output.  If an Iceberg jar
    appears, each shard job becomes REPLACE PARTITIONS with the same
    manifest layout (same upgrade path as snap_tiles.run_pipeline).
    """
    import json as _json
    import os as _os

    spark = documents.sparkSession
    _os.makedirs(output_dir, exist_ok=True)
    manifest_path = _os.path.join(output_dir, "manifest.json")
    manifest = {"shards": [], "metrics": False, "shard_buckets": shard_buckets}
    if resume and _os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = _json.load(f)
        # a resumed run MUST shard identically: completed shards hold
        # pmod(old_buckets) data, so a different (or unrecorded) count
        # would silently duplicate or drop documents across the shard
        # boundary
        prev = manifest.get("shard_buckets")
        if prev != shard_buckets:
            raise ValueError(
                f"manifest at {manifest_path} was written with shard_buckets={prev}; "
                f"resuming with {shard_buckets} would mix incompatible shardings "
                "(delete the output dir or pass the original count)"
            )

    def _save() -> None:
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(manifest, f)
        _os.replace(tmp, manifest_path)

    todo = [b for b in range(shard_buckets) if b not in manifest["shards"]]
    if not todo and manifest.get("metrics"):
        return {"shards_done": sorted(manifest["shards"]), "resumed_noop": True}

    curated = (
        curation_pipeline(documents, cap=cap)
        .join(documents, ["doc_id", "source"])
        .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(shard_buckets)).cast("int"))
        .persist()
    )
    try:
        for b in todo:
            (
                curated.where(F.col("shard") == b)
                .drop("shard")
                .repartition("split")
                .write.mode("overwrite")
                .partitionBy("split")
                .parquet(_os.path.join(output_dir, "data", f"shard={b}"))
            )
            manifest["shards"] = sorted(set(manifest["shards"]) | {b})
            _save()
            if _after_shard_hook is not None:
                _after_shard_hook(b)
        if not manifest.get("metrics"):
            (
                curated.groupBy("shard", "split", "source")
                .agg(F.count("*").alias("n_docs"), F.sum(F.length("text")).alias("n_chars"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(_os.path.join(output_dir, "metrics"))
            )
            manifest["metrics"] = True
            _save()
    finally:
        # unpersist on the kill path too: repeated kill/resume cycles
        # must not accumulate cached corpora in a long-lived session
        curated.unpersist()
    return {"shards_done": sorted(manifest["shards"]), "resumed_noop": False}


def validate_documents(documents: DataFrame) -> DataFrame:
    """Ingest validation gate: one row per check with its violation
    count - the report a 100 TB ingest runs BEFORE any curation stage,
    so a malformed crawl drop fails loudly instead of silently skewing
    every downstream operator (null/empty text, duplicate or null ids,
    out-of-vocabulary lang tags, byte-length disagreement with the
    n_chars column).

    Scale shape: all checks are conditional sums in ONE global
    aggregate over a single scan (map-side partials; the duplicate-id
    check is the only distinct and rides the same pass as
    count(distinct)).  Integer outputs; DuckDB oracle is bit-exact.

    On a stream (``documents.isStreaming``) the report has no
    duplicate_doc_id row: that check is a global DISTINCT (state linear
    in ids), which streaming aggregation refuses, so a stream runs the
    six per-row checks with O(1) state and leaves duplicate detection to
    the batch gate (or the dedup operators themselves).
    """
    known_langs = ("en", "de", "fr", "es", "zh")
    # NULL handling is explicit everywhere: three-valued logic would
    # otherwise let the MOST-malformed rows (NULL lang / NULL n_chars)
    # sail through the gate uncounted, and NULL ids would inflate the
    # duplicate count (count(*) includes them, countDistinct doesn't)
    checks = [
        ("rows", "n_rows", F.count("*")),
        ("null_doc_id", "null_id", F.sum(F.col("doc_id").isNull().cast("long"))),
        ("duplicate_doc_id", "dup_id", F.count("doc_id") - F.countDistinct("doc_id")),
        ("null_text", "null_text", F.sum(F.col("text").isNull().cast("long"))),
        ("empty_text", "empty_text", F.sum(F.coalesce((F.col("text") == "").cast("long"), F.lit(0)))),
        (
            "unknown_lang",
            "bad_lang",
            F.sum(F.coalesce((~F.col("lang").isin(*known_langs)).cast("long"), F.lit(1))),
        ),
        (
            "n_chars_mismatch",
            "bad_n_chars",
            F.sum(
                F.when(F.col("text").isNull(), 0)  # already counted as null_text
                .when(F.col("n_chars").isNull(), 1)
                .otherwise((F.length("text") != F.col("n_chars")).cast("long"))
            ),
        ),
    ]
    if documents.isStreaming:
        checks = [c for c in checks if c[0] != "duplicate_doc_id"]
    agg = documents.agg(*(expr.alias(col) for _, col, expr in checks))
    pairs = ", ".join(f"'{name}', {col}" for name, col, _ in checks)
    return agg.selectExpr(f"stack({len(checks)}, {pairs}) AS (check, n)")


def validate_documents_sql() -> str:
    langs = ", ".join(f"'{l}'" for l in ("en", "de", "fr", "es", "zh"))
    return f"""
WITH a AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_id,
         COUNT(doc_id) - COUNT(DISTINCT doc_id) AS dup_id,
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
         CAST(SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
         CAST(SUM(CASE WHEN lang IS NULL OR lang NOT IN ({langs}) THEN 1 ELSE 0 END)
              AS BIGINT) AS bad_lang,
         CAST(SUM(CASE WHEN text IS NULL THEN 0
                       WHEN n_chars IS NULL THEN 1
                       WHEN len(text) <> n_chars THEN 1 ELSE 0 END)
              AS BIGINT) AS bad_n_chars
  FROM documents
)
SELECT 'rows' AS check, n_rows AS n FROM a
UNION ALL SELECT 'null_doc_id', null_id FROM a
UNION ALL SELECT 'duplicate_doc_id', dup_id FROM a
UNION ALL SELECT 'null_text', null_text FROM a
UNION ALL SELECT 'empty_text', empty_text FROM a
UNION ALL SELECT 'unknown_lang', bad_lang FROM a
UNION ALL SELECT 'n_chars_mismatch', bad_n_chars FROM a
"""
