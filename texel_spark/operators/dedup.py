"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), canonical-fingerprint near-dup, n-gram Jaccard
pairs (shingle explode + equi-join, never a cross join), MinHash+LSH
(banded candidate generation, the 100 TB scale path) and SimHash.

All shuffles key on content hashes - uniformly distributed, so no skew;
the shingle join caps shingle frequency to bound worst-case fan-out
(stop-shingle removal), the standard trick at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .spread import spread_input


def _id_hash(col: str = "doc_id"):
    """Stable non-negative 32-bit hash of the id's string form (first 8
    md5 hex chars) - identical in Spark and DuckDB.  The id bands of the
    curation splits and of decontaminate's eval set key on it."""
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10).cast("long")


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup survivor table: one row per content hash with the kept
    doc and the multiplicity (n_dups > 1 = the duplicate groups)."""
    return documents.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_doc_id")
    )


EXACT_DUPLICATES_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def fingerprint_duplicates(documents: DataFrame) -> DataFrame:
    """Near-dup via canonical fingerprint: sorted-token bag hash catches
    reordered/shuffled copies."""
    fp = F.md5(F.array_join(F.array_sort(F.split(F.col("text"), " ")), " "))
    return documents.groupBy(fp.alias("fingerprint")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


FINGERPRINT_DUPLICATES_SQL = """
SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def _shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct n-gram token shingles per doc (JVM-side array ops)."""
    toks = F.split(F.col("text"), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return (
        documents.where(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 3, threshold_num: int = 4, threshold_den: int = 5, max_shingle_freq: int = 50
) -> DataFrame:
    """Document pairs with n-gram Jaccard >= threshold (integer-exact).

    Shingle-inverted-index equi-join: |A intersect B| from the join,
    |A union B| = |A|+|B|-|A intersect B|; threshold compared as
    den*inter >= num*union so no float appears.  Shingles above
    max_shingle_freq are dropped on BOTH docs (stop-shingles) - bounds
    the join fan-out at corpus scale.
    """
    # inverted index as ONE groupBy (posting list per shingle), pairs
    # generated JVM-side inside each bounded posting list - cheaper than
    # a self-join shuffle, and the stop-shingle cap bounds the fan-out
    sh = _shingles(spread_input(documents.select("doc_id", "text")), n)
    grouped = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds"), F.count("*").alias("df")
    )
    # no .cache(): both consumers (sizes, pair-gen) read the SAME shingle
    # groupBy exchange via AQE stage reuse, so only the cheap post-shuffle
    # merge runs twice - caching materialized every posting list into
    # storage memory first and measured strictly slower (6.9/2.4 s vs
    # 2.0-2.8 s), while also leaking cached state past the operator
    kept = grouped.where(F.col("df") <= max_shingle_freq)
    sizes = kept.select(F.explode("ds").alias("doc_id")).groupBy("doc_id").agg(F.count("*").alias("sz"))
    # posting list pre-sorted -> (a, b) with a < b falls out of the slice;
    # no IF/null/filter churn inside the interpreted lambda
    pair_expr = """
        explode(flatten(transform(ds, (a, i) ->
            transform(slice(ds, i + 2, size(ds) - i - 1),
                      b -> struct(a AS doc_a, b AS doc_b)))))
    """
    inter = (
        kept.select(F.expr(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return j.where(F.lit(threshold_den) * F.col("inter") >= F.lit(threshold_num) * union).select(
        "doc_a", "doc_b", "inter", (union).alias("union_sz")
    )


def ngram_jaccard_pairs_sql(
    n: int = 3, threshold_num: int = 4, threshold_den: int = 5, max_shingle_freq: int = 50
) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {n}
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[i.i + 1 : i.i + {n}], ' ') AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(0, len(t) - {n} + 1)) AS i) i
),
kept AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {max_shingle_freq}
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kept a JOIN kept b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.sz + sb.sz - inter AS union_sz
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {threshold_den} * inter >= {threshold_num} * (sa.sz + sb.sz - inter)
"""


_MINHASH_P = 2147483647  # 2^31 - 1: (a*h + b) stays under 2^63 for 32-bit h


def _minhash_perms(n_perm: int = 128) -> tuple[list[int], list[int]]:
    """Deterministic permutation coefficients (a*h + b) mod 2^31-1."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(1, _MINHASH_P - 1, size=n_perm).tolist()
    b = rng.integers(0, _MINHASH_P - 1, size=n_perm).tolist()
    return a, b


def minhash_lsh_candidates(
    documents: DataFrame, n: int = 3, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """MinHash+LSH near-dup candidates - the 10^12-doc scale path.

    shingles -> md5-based 32-bit base hash -> 128 permutation minima ->
    band buckets -> bucket equi-join.  The whole signature stage is JVM
    column expressions inside whole-stage codegen (no Python worker): the
    base hash is the first 8 md5 hex chars, permutations are
    (a*h + b) mod 2^31-1, both exactly reproducible in ANSI SQL, so this
    operator carries a full DuckDB oracle (minhash_lsh_sql).  Cost is
    linear in corpus size + bucket collisions; verify candidates with
    ngram_jaccard on the candidate set only.
    """
    sigs = _minhash_signatures(documents, n, bands * rows_per_band)
    return _pairs_from_banded(_minhash_banded(sigs, bands, rows_per_band))


def _minhash_signatures(documents: DataFrame, n: int, n_perm: int) -> DataFrame:
    """(doc_id, sig array<long>) - the shared signature stage."""
    documents = spread_input(documents.select("doc_id", "text"))
    a, b = _minhash_perms(n_perm)
    toks = F.split(F.col("text"), " ")
    sh = F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size(toks) - n), lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )
    base_h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    # one min-aggregate per permutation: declarative aggregation keeps the
    # whole stage in codegen AND gets map-side combine for free - the
    # shuffle carries exactly one 128-long signature row per document,
    # never the exploded shingles
    hrows = (
        documents.where(F.size(toks) >= n)
        .select("doc_id", F.explode(sh).alias("shingle"))
        .select("doc_id", base_h.alias("h"))
    )
    mins = [
        F.min((F.lit(a[i]) * F.col("h") + F.lit(b[i])) % F.lit(_MINHASH_P)).alias(f"m{i}")
        for i in range(n_perm)
    ]
    return (
        hrows.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{i}" for i in range(n_perm)]).alias("sig"))
    )


def _minhash_banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket) LSH band buckets from signatures."""
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.md5(F.to_json(F.slice("sig", bnd * rows_per_band + 1, rows_per_band))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return banded


def minhash_verify(
    documents: DataFrame,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold_num: int = 0,
    threshold_den: int = 1,
) -> DataFrame:
    """Signature-estimated Jaccard for every LSH candidate pair -
    (doc_a, doc_b, n_match, n_perm): the VERIFICATION stage of the
    MinHash dedup recipe.  E[n_match / n_perm] = Jaccard(A, B), so
    candidates are confirmed or rejected from the signatures alone,
    never re-reading the text or re-shingling - the property that makes
    verification affordable at 10^12 docs (the text never enters the
    join; each side of the candidate join carries one 128-long array).

    Keeps pairs with den * n_match >= num * n_perm (integer-exact; the
    default 0/1 keeps all candidates so the estimate itself is the
    output).  All columns are integers -> the DuckDB oracle compares
    hash-exactly (same md5+affine signature construction as
    minhash_lsh_candidates).
    """
    n_perm = bands * rows_per_band
    sigs = _minhash_signatures(documents, n, n_perm)
    pairs = _pairs_from_banded(_minhash_banded(sigs, bands, rows_per_band))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_match", n_match)
        .where(F.lit(threshold_den) * F.col("n_match") >= F.lit(threshold_num) * F.lit(n_perm))
        .select("doc_a", "doc_b", "n_match", F.lit(n_perm).alias("n_perm"))
    )


def minhash_verify_sql(
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold_num: int = 0,
    threshold_den: int = 1,
) -> str:
    """DuckDB twin of minhash_verify (bit-exact signatures + positional
    match count)."""
    n_perm = bands * rows_per_band
    inner = minhash_lsh_sql(n, bands, rows_per_band)
    body = inner[inner.index("WITH") + 4 :]  # reuse the CTE chain, swap the SELECT
    ctes = body[: body.rindex("SELECT DISTINCT")].rstrip()
    return f"""
WITH {ctes},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(len(list_filter(range(1, {n_perm} + 1),
                            i -> sa.s[CAST(i AS INT)] = sb.s[CAST(i AS INT)])) AS INT)
         AS n_match,
       {n_perm} AS n_perm
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
WHERE {threshold_den} * len(list_filter(range(1, {n_perm} + 1),
                            i -> sa.s[CAST(i AS INT)] = sb.s[CAST(i AS INT)]))
      >= {threshold_num} * {n_perm}
"""


def _pairs_from_banded(banded: DataFrame) -> DataFrame:
    """Candidate pairs from band buckets via a SHUFFLED-HASH self-join:
    both sides shuffle the identical (band, bucket, doc_id) subtree, so
    the exchange is computed once and read twice (ReusedExchange), where
    the planner's broadcast pick would BUILD a banded-table-sized hash
    relation on the driver and evaluate the signature pipeline a second
    time for it (measured 5.7 s -> 4.4 s at sf1.0).  No per-bucket array
    ever materializes (a duplicate-heavy bucket streams its pairs out of
    the join probe), and AQE's skew-join splitting applies."""
    a_ = banded.alias("a")
    b_ = banded.hint("shuffle_hash").alias("b")
    return (
        a_.join(b_, ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_sql(
    n: int = 3, bands: int = 32, rows_per_band: int = 4, relation: str = "documents"
) -> str:
    """DuckDB twin of minhash_lsh_candidates (bit-exact signatures).

    ``relation`` lets composite oracles (curation_pipeline_sql) run the
    same chain over a filtered CTE instead of the base table."""
    n_perm = bands * rows_per_band
    a, b = _minhash_perms(n_perm)
    a_lst = "[" + ",".join(str(x) for x in a) + "]"
    b_lst = "[" + ",".join(str(x) for x in b) + "]"
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM {relation}
  WHERE len(string_split(text, ' ')) >= {n}
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i.i + 1 : i.i + {n}], ' ') AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(0, len(t) - {n} + 1)) AS i) i
),
hs AS (
  SELECT doc_id, CAST(CONCAT('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
),
perms AS (
  SELECT UNNEST(range(0, {n_perm})) AS i, UNNEST({a_lst}) AS a, UNNEST({b_lst}) AS b
),
mins AS (
  SELECT hs.doc_id, p.i, MIN((p.a * hs.h + p.b) % {_MINHASH_P}) AS m
  FROM hs CROSS JOIN perms p GROUP BY 1, 2
),
sig AS (
  SELECT doc_id, list(m ORDER BY i) AS s FROM mins GROUP BY doc_id
),
banded AS (
  SELECT doc_id, b.b AS band,
         md5(CAST(to_json(s[CAST(b.b * {rows_per_band} + 1 AS INT)
                            : CAST((b.b + 1) * {rows_per_band} AS INT)]) AS VARCHAR)) AS bucket
  FROM sig, LATERAL (SELECT UNNEST(range(0, {bands})) AS b) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b USING (band, bucket)
WHERE a.doc_id < b.doc_id
"""


def _simhash_votes(documents: DataFrame) -> DataFrame:
    """Per-doc +-1 vote sums for all 64 SimHash bit positions, as pure
    declarative aggregates over md5-based token hashes (two 32-bit
    halves) - whole-stage codegen, map-side combine, one row per doc."""
    tok = F.explode(F.split(F.col("text"), " ")).alias("token")
    hlo = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    hhi = F.conv(F.substring(F.md5(F.col("token")), 9, 8), 16, 10).cast("long")
    h = spread_input(documents.select("doc_id", "text")).select("doc_id", tok).select(
        "doc_id", hlo.alias("hlo"), hhi.alias("hhi")
    )
    votes = [
        F.sum(F.shiftright(col, i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{base + i}")
        for base, col in ((0, F.col("hlo")), (32, F.col("hhi")))
        for i in range(32)
    ]
    return h.groupBy("doc_id").agg(*votes)


def simhash_buckets(documents: DataFrame) -> DataFrame:
    """SimHash per doc + 16-bit band buckets for near-dup candidate scan.

    Both the packed 64-bit SimHash and the 4 band buckets are built from
    the vote signs directly (bit 63 contributes -2^63, keeping all
    arithmetic inside a signed long without overflow - Spark 4 runs ANSI).
    Exactly reproducible in SQL -> DuckDB oracle (simhash_buckets_sql).
    """
    v = _simhash_votes(documents)

    def bit(i):
        w = F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        if i == 63:
            return w * F.lit(-(1 << 63))
        return w * F.lit(1 << i)

    simhash = sum((bit(i) for i in range(1, 64)), bit(0))
    bands = [
        sum(
            (
                F.when(F.col(f"v{16 * b + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
                for j in range(1, 16)
            ),
            F.when(F.col(f"v{16 * b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        )
        for b in range(4)
    ]
    return v.select(
        "doc_id",
        simhash.alias("simhash"),
        F.explode(F.array(*bands)).alias("band_bucket"),
    )


def simhash_buckets_sql() -> str:
    """DuckDB twin of simhash_buckets (bit-exact)."""
    votes = ",\n         ".join(
        f"SUM(((h{'lo' if i < 32 else 'hi'} >> {i % 32}) & 1) * 2 - 1) AS v{i}" for i in range(64)
    )
    sim_terms = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {'-9223372036854775808' if i == 63 else str(1 << i)} ELSE 0 END)"
        for i in range(64)
    )
    band_exprs = ", ".join(
        "("
        + " + ".join(f"(CASE WHEN v{16 * b + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
        + ")"
        for b in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(token), 1, 8)) AS BIGINT) AS hlo,
         CAST(CONCAT('0x', substr(md5(token), 9, 8)) AS BIGINT) AS hhi
  FROM toks
),
v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash,
       UNNEST([{band_exprs}]) AS band_bucket
FROM v
"""


def near_dup_components(
    documents: DataFrame,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS: every document labeled with the id of its
    duplicate component (minimum doc_id in the component), plus an
    is_canonical survivor flag - the keep/drop table a training-data
    pipeline actually consumes, one step past the candidate pairs.

    Pipeline: minhash_lsh_candidates -> connected components (alternating
    large-star/small-star, operators.graph) -> left join back onto the
    corpus so unpaired docs become singleton components of themselves.
    At corpus scale the component step is O(log n) rounds of key-hashed
    shuffles over the PAIRS (tiny next to the corpus); the only
    corpus-sized operations are the LSH scan and the final equi-join.
    Pass ``pairs`` (a (doc_a, doc_b) DataFrame, e.g. LSH candidates
    verified through ngram_jaccard_pairs) to cluster a pre-verified set
    instead of the raw LSH candidates.
    """
    from .graph import connected_components

    if pairs is None:
        pairs = minhash_lsh_candidates(documents, n, bands, rows_per_band)
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ).withColumnRenamed("node", "doc_id")
    cid = F.coalesce(F.col("component_id"), F.col("doc_id"))
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            cid.alias("component_id"),
            (cid == F.col("doc_id")).cast("int").alias("is_canonical"),
        )
    )


def near_dup_components_sql(n: int = 3, bands: int = 32, rows_per_band: int = 4) -> str:
    """DuckDB twin: the LSH pair query feeds a recursive-CTE transitive
    closure (min reachable label per node) - tractable because the
    closure runs over the candidate pairs, not the corpus."""
    inner = minhash_lsh_sql(n, bands, rows_per_band)
    return f"""
WITH RECURSIVE pairs AS ({inner}),
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
comp AS (SELECT u AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY u)
SELECT d.doc_id,
       COALESCE(c.component_id, d.doc_id) AS component_id,
       CAST(COALESCE(c.component_id, d.doc_id) = d.doc_id AS INT) AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def decontaminate(documents: DataFrame, n: int = 5, eval_mod: int = 50) -> DataFrame:
    """Test-set decontamination signal: per TRAIN document, how many of
    its distinct token n-grams also appear in the held-out EVAL band
    (the standard pretraining hygiene check - e.g. GPT-3 appendix C /
    PaLM's 13-gram overlap filters, shrunk to n=5 for this corpus's
    short docs).

    The eval band is the deterministic id-hash band ``hash % eval_mod
    == 0`` (~2% at the default) - the same md5 band family hash_split
    uses, so the "benchmark" is reproducible with no side input.  Real
    deployments swap in their benchmark suite's n-gram set; the plan
    shape is identical.

    Scale shape: the eval n-gram set is distinct-reduced then BROADCAST
    (benchmarks are tiny next to the corpus), so the train side joins
    map-side with no shuffle of the corpus's exploded n-grams; the only
    wide exchanges group by doc_id.  Output covers every train doc with
    >= n tokens; ``contam_x1000`` is the integer-scaled fraction
    pipelines threshold on.
    """
    sh = _shingles(spread_input(documents.select("doc_id", "text")), n).withColumn(
        "__eval", (_id_hash() % eval_mod) == 0
    )
    eval_ng = sh.where(F.col("__eval")).select("shingle").distinct()
    train = sh.where(~F.col("__eval")).select("doc_id", "shingle")
    return contamination(train, eval_ng)


def contamination(shingles: DataFrame, eval_ngrams: DataFrame) -> DataFrame:
    """Per-doc overlap of ``(doc_id, shingle)`` rows with a distinct
    ``shingle`` set: the core of decontaminate, and of
    streaming.jobs.streaming_decontaminate, where the shingles come from
    a document stream and the eval set is a static side input.

    ONE aggregate over ONE pass of the shingles: the broadcast LEFT join
    marks eval hits in-line and count("__hit") (nulls skipped) counts
    them beside the total - one stateful operator, so a stream can run
    it in update mode (joining two streaming aggregates is unsupported).
    """
    flagged = shingles.join(
        F.broadcast(eval_ngrams.withColumn("__hit", F.lit(1))), "shingle", "left"
    )
    n_shared = F.count("__hit")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        n_shared.cast("long").alias("n_shared"),
        F.floor(F.lit(1000) * n_shared / F.count("*")).cast("long").alias("contam_x1000"),
    )


def decontaminate_sql(n: int = 5, eval_mod: int = 50) -> str:
    hv = "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    return f"""
WITH toks AS (
  SELECT doc_id, {hv} % {eval_mod} = 0 AS is_eval, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= {n}
), sh AS (
  SELECT DISTINCT doc_id, is_eval,
         array_to_string(t[i.i + 1 : i.i + {n}], ' ') AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(0, len(t) - {n} + 1)) AS i) i
), ev AS (
  SELECT DISTINCT shingle FROM sh WHERE is_eval
), train AS (
  SELECT doc_id, shingle FROM sh WHERE NOT is_eval
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(FLOOR(1000.0 * SUM(CASE WHEN shingle IN (SELECT shingle FROM ev) THEN 1 ELSE 0 END)
                  / COUNT(*)) AS BIGINT) AS contam_x1000
FROM train
GROUP BY doc_id
"""


def chunk_dedup(documents: DataFrame, chunk_tokens: int = 32) -> DataFrame:
    """Passage-level exact dedup with document reassembly (the
    RefinedWeb/CCNet-style sub-document pass: exact dedup alone misses a
    boilerplate paragraph pasted into a million otherwise-distinct pages).

    Each document is cut into fixed ``chunk_tokens``-token chunks; a
    chunk's global owner is the lexicographically smallest
    (doc_id, chunk_idx) holding its hash, every other occurrence is
    dropped, and each document is re-emitted as its surviving chunks in
    original order (first occurrence survives even for repeats WITHIN one
    document, so self-repetition is scrubbed too).

    Scale shape: the ownership shuffle carries ONLY (hash, doc_id, idx)
    triples - never chunk text.  Surviving text is re-derived from the
    original document row by slicing its own token array with the
    broadcast-joined kept-index list, so the expensive column crosses the
    wire exactly once (the final doc-keyed join), all in JVM codegen.
    """
    c = chunk_tokens
    toks = F.split(F.col("text"), " ")
    n_chunks = F.expr(f"(size(split(text, ' ')) + {c - 1}) div {c}").cast("int")
    chunk_at = lambda i: F.array_join(F.slice(toks, i * c + 1, c), " ")  # noqa: E731
    hashed = documents.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_chunks - 1), lambda i: F.md5(chunk_at(i)))
        ).alias("idx", "h"),
    )
    owners = hashed.groupBy("h").agg(F.min(F.struct("doc_id", "idx")).alias("o"))
    kept_per_doc = (
        owners.select(F.col("o.doc_id").alias("doc_id"), F.col("o.idx").alias("idx"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("idx")).alias("keep"))
    )
    keep = F.coalesce(F.col("keep"), F.expr("CAST(array() AS array<int>)"))
    return (
        documents.join(kept_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_chunks.alias("n_chunks"),
            F.size(keep).alias("n_kept"),
            F.array_join(F.transform(keep, chunk_at), " ").alias("kept_text"),
        )
    )


def chunk_dedup_sql(chunk_tokens: int = 32) -> str:
    c = chunk_tokens
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), chunks AS (
  SELECT doc_id, CAST(i AS INTEGER) AS idx,
         array_to_string(t[(i*{c}+1):(i*{c}+{c})], ' ') AS chunk
  FROM toks, UNNEST(range((len(t) + {c - 1}) // {c})) AS u(i)
), ranked AS (
  SELECT doc_id, idx,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
  FROM chunks
), kept AS (
  SELECT doc_id, idx FROM ranked WHERE rn = 1
)
SELECT t.doc_id,
       CAST((len(t.t) + {c - 1}) // {c} AS INTEGER) AS n_chunks,
       CAST(count(k.idx) AS INTEGER) AS n_kept,
       coalesce(string_agg(array_to_string(t.t[(k.idx*{c}+1):(k.idx*{c}+{c})], ' '),
                           ' ' ORDER BY k.idx), '') AS kept_text
FROM toks t LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id, len(t.t)
"""


def snapshot_dedup(documents: DataFrame, old_mod: int = 3) -> DataFrame:
    """Incremental (cross-snapshot) dedup: keep only the NEW crawl's
    documents whose exact content hash never appeared in the PREVIOUS
    snapshot - the standard anti-join a continuously-ingesting corpus
    runs per crawl instead of re-deduplicating 100 TB from scratch.

    The fixture has one snapshot, so the split is simulated
    deterministically: doc_id % ``old_mod`` == 0 plays the old crawl.
    Scale shape: a shuffle-hash LEFT ANTI join on the content hash - both
    sides shuffle only (hash) / (hash, doc_id), text never crosses the
    wire, and hash keys are uniform so no skew.
    """
    return unseen_content(
        documents.where(F.col("doc_id") % old_mod != 0),
        documents.where(F.col("doc_id") % old_mod == 0),
    )


def unseen_content(new_docs: DataFrame, old_docs: DataFrame) -> DataFrame:
    """``(doc_id, text_hash)`` of the new documents whose content hash is
    absent from the old ones: the LEFT ANTI join on md5(text) that
    snapshot_dedup runs on its two halves.  With a document stream as
    ``new_docs`` and a static snapshot as ``old_docs`` it is a
    stream-static join that emits each micro-batch's unseen content in
    append mode; the old side carries hashes only, so text never enters
    the join."""
    h = F.md5("text").alias("h")
    return (
        new_docs.select("doc_id", h)
        .join(old_docs.select(h), "h", "left_anti")
        .select("doc_id", F.col("h").alias("text_hash"))
    )


def snapshot_dedup_sql(old_mod: int = 3) -> str:
    # NOT EXISTS, not NOT IN: one NULL text in the old snapshot would
    # NULL-poison a NOT IN and return zero rows, where Spark's left-anti
    # join (NULL-safe: a NULL key matches nothing) keeps every new doc
    return f"""
SELECT n.doc_id, md5(n.text) AS text_hash
FROM documents n
WHERE n.doc_id % {old_mod} <> 0
  AND NOT EXISTS (
    SELECT 1 FROM documents o
    WHERE o.doc_id % {old_mod} = 0 AND md5(o.text) = md5(n.text)
  )
"""
