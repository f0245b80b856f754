"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM-side fold, no Python
in the hot path); the IVF-style coarse-quantizer variant is the scale
path: cluster-assign once, then search only the probed cells - the
standard recipe for ANN over billions of vectors.  Trained centroids
reach executors as one broadcast matrix, and every nearest-centroid
assignment is an Arrow-batched numpy matmul against it.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 - resolves the pandas_udf type hints
from pyspark.sql import DataFrame, Window, functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a: str, b: str):
    """Cosine of two double-array columns, as a JVM-side fold."""
    x, y = F.col(a), F.col(b)
    return _dot(x, y) / (F.sqrt(_dot(x, x)) * F.sqrt(_dot(y, y)))


def _top_k(pairs: DataFrame, score: str, k: int, rank: str = "rnk") -> DataFrame:
    """The k highest-`score` rows per query_id, ranked 1..k in `rank`;
    ties break toward the lower neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn(rank, F.row_number().over(w))
        .where(F.col(rank) <= k)
        .select("query_id", "neighbor_id", rank)
    )


def cosine_topk(embeddings: DataFrame, k: int = 5, n_queries: int = 20) -> DataFrame:
    """Exact brute-force cosine top-k: queries (small) broadcast against
    the corpus; similarity is a JVM-side fold over double arrays.

    Output is rank-only (ints) so the oracle comparison has no float
    columns; ties broken by neighbour id.
    """
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    # the Q x N similarity scan is CPU-bound: fan the corpus out to the
    # cluster's parallelism even when the scan produced one split
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    corpus = emb.repartition(par).select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("c"))
    pairs = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cosine("q", "c"))
    )
    return _top_k(pairs, "sim", k)


def cosine_topk_sql(k: int = 5, n_queries: int = 20) -> str:
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
  FROM emb q CROSS JOIN emb c
  WHERE q.vec_id < {n_queries} AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
  FROM pairs
) WHERE rnk <= {k}
"""


def synth_clustered_embeddings(
    spark,
    n_vectors: int = 2000,
    dim: int = 32,
    n_clusters: int = 16,
    noise: float = 0.12,
    seed: int = 7,
) -> DataFrame:
    """Deterministic planted-Gaussian-cluster embeddings fixture.

    Real embedding corpora are clustered (that's why IVF works); the
    driver-provided testdata is uniform-random, where *no* cell-bucketed
    ANN can score high recall (nearest neighbours of a random point
    straddle cell boundaries).  This fixture plants `n_clusters`
    well-separated centroids with per-dim magnitudes bounded away from 0,
    so sign-bit cells are stable under the noise - the regime the IVF
    path is built for.  Schema mirrors testdata embeddings.parquet
    (vec_id long, embedding array<float>, label int).
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    # magnitudes in [0.6, 1.4], random sign: sign flips under noise are rare
    centroids = rng.uniform(0.6, 1.4, size=(n_clusters, dim)) * rng.choice([-1.0, 1.0], size=(n_clusters, dim))
    labels = np.arange(n_vectors) % n_clusters  # queries (low ids) span clusters
    vecs = centroids[labels] + rng.normal(0.0, noise, size=(n_vectors, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in vecs],
            "label": labels.astype(np.int32),
        }
    )
    return spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>, label int")


def _grid_cell(col, n_bits: int = 8):
    """Coarse quantizer: sign bits of the first n_bits dims -> 2^n_bits
    cells, as a pure JVM column expression (no Python worker).

    Deterministic, data-independent (no training step needed in this
    sandbox); at real scale swap for k-means centroids - the plumbing
    (cell assign -> per-cell search) is identical.
    """
    c = F.lit(0)
    for i in range(n_bits):
        c = c + F.when(F.element_at(col, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return c.cast("long")


def ivf_cosine_topk(
    embeddings: DataFrame, k: int = 5, n_queries: int = 20, n_bits: int = 4, multiprobe: bool = True
) -> DataFrame:
    """IVF-bucketed ANN: search the query's coarse cell (+ its Hamming-1
    probes - the standard multiprobe trick that buys recall without
    touching the corpus layout).

    Recall < 1 by construction (ANN, floor pinned in pytest + reported by
    bench.py); the equi-join on cell replaces the cross join, so cost
    drops from O(Q x N) to O(Q x (1 + n_bits) x N / 2^n_bits).
    """
    from .spread import spread_input

    emb = spread_input(embeddings).select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "cell", _grid_cell(F.col("v"), n_bits)
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q"), "cell"
    )
    if multiprobe:
        probes = F.array(F.col("cell"), *[F.col("cell").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)])
        queries = queries.withColumn("cell", F.explode(probes))
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("c"), "cell")
    return _cell_topk(queries, corpus, k)


def _cell_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of each query (query_id, q, cell) over the
    corpus rows (neighbor_id, c, cell) of the cells it probes.  The
    query side (n_queries x probes rows) is the broadcast build side,
    so the plan does not depend on which side AQE measures smaller."""
    pairs = (
        F.broadcast(queries)
        .join(corpus, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cosine("q", "c"))
    )
    return _top_k(pairs, "sim", k)


def train_kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 8,
    sample_fraction: float | None = None,
    seed: int = 7,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for the IVF coarse quantizer - the
    trained replacement for the data-independent sign-bit cells.

    Scale shape: centroids live on the driver (k x dim floats - tiny);
    each iteration broadcasts them and makes ONE narrow pass over the
    corpus (assign = an Arrow-batched matmul against the broadcast
    matrix, so the plan does not grow with k x dim) plus a
    map-side-combined aggregate whose shuffle carries at most
    k x dim x partitions partial rows.  For billion-vector corpora
    pass sample_fraction to train on a deterministic hash-sample - the
    standard IVF recipe (quantizer quality needs only a sample).

    Deterministic up to float summation order: init picks the k vectors
    with the smallest xxhash64(vec_id, seed) (a seeded distributed
    reservoir, stable across partitionings); ties in assignment break
    toward the lower cell index.  The per-cell sums are computed by a
    shuffled groupBy, so their float addition order - and therefore the
    low bits of the centroids - can vary with partitioning; vectors
    whose two nearest centroids are within that rounding distance may
    flip cells between otherwise-identical runs.  Empty cells keep
    their previous centroid.
    """
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    if sample_fraction is not None:
        # deterministic hash-sample, partitioning-independent
        bound = int(sample_fraction * (1 << 32))
        emb = emb.where((F.xxhash64("vec_id", F.lit(seed)) % F.lit(1 << 32) + F.lit(1 << 32)) % F.lit(1 << 32) < bound)
    emb = emb.cache()
    first = emb.select("v").first()
    if first is None:
        raise ValueError(f"corpus is empty (after sampling): cannot train n_cells={n_cells} centroids")
    dim = len(first["v"])

    # seeded deterministic init: k lowest-hash vectors
    init_rows = (
        emb.select("vec_id", "v", F.xxhash64("vec_id", F.lit(seed)).alias("h"))
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .collect()
    )
    centroids = [list(r["v"]) for r in init_rows]
    if len(centroids) < n_cells:
        raise ValueError(f"corpus smaller than n_cells={n_cells}")

    for _ in range(n_iters):
        bc = _centroid_broadcast(emb, centroids)
        assigned = emb.withColumn("cell", _nearest_centroid(F.col("v"), bc))
        # per-(cell, dim) sums: posexplode -> partial-agg map-side, the
        # shuffle carries pre-combined k*dim rows per partition
        sums = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty cells keep position
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(int(r["cell"]), [[0.0] * dim, 0])
            acc[int(r["cell"])][0][int(r["pos"])] = float(r["s"])
            acc[int(r["cell"])][1] = int(r["n"])
        for cell, (s, n) in acc.items():
            if n > 0:
                new_c[cell] = [x / n for x in s]
        centroids = new_c
    emb.unpersist()
    return centroids


def _centroid_broadcast(df: DataFrame, centroids: list[list[float]]):
    """Broadcast the (k, dim) float64 centroid matrix to executors once;
    the plan carries only the UDFs that read it, so its size and
    analysis time do not grow with k x dim."""
    import numpy as np

    return df.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))


def _nearest_centroid(v, bc):
    """argmin_i ||v - c_i||^2 per row: one Arrow batch -> one
    (n, dim) @ (dim, k) matmul against the broadcast centroid matrix,
    maximizing 2*v.c_i - |c_i|^2 (|v|^2 is constant per row).  np.argmax
    returns the FIRST max, so ties break toward the lower cell index."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def assign(col: pd.Series) -> pd.Series:
        c = bc.value  # (k, dim)
        if not len(col):
            return pd.Series(np.empty(0, dtype=np.int64))
        mat = np.array(col.tolist(), dtype=np.float64)  # (n, dim)
        scores = 2.0 * (mat @ c.T) - (c * c).sum(axis=1)  # (n, k)
        return pd.Series(scores.argmax(axis=1).astype(np.int64))

    # nondeterministic stops Catalyst pushing inferred join-key filters
    # (isnotnull(cell)) BELOW the projection, which would duplicate the
    # ArrowEvalPython node and run the matmul twice per row (measured 2x
    # on the k=1024 plan)
    return assign.asNondeterministic()(v)


def _nearest_centroids(v, bc, nprobe: int):
    """The nprobe nearest cells per row, as array<long>: a stable
    argsort of the distance matrix rows, so ties break toward the lower
    cell index as in _nearest_centroid."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def probes(col: pd.Series) -> pd.Series:
        c = bc.value
        if not len(col):
            return pd.Series([], dtype=object)
        mat = np.array(col.tolist(), dtype=np.float64)
        d = (c * c).sum(axis=1) - 2.0 * (mat @ c.T)  # (n, k); |v|^2 constant per row
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx.astype(np.int64)))

    # same duplication guard as _nearest_centroid: the explode's inferred
    # size(cells)>0 filter would otherwise re-evaluate the UDF
    return probes.asNondeterministic()(v)


def ivf_kmeans_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 20,
    n_cells: int = 16,
    n_iters: int = 8,
    nprobe: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED k-means coarse quantizer (the scale path
    the sign-bit `ivf_cosine_topk` documents as its slot-in): corpus
    vectors assign to their nearest centroid cell, queries probe their
    `nprobe` nearest cells, and the equi-join on cell bounds the scanned
    fraction to ~nprobe/n_cells of the corpus.

    The centroids are broadcast once, as a (k, dim) numpy matrix, and
    both sides assign against it with one Arrow-batch matmul per batch -
    plan size stays O(1) in k, so k in the thousands plans in
    milliseconds (pinned by the k=1024 pytest).  The search is the same
    cell equi-join + window top-k as the sign-bit variant.  Recall is
    measured (bench.py / pytest floor), not assumed.
    """
    if centroids is None:
        centroids = train_kmeans_centroids(embeddings, n_cells=n_cells, n_iters=n_iters)
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    bc = _centroid_broadcast(emb, centroids)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("c"),
        _nearest_centroid(F.col("v"), bc).alias("cell"),
    )
    queries = (
        emb.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q"),
            _nearest_centroids(F.col("v"), bc, nprobe).alias("cells"),
        )
        .withColumn("cell", F.explode("cells"))
        .drop("cells")
    )
    return _cell_topk(queries, corpus, k)


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse cells.

    Near-identical vectors share all first-8-dim signs (unless a dim sits
    at ~0), so the cell equi-join replaces the all-pairs cross join - the
    same linear-cost shape as ivf_cosine_topk.  Output is the id pairs
    only (no float column), so the DuckDB oracle compares hash-exactly;
    tests/test_spark_ops.py plants >=0.95-cosine pairs and asserts exact
    recovery at the default threshold.
    """
    emb = embeddings.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "cell", _grid_cell(F.col("v"), 8)
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), "cell")
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), "cell")
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", _cosine("va", "vb"))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b")
    )


def embedding_near_dup_sql(threshold: float = 0.95) -> str:
    cell = " + ".join(f"(CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8))
    return f"""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cells AS (SELECT vec_id, v, {cell} AS cell FROM emb)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM cells a JOIN cells b USING (cell)
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= CAST({threshold} AS DOUBLE)
"""


def embedding_dup_components(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding near-dup CLUSTERS: every vector labeled with its
    duplicate-component id (minimum vec_id) + canonical survivor flag -
    the same pairs->components->survivors composition as
    dedup.near_dup_components, over cosine pairs instead of LSH buckets.
    Component rounds run over the PAIR set only; corpus-sized work is
    the cell equi-join and the final left join.
    """
    from .graph import connected_components

    pairs = embedding_near_dup(embeddings, threshold)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).withColumnRenamed("node", "vec_id")
    cid = F.coalesce(F.col("component_id"), F.col("vec_id"))
    return (
        embeddings.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            cid.alias("component_id"),
            (cid == F.col("vec_id")).cast("int").alias("is_canonical"),
        )
    )


def embedding_dup_components_sql(threshold: float = 0.95) -> str:
    inner = embedding_near_dup_sql(threshold)
    return f"""
WITH RECURSIVE pairs AS ({inner}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
),
comp AS (SELECT u AS vec_id, MIN(lbl) AS component_id FROM reach GROUP BY u)
SELECT d.vec_id,
       COALESCE(c.component_id, d.vec_id) AS component_id,
       CAST(COALESCE(c.component_id, d.vec_id) = d.vec_id AS INT) AS is_canonical
FROM embeddings d LEFT JOIN comp c USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): the vector-COMPRESSION leg of the ANN family.
# IVF (sign-bit / k-means above) cuts the SCANNED FRACTION; PQ cuts the
# BYTES PER VECTOR (Jegou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) - dim float32 -> m uint8 codes (e.g.
# 32 dims x 4 B = 128 B -> 8 B, 16x), which is what lets a 100 TB
# embedding corpus fit a cluster's memory for repeated ANN serving.
# ---------------------------------------------------------------------------


def _normalize_rows(mat):
    """L2-normalize rows (zero rows pass through): PQ here targets
    COSINE, and cosine = inner product on the unit sphere."""
    import numpy as np

    norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    return mat / np.where(norms == 0.0, 1.0, norms)


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    n_iters: int = 10,
    train_cap: int = 20000,
    seed: int = 7,
):
    """Train per-subspace PQ codebooks on a bounded deterministic sample;
    returns a (m, n_codes, dim/m) float64 numpy array.

    Scale shape: quantizer training needs only a bounded sample (the
    standard PQ recipe trains on 10^5-10^6 vectors regardless of corpus
    size), so the ONLY corpus pass is a TakeOrdered of the `train_cap`
    lowest-xxhash64(vec_id, seed) rows - a deterministic,
    partitioning-independent sample collected once to the driver
    (train_cap x dim floats, bounded by construction; this is NOT a
    corpus collect).  Per-subspace Lloyd's then runs in numpy on the
    driver: init = the n_codes lowest-hash sample rows' subvectors (the
    same seeded-reservoir convention as train_kmeans_centroids),
    assignment ties break toward the lower code (np.argmin takes the
    first minimum), empty codes keep their previous codeword.  Fully
    deterministic: fixed sample order, fixed init, numpy reduction order.
    """
    import numpy as np

    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    sample = (
        emb.select("vec_id", "v", F.xxhash64("vec_id", F.lit(seed)).alias("h"))
        .orderBy("h", "vec_id")
        .limit(train_cap)
        .collect()
    )
    if len(sample) < n_codes:
        raise ValueError(f"training sample ({len(sample)}) smaller than n_codes={n_codes}")
    X = _normalize_rows(np.array([r["v"] for r in sample], dtype=np.float64))
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        Xs = X[:, j * sub : (j + 1) * sub]
        cent = Xs[:n_codes].copy()
        for _ in range(n_iters):
            # (n, n_codes) squared L2; argmin -> first (lowest code) on ties
            d = ((Xs * Xs).sum(axis=1, keepdims=True)
                 - 2.0 * (Xs @ cent.T)
                 + (cent * cent).sum(axis=1))
            a = d.argmin(axis=1)
            for c in range(n_codes):
                mask = a == c
                if mask.any():
                    cent[c] = Xs[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(embeddings: DataFrame, codebooks) -> DataFrame:
    """Encode every vector to its m nearest-codeword indices:
    (vec_id, codes array<int>) - ONE narrow Arrow pass, no shuffle.

    The (m, n_codes, sub) codebook tensor is broadcast once (kilobytes);
    each Arrow batch is one reshape + m batched matmuls.  Encoding
    quantizes the NORMALIZED vector under L2 - on the unit sphere that
    is the cosine-optimal codeword.  Ties break toward the lower code
    (np.argmin first-minimum), matching training.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bc = embeddings.sparkSession.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))

    @pandas_udf("array<int>")
    def enc(col: pd.Series) -> pd.Series:
        books = bc.value  # (m, n_codes, sub)
        m_, _, sub = books.shape
        if not len(col):
            return pd.Series([], dtype=object)
        mat = _normalize_rows(np.array(col.tolist(), dtype=np.float64))  # (n, dim)
        parts = mat.reshape(len(mat), m_, sub)  # (n, m, sub)
        codes = np.empty((len(mat), m_), dtype=np.int32)
        for j in range(m_):
            cent = books[j]
            d = -2.0 * (parts[:, j, :] @ cent.T) + (cent * cent).sum(axis=1)
            codes[:, j] = d.argmin(axis=1).astype(np.int32)
        return pd.Series(list(codes))

    # same inferred-filter duplication guard as _nearest_centroid
    return embeddings.select(
        "vec_id", enc.asNondeterministic()(_as_double("embedding")).alias("codes")
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 20,
    m: int = 8,
    n_codes: int = 256,
    n_iters: int = 10,
    codebooks=None,
    refine: int = 50,
) -> DataFrame:
    """Approximate cosine top-k: asymmetric-distance (ADC) shortlist over
    PQ codes, exact re-rank of the shortlist - (query_id, neighbor_id,
    rnk), same contract as cosine_topk / ivf_*_topk; recall is measured
    (pytest floor), not assumed.

    Scale shape: the corpus is scanned as CODES (m bytes/vector, 16x
    smaller than float32), never as raw floats.  Queries stay exact:
    each query's subvectors take inner products with every codeword
    once, giving a (Q, m, n_codes) lookup-table tensor built on the
    driver (Q x m x 256 doubles - kilobytes) and broadcast; scoring a
    corpus vector is then m table lookups + adds, no floating multiply.
    Per-partition mapInPandas keeps a running top-(refine+1) per query
    ACROSS its Arrow batches and emits only Q x (refine+1) candidate
    rows per partition - O(partitions x Q x refine), independent of
    corpus size.

    ``refine`` is the standard PQ refinement step (FAISS's IndexRefine):
    quantization error is larger than the cosine gaps BETWEEN a query's
    true near neighbours (on clustered data, all same-cluster vectors
    ADC-score within the error band), so pure-ADC top-k ranks the
    shortlist poorly; re-ranking the top-``refine`` candidates with
    exact cosine restores recall while touching only Q x refine x
    partitions raw vectors (a broadcast semi-join against the corpus,
    never a second scan's worth of float math).  ``refine=0`` keeps the
    pure-ADC ranking.  Result is partitioning-independent: per-row ADC
    scores are layout-invariant (LUT adds run in fixed subspace order),
    and a GLOBAL window cuts the per-partition candidate union down to
    the exact global ADC top-``refine`` before the re-rank, so a wider
    layout's extra candidates never change the shortlist.
    """
    import numpy as np

    if codebooks is None:
        codebooks = train_pq_codebooks(embeddings, m=m, n_codes=n_codes, n_iters=n_iters)
    books = np.asarray(codebooks, dtype=np.float64)

    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    qids, luts = _query_luts(emb, books, n_queries)
    bc = embeddings.sparkSession.sparkContext.broadcast((qids, luts))
    keep = max(k, refine) + 1  # +1 so dropping the self-match still leaves enough

    def part(batches):
        import pandas as pd

        qids_, luts_ = bc.value
        nq = len(qids_)
        cand_scores = np.full((nq, 0), 0.0)
        cand_ids = np.full((nq, 0), 0, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            scores = np.zeros((nq, len(ids)))
            for j in range(luts_.shape[1]):
                scores += luts_[:, j, codes[:, j]]
            # per-batch top-`keep` per query, then merge with the running set
            if len(ids) > keep:
                idx = np.argpartition(-scores, keep - 1, axis=1)[:, :keep]
            else:
                idx = np.tile(np.arange(len(ids)), (nq, 1))
            cand_scores = np.concatenate([cand_scores, np.take_along_axis(scores, idx, 1)], axis=1)
            cand_ids = np.concatenate([cand_ids, ids[idx]], axis=1)
            if cand_ids.shape[1] > keep:
                idx2 = np.argpartition(-cand_scores, keep - 1, axis=1)[:, :keep]
                cand_scores = np.take_along_axis(cand_scores, idx2, 1)
                cand_ids = np.take_along_axis(cand_ids, idx2, 1)
        if cand_ids.shape[1]:
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, cand_ids.shape[1]),
                    "neighbor_id": cand_ids.ravel(),
                    "score": cand_scores.ravel(),
                }
            )

    partial = pq_encode(embeddings, books).mapInPandas(
        part, "query_id long, neighbor_id long, score double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    return _adc_rerank(partial, emb, n_queries, k, refine)


def _query_luts(emb: DataFrame, books, n_queries: int):
    """(qids, luts): ADC lookup tables luts[q, j, c] = <query_q's j-th
    subvector, codeword c> for the collected (tiny) query set."""
    import numpy as np

    m_, _, sub = books.shape
    qrows = emb.where(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = _normalize_rows(np.array([r["v"] for r in qrows], dtype=np.float64))
    qparts = qmat.reshape(len(qmat), m_, sub)  # (Q, m, sub)
    return qids, np.einsum("qjs,jcs->qjc", qparts, books)  # (Q, m, n_codes)


def _adc_rerank(partial: DataFrame, emb: DataFrame, n_queries: int, k: int, refine: int) -> DataFrame:
    """Shared PQ tail: global ADC shortlist window, exact-cosine re-rank
    of the shortlist via broadcast joins, final top-k."""
    if refine > 0:
        # global ADC shortlist: the per-partition candidate union cut to
        # the exact global top-`refine` (ties by id) - layout-invariant
        shortlist = _top_k(partial, "score", refine, rank="r")
        # exact re-rank: fetch raw vectors for the (tiny) shortlist via
        # a broadcast join, rescore with true cosine
        queries = emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("q")
        )
        cands = shortlist.select("query_id", "neighbor_id")
        scored = (
            F.broadcast(cands)
            .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
            .join(F.broadcast(queries), "query_id")
        )
        partial = scored.withColumn("score", _cosine("q", "v"))
    return _top_k(partial, "score", k)


def ivf_pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 20,
    n_cells: int = 16,
    n_iters: int = 8,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 256,
    pq_iters: int = 10,
    centroids: list[list[float]] | None = None,
    codebooks=None,
    refine: int = 50,
) -> DataFrame:
    """IVF x PQ (the FAISS IVFPQ composition, by_residual=False): the
    trained coarse quantizer bounds the SCANNED FRACTION to
    ~nprobe/n_cells of the corpus, PQ codes bound the BYTES PER SCANNED
    VECTOR to m (16x under float32), and the exact-refine tail restores
    rank fidelity on the shortlist - the index layout that serves ANN
    over corpora too big to hold as floats even sharded.

    Plan shape: corpus -> ONE narrow pass producing (cell, codes) (both
    Arrow-batched against broadcast tensors); queries probe their nprobe
    nearest cells; the cell equi-join yields (query, neighbor, codes)
    candidate rows whose ADC score is m LUT lookups (vectorized per
    Arrow batch against the broadcast (Q, m, n_codes) tables); then the
    shared global-shortlist + exact-re-rank tail.  No cross join
    anywhere; the only corpus-sized shuffle is the cell equi-join's.
    Layout-invariant for the same reason pq_topk is.
    """
    import numpy as np

    if centroids is None:
        centroids = train_kmeans_centroids(embeddings, n_cells=n_cells, n_iters=n_iters)
    if codebooks is None:
        codebooks = train_pq_codebooks(embeddings, m=m, n_codes=n_codes, n_iters=pq_iters)
    books = np.asarray(codebooks, dtype=np.float64)

    emb = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    bc_cells = _centroid_broadcast(emb, centroids)
    corpus = pq_encode(embeddings, books).join(
        emb.select("vec_id", _nearest_centroid(F.col("v"), bc_cells).alias("cell")), "vec_id"
    ).select(F.col("vec_id").alias("neighbor_id"), "codes", "cell")
    queries = (
        emb.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            _nearest_centroids(F.col("v"), bc_cells, nprobe).alias("cells"),
        )
        .withColumn("cell", F.explode("cells"))
        .drop("cells")
    )

    qids, luts = _query_luts(emb, books, n_queries)
    bc = embeddings.sparkSession.sparkContext.broadcast((qids, luts))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def adc(qcol: pd.Series, codes_col: pd.Series) -> pd.Series:
        qids_, luts_ = bc.value
        if not len(qcol):
            return pd.Series(np.empty(0, dtype=np.float64))
        qidx = np.searchsorted(qids_, qcol.to_numpy())
        codes = np.array(codes_col.tolist(), dtype=np.int64)  # (n, m)
        s = np.zeros(len(codes))
        for j in range(luts_.shape[1]):
            s += luts_[qidx, j, codes[:, j]]
        return pd.Series(s)

    partial = (
        queries.join(corpus, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", adc.asNondeterministic()(F.col("query_id"), F.col("codes")))
        .select("query_id", "neighbor_id", "score")
    )
    return _adc_rerank(partial, emb, n_queries, k, refine)
