"""Text-analysis operators: token stats, quality scoring, language scoring,
document fingerprinting.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen); outputs are integers so the DuckDB oracles compare
bit-exactly (no float rounding to negotiate between engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .spread import spread_input

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is", "for", "on", "with")


def token_metric_cols(col: str = "text") -> dict:
    """Shared per-row token-metric column expressions (token count,
    stopword count, distinct count, top-token occurrence count) - the
    single source of truth for every operator that scores documents on
    these (repetition_stats, curation.quality_funnel): a tokenization or
    top-token fix here applies to all of them at once.

    The top-token count is the longest equal-run of the SORTED token
    array - O(n log n) per row instead of the former
    O(n_distinct x n_tokens) distinct-x-scan (identical value: equal
    tokens are adjacent after array_sort, so the max run length IS the
    max per-token occurrence count).  The run scan seeds prev with NULL
    so a leading empty-string token (split on doubled spaces) still
    starts a fresh run.
    """
    toks = F.split(F.col(col), " ")
    uniq = F.array_distinct(toks)
    run = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return {
        "toks": toks,
        "n_tok": F.size(toks),
        "n_stop": F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))),
        "uniq": uniq,
        "n_uniq": F.size(uniq),
        "top_tok": run,
    }


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token/char/stopword/punct counts + integer quality score.

    quality = floor(1000 * stop_ratio) + floor(10 * avg_token_len_x10
    clamp) style integer mix - exact in both engines.
    """
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = n_chars - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", ""))
    quality = F.floor(F.lit(1000) * n_stop / n_tokens) + F.floor(F.lit(100) * n_punct / F.greatest(n_chars, F.lit(1)))
    return documents.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        n_stop.alias("n_stopwords"),
        n_punct.cast("long").alias("n_punct"),
        quality.cast("long").alias("quality"),
    )


def text_stats_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(list_filter(string_split(text, ' '), t -> t IN ({stop_list}))) AS INT) AS n_stopwords,
       CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
       CAST(FLOOR(1000 * len(list_filter(string_split(text, ' '), t -> t IN ({stop_list})))
                  / len(string_split(text, ' ')))
            + FLOOR(100 * (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                    / GREATEST(length(text), 1)) AS BIGINT) AS quality
FROM documents
"""


# BPE-ish pre-tokenizer regex (GPT-2 style, simplified to the lookaround
# free subset that Java regex (Spark) and RE2 (DuckDB) segment
# identically): contractions, space-prefixed letter runs, digit runs,
# punctuation runs, then residual whitespace.  Counting these matches
# approximates subword token counts far better than whitespace splitting
# (punctuation and digits tokenize separately, as real BPE does).
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document.

    Both counts are pure JVM expressions (regexp_extract_all inside
    whole-stage codegen - no Python workers); `bytes_per_bpe_token_x100`
    is the integer-scaled compression diagnostic training-data pipelines
    filter on (too-low = boilerplate/code, too-high = non-text).
    """
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0))
    n_chars = F.length("text")
    return documents.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.floor(F.lit(100) * n_chars / F.greatest(bpe, F.lit(1)))
        .cast("long")
        .alias("bytes_per_bpe_token_x100"),
    )


def token_counts_sql() -> str:
    # RE2 needs the same pattern; DuckDB string literal escaping: '' for
    # quotes.  \s is supported by RE2 and Java identically here.
    pat = BPE_TOKEN_RE.replace("'", "''")
    return f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(FLOOR(100 * length(text)
                  / GREATEST(len(regexp_extract_all(text, '{pat}')), 1)) AS BIGINT)
           AS bytes_per_bpe_token_x100
FROM documents
"""


def lang_stopword_score(documents: DataFrame) -> DataFrame:
    """Heuristic language-ID signal: per claimed lang, aggregate English
    stopword incidence (the n-gram-free version of langid scoring)."""
    toks = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return (
        documents.select("lang", n_stop.alias("n_stop"), F.size(toks).alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_stop").cast("long").alias("total_stopwords"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.floor(F.lit(10000) * F.sum("n_stop") / F.sum("n_tok")).cast("long").alias("stop_per_10k"),
        )
    )


def lang_stopword_score_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(string_split(text, ' '), t -> t IN ({stop_list})))) AS BIGINT) AS total_stopwords,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(FLOOR(10000.0 * SUM(len(list_filter(string_split(text, ' '), t -> t IN ({stop_list}))))
                  / SUM(len(string_split(text, ' ')))) AS BIGINT) AS stop_per_10k
FROM documents GROUP BY lang
"""


QUANTILES = (25, 50, 90, 99)


def length_quantiles(documents: DataFrame) -> DataFrame:
    """Exact per-lang discrete quantiles of document length (ANSI
    percentile_disc: the smallest value whose cumulative fraction >= p).

    Per-GROUP exact quantiles are the right scale shape when groups are
    many and bounded (each group's sort is partition-local after the
    groupBy shuffle); for GLOBAL quantiles over 100 TB swap in
    approx_percentile (t-digest, map-side-combinable) - same output
    schema, bounded memory, no total sort.
    """
    aggs = [F.count("*").alias("n_docs")] + [
        F.expr(f"percentile_disc({p / 100}) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long")
        .alias(f"p{p}")
        for p in QUANTILES
    ]
    return documents.groupBy("lang").agg(*aggs)


def length_quantiles_sql() -> str:
    # explicit ceil-rank selection rather than DuckDB's quantile_disc:
    # pins the ANSI definition (smallest rank k with k/n >= p) so the
    # oracle can't drift on interpolation-variant semantics
    cols = ", ".join(
        f"CAST(MIN(CASE WHEN rk >= CEIL(n * {p / 100}) THEN n_chars END) AS BIGINT) AS p{p}"
        for p in QUANTILES
    )
    return f"""
WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, MAX(n) AS n_docs, {cols}
FROM r GROUP BY lang
"""


def doc_fingerprints(documents: DataFrame, k: int = 32, stride: int = 16) -> DataFrame:
    """Winnowing-style k-gram document fingerprints: the md5 of every
    k-char window sampled each ``stride`` chars (gram_idx = window
    ordinal).  Entirely JVM-side column expressions (sequence/transform/
    md5 inside whole-stage codegen) - no Python worker; the fingerprint
    family only needs uniqueness, so a cryptographic hash of the window
    replaces a Python-loop rolling polynomial at ~0 cost.
    """
    n = F.length("text")
    # explode the window ORDINAL and hash in the projection (not an
    # array-of-hashes generator): each md5 lands directly in its output
    # row, nothing is buffered per document
    n_wins = F.floor((F.greatest(F.lit(1), n - k + 1) - 1) / stride).cast("int") + 1
    i = F.col("gram_idx")
    return (
        spread_input(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(F.sequence(F.lit(0), n_wins - 1)).alias("gram_idx"), "text")
        .select(
            "doc_id",
            "gram_idx",
            F.substring(F.md5(F.col("text").substr(i * stride + 1, F.lit(k))), 1, 16).alias(
                "fingerprint"
            ),
        )
    )


# PII patterns restricted to the Java-regex/RE2 common subset (character
# classes, bounded repeats, \b word boundaries - no lookaround, no
# backrefs) so Spark and DuckDB match byte-identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_augmented_text():
    """The synthetic documents carry no PII, so the operator's query
    form deterministically plants one email / phone / IPv4 per doc
    (derived from doc_id - both engines construct the identical string)
    before scrubbing.  On real data, pass ``augment=False``."""
    d = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact u"), d, F.lit("@example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 250).cast("string"), F.lit(" end"),
    )


def pii_scrub(documents: DataFrame, augment: bool = True) -> DataFrame:
    """Redact emails, phone numbers and IPv4 addresses to typed
    placeholder tokens, reporting per-doc counts and the md5 of the
    scrubbed text.

    Stateless whole-stage-codegen scan (regexp_extract_all +
    regexp_replace chains, no Python workers) - at 100 TB this is a pure
    map over the corpus with nothing to shuffle.  Redaction is
    sequential (emails, then phones, then IPs), each count taken on the
    text as the previous stage left it, so a digit run inside an email
    is never double-counted as a phone.
    """
    src = _pii_augmented_text() if augment else F.col("text")
    n_emails = F.size(F.regexp_extract_all(src, F.lit(EMAIL_RE), 0))
    s1 = F.regexp_replace(src, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(s1, F.lit(PHONE_RE), 0))
    s2 = F.regexp_replace(s1, PHONE_RE, "<PHONE>")
    n_ips = F.size(F.regexp_extract_all(s2, F.lit(IPV4_RE), 0))
    s3 = F.regexp_replace(s2, IPV4_RE, "<IP>")
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        F.length(s3).cast("long").alias("scrubbed_len"),
        F.md5(s3).alias("scrubbed_md5"),
    )


def pii_scrub_sql(augment: bool = True) -> str:
    email = EMAIL_RE
    phone = PHONE_RE
    src = (
        "concat(text, ' contact u', CAST(doc_id AS VARCHAR), '@example.com call 555-', "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), "
        "' from 10.', CAST(doc_id % 200 AS VARCHAR), '.0.', CAST(doc_id % 250 AS VARCHAR), ' end')"
        if augment
        else "text"
    )
    s1 = f"regexp_replace({src}, '{email}', '<EMAIL>', 'g')"
    s2 = f"regexp_replace({s1}, '{phone}', '<PHONE>', 'g')"
    s3 = f"regexp_replace({s2}, '{IPV4_RE}', '<IP>', 'g')"
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all({src}, '{email}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all({s1}, '{phone}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all({s2}, '{IPV4_RE}')) AS INT) AS n_ips,
       CAST(length({s3}) AS BIGINT) AS scrubbed_len,
       md5({s3}) AS scrubbed_md5
FROM documents
"""


def doc_fingerprints_sql(k: int = 32, stride: int = 16) -> str:
    return f"""
WITH wins AS (
  SELECT doc_id, text,
         (GREATEST(1, length(text) - {k} + 1) - 1) // {stride} + 1 AS n_wins
  FROM documents
)
SELECT doc_id, CAST(i.i AS INT) AS gram_idx,
       substr(md5(substr(text, CAST(1 + i.i * {stride} AS INT), {k})), 1, 16) AS fingerprint
FROM wins, LATERAL (SELECT UNNEST(range(0, n_wins)) AS i) i
"""


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals: duplicate-token
    fraction, most-common-token share, duplicate-bigram fraction
    (Rae et al. 2021 "Scaling Language Models" §A.1.1 repetition
    filters, adapted to the whitespace-token corpus shape).

    Boilerplate and templated spam repeat themselves; natural prose
    does not - pipelines drop docs above ~0.2 duplicate-line /
    duplicate-ngram fractions.  Everything here is per-row JVM array
    math (distinct/filter/transform inside whole-stage codegen): NO
    shuffle, NO Python workers, so it composes with any scan at 100 TB.
    The top-token count is O(distinct x tokens) per row - fine for
    document-sized arrays; a corpus with mega-token rows would explode
    to (doc_id, token) word-count form instead.

    All outputs are integers (x1000 fractions) so the DuckDB oracle
    compares bit-exactly.
    """
    m = token_metric_cols()
    toks, n_tok, n_uniq, top_tok = m["toks"], m["n_tok"], m["n_uniq"], m["top_tok"]
    # sequence() with start > stop counts DOWN in Spark - guard short docs
    bg = F.when(
        n_tok >= 2,
        F.transform(F.sequence(F.lit(0), n_tok - 2), lambda i: F.array_join(F.slice(toks, i + 1, 2), " ")),
    ).otherwise(F.array().cast("array<string>"))
    n_bg = F.size(bg)
    n_uniq_bg = F.size(F.array_distinct(bg))
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_distinct_tokens"),
        F.floor(F.lit(1000) * (n_tok - n_uniq) / F.greatest(n_tok, F.lit(1))).cast("long").alias("dup_token_x1000"),
        top_tok.alias("top_token_count"),
        F.floor(F.lit(1000) * top_tok / F.greatest(n_tok, F.lit(1))).cast("long").alias("top_token_x1000"),
        n_bg.alias("n_bigrams"),
        n_uniq_bg.alias("n_distinct_bigrams"),
        F.floor(F.lit(1000) * (n_bg - n_uniq_bg) / F.greatest(n_bg, F.lit(1))).cast("long").alias("dup_bigram_x1000"),
    )


def repetition_stats_sql() -> str:
    return """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), b AS (
  SELECT doc_id, toks,
         list_transform(range(1, GREATEST(len(toks), 1)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bg
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(FLOOR(1000 * (len(toks) - len(list_distinct(toks)))
                  / GREATEST(len(toks), 1)) AS BIGINT) AS dup_token_x1000,
       CAST(list_max(list_transform(list_distinct(toks),
                                    u -> len(list_filter(toks, x -> x = u)))) AS INT)
           AS top_token_count,
       CAST(FLOOR(1000 * list_max(list_transform(list_distinct(toks),
                                                 u -> len(list_filter(toks, x -> x = u))))
                  / GREATEST(len(toks), 1)) AS BIGINT) AS top_token_x1000,
       CAST(len(bg) AS INT) AS n_bigrams,
       CAST(len(list_distinct(bg)) AS INT) AS n_distinct_bigrams,
       CAST(FLOOR(1000 * (len(bg) - len(list_distinct(bg)))
                  / GREATEST(len(bg), 1)) AS BIGINT) AS dup_bigram_x1000
FROM b
"""


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by an integer-exact
    tf-idf surrogate: score = tf * floor(1000 * N / df).

    The surrogate replaces log(N/df) with the linear 1000*N/df so both
    engines compute the score in pure integer arithmetic (bit-exact
    oracle; log's last-ulp differences would make floor() flaky at band
    edges).  It preserves the property pipelines use the score for -
    rare terms up, stop-words down - and keyword extraction at corpus
    scale cares about the ranking, not the absolute value.  Ties break
    (score desc, term asc), pinned in both engines.

    Scale shape: one corpus explode feeds a (doc,term) tf aggregate with
    map-side combine; term df is rows per term of tf, one equi-join on
    term (AQE broadcasts it when the vocabulary is small), then a
    per-doc window bounded by the doc's distinct-term count.  The
    corpus-size N scalar joins as a broadcast single row, never a
    driver collect in the plan.
    """
    toks = F.split(F.col("text"), " ")
    dt = spread_input(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(toks).alias("term")
    )
    tf = dt.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df = distinct docs per term = rows per term of tf (tf is already
    # one row per (doc, term)): no second corpus explode, no corpus-sized
    # distinct shuffle
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.floor(F.lit(1000) * F.col("n_docs") / F.col("df")))
            .cast("long")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", F.col("rnk").cast("int").alias("rnk"), "term", "tf", "df", "score")
    )


def tfidf_top_terms_sql(k: int = 5) -> str:
    return f"""
WITH dt AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM dt GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM dt) GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf * FLOOR(1000 * n.n_docs / df.df) AS BIGINT) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk,
       term, tf, df, score
FROM scored
QUALIFY rnk <= {k}
"""


def unigram_quality(documents: DataFrame) -> DataFrame:
    """Per-document unigram-LM quality score - the integer-exact
    surrogate of the KenLM-perplexity filter every web-corpus pipeline
    runs (CCNet / RefinedWeb keep docs whose LM score is 'ordinary',
    drop gibberish and keyword stuffing).

    A true LM scores mean log P(token); this surrogate scores the mean
    corpus frequency in parts-per-million of corpus tokens:
    score_ppm = (1_000_000 * sum_t cnt(t)) DIV (n_tokens * total_tokens)
    - all BIGINT multiplies and one floor division, bit-exact across
    engines (log's float ulps would flake the oracle; rank order, which
    the filter thresholds on, is preserved: gibberish tokens have
    cnt ~ 1 -> score ~ 0, all-stopword spam scores high, ordinary prose
    sits in a middle band).

    Scale shape: the unigram table is one map-side-combined word count;
    per-doc scoring joins the exploded tokens back on term (AQE
    broadcasts small vocabularies) and re-aggregates by doc - two
    aggregates + one equi-join, the same plan family as tfidf_top_terms.
    The corpus-total scalar joins as a broadcast single row.
    """
    # two explode subtrees on purpose: the unigram COUNT collapses to a
    # ~vocabulary-sized hash map during map-side partial aggregation, so
    # spreading its unsplittable scan would only multiply partial-agg
    # shuffle output by the partition count - it stays unspread; the
    # per-doc PROBE side does real per-row work (a join probe per token)
    # and is spread, or a single scan task would run every probe
    toks = F.split(F.col("text"), " ")
    cnt = (
        documents.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    # corpus total = sum over the vocabulary-sized count table, not a
    # third full explode of the corpus
    totals = cnt.agg(F.sum("cnt").alias("total_tokens"))
    dt = spread_input(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(toks).alias("term")
    )
    per_doc = (
        dt.join(cnt, "term")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("cnt").alias("sum_cnt"))
    )
    return (
        per_doc.join(F.broadcast(totals))
        .select(
            "doc_id",
            "n_tokens",
            "sum_cnt",
            # `div` = integral division on BIGINT in both engines (`//`
            # in DuckDB): exact, no float quotient near band edges
            F.expr("(1000000 * sum_cnt) div (n_tokens * total_tokens)")
            .cast("long")
            .alias("score_ppm"),
        )
    )


def unigram_quality_sql() -> str:
    return """
WITH dt AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), cnt AS (
  SELECT term, COUNT(*) AS cnt FROM dt GROUP BY term
), tot AS (
  SELECT COUNT(*) AS total_tokens FROM dt
), per_doc AS (
  SELECT dt.doc_id, COUNT(*) AS n_tokens, SUM(cnt.cnt) AS sum_cnt
  FROM dt JOIN cnt USING (term) GROUP BY dt.doc_id
)
SELECT doc_id, n_tokens, sum_cnt,
       CAST((1000000 * sum_cnt) // (n_tokens * total_tokens) AS BIGINT) AS score_ppm
FROM per_doc CROSS JOIN tot
"""


def bm25_topk(
    documents: DataFrame,
    k: int = 10,
    n_q: int = 5,
    skip_top: int = 10,
) -> DataFrame:
    """BM25 retrieval: top-k documents per query term, integer-exact.

    Query terms are selected IN-PLAN (no side channel): the ``n_q``
    terms ranked ``skip_top+1 .. skip_top+n_q`` by corpus occurrence
    count (ties by term) - skipping the head approximates dropping
    stop-words, and the selection is deterministic + SQL-expressible so
    the whole operator carries a hash-exact DuckDB oracle.

    Scoring is BM25 with k1 = 6/5, b = 3/4 cleared of floats: with
    T = total corpus tokens and N = docs (so avgdl = T/N),
      tf_comp = 22*tf*T / (10*T*tf + 3*T + 9*dl*N)
    is BM25's saturated-tf term exactly, and idf is the same linear
    surrogate tfidf_top_terms documents ((1000*N) div df; log's float
    ulps would flake the oracle).  score = (idf * 22*tf*T) div
    (10*T*tf + 3*T + 9*dl*N) - BIGINT throughout (magnitudes bounded:
    idf<=1000N, and the numerator stays < 2^63 until N*T ~ 2.6e12,
    i.e. far beyond any single-query working set; shard scores per
    partition before that).

    Scale shape: the classic inverted-index probe - (doc,term) tf from
    the spread explode (map-side combined), the tiny query-term set
    broadcast into the tf table (equi-join on term cuts the corpus to
    the terms' posting lists), one window per query term bounded by
    that term's df.  Per-doc length, term counts and the token total
    come from independent map-side-combined passes over an unspread
    explode: their shuffles are doc-/vocab-sized, and the branches
    materialize concurrently instead of serializing behind the tf
    exchange.  The query-term rank is one global window; Spark plans
    its ``r <= skip_top + n_q`` filter as a TakeOrderedAndProject, so
    it never holds more than that many rows, whatever the vocabulary.
    """
    toks = F.split(F.col("text"), " ")
    dt = spread_input(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(toks).alias("term")
    )
    tf = dt.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df = rows per term of the already-distinct (doc, term) table: no
    # corpus-sized dt.distinct() shuffle
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    dt0 = documents.select("doc_id", F.explode(toks).alias("term"))
    dl = dt0.groupBy("doc_id").agg(F.count("*").alias("dl"))
    cnt = dt0.groupBy("term").agg(F.count("*").alias("cnt"))
    totals = dt0.agg(F.count("*").alias("t_tot")).crossJoin(
        documents.agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    head = skip_top + n_q
    wq = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    qterms = (
        cnt.withColumn("r", F.row_number().over(wq))
        .where((F.col("r") > skip_top) & (F.col("r") <= head))
        .select("term")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(df_, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(totals))
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            F.expr(
                "((1000 * n_docs div df) * 22 * tf * t_tot)"
                " div (10 * t_tot * tf + 3 * t_tot + 9 * dl * n_docs)"
            )
            .cast("long")
            .alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("term", F.col("rnk").cast("int").alias("rnk"), "doc_id", "tf", "dl", "score")
    )


def bm25_topk_sql(k: int = 10, n_q: int = 5, skip_top: int = 10) -> str:
    return f"""
WITH dt AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM dt GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM dt GROUP BY doc_id
), df AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM dt) GROUP BY term
), cnt AS (
  SELECT term, COUNT(*) AS cnt FROM dt GROUP BY term
), tot AS (
  SELECT (SELECT COUNT(*) FROM dt) AS t_tot,
         (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_docs
), qterms AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS r FROM cnt
  ) WHERE r > {skip_top} AND r <= {skip_top + n_q}
), scored AS (
  SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
         CAST(((1000 * n_docs // df) * 22 * tf * t_tot)
              // (10 * t_tot * tf + 3 * t_tot + 9 * dl * n_docs) AS BIGINT) AS score
  FROM tf
  JOIN qterms USING (term)
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN tot
)
SELECT term, CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS INT) AS rnk,
       doc_id, tf, dl, score
FROM scored
QUALIFY rnk <= {k}
"""


def vocab_coverage(
    documents: DataFrame,
    sizes: tuple[int, ...] = (5, 10, 20, 50),
) -> DataFrame:
    """Tokenizer-vocabulary sizing report: for each candidate vocab size
    V, how many token occurrences the top-V types cover and the implied
    OOV rate - the table you consult BEFORE training a tokenizer on a
    100 TB corpus (BPE/unigram trainers take a target size; this says
    what each target buys).

    Ranking is deterministic: types ordered by (count DESC, token ASC)
    so equal-frequency ties never flip between runs or engines; coverage
    is an integer permille (floor), bit-exact vs the DuckDB oracle.

    Scale shape: one word-count aggregate collapses the corpus to its
    vocabulary (map-side combine; the shuffle carries one row per TYPE,
    not per token), and one global rank window orders that vocabulary.
    The literal ``rnk <= max(sizes)`` filter sits right after the
    window, so Spark plans it as a TakeOrderedAndProject that keeps
    only the top max(sizes) types, whatever the vocabulary size.
    Candidate sizes explode from a literal array over those few rows:
    no per-V rescan of anything.
    """
    # no spread_input: same low-cardinality-aggregate reasoning as
    # unigram_quality - the word count collapses map-side, spreading the
    # scan only multiplies partial-agg shuffle rows
    toks = F.explode(F.split(F.col("text"), " ")).alias("token")
    wc = documents.select(toks).groupBy("token").agg(F.count("*").alias("c"))
    # totals come from a scalar aggregate over the same word-count frame
    # (AQE reuses wc's shuffle across the two branches) and
    # broadcast-join onto the ranked heads
    totals = wc.agg(F.sum("c").alias("total_tokens"))
    ranked = (
        wc.select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("token").asc()))
            .alias("rnk"),
        )
        .where(F.col("rnk") <= max(sizes))
        .crossJoin(F.broadcast(totals))
    )
    return (
        ranked.select(
            F.explode(F.array(*[F.lit(v) for v in sizes])).alias("vocab_size"),
            "c",
            "rnk",
            "total_tokens",
        )
        .where(F.col("rnk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("c").alias("covered_tokens"),
            F.first("total_tokens").alias("total_tokens"),
        )
        .select(
            "vocab_size",
            "n_types",
            "covered_tokens",
            "total_tokens",
            F.floor(F.lit(1000) * F.col("covered_tokens") / F.col("total_tokens"))
            .cast("long")
            .alias("coverage_x1000"),
        )
    )


def vocab_coverage_sql(sizes: tuple[int, ...] = (5, 10, 20, 50)) -> str:
    size_rows = ", ".join(f"({v})" for v in sizes)
    return f"""
WITH wc AS (
  SELECT token, COUNT(*) AS c
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS rnk FROM wc
), totals AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total_tokens, COUNT(*) AS total_types FROM wc
), sizes(vocab_size) AS (SELECT * FROM (VALUES {size_rows}))
SELECT s.vocab_size,
       COUNT(*) AS n_types,
       CAST(SUM(r.c) AS BIGINT) AS covered_tokens,
       t.total_tokens,
       CAST(FLOOR(1000 * SUM(r.c) / t.total_tokens) AS BIGINT) AS coverage_x1000
FROM sizes s
JOIN ranked r ON r.rnk <= s.vocab_size
CROSS JOIN totals t
GROUP BY s.vocab_size, t.total_tokens
"""


def sliding_chunks(documents: DataFrame, chunk_tokens: int = 32, stride: int = 24) -> DataFrame:
    """Overlapping-window chunking for retrieval/embedding prep: each
    document becomes ceil-strided windows of ``chunk_tokens`` tokens
    starting every ``stride`` tokens (stride < chunk_tokens = the
    standard RAG overlap so no sentence is split across a boundary
    without also appearing whole in a neighbor).

    Emits (doc_id, chunk_idx, start_token, n_chunk_tokens, chunk_text)
    - offsets kept so downstream spans map back to the source document.
    Pure JVM array math (transform + slice inside codegen): the explode
    is the only row-count change, there is NO shuffle at all - chunking
    composes with the parquet scan and feeds pq_encode/cosine_topk
    partition-locally at 100 TB.
    """
    if not (0 < stride and 0 < chunk_tokens):
        raise ValueError(f"need positive stride/chunk_tokens, got {stride}/{chunk_tokens}")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    # explode the window ORDINAL and build each chunk in the projection:
    # the former array-of-structs generator materialized every chunk
    # string into one in-memory array per document before exploding it;
    # this form slices each chunk exactly once, straight into the output
    # row (and column pruning through the bare-int generator stays exact)
    i = F.col("chunk_idx")
    return (
        spread_input(documents.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.expr(f"(size(split(text, ' ')) - 1) div {stride}"))
            ).alias("chunk_idx"),
            "text",
        )
        .select(
            "doc_id",
            "chunk_idx",
            (i * stride).alias("start_token"),
            F.least(F.lit(chunk_tokens), n_tok - i * stride).alias("n_chunk_tokens"),
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " ").alias("chunk_text"),
        )
    )


def sliding_chunks_sql(chunk_tokens: int = 32, stride: int = 24) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(i * {stride} AS INTEGER) AS start_token,
       CAST(LEAST({chunk_tokens}, len(toks) - i * {stride}) AS INTEGER) AS n_chunk_tokens,
       array_to_string(toks[(i*{stride}+1):(i*{stride}+{chunk_tokens})], ' ') AS chunk_text
FROM t, UNNEST(range((len(toks) - 1) // {stride} + 1)) AS u(i)
"""


def langid_ngram(
    documents: DataFrame,
    labeled: DataFrame | None = None,
    top_k: int = 50,
) -> DataFrame:
    """Character-trigram language identification (Cavnar-Trenkle 1994
    "N-Gram-Based Text Categorization", integer rank-weight variant):
    per-language profiles are the top-``top_k`` trigrams of a labeled
    seed corpus; a document scores each language by the rank weight
    (top_k + 1 - rank) of every trigram occurrence that hits the
    profile, and is assigned the argmax (ties -> lexicographically
    smallest language; no hits -> 'und').

    All weights are integers and every tie is ordered (trigram ASC in
    the profile rank, language ASC in the argmax), so the DuckDB oracle
    is hash-exact.  NOTE: the synthetic fixture's lang labels are
    uncorrelated with its text, so on that table this measures plumbing
    determinism; the classification signal itself is pinned in pytest on
    a planted multilingual fixture.

    Scale shape: profile training is one trigram-count aggregate (the
    shuffle carries (lang, trigram) pairs, vocabulary-sized) + a
    per-lang rank window over that small table; classification explodes
    doc trigrams and BROADCAST-joins the (langs x top_k)-row profile -
    the corpus itself shuffles once, keyed by doc_id for the score agg.
    """
    labeled = labeled if labeled is not None else documents

    def trigrams(col: str = "text"):
        n = F.length(F.col(col))
        return F.when(
            n >= 3,
            F.transform(F.sequence(F.lit(1), n - 2), lambda i: F.col(col).substr(i, F.lit(3))),
        ).otherwise(F.array().cast("array<string>"))

    prof_counts = (
        labeled.select("lang", F.explode(trigrams()).alias("tg"))
        .groupBy("lang", "tg")
        .agg(F.count("*").alias("c"))
    )
    w_rank = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tg").asc())
    profiles = (
        prof_counts.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= top_k)
        .select("lang", "tg", (F.lit(top_k + 1) - F.col("rnk")).alias("w"))
    )
    doc_tgs = documents.select("doc_id", F.explode(trigrams()).alias("tg"))
    scores = (
        doc_tgs.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "lang")
        .agg(F.sum("w").alias("score"))
    )
    best = scores.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("lang").alias("lang"))).alias("b")
    )
    return (
        documents.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("b.lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(-F.col("b.ns"), F.lit(0)).cast("long").alias("score"),
        )
    )


def langid_ngram_sql(top_k: int = 50) -> str:
    return f"""
WITH tg_doc AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS tg
  FROM documents, UNNEST(range(1, GREATEST(len(text) - 1, 1))) AS u(i)
), prof_counts AS (
  SELECT d.lang, t.tg, COUNT(*) AS c
  FROM documents d JOIN tg_doc t USING (doc_id)
  GROUP BY d.lang, t.tg
), profiles AS (
  SELECT lang, tg, {top_k} + 1 - rnk AS w
  FROM (SELECT lang, tg, c,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, tg ASC) AS rnk
        FROM prof_counts)
  WHERE rnk <= {top_k}
), scores AS (
  SELECT t.doc_id, p.lang, CAST(SUM(p.w) AS BIGINT) AS score
  FROM tg_doc t JOIN profiles p USING (tg)
  GROUP BY t.doc_id, p.lang
), best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT d.doc_id,
       COALESCE(b.lang, 'und') AS pred_lang,
       COALESCE(b.score, 0) AS score
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
"""
