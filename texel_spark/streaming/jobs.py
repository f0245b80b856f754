"""Structured Streaming jobs: the operators a stream needs beyond the
batch ones.

The reference's "streaming" is Go channels (bounded pipeline,
processing/processing.go:136-154) - no event time, no late data.  In
Spark a streaming query runs the same DataFrame plan as a batch one, so
every batch operator with at most one stateful operator runs on a
stream frame unchanged: ``snap_pipeline_df`` (append mode, exactly-once
file sinks), ``text.token_counts``, ``text.repetition_stats`` and
``text.sliding_chunks`` (append), ``curation.quality_funnel``,
``curation.validate_documents`` (which drops its duplicate-id check on
a stream), ``spatial_queries.hilbert_tile_assign`` and
``spatial_queries.tile_pyramid_rollup`` (complete or update), and
``dedup.unseen_content`` against a static old snapshot (append).
tests/test_plans_streaming.py::test_batch_operator_runs_on_stream pins
each against the same operator on the batch table.

This module holds only what differs on a stream: rate sources,
watermarked windows, per-key state (applyInPandasWithState), a
stream-stream interval join, and stream-static jobs whose side input
the batch operator derives from the corpus itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _id_hash, _shingles, contamination


def document_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic interleaved-document stream from the rate source;
    deterministic per doc index (same generator as the batch table)."""
    from ..sources.documents import DOCUMENTS_SCHEMA, build_document

    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [build_document(int(v)) for v in pdf["value"]]
            yield pd.DataFrame({"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]})

    return rate.select("value").mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


def streaming_hourly_rollup(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup (late data beyond the watermark
    dropped); the batch twin is operators.events.hourly_rollup.

    The events table stores ``ts`` as TIMESTAMP_NTZ and a watermark needs
    a TIMESTAMP, so ``ts`` is cast here: a stream reads the table with
    its own schema.  Sessions run in UTC (session.get_spark), so each
    stored wall time becomes the same instant in UTC; a TIMESTAMP ``ts``
    passes through unchanged."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_cents")
    )


def rate_events_stream(spark: SparkSession, rows_per_second: int = 200, n_users: int = 20) -> DataFrame:
    """Synthetic event stream: rate source -> (user_id, ts, value)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        (F.col("value") % n_users).alias("user_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 100).cast("double").alias("value"),
    )


def streaming_sessionize(events_stream: DataFrame, gap_seconds: int = 30) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running session count with a gap rule - the streaming twin of
    operators.events.sessionize.

    State per user: (last_epoch, n_sessions, n_events).  Arbitrary
    stateful processing is the Structured Streaming escape hatch the
    reference has no analog for (its 'streams' are Go channels).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_sessions long, n_events long, last_epoch long"
    state_schema = "last_epoch long, n_sessions long, n_events long"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_epoch, n_sessions, n_events = state.get
        else:
            last_epoch, n_sessions, n_events = None, 0, 0
        for pdf in pdfs:
            for ts in sorted(pdf["ts"]):
                epoch = int(pd.Timestamp(ts).timestamp())
                if last_epoch is None or epoch - last_epoch > gap_seconds:
                    n_sessions += 1
                n_events += 1
                last_epoch = epoch
        state.update((last_epoch if last_epoch is not None else 0, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
                "last_epoch": [last_epoch or 0],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_decontaminate(
    docs_stream: DataFrame, eval_ngrams: DataFrame, n: int = 3
) -> DataFrame:
    """Streaming contamination check: incoming documents against a
    STATIC eval n-gram set (a stream-static broadcast join - the shape
    real ingest uses, where the benchmark suite is a fixed side input).

    Differs from the batch `dedup.decontaminate` only in where the eval
    set comes from: batch derives it from a hash band of the same
    corpus; here it is a parameter (build it once with
    `eval_ngram_set`).  Both run `dedup.contamination`, one per-doc
    aggregate.  Run in update mode; each doc arrives in exactly one
    file, so every doc's row finalizes in its own micro-batch.
    """
    return contamination(_shingles(docs_stream, n), eval_ngrams)


def eval_ngram_set(documents: DataFrame, n: int = 3, eval_mod: int = 50) -> DataFrame:
    """The static eval-band n-gram set used by streaming_decontaminate:
    identical band rule to the batch operator (id-hash % eval_mod == 0)."""
    return _shingles(documents, n).where(_id_hash() % eval_mod == 0).select("shingle").distinct()


def streaming_asof_join(
    events_stream: DataFrame, left_type: str = "error", right_type: str = "click"
) -> DataFrame:
    """Streaming twin of operators.temporal.asof_join via
    applyInPandasWithState: per-user state is ONE row - the (epoch_us,
    event_id) of the latest ``right_type`` event seen - and every
    ``left_type`` row appends its match immediately.  O(1) state per
    user regardless of history length (the batch form's running-last
    window, made incremental).

    Exactly the batch tie rule: rows are processed sorted by (epoch_us,
    is-left, event_id), so an equal-time right event IS visible to the
    left event and the largest event_id wins among equal-time rights.
    Correct under event-time-ordered micro-batches (a time-partitioned
    log replayed file-by-file, as in the parity test); out-of-order
    arrival would need a watermark + reorder buffer in front.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_id long, user_id long, epoch_us long, match_event_id long, lag_us long"
    state_schema = "r_epoch long, r_id long"

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        r_epoch, r_id = state.get if state.exists else (None, None)
        out = {k: [] for k in ("event_id", "epoch_us", "match_event_id", "lag_us")}
        rows = []
        for pdf in pdfs:
            for ts, etype, eid in zip(pdf["ts"], pdf["event_type"], pdf["event_id"]):
                if etype == left_type or etype == right_type:
                    epoch = pd.Timestamp(ts).value // 1000
                    rows.append((epoch, 1 if etype == left_type else 0, int(eid)))
        for epoch, is_left, eid in sorted(rows):
            if is_left:
                out["event_id"].append(eid)
                out["epoch_us"].append(epoch)
                out["match_event_id"].append(r_id)
                out["lag_us"].append(None if r_epoch is None else epoch - r_epoch)
            else:
                r_epoch, r_id = epoch, eid
        if r_id is not None:
            state.update((r_epoch, r_id))
        if out["event_id"]:
            yield pd.DataFrame(
                {
                    "event_id": out["event_id"],
                    "user_id": [user_id] * len(out["event_id"]),
                    "epoch_us": out["epoch_us"],
                    "match_event_id": pd.array(out["match_event_id"], dtype="Int64"),
                    "lag_us": pd.array(out["lag_us"], dtype="Int64"),
                }
            )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_view_click_join(
    views_stream: DataFrame,
    clicks_stream: DataFrame,
    watermark: str = "30 seconds",
    max_span_seconds: int = 60,
) -> DataFrame:
    """Watermarked stream-stream interval join: each click matches the
    views of the same user within the preceding ``max_span_seconds``.

    Both sides carry a watermark and the join condition bounds event time
    in both directions, so Spark can size the join state and EVICT rows
    older than the watermark - a click arriving later than the watermark
    allows finds no retained view state and is dropped (asserted in
    tests/test_plans_streaming.py).  The batch twin is a plain interval
    join; this is the streaming surface the reference (Go channels) has
    no analog for.
    """
    v = views_stream.select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"), F.col("page").alias("page")
    ).withWatermark("view_ts", watermark)
    c = clicks_stream.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"), F.col("target").alias("target")
    ).withWatermark("click_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_span_seconds} SECONDS"))
    )
    return v.join(c, cond, "inner").select(
        F.col("v_user").alias("user_id"), "view_ts", "click_ts", "page", "target"
    )


def streaming_unigram_quality(docs_stream: DataFrame, unigram_counts: DataFrame) -> DataFrame:
    """Streaming LM-quality scoring: incoming documents scored against a
    STATIC unigram frequency table (stream-static broadcast join - the
    production shape: the unigram LM is trained offline on the corpus,
    then ingest scores each new document as it arrives).

    Differs from the batch `text.unigram_quality` only in where the
    counts come from: batch derives them from the same corpus; here
    they are a parameter (build once with `unigram_count_table`, which
    also carries the corpus total on every row so the stream side needs
    NO second aggregate or collect).  One streaming aggregation per doc
    (update mode; each doc arrives in one file, so its row finalizes in
    its own micro-batch).  Unknown tokens count 0 - a doc of
    never-seen tokens scores 0 ppm, same as batch gives cnt-1 gibberish
    ~0.
    """
    toks = F.split(F.col("text"), " ")
    dt = docs_stream.select("doc_id", F.explode(toks).alias("term"))
    tagged = dt.join(F.broadcast(unigram_counts), "term", "left")
    sum_cnt = F.sum(F.coalesce(F.col("cnt"), F.lit(0)))
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        sum_cnt.cast("long").alias("sum_cnt"),
        # all-unknown doc: max(total_tokens) is NULL (no joined row) ->
        # div yields NULL -> coalesce to the 0 the docstring promises
        F.coalesce(
            F.expr(
                "CAST((1000000 * sum(coalesce(cnt, 0)))"
                " div (count(*) * max(total_tokens)) AS LONG)"
            ),
            F.lit(0).cast("long"),
        ).alias("score_ppm"),
    )


def unigram_count_table(documents: DataFrame) -> DataFrame:
    """The static (term, cnt, total_tokens) table streaming_unigram_quality
    scores against: identical counts to the batch operator's corpus pass,
    with the corpus total denormalized onto every row (a scalar join now
    so the stream side never needs one)."""
    dt = documents.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    cnt = dt.groupBy("term").agg(F.count("*").alias("cnt"))
    tot = dt.agg(F.count("*").alias("total_tokens"))
    return cnt.join(F.broadcast(tot))
