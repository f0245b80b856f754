"""Physical-plan guarantees + Structured Streaming smoke tests.

The plan assertions are the codified version of the scale review: filters
and pruning reach the scan, small sides broadcast, the flagship pipeline
stays single-shuffle.
"""

import time

import pytest

pyspark = pytest.importorskip("pyspark")

from texel_spark.plans.checks import (
    assert_broadcast_join,
    assert_max_shuffles,
    assert_no_python_stage,
    assert_pushed_read_schema,
    assert_whole_stage_codegen,
    count_exchanges,
    formatted_plan,
)
from texel_spark.operators import curation, dedup, text
from texel_spark.operators import spatial_queries as sq


SF = "/root/testdata/sf0.001"
# the events table read with ts as TIMESTAMP (the table stores
# TIMESTAMP_NTZ), for the as-of join's stream
EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def test_text_stats_prunes_scan(spark):
    from texel_spark.operators.text import text_stats

    df = text_stats(spark.read.parquet(f"{SF}/documents.parquet"))
    # only the used columns reach the parquet reader
    assert_pushed_read_schema(df, ["text", "lang", "doc_id"], ["source", "n_chars"])
    assert_whole_stage_codegen(df)


def test_pip_join_broadcasts_and_is_shuffle_free(spark):
    from texel_spark.operators.spatial_queries import pip_join

    df = pip_join(
        spark.read.parquet(f"{SF}/events.parquet"), spark.read.parquet(f"{SF}/nation.parquet")
    )
    assert_broadcast_join(df)
    # equi-join on tile key with a broadcast small side: zero shuffles
    assert_max_shuffles(df, 0)


def test_snap_pipeline_is_narrow(spark):
    """The flagship plan has NO shuffle before the sink repartition, and
    no join: the per-zoom grid constants are literals, so one pass is
    one Spark job."""
    from texel_spark.grid.tms import load_embedded
    from texel_spark.operators.snap_tiles import snap_pipeline_df
    from texel_spark.sources.documents import synth_documents

    docs = synth_documents(spark, 50, partitions=2)
    df = snap_pipeline_df(docs, load_embedded("NetherlandsRDNewQuad"), [5, 9])
    assert count_exchanges(df) == 0
    plan = formatted_plan(df)
    assert "BroadcastExchange" not in plan and "Join" not in plan, plan
    sc = spark.sparkContext
    group = "snap-pipeline-one-job"
    sc.setJobGroup(group, "snap_pipeline_df noop write")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _snap_stage_outputs(df) -> list[list[str]]:
    """The output columns of every MapInArrow node in ``df``'s plan."""
    from texel_spark.plans.checks import simple_plan

    stages = [ln.split("MapInArrow ", 1)[1] for ln in simple_plan(df).splitlines() if "MapInArrow " in ln]
    # "kernel(<input>)#id, [<output>], false"
    return [[c.split("#")[0] for c in st.split(", [", 1)[1].split("]")[0].split(", ")] for st in stages]


def test_snap_stage_emits_wkt_only_where_read(spark, monkeypatch):
    """The tile fan-out reads only the snapped bbox, so the pipelines
    that feed it plan one MapInArrow snap stage without a wkt column;
    snap_documents itself keeps wkt (the geometry sink reads it)."""
    from texel_spark.grid.tms import load_embedded
    from texel_spark.operators import snap_tiles
    from texel_spark.sources.documents import geometry_spans, synth_documents

    docs = synth_documents(spark, 20, partitions=2)
    rd = load_embedded("NetherlandsRDNewQuad")
    snapped = snap_tiles.snap_documents(geometry_spans(docs), rd, [5, 9])
    assert _snap_stage_outputs(snapped) == [snap_tiles.SNAPPED_ARROW_SCHEMA.names]
    assert "wkt" in snapped.columns

    bbox_only = [c for c in snapped.columns if c != "wkt"]
    assert _snap_stage_outputs(snap_tiles.snap_pipeline_df(docs, rd, [5, 9])) == [bbox_only]

    # the fan-out writes its snapped bboxes eagerly and returns a frame
    # over the written file: check the snap stage it built
    built = []

    def recorded(*args, **kwargs):
        built.append(snap_documents(*args, **kwargs))
        return built[-1]

    snap_documents = snap_tiles.snap_documents
    monkeypatch.setattr(snap_tiles, "snap_documents", recorded)
    snap_tiles.snap_tile_fanout_df(docs, rd, [5, 9], tag="plan-test")
    assert [_snap_stage_outputs(df) for df in built] == [[bbox_only]]


# py4j commands a pass's operator may send to build its DataFrame; the
# Column-call forms of these builds sent 942-1,778
PLAN_BUILD_COMMANDS = 300


def count_py4j_commands(monkeypatch) -> list:
    """Record every py4j command the driver sends from now on, in the
    returned list.  Object-release commands are not recorded: the
    collector sends them in bursts, for frames built earlier."""
    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME

    sent = []
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    return sent


def test_pass_plans_build_in_few_jvm_calls(spark, monkeypatch):
    """The snap pipeline and the four perfbench spatial operators build
    their plans in at most PLAN_BUILD_COMMANDS py4j commands each: their
    expressions are SQL text (operators/sqltext.py), where each Column
    call would cost several round trips."""
    from texel_spark.grid.tms import load_embedded
    from texel_spark.operators.snap_tiles import snap_pipeline_df
    from texel_spark.sources.documents import synth_documents

    docs = synth_documents(spark, 40)
    events = spark.read.parquet(f"{SF}/events.parquet")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    rd = load_embedded("NetherlandsRDNewQuad")
    builds = {
        "snap_pipeline": lambda: snap_pipeline_df(docs, rd, [5, 9, 12]),
        "pip_join": lambda: sq.pip_join(events, nation),
        "knn_join": lambda: sq.knn_join(events, nation, n_queries=50_000),
        "rasterize": lambda: sq.rasterize(nation, zoom=9),
        "tile_pyramid_rollup": lambda: sq.tile_pyramid_rollup(events),
    }
    sent = count_py4j_commands(monkeypatch)
    for name, build in builds.items():
        build()  # the first build of a session does one-off lookups
        sent.clear()
        build()
        assert len(sent) <= PLAN_BUILD_COMMANDS, f"{name}: {len(sent)} py4j commands"


def test_ivf_plan_build_does_not_grow_with_centroids(spark, monkeypatch):
    """The IVF centroids reach executors as one broadcast matrix, not as
    k x dim plan literals, so building ivf_kmeans_topk sends as many
    py4j commands at k=64 as at k=8 (dim 32)."""
    import numpy as np

    from texel_spark.operators.similarity import ivf_kmeans_topk, synth_clustered_embeddings

    emb = synth_clustered_embeddings(spark, n_vectors=200, n_clusters=8)
    rng = np.random.default_rng(3)
    centroids = {k: [list(map(float, row)) for row in rng.normal(size=(k, 32))] for k in (8, 64)}
    sent = count_py4j_commands(monkeypatch)
    counts = {}
    for k, cents in centroids.items():
        ivf_kmeans_topk(emb, centroids=cents)  # the first build of a session does one-off lookups
        sent.clear()
        ivf_kmeans_topk(emb, centroids=cents)
        counts[k] = len(sent)
    assert counts[8] == counts[64], counts


def test_tile_assign_pushes_column_pruning(spark):
    from texel_spark.operators.spatial_queries import tile_assign

    df = tile_assign(spark.read.parquet(f"{SF}/events.parquet"))
    assert_pushed_read_schema(df, ["event_id"], ["props", "value", "user_id"])


def test_streaming_snap_tiles(spark):
    from texel_spark.grid.tms import load_embedded
    from texel_spark.kernel.snap import SnapConfig
    from texel_spark.operators.snap_tiles import snap_pipeline_df
    from texel_spark.streaming.jobs import document_rate_stream

    stream = document_rate_stream(spark, rows_per_second=200)
    tiles = snap_pipeline_df(
        stream, load_embedded("NetherlandsRDNewQuad"), [5, 9], SnapConfig(ignore_outside_grid=True)
    )
    assert tiles.isStreaming
    q = (
        tiles.writeStream.format("memory")
        .queryName("stream_tiles")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM stream_tiles").collect()[0]["c"]
            if n > 0:
                break
            time.sleep(1)
        assert n > 0, "stream produced no tile rows within 60s"
        sample = spark.sql("SELECT * FROM stream_tiles LIMIT 5").collect()
        assert {r["zoom"] for r in sample} <= {5, 9}
    finally:
        q.stop()


def test_streaming_stateful_sessionize(spark):
    import time as _time

    from texel_spark.streaming.jobs import rate_events_stream, streaming_sessionize

    stream = rate_events_stream(spark, rows_per_second=100, n_users=5)
    sess = streaming_sessionize(stream, gap_seconds=3600)
    assert sess.isStreaming
    q = (
        sess.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        rows = []
        while _time.time() < deadline:
            rows = spark.sql(
                "SELECT user_id, max(n_events) n FROM stream_sessions GROUP BY user_id"
            ).collect()
            if len(rows) == 5 and all(r["n"] > 2 for r in rows):
                break
            _time.sleep(1)
        assert len(rows) == 5, f"expected 5 users, got {rows}"
        # rate events arrive within one gap -> exactly one session per user
        max_sess = spark.sql("SELECT max(n_sessions) m FROM stream_sessions").collect()[0]["m"]
        assert max_sess == 1
    finally:
        q.stop()


def test_file_stream_checkpoint_recovery(spark, tmp_path):
    """Kill-and-restart exactly-once: a file-source document stream with a
    checkpoint processes batch 1, stops, new files land, a NEW query
    restarted from the same checkpoint processes ONLY the new files - no
    row from batch 1 is re-emitted (the resume contract of the north
    rule, file-source edition)."""
    from pyspark.sql import functions as F

    from texel_spark.grid.tms import load_embedded
    from texel_spark.operators.snap_tiles import snap_pipeline_df
    from texel_spark.sources.documents import DOCUMENTS_SCHEMA, build_document

    indir, outdir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")

    def land(lo, hi, fname):
        rows = [build_document(i) for i in range(lo, hi)]
        spark.createDataFrame(rows, DOCUMENTS_SCHEMA).coalesce(1).write.mode("append").parquet(indir)

    rd = load_embedded("NetherlandsRDNewQuad")

    def run_once():
        stream = snap_pipeline_df(spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(indir), rd, [5, 9])
        q = (
            stream.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land(0, 25, "b1")
    run_once()
    out1 = spark.read.parquet(outdir)
    n1 = out1.count()
    assert n1 > 0
    docs1 = {r["doc_id"] for r in out1.select("doc_id").distinct().collect()}

    land(25, 50, "b2")
    run_once()  # restart from the same checkpoint
    out2 = spark.read.parquet(outdir).cache()
    # batch-1 rows appear EXACTLY once (counts unchanged for those docs)
    n1_after = out2.where(F.col("doc_id").isin(*docs1)).count()
    assert n1_after == n1, f"batch 1 reprocessed: {n1} -> {n1_after}"
    # batch-2 docs arrived
    new_docs = {r["doc_id"] for r in out2.select("doc_id").distinct().collect()} - docs1
    assert new_docs, "restart processed no new files"


def test_dedup_and_text_operators_are_pure_jvm(spark):
    """MinHash signatures, SimHash votes and k-gram fingerprints claim
    'no Python worker in the hot path' - pin it on the physical plan."""
    from texel_spark.operators.dedup import minhash_lsh_candidates, simhash_buckets
    from texel_spark.operators.text import doc_fingerprints
    from texel_spark.plans.checks import assert_no_python_stage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert_no_python_stage(minhash_lsh_candidates(docs))
    assert_no_python_stage(simhash_buckets(docs))
    assert_no_python_stage(doc_fingerprints(docs))


def test_minhash_shuffles_are_signature_sized(spark):
    """The signature stage shuffles one aggregated row per doc (map-side
    combine), never the exploded shingles: groupBy(doc_id) + the band
    self-join are the only exchanges.  Runs on an in-memory frame so the
    unsplittable-input guard (operators.spread) stays out of the plan -
    its round-robin exchange is exercised by test_spread_input_guard."""
    from texel_spark.operators.dedup import minhash_lsh_candidates
    from texel_spark.plans.checks import assert_max_shuffles, formatted_plan

    raw = spark.read.parquet(f"{SF}/documents.parquet")
    docs = spark.createDataFrame(raw.collect(), raw.schema)  # no input files: no spread
    df = minhash_lsh_candidates(docs)
    # exchange nodes (count_exchanges sees each twice in the formatted
    # plan): signature groupBy(doc_id) / band-bucket shuffled-hash join
    # side, each printed once per self-join side pre-AQE but computed
    # ONCE at runtime (ReusedExchange), plus the final pair distinct -
    # i.e. 3 runtime shuffles, none carrying text
    assert_max_shuffles(df, 14)
    # the narrowness claim itself: no hash exchange ever carries shingles
    # or raw text - only doc ids, band keys and signature columns (the
    # formatted plan prints each exchange's Input [...] on the next line)
    lines = formatted_plan(df).splitlines()
    for i, ln in enumerate(lines):
        if ln.startswith("(") and ") Exchange" in ln:
            assert i + 2 < len(lines), f"plan ends on an Exchange line: {ln}"
            if "hashpartitioning" in lines[i + 2]:
                inp = lines[i + 1]
                assert "shingle" not in inp and "text#" not in inp, f"{ln}\n{inp}"


def test_spread_input_guard(spark):
    """The unsplittable-input guard fires on a single-row-group parquet
    scan (the testdata layout) and never on an input with no files."""
    from texel_spark.operators.spread import spread_input

    raw = spark.read.parquet(f"{SF}/documents.parquet")
    plan = spread_input(raw)._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in plan, f"guard did not fire on 1-row-group parquet:\n{plan}"
    # in-memory input: nothing to spread
    mem = spark.createDataFrame(raw.limit(10).collect(), raw.schema)
    assert "Repartition" not in spread_input(mem)._jdf.queryExecution().analyzed().toString()


def test_spread_input_never_sees_a_spread_frame(spark, monkeypatch):
    """Every text, dedup, curation and similarity query spreads each scan
    at most once: no operator hands spread_input a frame that already
    repartitions (an operator composing another leaves the spread to the
    inner one).  Checked at the call, not on the final plan - eager
    stages such as connected_components run their inner spread before
    the final plan exists, so an exchange count cannot see a nested
    spread.  The RDDs the eager stages checkpoint are released at the
    end, so later tests that count persisted RDDs see none of them."""
    import __spark_entry__ as e
    from texel_spark.operators import curation, dedup, spread, text

    real = spread.spread_input
    seen = []

    def guarded(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "Repartition" not in plan, f"{seen[-1]}: spread_input got a spread frame:\n{plan}"
        return real(df)

    for mod in (dedup, text, curation, spread):
        monkeypatch.setattr(mod, "spread_input", guarded)
    families = {"curation", "dedup", "similarity", "text"}
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs().keySet().toArray())
    try:
        for name, build in e.queries().items():
            if families & set(build.__code__.co_freevars):
                seen.append(name)
                build(spark, "/root/testdata/sf0.01")
    finally:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in persisted:
                rdd.unpersist(True)
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= persisted
    assert len(seen) >= 30 and "curation_pipeline" in seen, seen


def test_spread_partitions_cap_applies_last():
    """The 8-partition floor never lifts the count past parallelism x
    WAVES: a 2-slot session gets at most 4 partitions."""
    from texel_spark.operators.spread import spread_partitions

    assert spread_partitions(1, 2) == 4
    assert spread_partitions(10 << 20, 2) == 4
    assert spread_partitions(1, 16) == 8  # floor below the cap
    assert spread_partitions(3 << 16, 16) == 8
    assert spread_partitions(20 << 16, 16) == 21  # data-sized
    assert spread_partitions(1 << 30, 16) == 32  # capped


def test_streaming_view_click_join_drops_late_clicks(spark, tmp_path):
    """Watermarked stream-stream interval join (VERDICT r2 item 8):
    in-window clicks match their views; a click arriving AFTER the
    watermark has advanced past its event time is dropped (state for its
    view was evicted), so the output gains no row for it."""
    import time as _time

    from pyspark.sql import functions as F

    from texel_spark.streaming.jobs import streaming_view_click_join

    vdir, cdir, ckpt = str(tmp_path / "views"), str(tmp_path / "clicks"), str(tmp_path / "ck")
    base = 1_700_000_000  # fixed epoch, deterministic

    def land(path, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)

    vs = "user_id long, ts timestamp, page string"
    cs = "user_id long, ts timestamp, target string"

    def ts(off):
        import datetime

        return datetime.datetime.fromtimestamp(base + off, datetime.timezone.utc).replace(tzinfo=None)

    # batch 1: view at t=0 for users 1,2; click at t=10 for user 1 (in window)
    land(vdir, [(1, ts(0), "home"), (2, ts(0), "home")], vs)
    land(cdir, [(1, ts(10), "buy")], cs)

    views = spark.readStream.schema(vs).parquet(vdir)
    clicks = spark.readStream.schema(cs).parquet(cdir)
    joined = streaming_view_click_join(views, clicks, watermark="30 seconds", max_span_seconds=60)
    q = (
        joined.writeStream.format("memory")
        .queryName("vcj")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("SELECT * FROM vcj").collect()
        assert {(r["user_id"], r["target"]) for r in got1} == {(1, "buy")}

        # advance both watermarks far past t=0: fresh rows at t=+600
        land(vdir, [(9, ts(600), "later")], vs)
        land(cdir, [(9, ts(601), "later-click")], cs)
        q.processAllAvailable()
        # watermark updates take effect at the NEXT batch
        land(vdir, [(8, ts(602), "later2")], vs)
        land(cdir, [(8, ts(603), "later2-click")], cs)
        q.processAllAvailable()

        # LATE click for user 2's t=0 view: event time t=20, far behind
        # the ~t=570 watermark -> view state evicted, click dropped
        land(cdir, [(2, ts(20), "too-late")], cs)
        q.processAllAvailable()
        got2 = spark.sql("SELECT * FROM vcj").collect()
        pairs = {(r["user_id"], r["target"]) for r in got2}
        assert (2, "too-late") not in pairs, f"late click joined: {pairs}"
        assert (1, "buy") in pairs
        assert (9, "later-click") in pairs and (8, "later2-click") in pairs
    finally:
        q.stop()


def test_per_source_cap_broadcasts_and_prunes(spark):
    """The oversized-source membership join is a BROADCAST (the heavy-
    source list is tiny by construction), and only (doc_id, source)
    reach the parquet reader - the corpus never shuffles for the
    under-cap long tail."""
    from texel_spark.operators.curation import per_source_cap

    df = per_source_cap(spark.read.parquet(f"{SF}/documents.parquet"), cap=10)
    assert_broadcast_join(df)
    assert_pushed_read_schema(df, ["doc_id", "source"], ["text", "lang", "n_chars"])


def test_streaming_asof_join_parity(spark, tmp_path):
    """Batch/streaming twin parity for the as-of join: the same events
    replayed as three time-ordered micro-batch files produce EXACTLY the
    batch asof_join rows - including matches that span a batch boundary
    (the O(1) per-user state carries the latest click across files)."""
    from texel_spark.operators.temporal import asof_join
    from texel_spark.streaming.jobs import streaming_asof_join

    batch = spark.read.parquet(f"{SF}/events.parquet")
    expected = {tuple(r) for r in asof_join(batch).collect()}
    assert expected  # fixture sanity: some errors exist

    # split into 3 strictly time-ordered files so state MUST cross
    # micro-batch boundaries for parity to hold
    indir = tmp_path / "events_in"
    indir.mkdir()
    rows = batch.orderBy("ts", "event_id").collect()
    third = (len(rows) + 2) // 3
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.parquet(
            str(indir / f"chunk{i}"), mode="overwrite"
        )
    import glob
    import shutil
    import time

    for i in range(3):
        (src,) = glob.glob(str(indir / f"chunk{i}" / "part-*.parquet"))
        shutil.move(src, str(indir / f"part-{i}.parquet"))
        shutil.rmtree(str(indir / f"chunk{i}"))
        time.sleep(0.05)  # distinct mtimes: file source replays in order

    out = streaming_asof_join(
        spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(indir))
    )
    assert out.isStreaming
    q = out.writeStream.format("memory").queryName("asof_stream").outputMode("append").start()
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM asof_stream").collect()}
        assert got == expected
    finally:
        q.stop()


def test_repetition_stats_is_shuffle_free_codegen(spark):
    """Per-row array math: zero exchanges, no Python stage, pruned scan."""
    from texel_spark.operators.text import repetition_stats

    df = repetition_stats(spark.read.parquet(f"{SF}/documents.parquet"))
    assert_max_shuffles(df, 0)
    assert_no_python_stage(df)
    assert_pushed_read_schema(df, ["doc_id", "text"], ["source", "lang", "n_chars"])


def test_decontaminate_broadcasts_eval_ngrams(spark):
    """The eval n-gram set broadcasts; the corpus side never shuffles its
    exploded shingles into the join."""
    from texel_spark.operators.dedup import decontaminate

    df = decontaminate(spark.read.parquet(f"{SF}/documents.parquet"), n=3)
    assert_broadcast_join(df)
    assert_no_python_stage(df)
    assert_pushed_read_schema(df, ["doc_id", "text"], ["source", "lang", "n_chars"])


def test_sequence_pack_windows_per_shard(spark):
    """Packing is per-shard (no global single-partition window) and the
    shard count bounds every window partition."""
    from texel_spark.operators.curation import sequence_pack

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = sequence_pack(docs, budget=64, n_salt=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # partitionBy shard, not a global empty partition spec
    assert "hashpartitioning(shard" in plan
    rows = df.collect()
    assert {r.shard for r in rows} == set(range(8))
    # offsets within a shard are gapless: sum of tokens == max start+last
    import collections

    by_shard = collections.defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.start_offset)
        acc = 0
        for r in rs:
            assert r.start_offset == acc
            assert r.chunk_id == acc // 64
            assert r.offset_in_chunk == acc % 64
            acc += r.n_tokens


def test_deterministic_shuffle_is_permutation_and_stable(spark):
    from texel_spark.operators.curation import deterministic_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = deterministic_shuffle(docs, n_shards=16).collect()
    b = deterministic_shuffle(docs.repartition(13), n_shards=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # layout-independent
    # (shard, pos) is a dense permutation
    seen = {(r.shard, r.pos) for r in a}
    assert len(seen) == len(a) == docs.count()
    import collections

    per = collections.Counter(r.shard for r in a)
    for shard, n in per.items():
        assert {p for s, p in seen if s == shard} == set(range(n))


def test_tfidf_top_terms_plan_and_values(spark):
    """No Python stage; the N-docs scalar joins as a broadcast row; a
    hand-checked doc's top term is its most-distinctive one."""
    from pyspark.sql import functions as F

    from texel_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = tfidf_top_terms(docs, k=3)
    assert_no_python_stage(df)
    assert_broadcast_join(df)
    rows = df.where(F.col("doc_id") == 0).orderBy("rnk").collect()
    assert len(rows) == 3
    assert rows[0].score >= rows[1].score >= rows[2].score
    # rank-1 must beat every other term of the doc on (score, term) order
    assert rows[0].score == rows[0].tf * (1000 * docs.count() // rows[0].df)


def test_global_rank_windows_are_bounded(spark):
    """The partition-less rank windows of bm25_topk (query-term pick)
    and vocab_coverage (top-V types) are filtered on a literal rank
    bound, so Spark executes each as a TakeOrderedAndProject top-k
    instead of sorting the whole vocabulary.  (bm25's per-term window
    plans a WindowGroupLimit, which says nothing about the global one.)"""
    from texel_spark.operators.text import bm25_topk, vocab_coverage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (bm25_topk(docs), vocab_coverage(docs)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan


def test_streaming_decontaminate_parity(spark, tmp_path):
    """Stream-static contamination check: train-band docs replayed as TWO
    micro-batch files against the static broadcast eval n-gram set match
    the batch decontaminate operator row-for-row."""
    from pyspark.sql import functions as F

    from texel_spark.streaming.jobs import eval_ngram_set, streaming_decontaminate

    batch = spark.read.parquet(f"{SF}/documents.parquet")
    expected = {tuple(r) for r in dedup.decontaminate(batch, n=3).collect()}
    assert any(r[2] > 0 for r in expected)  # fixture carries signal

    train = batch.where(dedup._id_hash() % 50 != 0)
    indir = tmp_path / "docs_in"
    train.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(indir / "a"))
    train.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(indir / "b"))
    import glob
    import shutil

    for i, part in enumerate(sorted(glob.glob(str(indir / "*" / "part-*.parquet")))):
        shutil.move(part, str(indir / f"part-{i}.parquet"))
    shutil.rmtree(str(indir / "a"))
    shutil.rmtree(str(indir / "b"))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    out = streaming_decontaminate(stream, eval_ngram_set(batch, n=3))
    assert out.isStreaming
    q = out.writeStream.format("memory").queryName("decon_stream").outputMode("update").start()
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM decon_stream").collect()}
        assert got == expected
    finally:
        q.stop()


def test_streaming_unigram_quality_parity(spark, tmp_path):
    """Stream-static LM-quality scoring: the corpus replayed as TWO
    micro-batch files against the static broadcast unigram table matches
    the batch unigram_quality operator row-for-row."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from texel_spark.operators.text import unigram_quality
    from texel_spark.streaming.jobs import streaming_unigram_quality, unigram_count_table

    batch = spark.read.parquet(f"{SF}/documents.parquet")
    expected = {tuple(r) for r in unigram_quality(batch).collect()}

    indir = tmp_path / "docs_in"
    batch.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(indir / "a"))
    batch.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(indir / "b"))
    for i, part in enumerate(sorted(glob.glob(str(indir / "*" / "part-*.parquet")))):
        shutil.move(part, str(indir / f"part-{i}.parquet"))
    shutil.rmtree(str(indir / "a"))
    shutil.rmtree(str(indir / "b"))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(indir))
    )
    out = streaming_unigram_quality(stream, unigram_count_table(batch))
    assert out.isStreaming
    q = out.writeStream.format("memory").queryName("uq_stream").outputMode("update").start()
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT * FROM uq_stream").collect()}
        assert got == expected
    finally:
        q.stop()


def test_streaming_hourly_rollup_parity(spark, tmp_path):
    """The watermarked window rollup, in complete mode over events split
    across three files read with the table's own schema (``ts`` is
    TIMESTAMP_NTZ), converges to the batch hourly_rollup: same
    (hour, event_type) groups, counts and cents."""
    from pyspark.sql import functions as F

    from texel_spark.operators.events import hourly_rollup
    from texel_spark.streaming.jobs import streaming_hourly_rollup

    batch = spark.read.parquet(f"{SF}/events.parquet")
    expected = {tuple(r) for r in hourly_rollup(batch).collect()}

    indir = tmp_path / "ev_in"
    for i in range(3):
        batch.where(f"event_id % 3 = {i}").coalesce(1).write.parquet(str(indir / f"p{i}"))
    out = streaming_hourly_rollup(
        spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(str(indir / "*"))
    )
    assert out.isStreaming
    q = out.writeStream.format("memory").queryName("hourly_stream").outputMode("complete").start()
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM hourly_stream").select(
            F.unix_timestamp("window_start").alias("window_epoch"), "event_type", "n_events", "total_cents"
        )
        assert {tuple(r) for r in got.collect()} == expected
    finally:
        q.stop()


def _unseen_in_old_snapshot(new):
    old = new.sparkSession.read.parquet(f"{SF}/documents.parquet").where("doc_id % 3 = 0")
    return dedup.unseen_content(new, old)


# batch operators that run on a stream frame unchanged:
# name -> (table, rows of it that land as the stream, output mode, operator)
STREAM_CASES = {
    "token_counts": ("documents", None, "append", text.token_counts),
    "repetition_stats": ("documents", None, "append", text.repetition_stats),
    "sliding_chunks": ("documents", None, "append", text.sliding_chunks),
    "snapshot_dedup": ("documents", "doc_id % 3 <> 0", "append", _unseen_in_old_snapshot),
    "quality_funnel": ("documents", None, "complete", curation.quality_funnel),
    "validate_documents": ("documents", None, "complete", curation.validate_documents),
    "hilbert_tile_assign": ("events", None, "complete", sq.hilbert_tile_assign),
    "tile_pyramid_rollup": ("events", None, "complete", lambda ev: sq.tile_pyramid_rollup(ev, max_zoom=6)),
}


@pytest.mark.parametrize("name", list(STREAM_CASES))
def test_batch_operator_runs_on_stream(spark, tmp_path, name):
    """The batch operator, run on its table landed as two files and read
    one file per micro-batch, emits exactly the rows it emits on the
    batch table: stateless operators per micro-batch in append mode,
    single-aggregation ones by merging partial state across batches in
    complete mode.  On a stream validate_documents has no
    duplicate_doc_id row (a global DISTINCT has no bounded state).  The
    stream's columns are those of the query's DuckDB oracle, whose rows
    tests/test_spark_ops.py checks against the batch operator."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as e

    table, rows, mode, op = STREAM_CASES[name]
    batch = spark.read.parquet(f"{SF}/{table}.parquet")
    if rows:
        batch = batch.where(rows)
    expected = {tuple(r) for r in op(batch).collect()}
    if name == "validate_documents":
        expected = {r for r in expected if r[0] != "duplicate_doc_id"}
    assert expected

    key = "doc_id" if table == "documents" else "event_id"
    indir = tmp_path / "in"
    for i in range(2):
        batch.where(f"{key} % 2 = {i}").coalesce(1).write.parquet(str(indir / f"p{i}"))
    stream = spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(str(indir / "*"))
    out = op(stream)
    assert out.isStreaming
    con = duckdb.connect()
    con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{SF}/{table}.parquet')")
    assert out.columns == con.sql(e.oracle_sql()[name]).columns
    q = out.writeStream.format("memory").queryName(f"stream_{name}").outputMode(mode).start()
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql(f"SELECT * FROM stream_{name}").collect()}
        assert got == expected
    finally:
        q.stop()
