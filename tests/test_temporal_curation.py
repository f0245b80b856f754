"""Tests for the temporal joins (as-of, banded range) and the curation/
text additions (source_mixture, pii_scrub): brute-force Python oracles
on crafted fixtures plus the cross-engine determinism properties the
operators promise.
"""

import datetime as dt

import pytest

pyspark = pytest.importorskip("pyspark")


def _ts(s, us=0):
    return dt.datetime(2024, 1, 1, 0, 0, s, us)


@pytest.fixture(scope="module")
def tiny_events(spark):
    # user 1: click@10, error@20 (match 10), click@20.000005, error@25
    #   (match the 20.000005 click - at-or-before is microsecond-exact),
    #   error@5 (unmatched)
    # user 2: two clicks at the SAME instant (ids 20, 21) then error@40:
    #   the larger event_id (21) must win the tie
    # user 3: errors only -> all unmatched
    rows = [
        (10, _ts(10), 1, "click", 0.0, "{}"),
        (11, _ts(20), 1, "error", 0.0, "{}"),
        (12, _ts(20, 5), 1, "click", 0.0, "{}"),
        (13, _ts(25), 1, "error", 0.0, "{}"),
        (14, _ts(5), 1, "error", 0.0, "{}"),
        (20, _ts(30), 2, "click", 0.0, "{}"),
        (21, _ts(30), 2, "click", 0.0, "{}"),
        (22, _ts(40), 2, "error", 0.0, "{}"),
        (30, _ts(50), 3, "error", 0.0, "{}"),
        # same-instant click+error on user 4: inclusive at-or-before
        (40, _ts(55), 4, "click", 0.0, "{}"),
        (41, _ts(55), 4, "error", 0.0, "{}"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )


def test_asof_join_semantics(spark, tiny_events):
    from texel_spark.operators.temporal import asof_join

    got = {r["event_id"]: (r["match_event_id"], r["lag_us"]) for r in asof_join(tiny_events).collect()}
    assert got[11] == (10, 10_000_000)
    assert got[13] == (12, 4_999_995)  # microsecond-precision match
    assert got[14] == (None, None)  # no prior click
    assert got[22] == (21, 10_000_000)  # equal-time tie: larger id wins
    assert got[30] == (None, None)
    assert got[41] == (40, 0)  # same-instant click IS visible
    assert len(got) == 6  # every left row exactly once (LEFT semantics)


def test_asof_join_matches_bruteforce_on_synth(spark):
    """Random-ish synthetic events vs an all-pairs Python oracle."""
    import random

    from texel_spark.operators.temporal import asof_join

    rng = random.Random(7)
    rows = []
    for i in range(400):
        rows.append(
            (
                i,
                _ts(rng.randrange(0, 50), rng.randrange(0, 1000) * 1000),
                rng.randrange(0, 8),
                rng.choice(["click", "error", "view"]),
                0.0,
                "{}",
            )
        )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {r["event_id"]: r["match_event_id"] for r in asof_join(df).collect()}
    epoch = {i: int(t.timestamp() * 1_000_000) for i, t, *_ in rows}
    want = {}
    for i, t, u, k, *_ in rows:
        if k != "error":
            continue
        cands = [
            (epoch[j], j)
            for j, tj, uj, kj, *_ in rows
            if uj == u and kj == "click" and epoch[j] <= epoch[i]
        ]
        want[i] = max(cands)[1] if cands else None
    assert got == want


def test_range_pair_join_matches_bruteforce(spark):
    import random

    from texel_spark.operators.temporal import range_pair_join

    rng = random.Random(11)
    rows = []
    for i in range(300):
        rows.append((i, _ts(rng.randrange(0, 3600) % 60 + 0, 0) + dt.timedelta(seconds=rng.randrange(0, 3600)), rng.randrange(0, 5), rng.choice(["click", "error"]), 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    win_s = 600
    got = {(r["event_id"], r["match_event_id"]) for r in range_pair_join(df, window_s=win_s).collect()}
    epoch = {i: int(t.timestamp() * 1_000_000) for i, t, *_ in rows}
    want = {
        (i, j)
        for i, _, u, k, *_ in rows
        if k == "error"
        for j, _, uj, kj, *_ in rows
        if kj == "click" and uj == u and abs(epoch[i] - epoch[j]) <= win_s * 1_000_000
    }
    assert got == want
    # boundary inclusivity: |dt| == window exactly
    b = spark.createDataFrame(
        [(1, _ts(0), 9, "error", 0.0, "{}"), (2, _ts(0) + dt.timedelta(seconds=win_s), 9, "click", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    assert range_pair_join(b, window_s=win_s).count() == 1


def test_pii_scrub_counts_and_redaction(spark):
    from texel_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail bob@x.org and alice.smith@corp.co.uk ok", "en", "s", 0),
            (2, "call 555-1234 or 555-9999 from 192.168.0.1", "en", "s", 0),
            # digits inside an email must NOT count as phone/ip
            (3, "u123-4567@host.com", "en", "s", 0),
            (4, "nothing here", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(docs, augment=False).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_ips"]) == (2, 0, 0)
    assert (got[2]["n_emails"], got[2]["n_phones"], got[2]["n_ips"]) == (0, 2, 1)
    assert (got[3]["n_emails"], got[3]["n_phones"], got[3]["n_ips"]) == (1, 0, 0)
    assert (got[4]["n_emails"], got[4]["n_phones"], got[4]["n_ips"]) == (0, 0, 0)


def test_pii_scrub_query_form_matches_duckdb(spark):
    """The augmented query form (planted PII) hash-matches the DuckDB
    twin byte-for-byte - the same check check_oracles runs at sf0.01."""
    duckdb = pytest.importorskip("duckdb")

    from texel_spark.operators.text import pii_scrub, pii_scrub_sql
    from texel_spark.sources.documents import synth_documents  # noqa: F401

    docs = spark.createDataFrame(
        [(i, f"word{i} text body {i}", "en", f"src{i % 3}", 0) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"], r["scrubbed_len"], r["scrubbed_md5"])
        for r in pii_scrub(docs).collect()
    }
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(pii_scrub_sql()).fetchall()
    }
    assert got == want
    assert all(v[0] == 1 and v[1] == 1 and v[2] == 1 for v in got.values())


def test_length_quantiles_ansi_semantics(spark):
    """Spark's percentile_disc must equal the ANSI ceil-rank definition
    (the form the DuckDB oracle pins) - including duplicate values and
    tiny groups where interpolation variants diverge."""
    import math

    from texel_spark.operators.text import QUANTILES, length_quantiles

    vals = {"en": [10, 10, 20, 30, 100], "de": [7], "fr": [5, 6], "zh": [1, 2, 2, 2, 3, 9]}
    rows = [
        (100 * h + i, "t", lang, "s", v)
        for h, (lang, vs) in enumerate(sorted(vals.items()))
        for i, v in enumerate(vs)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["lang"]: r.asDict() for r in length_quantiles(docs).collect()}
    for lang, vs in vals.items():
        s = sorted(vs)
        assert got[lang]["n_docs"] == len(s)
        for p in QUANTILES:
            want = s[max(0, math.ceil(len(s) * p / 100) - 1)]
            assert got[lang][f"p{p}"] == want, (lang, p)


def test_source_mixture_properties(spark):
    from texel_spark.operators.curation import source_mixture

    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 6}", 1) for i in range(3000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rates = [("src0", 1000), ("src1", 500), ("src2", 0)]
    kept = source_mixture(docs, rates=rates, default_permille=250)
    rows = kept.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src.get("src0", ())) == 500  # rate 1000 keeps all
    assert "src2" not in by_src  # rate 0 drops all
    assert 180 < len(by_src["src1"]) < 320  # ~50% of 500
    for s in ("src3", "src4", "src5"):
        assert 70 < len(by_src[s]) < 190  # ~25% of 500
    # partitioning-independence
    again = {
        (r["doc_id"], r["source"])
        for r in source_mixture(docs.repartition(13), rates=rates, default_permille=250).collect()
    }
    assert again == {(r["doc_id"], r["source"]) for r in rows}
    # nested bands: lower rate's survivors are a subset of higher rate's
    half = {r["doc_id"] for r in source_mixture(docs, rates=[("src1", 250)], default_permille=0).collect()}
    assert half <= by_src["src1"]


def test_run_curation_pipeline_kill_resume(spark, tmp_path):
    """Kill after the second shard; the resumed run redoes ONLY the
    remaining shards (completed shards' files byte-untouched), converges
    to exactly the output of an uninterrupted run, and a third call is a
    manifest-only no-op."""
    import glob
    import hashlib
    import os

    from texel_spark.operators.curation import run_curation_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    full_dir = str(tmp_path / "full")
    run_curation_pipeline(docs, full_dir, shard_buckets=4, cap=10)
    expected = {
        tuple(r) for r in spark.read.parquet(os.path.join(full_dir, "data")).collect()
    }
    assert expected, "fixture must survive curation"

    out_dir = str(tmp_path / "resumed")
    killed = []

    def hook(b):
        killed.append(b)
        if len(killed) == 2:
            raise RuntimeError("kill")

    with pytest.raises(RuntimeError):
        run_curation_pipeline(docs, out_dir, shard_buckets=4, cap=10, _after_shard_hook=hook)

    def snapshot(shard):
        files = sorted(glob.glob(os.path.join(out_dir, "data", f"shard={shard}", "**", "*.parquet"), recursive=True))
        return {f: (os.path.getmtime(f), hashlib.md5(open(f, "rb").read()).hexdigest()) for f in files}

    done = sorted(killed)
    before = {b: snapshot(b) for b in done}
    res = run_curation_pipeline(docs, out_dir, shard_buckets=4, cap=10)
    assert res["shards_done"] == [0, 1, 2, 3] and not res["resumed_noop"]
    for b in done:
        assert snapshot(b) == before[b], f"completed shard {b} was rewritten"
    got = {
        tuple(r) for r in spark.read.parquet(os.path.join(out_dir, "data")).collect()
    }
    assert got == expected
    # lineage metrics cover every written shard x split partition
    m = spark.read.parquet(os.path.join(out_dir, "metrics"))
    assert {r["shard"] for r in m.select("shard").distinct().collect()} <= {0, 1, 2, 3}
    assert m.where("n_docs <= 0").count() == 0
    res2 = run_curation_pipeline(docs, out_dir, shard_buckets=4, cap=10)
    assert res2["resumed_noop"]


def test_validate_documents_counts_planted_violations(spark):
    from texel_spark.operators.curation import validate_documents

    rows = [
        (1, "good text", "en", "s", 9),
        (1, "dup id", "en", "s", 6),          # duplicate doc_id
        (2, "", "en", "s", 0),                # empty text
        (3, None, "en", "s", 0),              # null text
        (4, "x", "xx", "s", 1),               # unknown lang
        (5, "abc", "en", "s", 99),            # n_chars mismatch
    ]
    pdf = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["check"]: r["n"] for r in validate_documents(pdf).collect()}
    assert got["rows"] == 6
    assert got["duplicate_doc_id"] == 1
    assert got["empty_text"] == 1
    assert got["null_text"] == 1
    assert got["unknown_lang"] == 1
    assert got["n_chars_mismatch"] == 1
    assert got["null_doc_id"] == 0


def test_validate_documents_null_semantics(spark):
    """NULLs are counted, not skipped: NULL lang is unknown, NULL
    n_chars is a mismatch (unless text is NULL too - that's null_text's
    job), and NULL doc_ids never inflate the duplicate count."""
    from texel_spark.operators.curation import validate_documents

    rows = [
        (1, "ok", None, "s", 2),        # NULL lang -> unknown_lang
        (2, "ok", "en", "s", None),     # NULL n_chars -> mismatch
        (3, None, "en", "s", None),     # NULL text -> null_text ONLY
        (None, "ok", "en", "s", 2),     # NULL id -> null_doc_id, NOT duplicate
        (5, "ok", "en", "s", 2),
    ]
    pdf = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["check"]: r["n"] for r in validate_documents(pdf).collect()}
    assert got["unknown_lang"] == 1
    assert got["n_chars_mismatch"] == 1
    assert got["null_text"] == 1
    assert got["null_doc_id"] == 1
    assert got["duplicate_doc_id"] == 0


def test_run_curation_pipeline_bucket_mismatch_raises(spark, tmp_path):
    import json
    import os
    import re

    from texel_spark.operators.curation import run_curation_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "o")
    run_curation_pipeline(docs, out, shard_buckets=4, cap=10)
    with pytest.raises(ValueError, match="shard_buckets=4"):
        run_curation_pipeline(docs, out, shard_buckets=8, cap=10)
    # a manifest that does not record its count cannot be resumed either
    manifest_path = os.path.join(out, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    del manifest["shard_buckets"]
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match=re.escape(manifest_path)):
        run_curation_pipeline(docs, out, shard_buckets=4, cap=10)
