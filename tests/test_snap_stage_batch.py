"""The snap stage end to end vs the scalar reference kernel.

tests.snap_rows.scalar_rows builds the rows the stage must emit from
kernel.snap.snap_polygon, which is pinned to the reference goldens.  Rows
must agree exactly - coordinates bit-for-bit after parse-back, bboxes and
counts equal - on the synthetic document distribution, on adversarial
geometry rows and on odd WKT (3D, POLYGON Z, non-ASCII, EMPTY), which the
scalar codec parses and the stage folds into the same flat arrays as
every other row.  Malformed or null WKT fails the batch with one
ValueError naming its span.  The stage's Arrow batch has the declared
schema whatever its input holds, and wkt=False gives the same rows
without the wkt column.
"""

import pytest

pyspark = pytest.importorskip("pyspark")

from tests.snap_rows import canon_rows, scalar_rows, spans_batch
from texel_spark.functions.wkt import parse_wkt
from texel_spark.grid.tms import load_embedded, simple_tms
from texel_spark.kernel.snap import SnapConfig


def _spans_df(spark, spans):
    import pyarrow as pa

    return spark.createDataFrame(pa.Table.from_batches([spans_batch(spans)]))


def _spark_rows(spark, spans, tms, tm_ids, cfg):
    from texel_spark.operators.snap_tiles import snap_documents

    df = _spans_df(spark, spans)
    return canon_rows([r.asDict() for r in snap_documents(df, tms, tm_ids, cfg).collect()])


def _doc_spans(n_docs):
    from texel_spark.sources.documents import build_document

    return [
        (doc_id, offset, text)
        for doc_id, spans in map(build_document, range(n_docs))
        for kind, text, media_ref, offset in spans
        if kind == "geom"
    ]


def test_stage_matches_scalar_on_synthetic_distribution(spark):
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9, 12]
    cfg = SnapConfig(ignore_outside_grid=True)
    spans = _doc_spans(400)
    assert len(spans) > 200
    assert _spark_rows(spark, spans, tms, tm_ids, cfg) == scalar_rows(spans, tms, tm_ids, cfg)


def test_stage_matches_scalar_on_adversarial_rows(spark):
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9, 12]
    cfg = SnapConfig(ignore_outside_grid=True)
    g = "POLYGON ((117220.282 440135.898, 117210.713 440135.101, 117211.129 440130.102, 117222.198 440131.000, 117221.990 440133.510, 117220.500 440133.380))"
    rows = [
        ("d-multi", 0, "MULTIPOLYGON (((155000 463000, 156000 463000, 156000 464000, 155000 464000)), "
                       "((200000 500000, 201000 500000, 201000 501000), (200200 500200, 200800 500200, 200800 500800)))"),
        ("d-golden", 1, g),
        ("d-point", 2, "POINT (155000 463000)"),
        ("d-line", 3, "LINESTRING (155000 463000, 156000 464000)"),
        ("d-mline", 4, "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"),
        ("d-mpoint", 5, "MULTIPOINT ((155000 463000), (156000 464000))"),
        ("d-outside", 6, "POLYGON ((9000000 9000000, 9000001 9000000, 9000001 9000001))"),
        ("d-hole-collapse", 7, "POLYGON ((155000 463000, 155050 463000, 155050 463050, 155000 463050), "
                               "(155010 463010, 155040 463010, 155040 463040, 155010 463040))"),
        ("d-sliver", 8, "POLYGON ((155000 463000, 155000.0001 463000, 155000.0001 463000.0001))"),
        ("d-bowtie", 9, "POLYGON ((0 0, 100000 100000, 100000 0, 0 100000))"),
    ]
    got = _spark_rows(spark, rows, tms, tm_ids, cfg)
    assert got == scalar_rows(rows, tms, tm_ids, cfg)
    assert any(r[0] == "d-multi" for r in got)


def test_stage_falls_back_on_3d_wkt(spark):
    """Rows the array parser rejects - 3D, POLYGON Z, non-ASCII, EMPTY -
    are parsed by the scalar codec and snapped from their first two
    ordinates."""
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [9]
    cfg = SnapConfig(ignore_outside_grid=True)
    spans = [
        ("a", 0, "POLYGON ((155000 463000 1, 155050 463000 1, 155050 463050 1))"),
        ("b", 0, "POLYGON ((155000 463000, 155050 463000, 155050 463050))"),
        ("c", 0, "POLYGON Z ((155000 463000 1, 155050 463000 2, 155050 463050 3))"),
        ("d", 0, "MULTIPOLYGON (((155000 463000,\u00a0155050 463000, 155050 463050)))"),
        ("e", 0, "POLYGON EMPTY"),
    ]
    got = _spark_rows(spark, spans, tms, tm_ids, cfg)
    assert got == scalar_rows(spans, tms, tm_ids, cfg)
    assert [r[0] for r in got] == ["a", "b", "c", "d"]


def test_stage_keep_points_and_lines_and_reverse(spark):
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 12]
    cfg = SnapConfig(ignore_outside_grid=True, keep_points_and_lines=True, reverse_winding_order=True)
    spans = _doc_spans(120)
    assert _spark_rows(spark, spans, tms, tm_ids, cfg) == scalar_rows(spans, tms, tm_ids, cfg)


def test_stage_3d_row_emits_the_wkt_of_its_2d_twin():
    """A polygon the array parser rejects (3D, POLYGON Z) is formatted
    by the same digit-exact formatter as its 2D twin: byte-identical
    wkt, not the scalar codec's repr() text."""
    from texel_spark.operators.snap_tiles import _process_batch

    spans = [
        ("2d", 0, "POLYGON ((30 30, 500 30, 500 500, 30 500))"),
        ("3d", 0, "POLYGON ((30 30 7, 500 30 7, 500 500 7, 30 500 7))"),
        ("z", 0, "POLYGON Z ((30 30 7, 500 30 7, 500 500 7, 30 500 7))"),
    ]
    out = _process_batch(spans_batch(spans), simple_tms(2, 256.0), [0], SnapConfig(ignore_outside_grid=True))
    wkt = dict(zip(out["doc_id"].to_pylist(), out["wkt"].to_pylist()))
    assert wkt == dict.fromkeys(("2d", "3d", "z"), "POLYGON ((32 32, 480 32, 480 480, 32 480, 32 32))")


def test_stage_wkt_text_stable_under_batch_composition(spark):
    """ADVICE r3: one odd row must not flip clean rows to the scalar
    formatter - the wkt TEXT of a clean row is byte-identical whether or
    not a 3D/EMPTY row shares its Arrow batch."""
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [9]
    cfg = SnapConfig(ignore_outside_grid=True)
    clean = ("d-clean", 0, "POLYGON ((155000 463000, 156000 463000, 156000 464000, 155000 464000))")
    odd = ("d-odd", 1, "POLYGON ((155000 463000 1, 155050 463000 1, 155050 463050 1))")

    def wkt_of(rows, doc):
        from texel_spark.operators.snap_tiles import snap_documents

        df = _spans_df(spark, rows).coalesce(1)  # one Arrow batch
        return sorted(
            r["wkt"] for r in snap_documents(df, tms, tm_ids, cfg).collect() if r["doc_id"] == doc
        )

    alone = wkt_of([clean], "d-clean")
    mixed = wkt_of([clean, odd], "d-clean")
    assert alone == mixed
    assert alone  # the clean row did emit


def test_stage_empty_geometries_emit_nothing():
    """EMPTY spans (POLYGON / MULTIPOLYGON / POINT EMPTY) emit no rows and
    leave the clean row that shares their batch unchanged."""
    from texel_spark.operators.snap_tiles import _process_batch

    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9]
    cfg = SnapConfig(ignore_outside_grid=True, keep_points_and_lines=True)
    clean = ("d-clean", 0, "POLYGON ((155000 463000, 156000 463000, 156000 464000, 155000 464000))")
    empties = [("d-poly", 1, "POLYGON EMPTY"), ("d-multi", 2, "MULTIPOLYGON EMPTY"), ("d-point", 3, "POINT EMPTY")]

    def run(rows):
        return _process_batch(spans_batch(rows), tms, tm_ids, cfg)

    alone = run([clean])
    mixed = run([clean, *empties])
    assert set(mixed["doc_id"].to_pylist()) == {"d-clean"}
    assert mixed.to_pylist() == alone.to_pylist()
    assert len(alone) == len(tm_ids)


_CLEAN_SPAN = ("d-clean", 0, "POLYGON ((155000 463000, 156000 463000, 156000 464000, 155000 464000))")


def _assert_malformed_span_raises(wkt, match):
    """A malformed span fails the batch with one ValueError naming its
    doc_id/span_idx: the array parser hands it to the scalar parser,
    which rejects it before the kernel sees it (no numpy warning, no
    silently dropped span)."""
    import warnings

    from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient
    from texel_spark.operators.snap_tiles import _process_batch

    with pytest.raises(ValueError, match=match):
        parse_wkt(wkt)
    assert parse_polygons_batch_resilient([_CLEAN_SPAN[2], wkt])[1] == [1]
    batch = spans_batch([_CLEAN_SPAN, ("d-bad", 7, wkt)])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        with pytest.raises(ValueError, match=r"doc_id='d-bad' span_idx=7: malformed WKT: .*" + match):
            _process_batch(batch, load_embedded("NetherlandsRDNewQuad"), [5, 9], SnapConfig(ignore_outside_grid=True))


def test_malformed_wkt_point_with_one_ordinate_raises():
    _assert_malformed_span_raises("POLYGON ((1 2, 3))", "fewer than 2 ordinates")


@pytest.mark.parametrize(
    "wkt",
    [
        "POLYGON ((1 2, 3 4, 5 6, 1 2)",
        "POLYGON ((155000 463000, 156000 463000, 156000 464000)), ((155000 463000, 155500 463000, 155500 463500))",
    ],
)
def test_malformed_wkt_unbalanced_parens_raises(wkt):
    _assert_malformed_span_raises(wkt, "unbalanced parens")


@pytest.mark.parametrize("wkt", ["POLYGON (1 2, 3 4, 5 6)", "MULTIPOLYGON ((1 2, 3 4, 5 6))"])
def test_malformed_wkt_polygon_without_rings_raises(wkt):
    _assert_malformed_span_raises(wkt, "polygon without rings")


@pytest.mark.parametrize("bad", ["nan", "inf", "-inf"])
def test_malformed_wkt_non_finite_ordinate_raises(bad):
    _assert_malformed_span_raises(
        f"POLYGON ((155000 463000, {bad} 463000, 156000 464000, 155000 464000))", "non-finite ordinate"
    )


def test_null_wkt_raises():
    _assert_malformed_span_raises(None, "NoneType instead of text")


_SNAPPED_COLUMNS = [
    ("doc_id", "string"),
    ("span_idx", "int32"),
    ("zoom", "int32"),
    ("geom_kind", "string"),
    ("wkt", "string"),
    ("minx", "double"),
    ("miny", "double"),
    ("maxx", "double"),
    ("maxy", "double"),
    ("n_polys", "int32"),
]


@pytest.mark.parametrize(
    "spans, keep_points_and_lines, n_rows",
    [
        ([_CLEAN_SPAN], False, 2),  # the kernel's columnar lane
        ([_CLEAN_SPAN], True, 2),  # dict results only
        ([("d-point", 0, "POINT (155000 463000)")], False, 2),
        ([("d-poly", 0, "POLYGON EMPTY"), ("d-point", 1, "POINT EMPTY")], False, 0),
        ([], False, 0),
        ([("d-3d", 0, "POLYGON ((155000 463000 1, 155050 463000 1, 155050 463050 1))"),
          ("d-z", 1, "POLYGON Z ((155000 463000 1, 155050 463000 2, 155050 463050 3))")], False, 4),
        ([("d-point", 0, "POINT (155000 463000)"), ("d-line", 1, "LINESTRING (155000 463000, 156000 464000)"),
          ("d-mpoint", 2, "MULTIPOINT ((155000 463000), (156000 464000))")], False, 6),
    ],
    ids=["columnar", "keep_points_and_lines", "point-only", "empty-only", "empty-batch", "all-fallback",
         "all-non-polygon"],
)
def test_stage_frame_dtypes_do_not_depend_on_batch_contents(spans, keep_points_and_lines, n_rows):
    """The stage's Arrow batch has the declared schema, with its wkt
    column and without it (wkt=False), whatever its input batch holds:
    mapInArrow hands the JVM the batch as it is, with no cast."""
    from texel_spark.operators.snap_tiles import SNAPPED_ARROW_SCHEMA, _process_batch

    assert [(f.name, str(f.type)) for f in SNAPPED_ARROW_SCHEMA] == _SNAPPED_COLUMNS
    cfg = SnapConfig(ignore_outside_grid=True, keep_points_and_lines=keep_points_and_lines)
    for wkt in (True, False):
        out = _process_batch(spans_batch(spans), load_embedded("NetherlandsRDNewQuad"), [5, 9], cfg, wkt=wkt)
        assert out.num_rows == n_rows
        want = [c for c in _SNAPPED_COLUMNS if wkt or c[0] != "wkt"]
        assert [(f.name, str(f.type)) for f in out.schema] == want


def _mixed_spans():
    """A point, a linestring, POLYGON EMPTY, a 3D polygon, a null, a
    lower-case prefix after leading spaces and a non-ASCII row around
    clean polygons."""
    clean = _doc_spans(6)
    return [
        clean[0],
        ("d-point", 0, "POINT (155000 463000)"),
        ("d-line", 0, "LINESTRING (155000 463000, 156000 464000)"),
        clean[1],
        ("d-empty", 0, "POLYGON EMPTY"),
        ("d-3d", 0, "POLYGON ((155000 463000 1, 155050 463000 1, 155050 463050 1))"),
        ("d-lower", 0, "   polygon ((155000 463000, 156000 463000, 156000 464000, 155000 464000))"),
        ("d-nonascii", 0, "MULTIPOLYGON (((155000 463000,\u00a0155050 463000, 155050 463050)))"),
        *clean[2:],
    ]


@pytest.mark.parametrize("layout", ["corpus", "mixed", "mixed-with-null"])
def test_stage_without_wkt_emits_the_same_rows_minus_wkt(layout):
    """wkt=False gives the rows of wkt=True minus the wkt column: on
    2,000 spans of perfbench's seed-7 corpus and on a batch that mixes
    every lane of the stage.  A null span fails both the same way."""
    from texel_spark.operators.snap_tiles import _process_batch

    tms = load_embedded("NetherlandsRDNewQuad")
    cfg = SnapConfig(ignore_outside_grid=True, keep_points_and_lines=True)
    if layout == "corpus":
        from tests.test_snap_batch import _corpus_spans

        spans = _corpus_spans(7 * 4000, 1500)[:2000]
        assert len(spans) == 2000
    else:
        spans = _mixed_spans()
    if layout == "mixed-with-null":
        spans.insert(4, ("d-null", 3, None))
        for wkt in (True, False):
            with pytest.raises(ValueError, match=r"doc_id='d-null' span_idx=3: malformed WKT"):
                _process_batch(spans_batch(spans), tms, [5, 9, 12], cfg, wkt=wkt)
        return

    def rows(wkt):
        out = _process_batch(spans_batch(spans), tms, [5, 9, 12], cfg, wkt=wkt).to_pylist()
        return sorted(tuple(r.items()) for r in out)

    with_wkt = rows(True)
    assert len(with_wkt) > (3 * 1900 if layout == "corpus" else 15)
    assert {r[3][1] for r in with_wkt} >= ({"polygon"} if layout == "corpus" else {"polygon", "point", "linestring"})
    assert rows(False) == sorted(tuple(kv for kv in r if kv[0] != "wkt") for r in with_wkt)


def test_stage_rows_do_not_depend_on_odd_rows_in_the_batch():
    """A 3D row in the middle of a batch makes the resilient parser
    bisect, so the array parser reads zero-copy slices of the WKT column
    (offset != 0); two adjacent rows whose parens balance only together
    must fall back too.  Every other row comes out exactly as from the
    clean batch."""
    from unittest import mock

    import pyarrow as pa

    from tests.test_snap_batch import _corpus_spans
    from texel_spark.functions import wkt_batch
    from texel_spark.operators.snap_tiles import _process_batch

    tms = load_embedded("NetherlandsRDNewQuad")
    cfg = SnapConfig(ignore_outside_grid=True)
    clean = _corpus_spans(7 * 4000, 200)
    odd = [
        ("d-3d", 0, "POLYGON ((155000 463000 1, 155050 463000 1, 155050 463050 1))"),
        ("d-open", 0, "POLYGON ((155000 463000, 156000 463000, 156000 464000)"),
        ("d-close", 0, "POLYGON ((155000 463000, 156000 463000, 156000 464000)))"),
    ]
    mid = len(clean) // 2
    spans = clean[:mid] + odd[:1] + clean[mid : mid + 5] + odd[1:] + clean[mid + 5 :]
    fallback = [mid, mid + 6, mid + 7]

    offsets = []
    parse = wkt_batch.parse_polygons_batch

    def spy(texts):
        offsets.append(texts.offset)
        return parse(texts)

    with mock.patch.object(wkt_batch, "parse_polygons_batch", spy):
        texts = pa.array([s[2] for s in spans], pa.string())
        assert wkt_batch.parse_polygons_batch_resilient(texts)[1] == fallback
    assert max(offsets) > 0

    def rows(batch_spans):
        out = _process_batch(spans_batch(batch_spans), tms, [5, 9, 12], cfg).to_pylist()
        return sorted(tuple(r.values()) for r in out if not r["doc_id"].startswith("d-"))

    with pytest.raises(ValueError, match=r"doc_id='d-open' span_idx=0: malformed WKT: unbalanced parens"):
        _process_batch(spans_batch(spans), tms, [5, 9, 12], cfg)
    no_malformed = clean[:mid] + odd[:1] + clean[mid:]
    assert rows(no_malformed) == rows(clean)
    assert len(rows(clean)) == 3 * len(clean)


def test_pipeline_output_independent_of_partitioning(spark, tmp_path):
    """The flagship's tile rows and snapped geometries are the same rows
    whatever the scan split count or Arrow batch size: 1 vs 16 minimum
    file partitions, 2000 vs 97 records per Arrow batch."""
    from texel_spark.operators.snap_tiles import snap_documents, snap_pipeline_df, snapped_geometries
    from texel_spark.sources.documents import geometry_spans, materialize_documents

    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9, 12]
    path = str(tmp_path / "docs")
    materialize_documents(spark, 300, path, partitions=6)

    def outputs(conf):
        saved = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            docs = spark.read.parquet(path)
            tiles = sorted(tuple(r) for r in snap_pipeline_df(docs, tms, tm_ids).collect())
            geoms = sorted(
                tuple(r) for r in snapped_geometries(snap_documents(geometry_spans(docs), tms, tm_ids)).collect()
            )
            return docs.rdd.getNumPartitions(), tiles, geoms
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    split = "spark.sql.files.minPartitionNum"
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    n_few, tiles, geoms = outputs({split: "1", batch: "2000"})
    assert tiles and geoms
    for conf in ({split: "16", batch: "2000"}, {split: "1", batch: "97"}, {split: "16", batch: "97"}):
        n, tiles_c, geoms_c = outputs(conf)
        assert tiles_c == tiles, conf
        assert geoms_c == geoms, conf
        if conf[split] == "16":
            assert n > n_few, (n, n_few)
