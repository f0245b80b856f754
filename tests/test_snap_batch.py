"""The snap stage's batch entry vs the scalar kernel and the reference goldens.

The scalar kernel (kernel/snap.py) is the oracle: it is pinned bit-for-bit
to the reference's golden tables (tests/test_snap.py), so stage == scalar
on every golden case transitively pins the stage to the reference.  Every
test here runs spans through operators.snap_tiles._process_batch - the
code the Spark stage runs, columnar lane included - and compares its rows
with tests.snap_rows.scalar_rows.
"""

import random

import pytest

from tests.golden_snap_cases import CASES
from tests.snap_rows import scalar_rows, span_wkt, stage_rows
from texel_spark.grid.tms import load_embedded, simple_tms
from texel_spark.kernel.pointindex import OutsideGridError
from texel_spark.kernel.snap import SnapConfig


def _tms_for(spec):
    if isinstance(spec, tuple):
        return simple_tms(spec[1], spec[2])
    return load_embedded(spec)


def _spans(polys):
    return [(f"p{i}", 0, span_wkt([p])) for i, p in enumerate(polys)]


def _assert_stage_matches_scalar(spans, tms, tm_ids, config):
    want = scalar_rows(spans, tms, tm_ids, config)
    assert want, "the reference emitted no rows"
    assert stage_rows(spans, tms, tm_ids, config) == want


@pytest.mark.parametrize("case", CASES, ids=[c["name"] for c in CASES])
def test_batch_matches_scalar_on_goldens(case):
    tms = _tms_for(case["tms"])
    config = SnapConfig(**case["config"])
    spans = [("golden", 0, span_wkt([case["polygon"]]))]
    if case.get("want_panic"):
        with pytest.raises(OutsideGridError):
            stage_rows(spans, tms, case["tm_ids"], config)
        return
    assert stage_rows(spans, tms, case["tm_ids"], config) == scalar_rows(spans, tms, case["tm_ids"], config)


def test_batch_of_all_goldens_at_once():
    """All same-grid goldens in ONE batch: per-poly results must not
    cross-contaminate (occupancy is keyed per polygon)."""
    by_key = {}
    for case in CASES:
        if case.get("want_panic"):
            continue
        key = (repr(case["tms"]), tuple(case["tm_ids"]), tuple(sorted(case["config"].items())))
        by_key.setdefault(key, []).append(case)
    ran = 0
    for (tms_spec, tm_ids, cfg_items), cases in by_key.items():
        if len(cases) < 2:
            continue
        tms = _tms_for(cases[0]["tms"])
        config = SnapConfig(**dict(cfg_items))
        spans = [(c["name"], 0, span_wkt([c["polygon"]])) for c in cases]
        _assert_stage_matches_scalar(spans, tms, list(tm_ids), config)
        ran += len(cases)
    assert ran >= 10  # the golden set has many same-grid groups


def _random_ring(rng, cx, cy, r, n):
    import math

    pts = []
    for i in range(n):
        ang = 2 * math.pi * i / n
        rad = r * (0.5 + rng.random())
        pts.append((cx + rad * math.cos(ang), cy + rad * math.sin(ang)))
    return pts


def test_batch_matches_scalar_random_rd():
    """Random polygons (with holes) on the real RD grid, stage vs scalar."""
    rng = random.Random(1234)
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9, 12]
    config = SnapConfig(ignore_outside_grid=True)
    polys = []
    for _ in range(60):
        cx = rng.uniform(10_000, 260_000)
        cy = rng.uniform(320_000, 600_000)
        r = rng.uniform(50, 30_000)
        poly = [_random_ring(rng, cx, cy, r, rng.randint(3, 12))]
        if rng.random() < 0.4:
            poly.append(_random_ring(rng, cx, cy, r * 0.3, rng.randint(3, 6)))
        polys.append(poly)
    # a couple of deliberately outside-grid polygons (ignore -> no rows)
    polys.append([_random_ring(rng, 10_000_000, 10_000_000, 100, 4)])
    _assert_stage_matches_scalar(_spans(polys), tms, tm_ids, config)


def test_batch_matches_scalar_random_simple_grid():
    """Tiny quantized coordinates on the synthetic grid produce heavy
    vertex collisions - the KMP/split/hit-tracking paths fire."""
    rng = random.Random(99)
    tms = simple_tms(5, 0.25)
    tm_ids = [2, 5]
    config = SnapConfig(keep_points_and_lines=True, ignore_outside_grid=True)
    polys = []
    for _ in range(80):
        n = rng.randint(3, 10)
        ring = [(rng.uniform(0, 8), rng.uniform(0, 8)) for _ in range(n)]
        polys.append([ring])
    _assert_stage_matches_scalar(_spans(polys), tms, tm_ids, config)


def test_batch_outside_grid_raises_without_ignore():
    tms = load_embedded("NetherlandsRDNewQuad")
    good = [[(100000.0, 400000.0), (101000.0, 400000.0), (100500.0, 401000.0)]]
    bad = [[(9e6, 9e6), (9.1e6, 9e6), (9e6, 9.1e6)]]
    with pytest.raises(OutsideGridError):
        stage_rows(_spans([good, bad]), tms, [5], SnapConfig())


def test_batch_matches_scalar_degenerate_and_self_touching():
    """Adversarial shapes: duplicate vertices, collinear runs, bowties,
    spikes, rings collapsing to lines/points - the paths where ring
    splitting and hit-multiple tracking fire (the vectorized hit-multiple
    equivalence must hold exactly)."""
    tms = simple_tms(6, 0.5)
    tm_ids = [1, 3, 6]
    config = SnapConfig(keep_points_and_lines=True, ignore_outside_grid=True)
    polys = [
        # bowtie (self-intersecting)
        [[(1.0, 1.0), (9.0, 9.0), (9.0, 1.0), (1.0, 9.0)]],
        # spike out and back (backtrack -> KMP dedupe)
        [[(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (6.0, 12.0), (6.0, 6.0), (2.0, 6.0)]],
        # duplicate vertices
        [[(3.0, 3.0), (3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (7.0, 7.0), (3.0, 7.0)]],
        # collinear run
        [[(1.0, 1.0), (4.0, 1.0), (7.0, 1.0), (7.0, 7.0), (1.0, 7.0)]],
        # figure-eight through a shared vertex (self-tangency -> split)
        [[(2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (5.0, 5.0), (2.0, 8.0)]],
        # collapses to a line at shallow zooms
        [[(4.0, 4.0), (4.4, 4.0), (4.4, 4.2), (4.0, 4.2)]],
        # outer with touching inner
        [
            [(1.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0)],
            [(1.0, 1.0), (5.0, 3.0), (3.0, 5.0)],
        ],
        # hole equal to outer (dedupe inners/outers)
        [
            [(2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0)],
            [(2.0, 2.0), (2.0, 8.0), (8.0, 8.0), (8.0, 2.0)],
        ],
    ]
    _assert_stage_matches_scalar(_spans(polys), tms, tm_ids, config)


def test_batch_matches_scalar_dense_random_lattice():
    """Dense random points ON lattice coordinates maximize self-tangency
    and split activity; exact stage == scalar across two zoom sets, with
    keep_points_and_lines on and off (off lets single-ring members take
    the columnar lane)."""
    rng = random.Random(31337)
    tms = simple_tms(4, 1.0)
    for keep_points_and_lines in (True, False):
        config = SnapConfig(keep_points_and_lines=keep_points_and_lines, ignore_outside_grid=True)
        for tm_ids in ([0, 2, 4], [4]):
            polys = []
            for _ in range(150):
                n = rng.randint(3, 9)
                polys.append([[(float(rng.randint(0, 15)), float(rng.randint(0, 15))) for _ in range(n)]])
            _assert_stage_matches_scalar(_spans(polys), tms, tm_ids, config)


def test_batch_matches_scalar_at_deep_zoom_levels():
    """ADVICE r2: composite occupancy keys (poly << 2*deepest_level) | z
    overflow int64 when deepest_level > 30.  The batch kernel must chunk
    down to 1 member while headroom exists and route to the scalar
    kernel beyond that, never corrupting keys."""
    config = SnapConfig(ignore_outside_grid=True)
    square = [[(1.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0)]]
    polys = [square, [[(2.0, 2.0), (8.0, 2.0), (8.0, 8.0)]], square]
    # deepest_level = tm_id + 4 on 1px tiles; 28 is the deepest the
    # reference supports at all (morton.go caps each axis at 32 bits)
    for tm_id in (24, 25, 26, 27, 28):
        tms = simple_tms(tm_id, 16.0 / (1 << tm_id))
        _assert_stage_matches_scalar(_spans(polys), tms, [tm_id], config)


_OUTER = [(1.0, 1.0), (15.0, 1.0), (15.0, 15.0), (1.0, 15.0)]
_SMALL_OUTER = [(1.0, 1.0), (7.0, 1.0), (7.0, 7.0), (1.0, 7.0)]
_FAR_HOLE = [(9.0, 9.0), (9.0, 14.0), (14.0, 14.0), (14.0, 9.0)]
_HOLED = {
    "hole touching the outer's edge": [_OUTER, [(1.0, 8.0), (8.0, 12.0), (8.0, 4.0)]],
    "hole touching the outer's vertex": [_OUTER, [(1.0, 1.0), (6.0, 9.0), (9.0, 6.0)]],
    "hole outside the outer": [_SMALL_OUTER, _FAR_HOLE],
    "holes inside and outside": [_SMALL_OUTER, [(2.0, 2.0), (2.0, 5.0), (5.0, 5.0), (5.0, 2.0)], _FAR_HOLE],
    "hole collapsing at zoom 1": [_OUTER, [(5.0, 5.0), (5.0, 5.3), (5.3, 5.3), (5.3, 5.0)]],
    "self-tangent hole": [_OUTER, [(4.0, 4.0), (4.0, 12.0), (8.0, 8.0), (12.0, 12.0), (12.0, 4.0), (8.0, 8.0)]],
    "self-tangent outer": [
        [(1.0, 1.0), (15.0, 1.0), (8.0, 8.0), (15.0, 15.0), (1.0, 15.0), (8.0, 8.0)],
        [(2.0, 6.0), (3.0, 6.0), (3.0, 4.0)],
    ],
    "holes tangent to each other": [
        _OUTER,
        [(3.0, 3.0), (3.0, 7.0), (7.0, 7.0), (7.0, 3.0)],
        [(7.0, 7.0), (7.0, 11.0), (11.0, 11.0), (11.0, 7.0)],
    ],
    "collinear hole": [_OUTER, [(3.0, 3.0), (6.0, 6.0), (9.0, 9.0)]],
    "collinear outer": [[(1.0, 1.0), (5.0, 5.0), (9.0, 9.0), (5.0, 5.0)], [(2.0, 4.0), (3.0, 4.0), (3.0, 3.5)]],
    "collinear runs on both rings": [
        [(1.0, 1.0), (5.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0), (1.0, 5.0)],
        [(3.0, 3.0), (3.0, 5.0), (3.0, 7.0), (7.0, 7.0), (7.0, 3.0), (5.0, 3.0)],
    ],
}


@pytest.mark.parametrize("keep_points_and_lines", [True, False])
def test_batch_matches_scalar_on_holed_polygons(keep_points_and_lines):
    """Holed polygons through the per-member combine step (the
    single-outer shortcut and _match_inners_to_polygons) vs scalar."""
    tms = simple_tms(6, 0.5)
    tm_ids = [1, 3, 6]
    config = SnapConfig(keep_points_and_lines=keep_points_and_lines, ignore_outside_grid=True)
    spans = [(name, 0, span_wkt([poly])) for name, poly in _HOLED.items()]
    want = scalar_rows(spans, tms, tm_ids, config)
    n_polys = {(r[0], r[2]): r[-1] for r in want}
    # the shapes do what their names say: the outside hole turns into a
    # second polygon, and the tiny hole is gone at zoom 1 (a point
    # polygon of its own with keep_points_and_lines)
    assert n_polys["hole outside the outer", 6] == 2
    assert n_polys["hole collapsing at zoom 1", 1] == (2 if keep_points_and_lines else 1)
    assert stage_rows(spans, tms, tm_ids, config) == want


def test_kernel_columnar_contract_as_perfbench_replays_it():
    """perfbench's kernel replay calls snap_flat_batch as below and reads
    ``results[m] is None`` as "member m took the columnar lane"
    (kernel.columnar_share).  Pin that contract: every member in
    ``columnar`` has a None result, holed and multipolygon members come
    back as dicts, and the stage rows built from the columnar entries
    equal the scalar kernel's rows."""
    import numpy as np

    from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient
    from texel_spark.kernel.snap_batch import snap_flat_batch

    rng = random.Random(7)
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9, 12]
    config = SnapConfig(ignore_outside_grid=True)
    spans = []
    for i in range(12):
        cx, cy = rng.uniform(100_000, 200_000), rng.uniform(400_000, 500_000)
        spans.append((f"one-ring-{i}", 0, span_wkt([[_random_ring(rng, cx, cy, 3_000, 8)]])))
    spans.append(("holed", 0, span_wkt([[_random_ring(rng, 150_000, 450_000, 4_000, 9),
                                          _random_ring(rng, 150_000, 450_000, 1_000, 5)]])))
    spans.append(("multi", 0, span_wkt([[_random_ring(rng, 120_000, 420_000, 2_000, 6)],
                                        [_random_ring(rng, 180_000, 480_000, 2_000, 7)]], multi=True)))

    parsed, fb_rows = parse_polygons_batch_resilient([s[2] for s in spans])
    assert fb_rows == []
    n_members = parsed.member_fastrow.size
    row_members = np.searchsorted(parsed.member_fastrow, np.arange(parsed.rows.size + 1))
    multi = (row_members[1:] - row_members[:-1]) > 1
    results, _, columnar = snap_flat_batch(
        parsed.xy, parsed.ring_member, parsed.ring_start, parsed.ring_len,
        n_members, tms, tm_ids, config,
        need_dicts=multi[parsed.member_fastrow] if n_members else None,
        collect_columnar=True,
    )

    col_members = set(np.concatenate([mem for mem, _, _, _ in columnar.values()]).tolist())
    assert col_members
    assert all(results[m] is None for m in col_members)
    doc_of_member = [spans[int(parsed.rows[fr])][0] for fr in parsed.member_fastrow]
    dict_docs = {doc_of_member[m] for m in range(n_members) if results[m] is not None}
    assert {"holed", "multi"} <= dict_docs
    col_docs = {doc_of_member[m] for m in col_members}
    assert not col_docs & dict_docs

    col_spans = [s for s in spans if s[0] in col_docs]
    got = [r for r in stage_rows(spans, tms, tm_ids, config) if r[0] in col_docs]
    assert got == scalar_rows(col_spans, tms, tm_ids, config)
