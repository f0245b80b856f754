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


@pytest.mark.parametrize("ignore_outside_grid", [True, False])
def test_vertex_just_below_the_grid_origin_is_outside_the_grid(ignore_outside_grid):
    """A vertex less than one deepest cell below the grid's int origin is
    outside the grid in both kernels: its member is dropped under
    ignore_outside_grid (the rest of the batch still snaps), and without
    it both kernels raise OutsideGridError naming the same cell.
    Truncating division (the reference's) puts the vertex in cell 0,
    which does not hold it, so its segments snap to no point and the
    whole batch fails."""
    tms = simple_tms(4, 1.0)
    tm_ids = [0, 2, 4]
    edge = [[(-1e-9, 3.0), (5.0, 3.0), (5.0, 7.0), (-3e-9, 7.0)]]
    inside = [[(1.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0)]]
    config = SnapConfig(ignore_outside_grid=ignore_outside_grid)
    if ignore_outside_grid:
        _assert_stage_matches_scalar(_spans([edge, inside]), tms, tm_ids, config)
        assert stage_rows(_spans([edge]), tms, tm_ids, config) == []
        return
    with pytest.raises(OutsideGridError) as scalar_err:
        scalar_rows(_spans([edge]), tms, tm_ids, config)
    with pytest.raises(OutsideGridError) as stage_err:
        stage_rows(_spans([inside, edge]), tms, tm_ids, config)
    assert str(stage_err.value) == str(scalar_err.value)
    assert "(-1, 48)" in str(stage_err.value)


def test_outside_grid_error_names_the_first_outside_vertex_in_input_order():
    """The batch kernel reverses a clockwise outer before it quantizes,
    but names the outside vertex PointIndex.insert_polygon meets first:
    the first in input order, here (-1, 3) and not (-2, 7)."""
    tms = simple_tms(4, 1.0)
    clockwise = [[(-1.0, 3.0), (-2.0, 7.0), (5.0, 7.0), (5.0, 3.0)]]
    inside = [[(1.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0)]]
    errors = []
    for rows in (scalar_rows, stage_rows):
        with pytest.raises(OutsideGridError) as err:
            rows(_spans([inside, clockwise]), tms, [0, 2, 4], SnapConfig())
        errors.append(str(err.value))
    assert errors[0] == errors[1]
    assert "(-16, 48)" in errors[1]


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
    """A cell's occupancy key is its parent's rank << 2 | its quadrant,
    so keys stay below 4 * n_vertices at any depth and a batch runs as
    one kernel pass.  Stage == scalar down to level 32, the deepest that
    morton.to_z's 32 bits per axis allow (the reference's uint64
    morton.Z).  At level 33 a member snaps while its cells fit 32 bits;
    one whose first unindexable vertex needs 33 bits makes both kernels
    raise morton.to_z's ValueError, ignore_outside_grid or not, and one
    whose first unindexable vertex is outside the grid is dropped."""
    config = SnapConfig(ignore_outside_grid=True)
    square = [[(1.0, 1.0), (9.0, 1.0), (9.0, 9.0), (1.0, 9.0)]]
    polys = [square, [[(2.0, 2.0), (8.0, 2.0), (8.0, 8.0)]], square]
    # deepest_level = tm_id + 4 on 1px tiles
    for tm_id in (24, 25, 26, 27, 28):
        tms = simple_tms(tm_id, 16.0 / (1 << tm_id))
        _assert_stage_matches_scalar(_spans(polys), tms, [tm_id], config)
    # level 33: x or y >= 8.0 needs a 33-bit cell index
    tms = simple_tms(29, 16.0 / (1 << 29))
    low = [[(1.0, 1.0), (7.0, 1.0), (7.0, 7.0), (1.0, 5.0)]]
    outside_first = [[(-1.0, 1.0), (9.0, 1.0), (9.0, 9.0)]]
    _assert_stage_matches_scalar(_spans([low, outside_first, low]), tms, [25, 29], config)
    # clockwise, so the kernels must name (1, 9), the first 33-bit vertex
    # in input order, not (9, 1), the first after the winding correction
    clockwise = [square[0][::-1]]
    errors = []
    for rows in (scalar_rows, stage_rows):
        with pytest.raises(ValueError, match="cannot make Z") as err:
            rows(_spans([low, clockwise] + polys), tms, [29], config)
        errors.append(str(err.value))
    assert errors[0] == errors[1]
    assert errors[1] == "cannot make Z out of 555555555 and 5000000000"  # (1, 9)


def test_batch_matches_scalar_on_deep_web_mercator_zooms():
    """perfbench's seed-7 corpus at WebMercatorQuad zooms 5/12/20 (level
    28) runs the array kernel, descent included, with stage == scalar."""
    from unittest import mock

    from texel_spark.kernel import snap_batch

    spans = _corpus_spans(7 * 4000, 170)[:200]
    assert len(spans) == 200
    tms = load_embedded("WebMercatorQuad")
    steps = []
    descend_level = snap_batch._descend_level

    def count_steps(*args):
        steps.append(1)
        return descend_level(*args)

    for config in (
        SnapConfig(ignore_outside_grid=True),
        SnapConfig(keep_points_and_lines=True, reverse_winding_order=True, ignore_outside_grid=True),
    ):
        want = scalar_rows(spans, tms, [5, 12, 20], config)
        assert want
        with mock.patch.object(snap_batch, "_descend_level", count_steps):
            assert stage_rows(spans, tms, [5, 12, 20], config) == want
    assert steps


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


_TINY = [(10.0, 10.0), (10.0, 10.3), (10.3, 10.3), (10.3, 10.0)]
_SPIKE = [(2.0, 18.0), (6.0, 18.0), (6.0, 22.0), (6.0, 28.0), (6.0, 22.0), (2.0, 22.0)]
_OUTSIDE = [(40.0, 40.0), (44.0, 40.0), (44.0, 44.0)]
# the parts of each row, in order (simple_tms(6, 0.5) covers 0..32)
_MULTI = {
    "part collapsing at zoom 1": [[_SMALL_OUTER], [_TINY], [_FAR_HOLE]],
    "parts on different lanes": [[_SMALL_OUTER], [_SPIKE], [_FAR_HOLE]],
    "holed part": [[_FAR_HOLE], [_OUTER, [(3.0, 3.0), (3.0, 6.0), (6.0, 6.0), (6.0, 3.0)]]],
    "one part left": [[_OUTSIDE], [_SMALL_OUTER]],
    "all parts outside the grid": [[_OUTSIDE], [[(x + 10.0, y) for x, y in _OUTSIDE]]],
}


@pytest.mark.parametrize("reverse_winding_order", [False, True])
@pytest.mark.parametrize("keep_points_and_lines", [False, True])
def test_batch_matches_scalar_on_multipolygons(keep_points_and_lines, reverse_winding_order):
    """Multipolygon parts take the kernel's lanes like polygons do and the
    stage merges them per (row, zoom) in part order: a part collapsing at
    one zoom, a part left to the scalar helpers between two columnar
    parts, a holed part, a row with one part left (still a
    MULTIPOLYGON), a row whose parts all vanish, and a batch whose every
    polygon vanishes."""
    from unittest import mock

    from tests.snap_rows import spans_batch
    from texel_spark.kernel import snap_batch
    from texel_spark.operators.snap_tiles import _process_batch

    tms = simple_tms(6, 0.5)
    tm_ids = [1, 3, 6]
    config = SnapConfig(
        keep_points_and_lines=keep_points_and_lines,
        reverse_winding_order=reverse_winding_order,
        ignore_outside_grid=True,
    )
    spans = [(name, 0, span_wkt(parts, multi=True)) for name, parts in _MULTI.items()]
    want = scalar_rows(spans, tms, tm_ids, config)
    shape = {(r[0], r[2]): (r[3], r[-1], r[5].count("[(")) for r in want}
    # the shapes do what their names say: (kind, polygons, rings)
    assert shape["part collapsing at zoom 1", 6] == ("multipolygon", 3, 3)
    # the tiny part is a point polygon of its own at zoom 1, or gone
    n = 3 if keep_points_and_lines else 2
    assert shape["part collapsing at zoom 1", 1] == ("multipolygon", n, n)
    assert shape["holed part", 6] == ("multipolygon", 2, 3)
    assert shape["one part left", 6] == ("multipolygon", 1, 1)
    assert not any(r[0] == "all parts outside the grid" for r in want)
    assert stage_rows(spans, tms, tm_ids, config) == want

    # the spike part goes to the scalar helpers, its neighbours do not
    snap_flat_batch = snap_batch.snap_flat_batch
    lanes = []

    def spy(*args, **kwargs):
        out = snap_flat_batch(*args, **kwargs)
        lanes.extend(r is None for r in out[0])
        return out

    with mock.patch.object(snap_batch, "snap_flat_batch", spy):
        _process_batch(spans_batch(spans[1:2]), tms, tm_ids, config)
    assert lanes == [True, False, True]

    vanishing = [spans[-1], ("outside polygon", 0, span_wkt([[_OUTSIDE]]))]
    assert stage_rows(vanishing, tms, tm_ids, config) == scalar_rows(vanishing, tms, tm_ids, config) == []


def _fixed(v: int) -> float:
    """A float whose fixed-point value int(f * 1e10) is exactly ``v``."""
    import math

    f = v / 1e10
    while int(f * 1e10) < v:
        f = math.nextafter(f, math.inf)
    while int(f * 1e10) > v:
        f = math.nextafter(f, -math.inf)
    assert int(f * 1e10) == v
    return f


# shapes in units of deepest-level cells: integer coordinates lie exactly
# on cell edges (the left/bottom edge of a cell is inclusive, the
# right/top edge of its neighbour exclusive)
_BIG = [(0, 0), (2000, 0), (2000, 2000), (0, 2000)]
_CELL_SHAPES = {
    "two vertices in one deepest cell": [[(0.2, 0.3), (0.7, 0.6), (40.5, 0.5), (40.5, 40.5), (0.5, 40.5)]],
    "vertices sharing cells down to deepest-1": [[(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (60.5, 30.5), (20.5, 50.5)]],
    "vertices on cell edges": [[(2, 2), (34, 2), (34, 18), (18, 18), (18, 34), (2, 34)]],
    "long segment skimming vertices": [
        [(0.5, 0.5), (300.5, 0.7), (300.5, 40.5), (200.7, 0.95), (150.3, 1.2), (100.2, 1.1), (0.5, 20.5)]
    ],
    "three holes": [
        _BIG,
        [(100, 100), (100, 300), (300, 300), (300, 100)],
        [(500.5, 500.5), (500.5, 900.5), (900.5, 900.5), (900.5, 500.5)],
        [(1200, 200), (1200, 400), (1500, 400)],
    ],
    "hole with a vertex on the outer's edge": [_BIG, [(0, 800), (400, 1000), (400, 600)]],
    "hole touching the outer's vertex": [_BIG, [(0, 0), (300, 600), (600, 300)]],
    "hole outside the outer": [
        [(0, 0), (500, 0), (500, 500), (0, 500)],
        [(800, 800), (800, 1200), (1200, 1200), (1200, 800)],
    ],
    "hole collapsing at the coarsest zoom": [_BIG, [(900.2, 900.2), (900.2, 902.7), (902.7, 902.7), (902.7, 900.2)]],
    "hole equal to the outer": [_BIG, _BIG[::-1]],
    "two holes equal to the outer": [_BIG, _BIG[::-1], _BIG[2::-1] + _BIG[:2:-1]],
}


@pytest.mark.parametrize(
    "grid, tm_ids",
    [("NetherlandsRDNewQuad", [5, 9, 12]), ((28, 16.0 / (1 << 28)), [20, 24, 28])],
    ids=["rd-5-9-12", "deepest-level-32"],
)
@pytest.mark.parametrize("keep_points_and_lines", [False, True])
def test_batch_matches_scalar_on_cell_edge_cases(grid, tm_ids, keep_points_and_lines):
    """The descent's settled rows (segments whose endpoints share cells,
    cells holding one occupied deepest cell) and the columnar lane's
    holed polygons, on shapes placed on the deepest level's cell lattice:
    on the RD grid at the snap stage's zooms, and on a grid whose deepest
    level is 32, the deepest morton.to_z allows."""
    from texel_spark.grid.fixedpoint import go_div
    from texel_spark.kernel.pointindex import VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION

    tms = simple_tms(*grid) if isinstance(grid, tuple) else load_embedded(grid)
    deepest = max(tm_ids) + tms.level_diff(VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION)
    assert deepest in (24, 32)
    ext = tms.int_root_extent(0)
    res = go_div(ext[2] - ext[0], 1 << deepest)
    # RD: x 150 km, y 450 km; the level-32 grid: 1000 cells from its origin
    bx, by = ((15 * 10**14 - ext[0]) // res, (45 * 10**14 - ext[1]) // res) if deepest == 24 else (1000, 1000)

    def pt(u, v):
        return (_fixed(ext[0] + round((bx + u) * res)), _fixed(ext[1] + round((by + v) * res)))

    spans = [(name, 0, span_wkt([[[pt(u, v) for u, v in ring] for ring in poly]])) for name, poly in _CELL_SHAPES.items()]
    config = SnapConfig(
        keep_points_and_lines=keep_points_and_lines,
        reverse_winding_order=keep_points_and_lines,
        ignore_outside_grid=True,
    )
    want = scalar_rows(spans, tms, tm_ids, config)
    # the holed shapes do what their names say at every zoom: (polygons,
    # rings); the tiny hole is gone at the coarsest (a point polygon of its
    # own with keep_points_and_lines), the outer and one of two equal
    # inners are deduped away, leaving the other inner as a polygon
    shape = {(r[0], r[2]): (r[-1], r[5].count("[(")) for r in want}
    for zoom in tm_ids:
        assert shape["three holes", zoom] == (1, 4)
        assert shape["hole outside the outer", zoom] == (2, 2)
        assert shape["hole equal to the outer", zoom] == (1, 2)
        assert shape["two holes equal to the outer", zoom] == (1, 1)
    assert shape["hole collapsing at the coarsest zoom", max(tm_ids)] == (1, 2)
    assert shape["hole collapsing at the coarsest zoom", min(tm_ids)] == ((2, 2) if keep_points_and_lines else (1, 1))
    assert stage_rows(spans, tms, tm_ids, config) == want


def test_ray_cast_matches_ring_contains():
    """The columnar lane's vectorized ray cast against the scalar oracle
    (geomfuncs.ray_intersect / ring_contains): every (point, edge) pair of
    a small lattice, with points on vertices, on edges, one ulp off them,
    and vertical, horizontal and zero-length edges; then whole rings."""
    import math

    import numpy as np

    from texel_spark.kernel.geomfuncs import ray_intersect, ring_contains
    from texel_spark.kernel.snap_batch import _inners_matched, _ray_intersect_np

    grid = [0.0, 1.0, 1.5, 3.0]
    verts = [(x, y) for x in grid for y in grid]
    pts = verts + [(math.nextafter(x, -math.inf), y) for x, y in verts] + [(x + 0.25, y + 0.5) for x, y in verts]
    pairs = [(p, a, b) for p in pts for a in verts for b in verts]
    px, py, sx, sy, ex, ey = (np.array(c) for c in zip(*((*p, *a, *b) for p, a, b in pairs)))
    hits, on = _ray_intersect_np(px, py, sx, sy, ex, ey)
    assert list(zip(hits.tolist(), on.tolist())) == [ray_intersect(p, a, b) for p, a, b in pairs]

    rng = random.Random(5)
    outer = [(0.0, 0.0), (3.0, 0.0), (3.0, 1.5), (1.5, 1.5), (1.5, 3.0), (0.0, 3.0)]
    inners = [[rng.choice(pts) for _ in range(rng.randint(1, 4))] for _ in range(300)]
    fx = np.array([p[0] for p in outer] + [p[0] for r in inners for p in r])
    fy = np.array([p[1] for p in outer] + [p[1] for r in inners for p in r])
    ends = np.cumsum([len(outer)] + [len(r) for r in inners])
    n = len(inners)
    got = _inners_matched(fx, fy, np.zeros(n, np.int64), np.full(n, len(outer)), ends[:-1], ends[1:])
    want = [any(ring_contains(outer, v)[0] for v in r) for r in inners]
    assert got.tolist() == want and 0 < sum(want) < n


def _corpus_spans(first_doc, n_docs):
    """The geometry spans of documents first_doc .. first_doc + n_docs - 1."""
    from texel_spark.sources.documents import build_document

    return [
        (doc_id, offset, text)
        for doc_id, doc_spans in map(build_document, range(first_doc, first_doc + n_docs))
        for kind, text, _, offset in doc_spans
        if kind == "geom"
    ]


def test_batch_matches_scalar_keep_points_and_lines_and_reverse():
    """keep_points_and_lines + reverse_winding_order flips every ring
    handle, scalar-helper rings included (stage_rows checks that the
    kernel returned handles only)."""
    config = SnapConfig(keep_points_and_lines=True, ignore_outside_grid=True, reverse_winding_order=True)
    holed = [(name, 0, span_wkt([poly])) for name, poly in _HOLED.items()]
    _assert_stage_matches_scalar(holed, simple_tms(6, 0.5), [1, 3, 6], config)
    spans = _corpus_spans(0, 300)
    assert any(w.count("(") > 2 for _, _, w in spans)  # holed polygons
    _assert_stage_matches_scalar(spans, load_embedded("NetherlandsRDNewQuad"), [5, 9, 12], config)


def test_stage_prints_each_snapped_value_one_way():
    """perfbench's seed-7 corpus (4,000 documents, zooms 5/9/12, in
    2,000-row batches): every snapped polygon goes through the one
    digit-exact formatter, so no value has two WKT texts (a repr()
    formatter for some rings printed 553791.19 as 553791.1899999999)."""
    import re

    from tests.snap_rows import spans_batch
    from texel_spark.operators.snap_tiles import _process_batch

    spans = _corpus_spans(7 * 4000, 4000)
    tms = load_embedded("NetherlandsRDNewQuad")
    config = SnapConfig(ignore_outside_grid=True)
    texts = {}
    for c0 in range(0, len(spans), 2000):
        out = _process_batch(spans_batch(spans[c0 : c0 + 2000]), tms, [5, 9, 12], config)
        for w in out["wkt"].to_pylist():
            for tok in re.findall(r"-?[0-9][0-9.e+-]*", w):
                texts.setdefault(float(tok), set()).add(tok)
    assert len(texts) > 10_000
    assert {v: t for v, t in texts.items() if len(t) > 1} == {}


def test_descent_walks_only_undecided_rows():
    """The quadtree descent settles the (segment, cell) rows that have one
    possible outcome from the endpoints' deepest cells and walks only the
    rest.  On perfbench's seed-7 corpus (its first 1,400 documents, 1,985
    spans, zooms 5/9/12, one batch) the walk over every row fed 248,371
    rows to line_intersects_np and 450,970 frontier rows to the per-level
    step; both must stay at a fifth of that or less."""
    from unittest import mock

    from tests.snap_rows import spans_batch
    from texel_spark.kernel import snap_batch
    from texel_spark.operators.snap_tiles import _process_batch

    spans = _corpus_spans(7 * 4000, 1400)
    assert len(spans) == 1985
    tested, walked = [], []
    line_intersects_np = snap_batch.line_intersects_np
    descend_level = snap_batch._descend_level

    def count_tested(p1x, *args):
        tested.append(len(p1x))
        return line_intersects_np(p1x, *args)

    def count_walked(seg, *args):
        walked.append(seg.size)
        return descend_level(seg, *args)

    with mock.patch.object(snap_batch, "line_intersects_np", count_tested), mock.patch.object(
        snap_batch, "_descend_level", count_walked
    ):
        out = _process_batch(spans_batch(spans), load_embedded("NetherlandsRDNewQuad"), [5, 9, 12],
                             SnapConfig(ignore_outside_grid=True))
    assert len(out) == 3 * len(spans)
    assert 0 < sum(tested) <= 248_371 // 5
    assert 0 < sum(walked) <= 450_970 // 5
    assert len(walked) <= 24  # one step per level below the root


def test_descent_runs_one_step_per_level_at_deep_zooms():
    """The occupancy keys hold a whole batch at any depth, so a 2,000-span
    batch at RD zooms 5/9/16 (level 28) makes at most one descent step
    per level below the root; member-keyed chunks made 1,636."""
    from unittest import mock

    from tests.snap_rows import spans_batch
    from texel_spark.kernel import snap_batch
    from texel_spark.operators.snap_tiles import _process_batch

    spans = _corpus_spans(7 * 4000, 1500)[:2000]
    assert len(spans) == 2000
    steps = []
    descend_level = snap_batch._descend_level

    def count_steps(*args):
        steps.append(1)
        return descend_level(*args)

    with mock.patch.object(snap_batch, "_descend_level", count_steps):
        out = _process_batch(spans_batch(spans), load_embedded("NetherlandsRDNewQuad"), [5, 9, 16],
                             SnapConfig(ignore_outside_grid=True))
    assert len(out) == 3 * len(spans)
    assert 0 < len(steps) <= 28


def test_ring_handle_maps_centroids_exactly_and_rejects_other_points():
    """BatchSnapStore.ring_handles puts float rings back on their level's
    centroid ints as one block, a handle per ring in order, also where RD
    y-ordinates exceed 2^51 fixed-point units (there rint(f * 1e10) is not
    exact), and raises on a point that is no centroid of the level."""
    from texel_spark.grid.fixedpoint import to_ord
    from texel_spark.kernel.pointindex import VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION, PointIndex
    from texel_spark.kernel.snap_batch import BatchSnapStore

    tms = load_embedded("NetherlandsRDNewQuad")
    level = 12 + tms.level_diff(VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION)
    ix = PointIndex.from_tile_matrix_set(tms, 12)
    centroids = [ix.quadrant_at(level, z).centroid for z in (0, 12_345_678, 4**level - 1)]
    assert max(c[1] for c in centroids) > 2**51
    store = BatchSnapStore(tms, level)
    ring = [(to_ord(cx), to_ord(cy)) for cx, cy in centroids]
    handles = store.ring_handles([ring, ring[:2]], level)
    with pytest.raises(RuntimeError, match="centroid"):
        store.ring_handles([ring[:2], [(ring[0][0] + 0.01, ring[0][1])]], level)
    store.finish()
    assert handles == [(0, 3, False), (3, 5, False)]
    assert list(zip(store.kx.tolist(), store.ky.tolist())) == centroids + centroids[:2]


def test_kernel_columnar_contract_as_perfbench_replays_it():
    """perfbench's kernel replay calls snap_flat_batch as below, with the
    ``need_dicts`` and ``collect_columnar`` keywords the kernel
    ignores, and reads ``results[m] is None`` as "member m took the
    columnar lane" (kernel.columnar_share).  Pin that contract both
    ways: one-ring and holed one-outer members and the parts of a
    multipolygon all take the lane, land in ``columnar`` and have a None
    result; a ring that snaps with a backtrack sends its member to the
    dict lane, so it is missing from ``columnar`` and its result is a
    dict of ring-handle lists; and the stage rows equal the scalar
    kernel's rows."""
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
    spans.append(("two-holes", 0, span_wkt([[_random_ring(rng, 130_000, 430_000, 9_000, 12),
                                             _random_ring(rng, 127_000, 430_000, 1_500, 5),
                                             _random_ring(rng, 133_000, 430_000, 1_500, 6)]])))
    spans.append(("multi", 0, span_wkt([[_random_ring(rng, 120_000, 420_000, 2_000, 6)],
                                        [_random_ring(rng, 180_000, 480_000, 2_000, 7)]], multi=True)))
    # _SPIKE's out-and-back edge, at 1 km a unit
    spans.append(("backtrack", 0, span_wkt([[[(140_000 + 1_000 * x, 410_000 + 1_000 * y) for x, y in _SPIKE]]])))

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

    backtrack = n_members - 1
    assert set(columnar[0].tolist()) == set(range(backtrack))
    assert all(r is None for r in results[:backtrack])
    assert isinstance(results[backtrack], dict) and sorted(results[backtrack]) == tm_ids
    for polys in results[backtrack].values():
        assert polys and all(
            isinstance(ring, tuple) and isinstance(ring[0], int) for poly in polys for ring in poly
        )

    got = stage_rows(spans, tms, tm_ids, config)
    assert got == scalar_rows(spans, tms, tm_ids, config)
    assert {r[5].count("[(") for r in got if r[0] == "two-holes"} == {3}
    assert {(r[3], r[-1]) for r in got if r[0] == "multi"} == {("multipolygon", 2)}


def _dense_polygon(rng, cx, cy, holed):
    """A 60-vertex ring of radius 40 m with +-30% radial noise; ``holed``
    adds two clockwise 10-vertex holes of radius 8 m."""
    import math

    rings = [[(cx + r * math.cos(a), cy + r * math.sin(a))
              for a, r in ((2 * math.pi * k / 60, 40 * rng.uniform(0.7, 1.3)) for k in range(60))]]
    if holed:
        for hx in (cx - 15, cx + 15):
            rings.append([(hx + 8 * math.cos(-2 * math.pi * k / 10), cy + 8 * math.sin(-2 * math.pi * k / 10))
                          for k in range(10)])
    return rings


def test_batch_matches_scalar_on_dense_vertex_rings():
    """Dense-vertex rings send nearly every member to the kernel's dict
    lane (at zoom 5 a 40 m ring of 60 vertices snaps with backtracks and
    self-tangencies), which runs the scalar kernel's per-ring cleanup and
    per-level tail.  In the holed members the outer goes to the scalar
    helpers while the holes take the fast path at the same level.  Stage
    == scalar under every keep_points_and_lines x reverse_winding_order
    config."""
    from unittest import mock

    from tests.snap_rows import spans_batch
    from texel_spark.kernel import snap_batch
    from texel_spark.operators.snap_tiles import _process_batch

    rng = random.Random(60)
    tms = load_embedded("NetherlandsRDNewQuad")
    tm_ids = [5, 9, 12]
    spans = _spans(
        _dense_polygon(rng, rng.uniform(100_000, 200_000), rng.uniform(400_000, 500_000), i % 4 == 3)
        for i in range(200)
    )
    for keep_pl in (False, True):
        for reverse in (False, True):
            config = SnapConfig(keep_points_and_lines=keep_pl, reverse_winding_order=reverse)
            _assert_stage_matches_scalar(spans, tms, tm_ids, config)

    # the lanes, from snap_flat_batch's results and the per-level ring status
    calls, statuses = [], []
    snap_flat_batch, assembly_arrays = snap_batch.snap_flat_batch, snap_batch._assembly_arrays

    def spy_kernel(*args, **kwargs):
        out = snap_flat_batch(*args, **kwargs)
        calls.append((args[1], out[0]))
        return out

    def spy_assembly(*args, **kwargs):
        out = assembly_arrays(*args, **kwargs)
        statuses.append(out["status"])
        return out

    with mock.patch.object(snap_batch, "snap_flat_batch", spy_kernel), mock.patch.object(
        snap_batch, "_assembly_arrays", spy_assembly
    ):
        _process_batch(spans_batch(spans), tms, tm_ids, SnapConfig())
    (ring_member, results), = calls
    dict_members = {m for m, r in enumerate(results) if r is not None}
    assert len(dict_members) >= 0.9 * len(results)
    assert all(isinstance(r, dict) for m, r in enumerate(results) if m in dict_members)
    mixed = set()
    for status in statuses:
        mixed |= set(ring_member[status == snap_batch._SCALAR].tolist()) & set(
            ring_member[status == snap_batch._FAST].tolist()
        )
    assert len(mixed & dict_members) >= 10
