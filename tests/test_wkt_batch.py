"""Batch WKT codec vs the scalar codec (functions/wkt.py is the oracle)."""

import random

import numpy as np
import pytest

from texel_spark.functions.wkt import parse_wkt, polygon_to_wkt, multipolygon_to_wkt
from texel_spark.functions.wkt_batch import (
    ParsedPolygonBatch,
    WktBatchFallback,
    fixedpoint_digits,
    format_polygon_wkts,
    parse_polygons_batch,
    write_fixedpoint,
    POW10,
)


def _scalar_members(wkt):
    kind, coords = parse_wkt(wkt)
    if kind == "polygon":
        return [coords]
    assert kind == "multipolygon"
    return coords


def _batch_members(parsed: ParsedPolygonBatch):
    """Rebuild list-of-members-per-fast-row from the flat arrays."""
    out = [[] for _ in range(parsed.rows.size)]
    for m in range(parsed.member_fastrow.size):
        rings = np.flatnonzero(parsed.ring_member == m)
        member = []
        for r in rings:
            s, l = parsed.ring_start[r], parsed.ring_len[r]
            member.append([tuple(p) for p in parsed.xy[s : s + l]])
        out[parsed.member_fastrow[m]].append(member)
    return out


def _random_poly_wkt(rng):
    def ring(n):
        cx, cy = rng.uniform(-3e5, 9e5), rng.uniform(-3e5, 9e5)
        return [
            (round(cx + rng.uniform(-500, 500), rng.randint(0, 6)), round(cy + rng.uniform(-500, 500), rng.randint(0, 6)))
            for _ in range(n)
        ]

    rings = [ring(rng.randint(3, 8)) for _ in range(rng.randint(1, 3))]
    if rng.random() < 0.5:
        return polygon_to_wkt(rings)
    polys = [rings] + [[ring(rng.randint(3, 5))] for _ in range(rng.randint(0, 2))]
    return multipolygon_to_wkt(polys)


def test_parse_matches_scalar_on_random_batch():
    rng = random.Random(7)
    texts = [_random_poly_wkt(rng) for _ in range(200)]
    # sprinkle passthrough kinds
    texts.insert(5, "POINT (1.5 -2.5)")
    texts.insert(50, "LINESTRING (0 0, 10 10)")
    texts.insert(100, "MULTIPOINT ((1 1), (2 2))")
    parsed = parse_polygons_batch(texts)
    assert parsed.other_rows == [5, 50, 100]
    got = _batch_members(parsed)
    fast_i = 0
    for i, t in enumerate(texts):
        if i in (5, 50, 100):
            continue
        assert parsed.rows[fast_i] == i
        want = _scalar_members(t)
        assert got[fast_i] == want, t
        fast_i += 1


def test_parse_handles_formatting_variants():
    texts = [
        "polygon((0 0,1 0,1 1))",  # lowercase, no spaces
        "POLYGON ( ( 0 0 , 1e2 0.5 , -1 1 ) )",  # extra spaces, exponent
        "MULTIPOLYGON (((0 0, 1 0, 1 1)), ((5 5, 6 5, 6 6), (5.2 5.2, 5.8 5.2, 5.8 5.8)))",
    ]
    parsed = parse_polygons_batch(texts)
    got = _batch_members(parsed)
    for i, t in enumerate(texts):
        assert got[i] == _scalar_members(t), t


def test_parse_falls_back_on_3d_and_empty():
    with pytest.raises(WktBatchFallback):
        parse_polygons_batch(["POLYGON ((0 0 1, 1 0 1, 1 1 1))"])
    with pytest.raises(WktBatchFallback):
        parse_polygons_batch(["POLYGON EMPTY"])
    with pytest.raises(WktBatchFallback):
        parse_polygons_batch(["POLYGON ((0 0, 1 0, 1 1)"])  # unbalanced


def test_fixedpoint_format_roundtrip_exhaustive_edges():
    vals = [
        0,
        1,
        -1,
        POW10,
        -POW10,
        POW10 // 2,
        123,
        10**9,
        10**10 + 1,
        -(10**10) - 1,
        9034019200000000000 // 1000,
        -2854019200000000,
        1172202820000000,
        4401358980000000,
        9007199254740993,  # > 2^53
        -9007199254740993,
        9999999999999999,
        10**16,
        7,
        70,
        10**15 + 7,
    ]
    arr = np.asarray(vals, dtype=np.int64)
    digits = fixedpoint_digits(arr)
    lens = digits.length
    pos = np.concatenate(([0], np.cumsum(lens)[:-1]))
    buf = np.full(int(lens.sum()), 32, dtype=np.uint8)
    write_fixedpoint(buf, pos, digits)
    s = buf.tobytes().decode()
    for i, v in enumerate(vals):
        text = s[pos[i] : pos[i] + lens[i]]
        assert " " not in text and text, (v, text)
        # round-trip: float(text) must equal the scalar kernel's to_ord(v)
        want = 0.0 if v == 0 else float(v) / 1e10
        assert float(text) == want, (v, text)


def test_fixedpoint_format_random_roundtrip():
    rng = np.random.default_rng(42)
    arr = rng.integers(-(9 * 10**15), 9 * 10**15, size=20000, dtype=np.int64)
    digits = fixedpoint_digits(arr)
    lens = digits.length
    pos = np.concatenate(([0], np.cumsum(lens)[:-1]))
    buf = np.full(int(lens.sum()), 32, dtype=np.uint8)
    write_fixedpoint(buf, pos, digits)
    s = buf.tobytes().decode()
    offs = pos.tolist()
    lns = lens.tolist()
    got = np.array([float(s[offs[i] : offs[i] + lns[i]]) for i in range(len(arr))])
    want = arr.astype(np.float64) / 1e10
    assert np.array_equal(got, want)


def _fmt_geoms(geoms):
    """geoms: list of (is_multi, [poly=[ring=[(ix,iy)...]...]...], close flags per ring)."""
    is_multi = np.array([g[0] for g in geoms], dtype=bool)
    poly_bounds = [0]
    ring_bounds_polys = [0]
    pt_bounds = [0]
    closes = []
    xs, ys = [], []
    for _, polys, close_per_ring in geoms:
        poly_bounds.append(poly_bounds[-1] + len(polys))
        ci = 0
        for poly in polys:
            ring_bounds_polys.append(ring_bounds_polys[-1] + len(poly))
            for ring in poly:
                pt_bounds.append(pt_bounds[-1] + len(ring))
                closes.append(close_per_ring[ci])
                ci += 1
                for x, y in ring:
                    xs.append(x)
                    ys.append(y)
    return format_polygon_wkts(
        is_multi,
        np.asarray(poly_bounds, np.int64),
        np.asarray(ring_bounds_polys, np.int64),
        np.asarray(pt_bounds, np.int64),
        np.asarray(closes, bool),
        np.asarray(xs, np.int64),
        np.asarray(ys, np.int64),
    ).to_pylist()


def test_format_matches_scalar_formatter_in_float_space():
    rng = random.Random(3)
    geoms = []
    for _ in range(120):
        n_polys = rng.randint(1, 3)
        is_multi = n_polys > 1 or rng.random() < 0.3
        polys = []
        closes = []
        for _ in range(n_polys):
            rings = []
            for _ in range(rng.randint(1, 3)):
                ring = [
                    (rng.randint(-(3 * 10**15), 9 * 10**15), rng.randint(-(3 * 10**15), 9 * 10**15))
                    for _ in range(rng.randint(1, 7))
                ]
                # no accidental closing dup
                if len(ring) > 1 and ring[0] == ring[-1]:
                    ring[-1] = (ring[-1][0] + 1, ring[-1][1])
                rings.append(ring)
                closes.append(len(ring) > 1)
            polys.append(rings)
        geoms.append((is_multi, polys, closes))

    got = _fmt_geoms(geoms)
    for (is_multi, polys, _), text in zip(geoms, got):
        fpolys = [[[(x / 1e10 if x else 0.0, y / 1e10 if y else 0.0) for x, y in ring] for ring in poly] for poly in polys]
        want = multipolygon_to_wkt(fpolys) if is_multi else polygon_to_wkt(fpolys[0])
        kind_w, coords_w = parse_wkt(want)
        kind_g, coords_g = parse_wkt(text)
        assert kind_g == kind_w
        assert coords_g == coords_w, (text, want)


def test_format_single_point_ring_no_close():
    got = _fmt_geoms([(False, [[[(5 * POW10, -5 * POW10)]]], [False])])
    assert got == ["POLYGON ((5 -5))"]


# -- round-4 fixes: per-row resilience + float-safety guard ------------------


def test_resilient_parse_isolates_bad_rows():
    from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient

    rng = random.Random(11)
    clean = [_random_poly_wkt(rng) for _ in range(40)]
    texts = list(clean)
    texts.insert(3, "POLYGON ((0 0 1, 1 0 1, 1 1 1))")  # 3D
    texts.insert(17, "POLYGON EMPTY")
    texts.insert(30, "POINT (1.5 -2.5)")  # passthrough, NOT a fallback
    parsed, fb = parse_polygons_batch_resilient(texts)
    assert fb == [3, 17]
    assert parsed.other_rows == [30]
    # every clean row parsed on the fast path, identically to an
    # all-clean batch of the same texts
    got = _batch_members(parsed)
    clean_idx = [i for i in range(len(texts)) if i not in (3, 17, 30)]
    assert list(parsed.rows) == clean_idx
    for fast_i, i in enumerate(clean_idx):
        assert got[fast_i] == _scalar_members(texts[i]), texts[i]


def test_resilient_parse_clean_batch_has_no_fallbacks():
    from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient

    rng = random.Random(13)
    texts = [_random_poly_wkt(rng) for _ in range(25)]
    parsed, fb = parse_polygons_batch_resilient(texts)
    assert fb == []
    assert parsed.rows.size == 25


def test_resilient_parse_all_bad():
    from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient

    parsed, fb = parse_polygons_batch_resilient(
        ["POLYGON EMPTY", "POLYGON ((0 0 1, 1 0 1, 1 1 1))"]
    )
    assert fb == [0, 1]
    assert parsed.rows.size == 0


def test_float_representable_overflow_guard():
    from texel_spark.functions.wkt_batch import _float_representable

    # safely-representable big value passes (rounded, not raised)
    ok = np.array([(1 << 62) + 12345], dtype=np.int64)
    out = _float_representable(ok)
    assert out[0] == np.int64(np.float64(ok[0]))
    # within 512 of 2^63: float64 rounds to 2^63, back-cast undefined
    with pytest.raises(ValueError, match="float64-safe"):
        _float_representable(np.array([(1 << 63) - 100], dtype=np.int64))
    with pytest.raises(ValueError, match="float64-safe"):
        _float_representable(np.array([-(1 << 63) + 100], dtype=np.int64))
