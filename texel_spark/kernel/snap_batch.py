"""Vectorized (numpy) batch snap kernel.

Same semantics as kernel.snap.snap_polygon (which re-creates the
reference's snap/pointindex packages, snap.go:43-155 and
pointindex.go:110-345), but every hot phase - vertex insertion, the
per-segment quadtree descent, AND the ring-assembly tail - runs as numpy
array programs over ALL polygons of an Arrow batch at once:

* insertion: quantize every vertex of every polygon with one vectorized
  fixed-point pass, Morton-encode, and build per-level sorted occupancy
  arrays keyed by ``(poly_id << 2*level) | z`` (the batched equivalent of
  pointindex's per-level cell sets);
* descent: the (segment, cell) rows with one possible outcome are
  settled from the endpoints' deepest cells - a segment whose endpoints
  share a cell has that cell as its whole frontier, and a cell holding
  an endpoint and no other occupied deepest cell of its member has the
  endpoint's cell as its only child at every deeper level - so only the
  rest walk the levels (_descend_level, a few percent of the rows).  A
  step generates candidate children with the reference's quadrant case
  analysis (pointindex.go:264-321) as masked (n, 4) matrices, tests
  occupancy with searchsorted, and evaluates the segment x
  half-open-cell intersection predicate (pointindex.go:393-427,
  including the exclusive-edge/tip-touch exceptions and the
  intgeom.SegmentIntersect (x, x) quirk) on whole arrays;
* assembly (snap.addPointsAndSnap, snap.go:89-155): the per-segment
  point concatenation/dedup rules (snap.go:366-380), ring closure,
  backtrack detection (the _kmp_deduplicate fast-path test) and the
  winding classification (snap.go:494-526 incl. the colinear quirk) are
  all computed as per-level array passes; only rings that actually have
  snapping-created zigzags or self-tangency points (rare) drop to the
  scalar helpers, which stay the oracle for those behaviors; the rings
  they return are mapped back onto the level's centroid ints;
* combine (snap.go:93-155, 177-324): members with one outer ring and
  any number of inners take the columnar lane, which matches every
  inner to the outer with one even-odd ray cast over all (inner vertex,
  outer edge) pairs and emits geometry-table arrays; only multipolygon
  parts, rings left to the scalar helpers and outers equal to two or
  more inners go through the per-member dict lane.

Snapped coordinates are carried as int64 fixed-point arrays end-to-end,
and every ring leaves the kernel as a handle into them, so the Spark
operator emits WKT text digit-exactly without per-point Python
(functions/wkt_batch.py); float views (int / 1e10, identical to
intgeom.ToGeomOrd) are used wherever the scalar kernel compares floats,
so equality/winding decisions are bit-for-bit the scalar kernel's.

The scalar kernel stays as the oracle: tests/test_snap_batch.py runs the
snap stage's batch entry (operators.snap_tiles._process_batch, the only
caller of snap_flat_batch in the package) against it on every reference
golden case and on random polygons.
"""

from __future__ import annotations

import numpy as np

from ..functions.wkt_batch import _exclusive_cumsum
from ..grid import morton
from ..grid.fixedpoint import go_div
from .pointindex import VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION, OutsideGridError
from .snap import (
    _cleanup_new_ring,
    _dedupe_inners_outers,
    _match_inners_to_polygons,
    snap_polygon,
)

_POW10F = 1e10  # == math.Pow(10, 10), exactly representable
_HASH_C1 = np.uint64(0x9E3779B97F4A7C15)
_HASH_C2 = np.uint64(0xBF58476D1CE4E5B9)

# per-(level, ring) status codes
_FAST = 0
_PL = 1  # collapsed to < 3 points
_SCALAR = 2  # backtracks or self-tangency: scalar helpers decide


def _go_div_np(a: np.ndarray, b: int) -> np.ndarray:
    """Vectorized Go int64 division (truncate toward zero), b > 0."""
    return np.where(a >= 0, a // b, -((-a) // b))


def line_intersects_np(p1x, p1y, p2x, p2y, minx, miny, maxx, maxy):
    """Vectorized port of pointindex.lineIntersects (pointindex.go:393-427).

    All inputs are int64 arrays (fixed-point); the segment x edge
    intersection runs on their float projections exactly like the scalar
    kernel (intgeom.SegmentIntersect's parametric ua/ub form including
    the (x, x) returned-point quirk, intgeom.go:57-61).
    """
    res = ((minx <= p1x) & (p1x < maxx) & (miny <= p1y) & (p1y < maxy)) | (
        (minx <= p2x) & (p2x < maxx) & (miny <= p2y) & (p2y < maxy)
    )
    todo = np.flatnonzero(~res)
    if todo.size == 0:
        return res
    # the edge tests only matter where no endpoint is contained
    p1x, p1y, p2x, p2y = p1x[todo], p1y[todo], p2x[todo], p2y[todo]
    minx = minx[todo] if np.ndim(minx) else minx
    miny = miny[todo] if np.ndim(miny) else miny
    maxx = maxx[todo] if np.ndim(maxx) else maxx
    maxy = maxy[todo] if np.ndim(maxy) else maxy
    sub = np.zeros(todo.size, dtype=bool)
    x1 = p1x / _POW10F
    y1 = p1y / _POW10F
    x2 = p2x / _POW10F
    y2 = p2y / _POW10F
    fminx = minx / _POW10F
    fminy = miny / _POW10F
    fmaxx = maxx / _POW10F
    fmaxy = maxy / _POW10F
    # clockwise edges: bottom, right, top, left (intgeom/extent.go:44-73);
    # right (1) and top (2) are the exclusive ones
    edges = (
        (fminx, fminy, fmaxx, fminy),
        (fmaxx, fminy, fmaxx, fmaxy),
        (fmaxx, fmaxy, fminx, fmaxy),
        (fminx, fmaxy, fminx, fminy),
    )
    dx = x2 - x1
    dy = y2 - y1
    for i, (x3, y3, x4, y4) in enumerate(edges):
        ex = x4 - x3
        ey = y4 - y3
        denom = ey * dx - ex * dy
        nz = denom != 0.0
        with np.errstate(divide="ignore", invalid="ignore"):
            ua = (ex * (y1 - y3) - ey * (x1 - x3)) / denom
            ub = (dx * (y1 - y3) - dy * (x1 - x3)) / denom
            ok = nz & (ua >= 0.0) & (ua <= 1.0) & (ub >= 0.0) & (ub <= 1.0)
            px = x1 + ua * dx
        # reference quirk: ordinate 0 used for both axes (intgeom.go:59)
        ipx = (np.where(ok, px, 0.0) * _POW10F).astype(np.int64)
        if i in (1, 2):  # exclusive edge: tip-of-line touch doesn't count
            skip = ((p1x == ipx) & (p1y == ipx)) | ((p2x == ipx) & (p2y == ipx))
            hit = ok & ~skip
        else:
            # inclusive edge: touch at the exclusive tip doesn't count
            if i == 0:
                tipx, tipy = maxx, miny
            else:
                tipx, tipy = minx, maxy
            p1_tip = (p1x == tipx) & (p1y == tipy)
            p2_tip = (p2x == tipx) & (p2y == tipy)
            hit = ok & ~(p1_tip | p2_tip)
            # collinear overlap on the inclusive edge (pointindex.go:467-490)
            if i == 0:
                on = (p1y == miny) & (p2y == miny) & (p1x != p2x)
                b1 = (p1x >= minx) & (p1x <= maxx) & ~p1_tip
                b2 = (p2x >= minx) & (p2x <= maxx) & ~p2_tip
            else:
                on = (p1x == minx) & (p2x == minx) & (p1y != p2y)
                b1 = (p1y >= miny) & (p1y <= maxy) & ~p1_tip
                b2 = (p2y >= miny) & (p2y <= maxy) & ~p2_tip
            hit = hit | (~ok & on & (b1 | b2))
        sub = sub | hit
    res[todo] = sub
    return res


class BatchSnapStore:
    """Compact snapped-point arrays shared by every ring of a batch.  A
    ring handle is ``(a, b, rev)``: points ``kx/ky[a:b]`` (int64
    fixed-point), emitted in reverse order when ``rev``.  ``origin`` and
    ``spans`` are the grid's int root-extent corner and per-level cell
    span (pointindex.go:183-198)."""

    __slots__ = ("kx", "ky", "total", "origin", "spans")

    def __init__(self, tms, deepest_level: int):
        int_extent = tms.int_root_extent(0)
        deepest_res = go_div(int_extent[2] - int_extent[0], 1 << deepest_level)
        self.origin = np.asarray(int_extent[:2], dtype=np.int64)
        self.spans = [(1 << (deepest_level - lv)) * deepest_res for lv in range(deepest_level + 1)]
        self.kx = []
        self.ky = []
        self.total = 0

    def append(self, kx, ky) -> int:
        """Append one compact block; returns its global base offset."""
        base = self.total
        self.kx.append(kx)
        self.ky.append(ky)
        self.total += kx.size
        return base

    def ring_handle(self, ring, level: int) -> tuple:
        """Append a ring of float points (a scalar helper's output, every
        point a snapped centroid of ``level``) and return its handle.
        Each point maps to the nearest centroid int of the level,
        ``origin + span//2 + i*span``, whose float view ``int / 1e10``
        must be the point itself."""
        span = self.spans[level]
        pts = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
        c0 = self.origin + (span >> 1)
        k = c0 + np.rint((pts * _POW10F - c0) / span).astype(np.int64) * span
        if not (k / _POW10F == pts).all():
            raise RuntimeError(f"ring point is not a level-{level} cell centroid: {ring}")
        base = self.append(k[:, 0].copy(), k[:, 1].copy())
        return (base, base + k.shape[0], False)

    def finish(self):
        self.kx = np.concatenate(self.kx) if self.kx else np.empty(0, np.int64)
        self.ky = np.concatenate(self.ky) if self.ky else np.empty(0, np.int64)


def _ring_floats(fx, fy, a: int, b: int, rev: bool):
    pts = list(zip(fx[a:b].tolist(), fy[a:b].tolist()))
    return pts[::-1] if rev else pts


def snap_flat_batch(
    xy,
    ring_member,
    ring_start,
    ring_len,
    n_members,
    tms,
    tm_ids,
    config,
    need_dicts=None,
    collect_columnar=False,
):
    """Core batch kernel over flat arrays.

    xy: (n_v, 2) float64; rings are contiguous vertex spans, members
    contiguous ring spans.  Returns (results, store, columnar):
    results[m] = {tm_id: [poly]} where each poly is a list of ring
    handles (a, b, rev) into ``store``; rings the scalar helpers build
    are appended to ``store`` too (BatchSnapStore.ring_handle), so a
    result never holds float points.

    With ``collect_columnar``, members with one outer ring whose rings
    all take the fast path (_columnar_level; the overwhelmingly common
    case, holed or not) skip the per-member dict entirely: results[m] is
    None and their output lands in ``columnar``, a geometry table of
    arrays - (member, tm_id, n_polys) per geometry, rings per polygon,
    (a, b, rev) per ring - with zero per-member Python.  ``need_dicts``
    (bool per member) forces the dict path for members the caller must
    merge (multipolygon parts).  The snap stage
    (operators.snap_tiles._process_batch) appends ``columnar`` to its
    own geometry table; perfbench's kernel replay counts the None
    entries of ``results`` as the columnar share."""
    deepest_id = max(tm_ids)
    level_diff = tms.level_diff(VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION)
    deepest_level = deepest_id + level_diff
    tm_ids_by_level = {tm_id + level_diff: tm_id for tm_id in tm_ids}
    levels = sorted(tm_ids_by_level)

    results: list = [None] * n_members
    store = BatchSnapStore(tms, deepest_level)
    col_parts: list = []
    mr_bounds = np.searchsorted(ring_member, np.arange(n_members + 1))

    if 2 * deepest_level > 60:
        # composite occupancy keys (member << 2*level) | z would overflow
        # int64 (ADVICE r2): the scalar kernel (arbitrary-precision
        # Python ints) handles any depth - route every member through it
        for m in range(n_members):
            rings = [
                [tuple(p) for p in xy[ring_start[r] : ring_start[r] + ring_len[r]]]
                for r in range(int(mr_bounds[m]), int(mr_bounds[m + 1]))
            ]
            results[m] = {
                tm: [[store.ring_handle(r, tm + level_diff) for r in poly] for poly in polys]
                for tm, polys in snap_polygon(rings, tms, list(tm_ids), config).items()
            }
        store.finish()
        return results, store, _NO_GEOMETRIES

    # members per chunk so (member << 2*deepest_level) | z fits in int64
    max_chunk = max(1, 1 << max(0, 60 - 2 * deepest_level))
    for m0 in range(0, n_members, max_chunk):
        m1 = min(n_members, m0 + max_chunk)
        r0, r1 = int(mr_bounds[m0]), int(mr_bounds[m1])
        if r0 == r1:
            for m in range(m0, m1):
                results[m] = {}
            continue
        v0 = int(ring_start[r0])
        v1 = int(ring_start[r1 - 1] + ring_len[r1 - 1])
        _snap_chunk(
            xy[v0:v1],
            ring_member[r0:r1] - m0,
            ring_start[r0:r1] - v0,
            ring_len[r0:r1],
            m1 - m0,
            results,
            m0,
            store,
            tms,
            deepest_level,
            levels,
            tm_ids_by_level,
            config,
            need_dicts[m0:m1] if need_dicts is not None else None,
            col_parts if collect_columnar else None,
        )
    store.finish()
    columnar = tuple(map(np.concatenate, zip(*col_parts))) if col_parts else _NO_GEOMETRIES
    return results, store, columnar


def _rightmost_lowest_det(x, y, start, end):
    """Winding determinant of each point span [start, end) of ``x``/``y``
    at its rightmost-lowest vertex (min y, then max x, then first index)
    and that vertex's two ring neighbours (snap.go:406-417, 494-526):
    > 0 counter-clockwise, < 0 clockwise.  Spans of fewer than 3 points
    read 0.0, the colinear value (winding_of)."""
    det = np.zeros(start.size, dtype=np.float64)
    w = np.flatnonzero(end - start >= 3)
    if w.size == 0:
        return det
    s, e = start[w], end[w]
    lens = e - s
    span_off = _exclusive_cumsum(lens)
    sid = np.repeat(np.arange(w.size, dtype=np.int64), lens)
    idx = s[sid] + np.arange(int(span_off[-1]), dtype=np.int64) - span_off[:-1][sid]
    order = np.lexsort((idx, -x[idx], y[idx], sid))
    rmli = idx[order[span_off[:-1]]]
    a_idx = np.where(rmli > s, rmli - 1, e - 1)
    c_idx = np.where(rmli < e - 1, rmli + 1, s)
    det[w] = (x[rmli] - x[a_idx]) * (y[c_idx] - y[a_idx]) - (x[c_idx] - x[a_idx]) * (y[rmli] - y[a_idx])
    return det


def _correct_input_winding(xy, ring_start, ring_len, ring_local):
    """Vectorized snap.go:406-417 over the input rings: reverse any ring
    whose winding is wrong for its position (outer=CCW, inner=CW;
    colinear counts as correct), exactly like _ensure_correct_winding_order."""
    det = _rightmost_lowest_det(xy[:, 0], xy[:, 1], ring_start, ring_start + ring_len)
    # outer (ring_local == 0) should be CCW (det > 0), inners CW (det < 0);
    # det == 0 (colinear) always counts as correct (snap.go:406-417 quirk)
    wrong = np.where(ring_local == 0, det < 0, det > 0)
    if not wrong.any():
        return xy
    w = np.flatnonzero(wrong)
    lens_w = ring_len[w]
    total = int(lens_w.sum())
    rep = np.repeat(np.arange(w.size, dtype=np.int64), lens_w)
    p = np.arange(total, dtype=np.int64) - _exclusive_cumsum(lens_w)[:-1][rep]
    starts_w = ring_start[w][rep]
    out = xy.copy()
    out[starts_w + p] = xy[starts_w + lens_w[rep] - 1 - p]
    return out


def _bit_length(a: np.ndarray) -> np.ndarray:
    """int.bit_length of each non-negative int64 of ``a``."""
    a = a.copy()
    n = np.zeros(a.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = a >= (1 << s)
        n[big] += s
        a[big] >>= s
    return n + (a > 0)


def _descend_level(seg, x, y, z, bounds, ends, seg_poly, keys, lv, e0, e1, span):
    """One level of the per-segment quadtree descent (pointindex.go:264-321).

    Frontier row i is segment ``seg[i]`` (endpoints from ``ends``, the
    int64 arrays p1x, p1y, p2x, p2y) x the level-``lv - 1`` cell with
    index ``x[i], y[i]``, Morton code ``z[i]`` and extent ``bounds``.
    Returns the (seg, x, y, z) rows of the accepted level-``lv`` children
    (cells of ``span``), row by row in the reference's order: candidate
    children come from the quadrant case analysis as masked (n, 4)
    matrices, occupancy is a searchsorted membership test in ``keys``
    (the level's sorted ``(member << 2*lv) | z`` keys) and the rest go
    through line_intersects_np."""
    minx, miny, maxx, maxy = bounds
    cx = minx + span  # the parent's centroid: its children are half its span
    cy = miny + span
    p1x, p1y, p2x, p2y = (e[seg] for e in ends)
    # infinite quadrant of each endpoint wrt the parent centroid
    # + half-open containment in the parent (pointindex.go:264-268)
    q1 = (p1x >= cx).astype(np.int64) | ((p1y >= cy).astype(np.int64) << 1)
    q2 = (p2x >= cx).astype(np.int64) | ((p2y >= cy).astype(np.int64) << 1)
    in1 = (minx <= p1x) & (p1x < maxx) & (miny <= p1y) & (p1y < maxy)
    in2 = (minx <= p2x) & (p2x < maxx) & (miny <= p2y) & (p2y < maxy)
    diff = q1 ^ q2
    same = diff == 0
    adj = (diff == 1) | (diff == 2)
    diag = diff == 3
    both = in1 & in2
    n = seg.size
    # candidate quadrants in the scalar to_check order
    qc = np.empty((n, 4), dtype=np.int64)
    qc[:, 0] = q1
    qc[:, 1] = np.where(adj, q2, q1 ^ 1)
    qc[:, 2] = q1 ^ 2
    qc[:, 3] = q2
    valid = np.empty((n, 4), dtype=bool)
    valid[:, 0] = True
    valid[:, 1] = ~same
    valid[:, 2] = diag
    valid[:, 3] = diag
    certain = np.zeros((n, 4), dtype=bool)
    certain[:, 0] = np.where(diag, in1, both)
    certain[:, 1] = np.where(adj, both, False)
    certain[:, 3] = in2
    # work compressed: only valid candidates are occupancy-checked, only
    # occupied non-certain ones are intersection-tested, and the child
    # cells are materialized for accepted rows alone (candidate order =
    # row-major ravel order, preserved throughout)
    val_idx = np.flatnonzero(valid.ravel())
    rows = val_idx >> 2
    qcv = qc.ravel()[val_idx]
    pkeys = (seg_poly[seg[rows]] << np.int64(2 * lv)) | (z[rows] << 2) | qcv
    idx = np.searchsorted(keys, pkeys)
    np.clip(idx, 0, max(keys.size - 1, 0), out=idx)
    occ = (keys[idx] == pkeys) if keys.size else np.zeros(pkeys.size, dtype=bool)
    live_pos = val_idx[occ]
    rows_l = rows[occ]
    cert_l = certain.ravel()[live_pos]
    acc = cert_l.copy()
    need = ~cert_l
    if need.any():
        qcl = qcv[occ][need]
        rl = rows_l[need]
        minxn = e0 + ((x[rl] << 1) | (qcl & 1)) * span
        minyn = e1 + ((y[rl] << 1) | (qcl >> 1)) * span
        acc[need] = line_intersects_np(
            p1x[rl], p1y[rl], p2x[rl], p2y[rl], minxn, minyn, minxn + span, minyn + span
        )
    acc_full = np.zeros(n * 4, dtype=bool)
    acc_full[live_pos[acc]] = True
    # mutex pair: the second of (q1^01, q1^10) is skipped when the first
    # was appended (pointindex.go:300-321)
    acc_full[2::4] &= ~(diag & acc_full[1::4])
    keep_idx = np.flatnonzero(acc_full)
    rows_k = keep_idx >> 2
    qck = qc.ravel()[keep_idx]
    return (
        seg[rows_k],
        (x[rows_k] << 1) | (qck & 1),
        (y[rows_k] << 1) | (qck >> 1),
        (z[rows_k] << 2) | qck,
    )


def _snap_chunk(
    xy,
    ring_member,
    ring_start,
    ring_len,
    n_members,
    results,
    res_offset,
    store: BatchSnapStore,
    tms,
    deepest_level,
    levels,
    tm_ids_by_level,
    config,
    need_dicts=None,
    col_parts=None,
):
    int_extent = tms.int_root_extent(0)
    ext0, ext1 = int_extent[0], int_extent[1]
    deepest_size = 1 << deepest_level
    spans = store.spans
    deepest_res = spans[deepest_level]
    halves = [s >> 1 for s in spans]
    root_cx = ext0 + halves[0]
    root_cy = ext1 + halves[0]

    n_rings = ring_start.size
    mr_bounds = np.searchsorted(ring_member, np.arange(n_members + 1))
    ring_local = np.arange(n_rings, dtype=np.int64) - mr_bounds[ring_member]

    # winding-correct the input rings (snap.go:50,93), then quantize
    xy = _correct_input_winding(xy, ring_start, ring_len, ring_local)
    n_v = xy.shape[0]
    vring = np.repeat(np.arange(n_rings, dtype=np.int64), ring_len)
    vpoly = ring_member[vring]

    # -- vectorized insertion (pointindex.go:110-181) ------------------------
    iv = (xy * _POW10F).astype(np.int64)
    ivx, ivy = iv[:, 0], iv[:, 1]
    dxs = _go_div_np(ivx - ext0, deepest_res)
    dys = _go_div_np(ivy - ext1, deepest_res)
    bad = (dxs < 0) | (dys < 0) | (dxs > deepest_size - 1) | (dys > deepest_size - 1)
    dead = np.zeros(n_members, dtype=bool)
    if bad.any():
        if not config.ignore_outside_grid:
            first = int(np.flatnonzero(bad)[0])
            raise OutsideGridError(int(dxs[first]), int(dys[first]), deepest_size)
        dead[np.unique(vpoly[bad])] = True
        for pi in np.flatnonzero(dead):
            results[res_offset + int(pi)] = {}
    alive_v = ~dead[vpoly]
    if not alive_v.any():
        for pi in range(n_members):
            if results[res_offset + pi] is None:
                results[res_offset + pi] = {}
        return

    zv = np.zeros(n_v, dtype=np.int64)
    zv[alive_v] = morton.to_z_np(dxs[alive_v], dys[alive_v])
    vkey = (vpoly << (2 * deepest_level)) | zv
    key_deep = np.sort(vkey[alive_v])
    level_keys: dict[int, np.ndarray] = {}
    for lv in range(deepest_level, -1, -1):
        arr = key_deep >> (2 * (deepest_level - lv))
        # already sorted (right shift is monotone); drop consecutive dupes
        arr = arr[np.concatenate(([True], arr[1:] != arr[:-1]))]
        level_keys[lv] = arr

    # -- segment arrays: segment i = (vertex i, vertex next_idx[i]) ----------
    next_idx = np.arange(1, n_v + 1, dtype=np.int64)
    ring_end = ring_start + ring_len - 1
    next_idx[ring_end] = ring_start
    n_segs = n_v
    ends = (ivx, ivy, ivx[next_idx], ivy[next_idx])
    dx2, dy2 = dxs[next_idx], dys[next_idx]

    # -- descent (pointindex.go:200-345) -------------------------------------
    # Most (segment, cell) rows of the reference's frontier have one
    # possible outcome, so they are settled from the endpoints' deepest
    # cells and only the rest walk the levels (_descend_level).  Both
    # rules need an endpoint inside its own deepest cell ("exact": go_div
    # truncates a point just below the grid origin into cell 0); segments
    # with an inexact endpoint walk from the root.
    # * Before divergence: while both endpoints share their cell, that cell
    #   is the whole frontier (q1 == q2, certain, occupied by p1), so a
    #   segment joins the walk below ``shared``, the deepest shared level.
    # * After isolation: a cell that holds an endpoint and no other
    #   occupied deepest cell of its member has one child per level, the
    #   endpoint's (slot 0 for p1, the last valid slot for p2, never the
    #   mutex slot), accepted since it contains the endpoint.
    # p1's cell is always first in a segment's frontier and p2's last, so a
    # level is recorded as [shared] + [settled p1] + [walked] + [settled p2]
    # and the stable argsort by segment below yields the reference order.
    exact = alive_v & (ivx >= ext0) & (ivy >= ext1)
    seg_exact = exact & exact[next_idx]
    live = seg_exact.copy()
    loose = np.flatnonzero(alive_v & ~seg_exact)
    if loose.size:
        live[loose] = line_intersects_np(*(e[loose] for e in ends), *map(np.int64, int_extent))
    shared = np.where(
        seg_exact, deepest_level - _bit_length((dxs ^ dx2) | (dys ^ dy2)), np.where(live, 0, -1)
    )
    # isolation level of each occupied deepest cell: 1 + the deepest level
    # it shares with another cell of its member (Morton order puts that
    # cell next to it); -1 when it shares no level
    occ = level_keys[deepest_level]
    near = np.full(occ.size, -1, dtype=np.int64)
    if occ.size > 1:
        s = np.maximum(deepest_level - (_bit_length(occ[1:] ^ occ[:-1]) + 1) // 2, -1)
        near[1:] = s
        near[:-1] = np.maximum(near[:-1], s)
    iso_v = np.full(n_v, deepest_level + 1, dtype=np.int64)
    iso_v[exact] = near[np.searchsorted(occ, vkey[exact])] + 1
    iso1 = np.where(seg_exact, iso_v, deepest_level + 1)
    iso2 = np.where(seg_exact, iso_v[next_idx], deepest_level + 1)

    level_set = set(levels)
    e0 = np.int64(ext0)
    e1 = np.int64(ext1)
    recorded: dict[int, tuple] = {}
    if 0 in level_set:
        whole = np.flatnonzero(shared >= 0)
        recorded[0] = (whole, np.full(whole.size, root_cx), np.full(whole.size, root_cy))
    f_seg = f_x = f_y = f_z = np.empty(0, dtype=np.int64)
    for lv in range(1, deepest_level + 1):
        sh = deepest_level - lv
        join = np.flatnonzero(shared == lv - 1)
        if join.size:
            f_seg = np.concatenate((f_seg, join))
            f_x = np.concatenate((f_x, dxs[join] >> (sh + 1)))
            f_y = np.concatenate((f_y, dys[join] >> (sh + 1)))
            f_z = np.concatenate((f_z, zv[join] >> (2 * sh + 2)))
        if f_seg.size:
            if lv == 1:  # the root keeps its int extent
                bounds = tuple(map(np.int64, int_extent))
            else:
                minx = e0 + f_x * spans[lv - 1]
                miny = e1 + f_y * spans[lv - 1]
                bounds = (minx, miny, minx + spans[lv - 1], miny + spans[lv - 1])
            f_seg, f_x, f_y, f_z = _descend_level(
                f_seg, f_x, f_y, f_z, bounds, ends, vpoly, level_keys[lv], lv, e0, e1, spans[lv]
            )
            settled = ((iso1[f_seg] <= lv) & (f_x == dxs[f_seg] >> sh) & (f_y == dys[f_seg] >> sh)) | (
                (iso2[f_seg] <= lv) & (f_x == dx2[f_seg] >> sh) & (f_y == dy2[f_seg] >> sh)
            )
            if settled.any():
                walk = ~settled
                f_seg, f_x, f_y, f_z = f_seg[walk], f_x[walk], f_y[walk], f_z[walk]
        if lv in level_set:
            whole = np.flatnonzero(shared >= lv)
            first = np.flatnonzero((shared >= 0) & (shared < lv) & (iso1 <= lv))
            last = np.flatnonzero((shared >= 0) & (shared < lv) & (iso2 <= lv))
            x = np.concatenate((dxs[whole] >> sh, dxs[first] >> sh, f_x, dx2[last] >> sh))
            y = np.concatenate((dys[whole] >> sh, dys[first] >> sh, f_y, dy2[last] >> sh))
            recorded[lv] = (
                np.concatenate((whole, first, f_seg, last)),
                e0 + x * spans[lv] + halves[lv],
                e1 + y * spans[lv] + halves[lv],
            )

    # -- per-level assembly arrays + hit-multiple maps ------------------------
    hit_maps: dict[tuple[int, int], dict] = {}  # (level, ring gid) -> {int vertex: (ring_local,)}
    lvl: dict[int, dict] = {}
    seg_arange = np.arange(n_segs + 1, dtype=np.int64)
    alive_seg = alive_v  # segment id == vertex id
    for lv_i in levels:
        seg, cx, cy = recorded[lv_i]
        order = np.argsort(seg, kind="stable")
        seg_s = seg[order]
        ix = cx[order]
        iy = cy[order]
        starts = np.searchsorted(seg_s, seg_arange)
        # hit-multiple, vectorized: a vertex is a self-tangency for ring R
        # iff R hits it >= 2 times over the non-first points of R's
        # segments (pointindex.go:433-448 accumulates hitOnce/hitMultiple
        # sequentially, but membership of R in hitMultiple[v] - the only
        # thing ringSplit reads - depends only on R's own hit count)
        if seg_s.size:
            first_pos = starts[:-1][starts[:-1] < starts[1:]]
            rest = np.ones(seg_s.size, dtype=bool)
            rest[first_pos] = False
            if rest.any():
                rr = vring[seg_s[rest]]
                rx = ix[rest]
                ry = iy[rest]
                g = np.lexsort((ry, rx, rr))
                rr, rx, ry = rr[g], rx[g], ry[g]
                new_grp = np.concatenate(
                    ([True], (rr[1:] != rr[:-1]) | (rx[1:] != rx[:-1]) | (ry[1:] != ry[:-1]))
                )
                grp = np.cumsum(new_grp) - 1
                counts = np.bincount(grp)
                reps = np.flatnonzero(new_grp)[counts >= 2]
                for i in reps.tolist():
                    gid = int(rr[i])
                    hit_maps.setdefault((lv_i, gid), {})[(int(rx[i]), int(ry[i]))] = (
                        int(ring_local[gid]),
                    )
        lvl[lv_i] = _assembly_arrays(
            lv_i, seg_s, ix, iy, starts, vring, ring_start, ring_len, alive_seg, hit_maps, store
        )

    # -- columnar lane: members with one outer ring and k >= 0 inners need
    #    no per-member Python unless a ring is left to the scalar helpers or
    #    the scalar dedupe could delete rings (_dict_members) --------------
    keep_pl = config.keep_points_and_lines
    rev_cfg = bool(config.reverse_winding_order)
    columnar_sel = np.zeros(n_members, dtype=bool)
    if col_parts is not None:
        elig = ~dead & (mr_bounds[1:] > mr_bounds[:-1])
        if need_dicts is not None:
            elig &= ~need_dicts
        for lv_i in levels:
            elig &= ~_dict_members(lvl[lv_i], ring_member, mr_bounds, n_members)
        if elig.any():
            for lv_i in levels:
                col_parts.append(
                    _columnar_level(
                        lvl[lv_i], elig, ring_member, ring_local, mr_bounds, keep_pl, rev_cfg,
                        res_offset, tm_ids_by_level[lv_i],
                    )
                )
            columnar_sel = elig

    # -- per-member combine (light Python over ring descriptors) --------------
    for pi in range(n_members):
        if dead[pi] or columnar_sel[pi]:
            continue
        r0 = int(mr_bounds[pi])
        r1 = int(mr_bounds[pi + 1])
        res: dict[int, list] = {}
        for lv_i in levels:
            out = _combine_member_level(lvl[lv_i], r0, r1, lv_i, hit_maps, keep_pl, rev_cfg, store)
            if out is not None:
                res[tm_ids_by_level[lv_i]] = out
        results[res_offset + pi] = res


def _assembly_arrays(lv_i, seg_s, ix, iy, starts, vring, ring_start, ring_len, alive_seg, hit_maps, store):
    """Vectorized snap.go:366-403 pre-computation for one level.

    Produces, per ring: compact kept-point span [cs, ce2) (store-global
    offsets), status (_FAST/_PL/_SCALAR) and the winding determinant (for
    the _classify_rings fast path).  The dedupe prefilter's content hash
    is computed later, only for members with more than one ring
    (_combine_member_level)."""
    n_segs = vring.size
    n_rings = ring_start.size
    cnt = starts[1:] - starts[:-1]
    fx = ix / _POW10F
    fy = iy / _POW10F

    notfirst = np.arange(n_segs, dtype=np.int64) != ring_start[vring]
    # cleanupNewVertices (snap.go:366-380): drop each segment's last point
    # when it has > 1, drop its first when it equals the running tail
    # (= the tail-adjusted last point of the previous segment: even when
    # that point was itself dropped, its VALUE equals the running tail)
    keep = np.ones(seg_s.size, dtype=bool)
    multi = cnt > 1
    keep[starts[1:][multi] - 1] = False
    cand = np.flatnonzero(notfirst & (cnt > 0))
    if cand.size:
        cand = cand[cnt[cand - 1] > 0]
    if cand.size:
        first_pos = starts[:-1][cand]
        prev_last = starts[cand] - 1 - (cnt[cand - 1] > 1)
        eq = (fx[first_pos] == fx[prev_last]) & (fy[first_pos] == fy[prev_last])
        keep[first_pos[eq]] = False
    # a live segment's first endpoint is a vertex of its own member, so
    # that endpoint's cell is occupied at every level and, containing the
    # endpoint, is kept by every descent step: the segment snaps to at
    # least one point (the scalar kernel raises in _cleanup_new_vertices)
    if ((cnt == 0) & alive_seg).any():
        raise RuntimeError(
            f"level {lv_i}: a live segment snapped to no point, but its first "
            "endpoint's cell is occupied and kept at every level"
        )

    kcum = _exclusive_cumsum(keep.astype(np.int64))
    kidx = np.flatnonzero(keep)
    kx = ix[kidx]
    ky = iy[kidx]
    kfx = fx[kidx]
    kfy = fy[kidx]
    nk = kidx.size

    vs = starts[ring_start]
    ve = starts[ring_start + ring_len]
    cs = kcum[vs]
    ce = kcum[ve]
    kc = ce - cs
    last = np.maximum(ce - 1, 0)
    first = np.minimum(cs, last)
    closure = (kc > 1) & (kfx[first] == kfx[last]) & (kfy[first] == kfy[last]) if nk else np.zeros(n_rings, bool)
    ce2 = ce - closure
    kc2 = kc - closure

    ring_of_kept = np.repeat(np.arange(n_rings, dtype=np.int64), kc)

    # backtrack (the _kmp_deduplicate fast-path trigger) on [cs, ce2)
    bt_ring = np.zeros(n_rings, dtype=bool)
    if nk > 2:
        i3 = np.arange(2, nk, dtype=np.int64)
        eq2 = (kfx[2:] == kfx[:-2]) & (kfy[2:] == kfy[:-2])
        rk = ring_of_kept[i3]
        ok = eq2 & (rk == ring_of_kept[i3 - 2]) & (i3 < ce2[rk])
        if ok.any():
            bt_ring[np.unique(rk[ok])] = True

    # winding (_classify_rings fast path, snap.go:494-526) on [cs, ce2)
    det = _rightmost_lowest_det(kfx, kfy, cs, ce2)

    status = np.full(n_rings, _FAST, dtype=np.int8)
    status[kc2 < 3] = _PL
    hm_flag = np.zeros(n_rings, dtype=bool)
    for (lv_h, gid) in hit_maps:
        if lv_h == lv_i:
            hm_flag[gid] = True
    status[bt_ring | hm_flag] = _SCALAR

    base = store.append(kx, ky)
    return {
        "cs": cs + base,
        "ce": ce + base,
        "ce2": ce2 + base,
        "status": status,
        "det": det,
        "fx": kfx,
        "fy": kfy,
        "base": base,
    }


def _point_hashes(fx, fy):
    """Per-point mix of the float bit patterns; a ring's content hash for
    the dedupe prefilter is its sum over the ring (uint64, wrapping), so
    it is rotation and reversal invariant."""
    return fx.view(np.uint64) * _HASH_C1 + fy.view(np.uint64) * _HASH_C2


def _ring_hashes(L, rings):
    """Content hash of each fast-path ring's span [cs, ce2)."""
    base = L["base"]
    cum = np.concatenate((np.zeros(1, dtype=np.uint64), np.cumsum(_point_hashes(L["fx"], L["fy"]), dtype=np.uint64)))
    return cum[L["ce2"][rings] - base] - cum[L["cs"][rings] - base]


def _dict_members(L, ring_member, mr_bounds, n_members):
    """Members the columnar lane cannot take at this level: those with a
    ring left to the scalar helpers (_SCALAR), and those whose fast-path
    outer has the (length, hash) signature of two or more fast-path
    inners.  Only such a member can lose rings to the scalar dedupe
    (snap.go:177-249): a group of equal rings deletes some only when it
    holds an outer and more inners than outers, and rings of unequal
    signature are unequal."""
    status = L["status"]
    out = np.bincount(ring_member[status == _SCALAR], minlength=n_members) > 0
    fast = status == _FAST
    outer = mr_bounds[:-1][ring_member]
    r = np.flatnonzero(fast & fast[outer] & (np.arange(ring_member.size) != outer))
    if r.size > 1:
        o = outer[r]
        ln = L["ce2"] - L["cs"]
        same = (ln[r] == ln[o]) & (_ring_hashes(L, r) == _ring_hashes(L, o))
        out |= np.bincount(ring_member[r[same]], minlength=n_members) >= 2
    return out


def _columnar_level(L, elig, ring_member, ring_local, mr_bounds, keep_pl, rev_cfg, res_offset, tm_id):
    """One level of the columnar lane: snap.addPointsAndSnap's tail
    (snap.go:93-155, 277-324) for one-outer members, over all ``elig``
    members at once.  An inner with a vertex in the fast-path outer (or
    on it) joins the outer's polygon; every other fast-path inner becomes
    a reversed polygon of its own.  A collapsed (_PL) ring is dropped, and
    a collapsed outer kills the level, unless ``keep_pl``: then each
    collapsed ring follows as a polygon of its own, unreversed.  Returns
    the level's geometries as (member, tm_id, n_polys) per geometry,
    rings per polygon and (a, b, rev) per ring."""
    fast = L["status"] == _FAST
    outer = mr_bounds[:-1][ring_member]
    take = elig[ring_member]
    if not keep_pl:
        take &= fast & fast[outer]
    r = np.flatnonzero(take)
    if r.size == 0:
        return _NO_GEOMETRIES
    m = ring_member[r]
    local = ring_local[r]
    collapsed = ~fast[r]
    inner = (local > 0) & ~collapsed
    cs, ce2, det = L["cs"][r], L["ce2"][r], L["det"][r]
    rev = np.where(inner, det > 0, det < 0)
    # polygon 0 is the outer and its matched inners, in ring order; then
    # each turned inner, then each collapsed ring
    poly_key = np.where(collapsed, local + ring_member.size, 0)
    if inner.any():
        o = outer[r[inner]]
        matched = fast[o]
        if matched.any():
            base = L["base"]
            sub = np.flatnonzero(matched)
            matched[sub] = _inners_matched(
                L["fx"], L["fy"], L["cs"][o[sub]] - base, L["ce2"][o[sub]] - base,
                cs[inner][sub] - base, ce2[inner][sub] - base,
            )
        poly_key[inner] = np.where(matched, 0, local[inner])
        rev[inner] ^= ~matched
    rev = ~collapsed & (rev != rev_cfg)
    order = np.lexsort((poly_key, m))
    m, poly_key, cs, ce2, rev = m[order], poly_key[order], cs[order], ce2[order], rev[order]
    poly_start = np.flatnonzero(np.concatenate(([True], (m[1:] != m[:-1]) | (poly_key[1:] != poly_key[:-1]))))
    poly_m = m[poly_start]
    geom_start = np.flatnonzero(np.concatenate(([True], poly_m[1:] != poly_m[:-1])))
    return (
        poly_m[geom_start] + res_offset,
        np.full(geom_start.size, tm_id, dtype=np.int64),
        np.diff(np.append(geom_start, poly_m.size)),
        np.diff(np.append(poly_start, m.size)),
        cs,
        ce2,
        rev,
    )


def _inners_matched(fx, fy, o_start, o_end, i_start, i_end):
    """Whether inner ring i (points [i_start[i], i_end[i]) of ``fx``/``fy``)
    has a vertex inside its outer ring [o_start[i], o_end[i]) or on its
    boundary: geomfuncs.ring_contains (snap.go:343-363) for every (inner
    vertex, outer edge) pair at once, with _ray_intersect_np's float
    steps.  The even-odd parity and the boundary test read neither the
    outer's orientation nor its edge order."""
    n_in = i_end - i_start
    vid = np.repeat(np.arange(n_in.size, dtype=np.int64), n_in)
    v = i_start[vid] + np.arange(vid.size, dtype=np.int64) - _exclusive_cumsum(n_in)[:-1][vid]
    n_edges = (o_end - o_start)[vid]
    pid = np.repeat(np.arange(vid.size, dtype=np.int64), n_edges)
    k = np.arange(pid.size, dtype=np.int64) - _exclusive_cumsum(n_edges)[:-1][pid]
    o0 = o_start[vid][pid]
    s = o0 + k
    e = o0 + (k + 1) % n_edges[pid]
    hits, on = _ray_intersect_np(fx[v][pid], fy[v][pid], fx[s], fy[s], fx[e], fy[e])
    inside = (np.bincount(pid, on, vid.size) > 0) | (np.bincount(pid, hits, vid.size) % 2 == 1)
    return np.bincount(vid, inside, n_in.size) > 0


def _ray_intersect_np(px, py, sx, sy, ex, ey):
    """Vectorized geomfuncs.ray_intersect (geomhelp.go:30-88): the ray from
    each point (px, py) towards +x against the edge (sx, sy)-(ex, ey) ->
    (intersects, on_boundary), with the same float comparisons and
    nextafter nudges."""
    swap = sx > ex
    sx, ex = np.where(swap, ex, sx), np.where(swap, sx, ex)
    sy, ey = np.where(swap, ey, sy), np.where(swap, sy, ey)
    at_s = px == sx
    at_e = ~at_s & (px == ex)
    on = at_s & (py == sy)
    on |= at_s & (sx == ex) & (((sy > ey) & (sy >= py) & (py >= ey)) | ((ey > sy) & (ey >= py) & (py >= sy)))
    on |= at_e & (py == ey)
    px = np.where(at_s | at_e, np.nextafter(px, np.inf), px)
    rest = ~on & (px >= sx) & (px <= ex)
    top = np.maximum(sy, ey)
    bot = np.minimum(sy, ey)
    below = rest & (py < bot)
    mid = rest & (py <= top) & (py >= bot)
    # overflow reads inf, as in Python; x/0 arises only in rows decided above
    with np.errstate(all="ignore"):
        rs = (py - sy) / (px - sx)
        ds = (ey - sy) / (ex - sx)
    return below | (mid & (rs != ds) & (rs <= ds)), on | (mid & (rs == ds))


def _hash_tuple_ring(ring) -> int:
    """Content hash of a scalar-path ring (a list of float tuples) for the
    dedupe prefilter in _combine_member_level (_point_hashes summed)."""
    if not ring:
        return 0
    arr = np.asarray(ring, dtype=np.float64)
    return int(_point_hashes(arr[:, 0], arr[:, 1]).sum(dtype=np.uint64))


def _combine_member_level(L, r0, r1, lv_i, hit_maps, keep_pl, rev_cfg, store):
    """snap.addPointsAndSnap's per-ring tail (snap.go:93-155) for one
    (member, level) over the precomputed ring descriptors.

    Returns the polygons list for the level, or None when the level is
    dead for this member (outer ring collapsed, snap.go:97-99).  Rings
    the scalar helpers build (lists of float tuples) are appended to
    ``store`` at the end, so every returned ring is an (a, b, rev)
    handle."""
    status = L["status"]
    cs = L["cs"]
    ce = L["ce"]
    ce2 = L["ce2"]
    det = L["det"]
    fx = L["fx"]
    fy = L["fy"]
    base = L["base"]
    outers: list = []  # (a, b, rev) store handles or lists of float tuples
    inners: list = []
    pls: list = []
    for gid in range(r0, r1):
        ring_idx = gid - r0
        is_outer = ring_idx == 0
        st = status[gid]
        if st == _SCALAR:
            acc = _ring_floats(fx, fy, int(cs[gid]) - base, int(ce[gid]) - base, False)
            hm = hit_maps.get((lv_i, gid), _EMPTY_HITS)
            o, i, p = _cleanup_new_ring(acc, is_outer, hm, ring_idx)
            outers.extend(o)
            inners.extend(i)
            pls.extend(p)
        elif st == _PL:
            pls.append((int(cs[gid]), int(ce2[gid]), False))
        else:
            d = det[gid]
            if is_outer:
                outers.append((int(cs[gid]), int(ce2[gid]), bool(d < 0)))
            else:
                inners.append((int(cs[gid]), int(ce2[gid]), bool(d > 0)))
        if is_outer and not outers and (not keep_pl or not pls):
            return None

    def floats(r):
        return _ring_floats(fx, fy, r[0] - base, r[1] - base, r[2]) if isinstance(r, tuple) else r

    # dedupe equal rings across outers+inners (snap.go:177-249); hashes
    # are sums over the same floats the scalar compares, so hash-unique
    # rings are provably unequal and skip the scalar dedupe entirely
    n_all = len(outers) + len(inners)
    if n_all > 1:
        sigs = []
        for ring in outers + inners:
            if isinstance(ring, tuple):
                a, b = ring[0] - base, ring[1] - base
                sigs.append((b - a, int(_point_hashes(fx[a:b], fy[a:b]).sum(dtype=np.uint64))))
            else:
                sigs.append((len(ring), _hash_tuple_ring(ring)))
        if len(sigs) != len(set(sigs)):
            outers = [floats(r) for r in outers]
            inners = [floats(r) for r in inners]
            outers, inners = _dedupe_inners_outers(outers, inners)

    if inners:
        outers_m = [floats(r) for r in outers]
        inners_m = [floats(r) for r in inners]
        polygons = _match_inners_to_polygons([[o] for o in outers_m], inners_m, (r1 - r0) > 1)
    else:
        polygons = [[o] for o in outers]

    def handle(r):
        return r if isinstance(r, tuple) else store.ring_handle(r, lv_i)

    out = [[(a, b, rev != rev_cfg) for a, b, rev in map(handle, poly)] for poly in polygons]
    if keep_pl:
        out += [[handle(pl)] for pl in pls]
    return out or None


_EMPTY_HITS: dict = {}
# the columnar lane's geometry table with no rows
_NO_GEOMETRIES = (*(np.empty(0, dtype=np.int64) for _ in range(6)), np.empty(0, dtype=bool))
