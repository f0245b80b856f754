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
* descent: one frontier of (segment, cell) rows per level; candidate
  children are generated with the reference's quadrant case analysis
  (pointindex.go:264-321) as masked (n, 4) matrices, occupancy is a
  searchsorted membership test, and the segment x half-open-cell
  intersection predicate (pointindex.go:393-427, including the
  exclusive-edge/tip-touch exceptions and the intgeom.SegmentIntersect
  (x, x) quirk) is evaluated on whole arrays;
* assembly (snap.addPointsAndSnap, snap.go:89-155): the per-segment
  point concatenation/dedup rules (snap.go:366-380), ring closure,
  backtrack detection (the _kmp_deduplicate fast-path test) and the
  winding classification (snap.go:494-526 incl. the colinear quirk) are
  all computed as per-level array passes; only rings that actually have
  snapping-created zigzags or self-tangency points (rare) drop to the
  scalar helpers, which stay the oracle for those behaviors.

Snapped coordinates are carried as int64 fixed-point arrays end-to-end so
the Spark operator can emit WKT text digit-exactly without per-point
Python (functions/wkt_batch.py); float views (int / 1e10, identical to
intgeom.ToGeomOrd) are used wherever the scalar kernel compares floats,
so equality/winding decisions are bit-for-bit the scalar kernel's.

The scalar kernel stays as the oracle: tests/test_snap_batch.py runs the
snap stage's batch entry (operators.snap_tiles._process_batch, the only
caller of snap_flat_batch in the package) against it on every reference
golden case and on random polygons.
"""

from __future__ import annotations

import numpy as np

from ..grid import morton
from ..grid.fixedpoint import go_div
from .pointindex import VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION, OutsideGridError
from .geomfuncs import ring_contains
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


def _exclusive_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.empty(a.size + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


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
    """Compact snapped-point arrays shared by all fast ring handles of a
    batch.  A fast ring handle is ``(a, b, rev)``: points ``kx/ky[a:b]``
    (int64 fixed-point), emitted in reverse order when ``rev``.  ``fx/fy``
    are the float views the scalar kernel would have produced (int/1e10,
    identical to intgeom.ToGeomOrd for nonzero, and 0/1e10 == 0.0)."""

    __slots__ = ("kx", "ky", "fx", "fy", "total")

    def __init__(self):
        self.kx = []
        self.ky = []
        self.fx = []
        self.fy = []
        self.total = 0

    def append(self, kx, ky, fx, fy) -> int:
        """Append one compact block; returns its global base offset."""
        base = self.total
        self.kx.append(kx)
        self.ky.append(ky)
        self.fx.append(fx)
        self.fy.append(fy)
        self.total += kx.size
        return base

    def finish(self):
        self.kx = np.concatenate(self.kx) if self.kx else np.empty(0, np.int64)
        self.ky = np.concatenate(self.ky) if self.ky else np.empty(0, np.int64)
        self.fx = np.concatenate(self.fx) if self.fx else np.empty(0, np.float64)
        self.fy = np.concatenate(self.fy) if self.fy else np.empty(0, np.float64)


def _ring_floats(fx, fy, a: int, b: int, rev: bool):
    pts = list(zip(fx[a:b].tolist(), fy[a:b].tolist()))
    return pts[::-1] if rev else pts


def _iter_ring_floats(fx, fy, a: int, b: int, rev: bool):
    rng = range(b - 1, a - 1, -1) if rev else range(a, b)
    for i in rng:
        yield (fx[i], fy[i])


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
    results[m] = {tm_id: [poly]} where each poly is a list of rings -
    either a fast handle (a, b, rev) into ``store`` or a materialized
    list of float tuples (scalar-path rings).

    With ``collect_columnar``, members that are single-ring and fully on
    the fast path (the overwhelmingly common case) skip the per-member
    dict entirely: results[m] is None and their output lands in
    ``columnar`` as {tm_id: (member_ids, a, b, rev)} arrays - zero
    per-member Python.  ``need_dicts`` (bool per member) forces the dict
    path for members the caller must merge (e.g. multipolygon parts).
    The snap stage (operators.snap_tiles._process_batch) appends the
    ``columnar`` arrays to its geometry table as one-polygon, one-ring
    geometries; perfbench's kernel replay counts the None entries of
    ``results`` as the columnar share."""
    deepest_id = max(tm_ids)
    level_diff = tms.level_diff(VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION)
    deepest_level = deepest_id + level_diff
    tm_ids_by_level = {tm_id + level_diff: tm_id for tm_id in tm_ids}
    levels = sorted(tm_ids_by_level)

    results: list = [None] * n_members
    store = BatchSnapStore()
    col_parts: dict[int, list] = {}
    mr_bounds = np.searchsorted(ring_member, np.arange(n_members + 1))

    def scalar_member(m: int):
        rings = []
        for r in range(int(mr_bounds[m]), int(mr_bounds[m + 1])):
            s, l = int(ring_start[r]), int(ring_len[r])
            rings.append([tuple(p) for p in xy[s : s + l]])
        results[m] = snap_polygon(rings, tms, list(tm_ids), config)

    if 2 * deepest_level > 60:
        # composite occupancy keys (member << 2*level) | z would overflow
        # int64 (ADVICE r2): the scalar kernel (arbitrary-precision
        # Python ints) handles any depth - route every member through it
        for m in range(n_members):
            scalar_member(m)
        store.finish()
        return results, store, {}

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
            scalar_member,
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
    columnar = {
        tm: tuple(np.concatenate([p[k] for p in parts]) for k in range(4))
        for tm, parts in col_parts.items()
    }
    return results, store, columnar


def _correct_input_winding(xy, ring_start, ring_len, ring_local):
    """Vectorized snap.go:406-417 over the input rings: reverse any ring
    whose winding is wrong for its position (outer=CCW, inner=CW;
    colinear counts as correct), exactly like _ensure_correct_winding_order."""
    n_rings = ring_start.size
    if n_rings == 0:
        return xy
    x = xy[:, 0]
    y = xy[:, 1]
    vring = np.repeat(np.arange(n_rings, dtype=np.int64), ring_len)
    pos = np.arange(x.size, dtype=np.int64)
    # rightmost-lowest vertex per ring: min y, then max x, then first index
    order = np.lexsort((pos, -x, y, vring))
    grp_first = np.searchsorted(vring[order], np.arange(n_rings))
    rmli = order[grp_first]
    ends = ring_start + ring_len
    a_idx = np.where(rmli > ring_start, rmli - 1, ends - 1)
    c_idx = np.where(rmli < ends - 1, rmli + 1, ring_start)
    ax, ay = x[a_idx], y[a_idx]
    bx, by = x[rmli], y[rmli]
    cx, cy = x[c_idx], y[c_idx]
    det = (bx - ax) * (cy - ay) - (cx - ax) * (by - ay)
    # outer (ring_local == 0) should be CCW (det > 0), inners CW (det < 0);
    # det == 0 (colinear) always counts as correct (snap.go:406-417 quirk)
    wrong = np.where(ring_local == 0, det < 0, det > 0)
    wrong &= ring_len >= 3  # winding_of returns COLINEAR for < 3 points
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


def _snap_chunk(
    xy,
    ring_member,
    ring_start,
    ring_len,
    n_members,
    results,
    res_offset,
    scalar_member,
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
    deepest_res = go_div(int_extent[2] - int_extent[0], deepest_size)
    spans = [(1 << (deepest_level - lv)) * deepest_res for lv in range(deepest_level + 1)]
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

    z_deep = morton.to_z_np(dxs[alive_v], dys[alive_v])
    key_deep = np.sort((vpoly[alive_v] << (2 * deepest_level)) | z_deep)
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
    seg_poly = vpoly
    P1X, P1Y = ivx, ivy
    P2X, P2Y = ivx[next_idx], ivy[next_idx]

    # -- descent (pointindex.go:200-345), one frontier per level -------------
    level_set = set(levels)
    e0 = np.int64(ext0)
    e1 = np.int64(ext1)
    root_ok = line_intersects_np(
        P1X, P1Y, P2X, P2Y,
        np.int64(int_extent[0]), np.int64(int_extent[1]),
        np.int64(int_extent[2]), np.int64(int_extent[3]),
    )
    f_seg = np.flatnonzero(root_ok & alive_v).astype(np.int64)
    nf = f_seg.size
    f_z = np.zeros(nf, dtype=np.int64)
    f_x = np.zeros(nf, dtype=np.int64)
    f_y = np.zeros(nf, dtype=np.int64)
    f_minx = np.full(nf, int_extent[0], dtype=np.int64)
    f_miny = np.full(nf, int_extent[1], dtype=np.int64)
    f_maxx = np.full(nf, int_extent[2], dtype=np.int64)
    f_maxy = np.full(nf, int_extent[3], dtype=np.int64)
    f_cx = np.full(nf, root_cx, dtype=np.int64)
    f_cy = np.full(nf, root_cy, dtype=np.int64)

    recorded: dict[int, tuple] = {}
    if 0 in level_set:
        recorded[0] = (f_seg.copy(), f_cx.copy(), f_cy.copy())

    for lv in range(1, deepest_level + 1):
        if f_seg.size == 0:
            if lv in level_set:
                recorded[lv] = (f_seg, f_cx, f_cy)
            continue
        span = spans[lv]
        half = halves[lv]
        p1x = P1X[f_seg]
        p1y = P1Y[f_seg]
        p2x = P2X[f_seg]
        p2y = P2Y[f_seg]
        # infinite quadrant of each endpoint wrt the parent centroid
        # + half-open containment in the parent (pointindex.go:264-268)
        q1 = (p1x >= f_cx).astype(np.int64) | ((p1y >= f_cy).astype(np.int64) << 1)
        q2 = (p2x >= f_cx).astype(np.int64) | ((p2y >= f_cy).astype(np.int64) << 1)
        in1 = (f_minx <= p1x) & (p1x < f_maxx) & (f_miny <= p1y) & (p1y < f_maxy)
        in2 = (f_minx <= p2x) & (p2x < f_maxx) & (f_miny <= p2y) & (p2y < f_maxy)
        diff = q1 ^ q2
        same = diff == 0
        adj = (diff == 1) | (diff == 2)
        diag = diff == 3
        both = in1 & in2
        n = f_seg.size
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
        # work compressed: only valid candidates are occupancy-checked,
        # only occupied non-certain ones are intersection-tested, and the
        # child cell arrays are materialized for accepted rows alone
        # (candidate order = row-major ravel order, preserved throughout)
        val_idx = np.flatnonzero(valid.ravel())
        rows = val_idx >> 2
        qcv = qc.ravel()[val_idx]
        czv = (f_z[rows] << 2) | qcv
        poly_f = seg_poly[f_seg]
        pkeys = (poly_f[rows] << np.int64(2 * lv)) | czv
        keys = level_keys[lv]
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
            cxn = (f_x[rl] << 1) | (qcl & 1)
            cyn = (f_y[rl] << 1) | (qcl >> 1)
            minxn = e0 + cxn * span
            minyn = e1 + cyn * span
            acc[need] = line_intersects_np(
                p1x[rl], p1y[rl], p2x[rl], p2y[rl],
                minxn, minyn, minxn + span, minyn + span,
            )
        acc_full = np.zeros(n * 4, dtype=bool)
        acc_full[live_pos[acc]] = True
        # mutex pair: the second of (q1^01, q1^10) is skipped when the
        # first was appended (pointindex.go:300-321)
        acc_full[2::4] &= ~(diag & acc_full[1::4])
        keep_idx = np.flatnonzero(acc_full)
        rows_k = keep_idx >> 2
        qck = qc.ravel()[keep_idx]
        f_seg = f_seg[rows_k]
        f_x = (f_x[rows_k] << 1) | (qck & 1)
        f_y = (f_y[rows_k] << 1) | (qck >> 1)
        f_z = (f_z[rows_k] << 2) | qck
        f_minx = e0 + f_x * span
        f_miny = e1 + f_y * span
        f_maxx = f_minx + span
        f_maxy = f_miny + span
        f_cx = f_minx + half
        f_cy = f_miny + half
        if lv in level_set:
            recorded[lv] = (f_seg, f_cx, f_cy)

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

    # -- columnar fast lane: single-ring members that are FAST/PL at every
    #    level need no per-member Python at all - their (a, b, rev) spans
    #    go straight into per-level arrays ---------------------------------
    keep_pl = config.keep_points_and_lines
    rev_cfg = config.reverse_winding_order
    columnar_sel = None
    if col_parts is not None and not keep_pl:
        ring_count = mr_bounds[1:] - mr_bounds[:-1]
        elig = (ring_count == 1) & ~dead
        if need_dicts is not None:
            elig &= ~need_dicts
        if elig.any():
            fr_all = mr_bounds[:-1]  # first (only) ring per member
            ok = elig.copy()
            for lv_i in levels:
                L = lvl[lv_i]
                ok &= L["status"][fr_all] != _SCALAR
                if L["reroute"] is not None:
                    ok &= ~L["reroute"][fr_all]
            if ok.any():
                midx = np.flatnonzero(ok)
                fok = fr_all[midx]
                for lv_i in levels:
                    L = lvl[lv_i]
                    sub = L["status"][fok] == _FAST
                    if sub.any():
                        mm = midx[sub] + res_offset
                        fs = fok[sub]
                        rev = L["det"][fs] < 0
                        if rev_cfg:
                            rev = ~rev
                        col_parts.setdefault(tm_ids_by_level[lv_i], []).append(
                            (mm, L["cs"][fs], L["ce2"][fs], rev)
                        )
                columnar_sel = ok

    # -- per-member combine (light Python over ring descriptors) --------------
    for pi in range(n_members):
        if dead[pi] or (columnar_sel is not None and columnar_sel[pi]):
            continue
        r0 = int(mr_bounds[pi])
        r1 = int(mr_bounds[pi + 1])
        res: dict[int, list] = {}
        for lv_i in levels:
            L = lvl[lv_i]
            rr = L["reroute"]
            if rr is not None and rr[r0:r1].any():
                # a live segment produced no snapped points: the scalar
                # kernel decides (it raises mid-walk; provably unreachable
                # because endpoint cells are always occupied, kept exact)
                scalar_member(res_offset + pi)
                res = None
                break
            out = _combine_member_level(L, r0, r1, lv_i, hit_maps, keep_pl, rev_cfg)
            if out is not None:
                res[tm_ids_by_level[lv_i]] = out
        if res is not None:
            results[res_offset + pi] = res


def _assembly_arrays(lv_i, seg_s, ix, iy, starts, vring, ring_start, ring_len, alive_seg, hit_maps, store):
    """Vectorized snap.go:366-403 pre-computation for one level.

    Produces, per ring: compact kept-point span [cs, ce2) (store-global
    offsets), status (_FAST/_PL/_SCALAR), the winding determinant (for
    the _classify_rings fast path) and a rotation/reversal-invariant
    content hash for the dedupe prefilter."""
    n_segs = vring.size
    n_rings = ring_start.size
    cnt = starts[1:] - starts[:-1]
    fx = ix / _POW10F
    fy = iy / _POW10F

    seg_ids = np.arange(n_segs, dtype=np.int64)
    ring_of_seg = vring
    notfirst = seg_ids != ring_start[ring_of_seg]
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
    # a live segment with zero points would make the scalar kernel raise
    # mid-walk; mark its ring for scalar rerouting (kept exact)
    reroute = None
    zero_live = (cnt == 0) & alive_seg
    if zero_live.any():
        reroute = np.zeros(n_rings, dtype=bool)
        reroute[np.unique(ring_of_seg[zero_live])] = True

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
    det = np.zeros(n_rings, dtype=np.float64)
    rings_w = np.flatnonzero(kc2 >= 3)
    if rings_w.size:
        sel = np.flatnonzero(np.arange(nk, dtype=np.int64) < ce2[ring_of_kept])
        rsel = ring_of_kept[sel]
        # rightmost-lowest per ring: min y, then max x, then first index
        order2 = np.lexsort((sel, -kfx[sel], kfy[sel], rsel))
        rs_sorted = rsel[order2]
        grp_first = np.searchsorted(rs_sorted, rings_w)
        rmli = sel[order2[grp_first]]
        csw = cs[rings_w]
        cew = ce2[rings_w]
        a_idx = np.where(rmli > csw, rmli - 1, cew - 1)
        c_idx = np.where(rmli < cew - 1, rmli + 1, csw)
        det[rings_w] = (kfx[rmli] - kfx[a_idx]) * (kfy[c_idx] - kfy[a_idx]) - (
            kfx[c_idx] - kfx[a_idx]
        ) * (kfy[rmli] - kfy[a_idx])

    # content hash (rotation/reversal invariant) for the dedupe prefilter
    hmix = kfx.view(np.uint64) * _HASH_C1 + kfy.view(np.uint64) * _HASH_C2
    hcum = np.zeros(nk + 1, dtype=np.uint64)
    np.cumsum(hmix, out=hcum[1:])
    ring_hash = hcum[ce2] - hcum[cs]

    status = np.full(n_rings, _FAST, dtype=np.int8)
    status[kc2 < 3] = _PL
    hm_flag = np.zeros(n_rings, dtype=bool)
    for (lv_h, gid) in hit_maps:
        if lv_h == lv_i:
            hm_flag[gid] = True
    status[bt_ring | hm_flag] = _SCALAR

    base = store.append(kx, ky, kfx, kfy)
    return {
        "cs": cs + base,
        "ce": ce + base,
        "ce2": ce2 + base,
        "kc2": kc2,
        "status": status,
        "det": det,
        "hash": ring_hash,
        "reroute": reroute,
        "fx": kfx,
        "fy": kfy,
        "base": base,
    }


def _hash_tuple_ring(ring) -> int:
    """Same mix as _assembly_arrays' ring_hash, for scalar-path rings."""
    if not ring:
        return 0
    arr = np.asarray(ring, dtype=np.float64)
    h = arr[:, 0].view(np.uint64) * _HASH_C1 + arr[:, 1].view(np.uint64) * _HASH_C2
    return int(h.sum(dtype=np.uint64))


def _combine_member_level(L, r0, r1, lv_i, hit_maps, keep_pl, rev_cfg):
    """snap.addPointsAndSnap's per-ring tail (snap.go:93-155) for one
    (member, level) over the precomputed ring descriptors.

    Returns the polygons list for the level, or None when the level is
    dead for this member (outer ring collapsed, snap.go:97-99)."""
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
        h = L["hash"]
        for ring in outers + inners:
            if isinstance(ring, tuple):
                a, b, _ = ring
                # span hash: cumsum difference was precomputed per ring,
                # but dedupe/scalar outputs may alias spans - recompute
                hx = fx[a - base : b - base].view(np.uint64) * _HASH_C1
                hy = fy[a - base : b - base].view(np.uint64) * _HASH_C2
                sigs.append((b - a, int((hx + hy).sum(dtype=np.uint64))))
            else:
                sigs.append((len(ring), _hash_tuple_ring(ring)))
        if len(sigs) != len(set(sigs)):
            outers = [floats(r) for r in outers]
            inners = [floats(r) for r in inners]
            outers, inners = _dedupe_inners_outers(outers, inners)

    if inners:
        if len(outers) == 1 and isinstance(outers[0], tuple) and all(
            isinstance(ih, tuple) for ih in inners
        ):
            # single-outer shortcut for _match_inners_to_polygons
            # (snap.go:277-324): with one candidate polygon the first
            # inner vertex contained in the outer decides the match, and
            # an uncontained inner becomes a reversed standalone outer -
            # ring handles survive, so the batch formatter still applies
            outer_pts = floats(outers[0])
            poly = [outers[0]]
            turned = []
            for ih in inners:
                for v in _iter_ring_floats(fx, fy, ih[0] - base, ih[1] - base, ih[2]):
                    c, _ = ring_contains(outer_pts, v)
                    if c:
                        poly.append(ih)
                        break
                else:
                    turned.append((ih[0], ih[1], not ih[2]))
            polygons = [poly] + [[t] for t in turned]
        else:
            outers_m = [floats(r) for r in outers]
            inners_m = [floats(r) for r in inners]
            polygons = _match_inners_to_polygons([[o] for o in outers_m], inners_m, (r1 - r0) > 1)
    else:
        polygons = [[o] for o in outers]

    if rev_cfg:
        for poly in polygons:
            for k in range(len(poly)):
                rg = poly[k]
                poly[k] = (rg[0], rg[1], not rg[2]) if isinstance(rg, tuple) else list(reversed(rg))

    out = polygons if polygons else []
    if keep_pl:
        for pl in pls:
            out = out + [[pl]]
    return out if out else None


_EMPTY_HITS: dict = {}
