"""Batch (numpy/pyarrow) WKT codec for the snap stage hot path.

The scalar codec (functions/wkt.py) parses/formats one geometry at a
time in interpreted Python - measured at ~25% of the flagship stage.
This module does the same work for a whole Arrow batch as array
programs:

* parse: one structural scan over the concatenated WKT bytes (paren
  depth via cumsum classifies ring/member boundaries), then ONE
  C-speed token split + float cast (pyarrow) for every coordinate of
  every row at once;
* format: snapped coordinates are exact int64 fixed-point grid values
  (``i / 10^10``), so WKT text is generated digit-by-digit from the
  integers into one shared byte buffer (vectorized over all points of
  all output geometries), then sliced per geometry.  ``float(text)``
  of the exact-decimal form equals ``i / 1e10`` bit-for-bit (both are
  one correctly-rounded operation on the same exact value), so parse
  round-trips are identical to the scalar ``repr``-based formatter.

Anything surprising (null text, non-ASCII, non-2D coordinates,
unbalanced parens, NaN/inf ordinates, EMPTY geometries) raises
WktBatchFallback; parse_polygons_batch_resilient isolates those rows,
the caller parses them with the scalar codec (null or malformed text
raises ValueError there), and fold_scalar_rows appends their polygons to the same flat arrays - so a
3D or non-ASCII polygon is snapped and formatted exactly like its 2D
twin, and EMPTY geometries emit nothing.

Reference parity: the WKT surface itself has no reference analog (the
reference reads geopackage WKB, processing/gpkg/gpkg.go:76-155); this
codec only feeds the snap kernel, whose outputs stay pinned to
snap/snap_test.go goldens.
"""

from __future__ import annotations

import numpy as np

_OPEN = np.uint8(40)  # (
_CLOSE = np.uint8(41)  # )
_COMMA = np.uint8(44)  # ,
_NL = np.uint8(10)
_SPACE = np.uint8(32)

POW10 = 10_000_000_000  # fixed-point scale (grid/fixedpoint.py PRECISION)


class WktBatchFallback(Exception):
    """Input the batch codec does not cover; use the scalar codec."""


class ParsedPolygonBatch:
    """Flat-array view of every (MULTI)POLYGON row of a batch.

    Vertex order is document order; rings are contiguous vertex spans,
    members (single polygons) are contiguous ring spans, rows are
    contiguous member spans.
    """

    __slots__ = (
        "rows",  # original row index per fast row (int64; folded rows last)
        "is_multi",  # bool per fast row
        "member_fastrow",  # per member: fast-row position (0..len(rows)-1)
        "ring_member",  # per ring: member id
        "ring_start",  # per ring: first vertex offset
        "ring_len",  # per ring: vertex count
        "xy",  # (n_vertices, 2) float64
        "other_rows",  # row indexes needing the scalar codec
    )

    def __init__(self, rows, is_multi, member_fastrow, ring_member, ring_start, ring_len, xy, other_rows):
        self.rows = rows
        self.is_multi = is_multi
        self.member_fastrow = member_fastrow
        self.ring_member = ring_member
        self.ring_start = ring_start
        self.ring_len = ring_len
        self.xy = xy
        self.other_rows = other_rows


def _empty_batch(other_rows: list[int]) -> ParsedPolygonBatch:
    i64 = np.empty(0, np.int64)
    return ParsedPolygonBatch(
        i64, np.empty(0, bool), i64, i64, i64, i64, np.empty((0, 2), np.float64), other_rows
    )


def parse_polygons_batch(texts) -> ParsedPolygonBatch:
    """Parse all POLYGON/MULTIPOLYGON rows of ``texts`` at once.

    Other geometry kinds land in ``other_rows`` (scalar path).  Raises
    WktBatchFallback when the structural assumptions don't hold.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    fast_rows: list[int] = []
    is_multi_l: list[bool] = []
    other_rows: list[int] = []
    parts: list[str] = []
    for i, s in enumerate(texts):
        if not isinstance(s, str):
            raise WktBatchFallback("null WKT")
        u = s.lstrip()[:13].upper()
        if u.startswith("MULTIPOLYGON"):
            fast_rows.append(i)
            is_multi_l.append(True)
            parts.append(s)
        elif u.startswith("POLYGON"):
            fast_rows.append(i)
            is_multi_l.append(False)
            parts.append(s)
        else:
            other_rows.append(i)
    if not fast_rows:
        return _empty_batch(other_rows)

    joined = "\n".join(parts)
    try:
        raw = joined.encode("ascii")
    except UnicodeEncodeError as e:
        raise WktBatchFallback("non-ascii WKT") from e
    b = np.frombuffer(raw, dtype=np.uint8)
    opens = b == _OPEN
    closes = b == _CLOSE
    depth = np.cumsum(opens.view(np.int8) - closes.view(np.int8), dtype=np.int32)
    if depth[-1] != 0 or depth.min() < 0:
        raise WktBatchFallback("unbalanced parens")
    # char row boundaries come from the known part lengths (no cumsum scan)
    part_lens = np.fromiter((len(p) for p in parts), count=len(parts), dtype=np.int64) + 1
    char_row_end = np.cumsum(part_lens)  # row r owns chars [end[r-1], end[r])

    is_multi = np.asarray(is_multi_l, dtype=bool)
    ring_depth_row = np.where(is_multi, 3, 2).astype(np.int32)
    rd_of_char = np.repeat(ring_depth_row, part_lens)[: b.size]

    ring_open = opens & (depth == rd_of_char)
    member_open = opens & (depth == rd_of_char - 1)
    ring_pos = np.flatnonzero(ring_open)
    member_pos = np.flatnonzero(member_open)
    if ring_pos.size == 0 or member_pos.size == 0:
        raise WktBatchFallback("EMPTY geometry")
    ring_member = np.searchsorted(member_pos, ring_pos, side="right") - 1
    member_fastrow = np.searchsorted(char_row_end, member_pos, side="right")
    # every fast row must contribute >= 1 member and every member >= 1 ring
    if member_fastrow[0] != 0 or np.count_nonzero(np.diff(member_fastrow)) != len(fast_rows) - 1:
        raise WktBatchFallback("row without polygon body")
    if (np.bincount(member_fastrow, minlength=len(fast_rows))[~is_multi] != 1).any():
        raise WktBatchFallback("POLYGON row with more than one body")
    if ring_member[0] != 0 or np.count_nonzero(np.diff(ring_member)) != member_pos.size - 1:
        raise WktBatchFallback("member without rings")

    n_rings = ring_pos.size
    in_ring = depth == rd_of_char  # chars strictly inside a ring (incl. its '(')
    comma_pos = np.flatnonzero((b == _COMMA) & in_ring)
    ring_of_comma = np.searchsorted(ring_pos, comma_pos, side="right") - 1
    ring_len = (np.bincount(ring_of_comma, minlength=n_rings) + 1).astype(np.int64)
    ring_start = np.concatenate(([0], np.cumsum(ring_len)[:-1]))

    # numeric chars: anything inside parens that isn't structure/whitespace
    keep = (
        (depth > 0)
        & ~opens
        & ~closes
        & (b != _COMMA)
        & (b != _NL)
        & (b != _SPACE)
        & (b != 9)
        & (b != 13)
    )
    # token starts (for the per-ring 2-D sanity check)
    tok_pos = np.flatnonzero(keep[1:] & ~keep[:-1]) + 1
    if keep[0]:
        tok_pos = np.concatenate(([0], tok_pos))
    tok_ring = np.searchsorted(ring_pos, tok_pos, side="right") - 1
    if tok_pos.size and tok_ring.min() < 0:
        raise WktBatchFallback("token outside ring")
    if tok_pos.size and not (depth[tok_pos] == rd_of_char[tok_pos]).all():
        raise WktBatchFallback("token between rings")
    toks_per_ring = np.bincount(tok_ring, minlength=n_rings)
    if not np.array_equal(toks_per_ring, 2 * ring_len):
        raise WktBatchFallback("non-2D coordinates")

    cleaned = np.where(keep, b, _SPACE).tobytes().decode("ascii")
    flat = pc.list_flatten(pc.ascii_split_whitespace(pa.array([cleaned])))
    flat = flat.filter(pc.not_equal(flat, ""))  # split emits empties for runs
    try:
        vals = flat.cast(pa.float64()).to_numpy(zero_copy_only=False)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        raise WktBatchFallback(str(e)) from e
    if vals.size != 2 * int(ring_len.sum()):
        raise WktBatchFallback("token count mismatch")
    if not np.isfinite(vals).all():
        raise WktBatchFallback("non-finite ordinate")
    xy = vals.reshape(-1, 2)

    return ParsedPolygonBatch(
        np.asarray(fast_rows, dtype=np.int64),
        is_multi,
        member_fastrow,
        ring_member,
        ring_start,
        ring_len,
        xy,
        other_rows,
    )


def _concat_parsed(a: ParsedPolygonBatch, b: ParsedPolygonBatch, row_base: int) -> ParsedPolygonBatch:
    """Merge two sub-batch parses; ``b``'s row indexes shift by ``row_base``."""
    return ParsedPolygonBatch(
        np.concatenate([a.rows, b.rows + row_base]),
        np.concatenate([a.is_multi, b.is_multi]),
        np.concatenate([a.member_fastrow, b.member_fastrow + a.rows.size]),
        np.concatenate([a.ring_member, b.ring_member + a.member_fastrow.size]),
        np.concatenate([a.ring_start, b.ring_start + a.xy.shape[0]]),
        np.concatenate([a.ring_len, b.ring_len]),
        np.concatenate([a.xy, b.xy]),
        list(a.other_rows) + [r + row_base for r in b.other_rows],
    )


def parse_polygons_batch_resilient(texts) -> tuple[ParsedPolygonBatch, list[int]]:
    """Per-row-resilient batch parse (ADVICE r3): one odd row (3D WKT,
    EMPTY, non-ascii, null, malformed) must not keep the rest of its Arrow
    batch off the array parser.

    Tries the whole batch first (zero overhead on the clean path); on
    WktBatchFallback, bisects so only the offending rows are excluded.
    Returns (parsed, fallback_rows): rows in ``fallback_rows`` need the
    scalar parser, whose results fold_scalar_rows appends to ``parsed``.
    A single bad row costs O(log n) half-batch reparses - rare by
    construction.
    """
    try:
        return parse_polygons_batch(texts), []
    except WktBatchFallback:
        if len(texts) <= 1:
            return _empty_batch([]), list(range(len(texts)))
        mid = len(texts) // 2
        left, fb_l = parse_polygons_batch_resilient(texts[:mid])
        right, fb_r = parse_polygons_batch_resilient(texts[mid:])
        return _concat_parsed(left, right, mid), fb_l + [r + mid for r in fb_r]


def fold_scalar_rows(parsed: ParsedPolygonBatch, scalar_rows) -> ParsedPolygonBatch:
    """Append rows the scalar codec parsed, as (row, kind, coords), to
    ``parsed``: (MULTI)POLYGONs with rings join the flat arrays with the
    first two ordinates of each point; EMPTY geometries and other kinds
    join ``other_rows``."""
    rows: list[int] = []
    is_multi: list[bool] = []
    member_fastrow: list[int] = []
    ring_member: list[int] = []
    ring_len: list[int] = []
    pts: list = []
    other_rows: list[int] = []
    for row, kind, coords in scalar_rows:
        if kind not in ("polygon", "multipolygon") or not coords:
            other_rows.append(row)
            continue
        for poly in coords if kind == "multipolygon" else [coords]:
            for ring in poly:
                ring_member.append(len(member_fastrow))
                ring_len.append(len(ring))
                pts.extend(p[:2] for p in ring)
            member_fastrow.append(len(rows))
        rows.append(row)
        is_multi.append(kind == "multipolygon")
    lens = np.asarray(ring_len, dtype=np.int64)
    folded = ParsedPolygonBatch(
        np.asarray(rows, dtype=np.int64),
        np.asarray(is_multi, dtype=bool),
        np.asarray(member_fastrow, dtype=np.int64),
        np.asarray(ring_member, dtype=np.int64),
        _exclusive_cumsum(lens)[:-1],
        lens,
        np.asarray(pts, dtype=np.float64).reshape(-1, 2),
        other_rows,
    )
    return _concat_parsed(parsed, folded, 0)


# -- fixed-point formatting --------------------------------------------------

_POW10_TABLE = 10 ** np.arange(19, dtype=np.int64)
_TWO53 = np.int64(1) << 53


def _float_representable(vals: np.ndarray) -> np.ndarray:
    """Round ints beyond 2^53 to the nearest float64-representable value.

    The scalar kernel's to_ord is ``float(i) / 1e10`` - for |i| > 2^53
    the int->float step already rounds, so the emitted decimal must be
    the decimal of THAT rounded integer or text round-trips would
    differ from the scalar formatter in the last ulp."""
    big = np.abs(vals) > _TWO53
    if not big.any():
        return vals
    # int64 values within 512 of +/-2^63 round to +/-2^63 as float64;
    # float64(2^63) -> int64 is an undefined numpy cast (the negative
    # side is symmetric-guarded for safety).  Unreachable for
    # grid-bounded snap output, but fail loudly rather than emit garbage.
    hi = np.int64((1 << 63) - 512)
    if ((vals[big] >= hi) | (vals[big] <= -hi)).any():
        raise ValueError("ordinate beyond float64-safe int64 range")
    out = vals.copy()
    out[big] = vals[big].astype(np.float64).astype(np.int64)
    return out


def fixedpoint_text_lengths(vals: np.ndarray) -> np.ndarray:
    """Char count of the exact-decimal form of ``vals / 10^10``."""
    vals = _float_representable(vals)
    neg = vals < 0
    a = np.abs(vals)
    q = a // POW10
    f = a % POW10
    dq = np.ones(vals.shape, dtype=np.int64)
    for k in range(1, 9):
        dq += q >= _POW10_TABLE[k]
    big = q >= _POW10_TABLE[8]
    if big.any():  # rare: integer part beyond 8 digits
        for k in range(9, 19):
            dq += q >= _POW10_TABLE[k]
    tz = np.zeros(vals.shape, dtype=np.int64)
    nzf = f > 0
    for k in range(1, 10):
        tz += nzf & (f % _POW10_TABLE[k] == 0)
    frac_len = np.where(nzf, 10 - tz, 0)
    return neg + dq + np.where(nzf, 1 + frac_len, 0)


def write_fixedpoint(buf: np.ndarray, pos: np.ndarray, vals: np.ndarray) -> None:
    """Write the exact-decimal text of ``vals / 10^10`` into ``buf`` at
    byte offsets ``pos`` (lengths must match fixedpoint_text_lengths)."""
    vals = _float_representable(vals)
    neg = vals < 0
    a = np.abs(vals)
    q = a // POW10
    f = a % POW10
    dq = np.ones(vals.shape, dtype=np.int64)
    max_k = 8 if not (q >= _POW10_TABLE[8]).any() else 18
    for k in range(1, max_k + 1):
        dq += q >= _POW10_TABLE[k]
    if neg.any():
        buf[pos[neg]] = ord("-")
    start = pos + neg  # first digit of the integer part
    # integer digits, written right-to-left
    for j in range(max_k + 1):
        m = dq > j
        if not m.any():
            break
        digits = (q[m] // _POW10_TABLE[j]) % 10
        buf[start[m] + dq[m] - 1 - j] = (48 + digits).astype(np.uint8)
    nzf = f > 0
    if nzf.any():
        dot = start + dq
        buf[dot[nzf]] = ord(".")
        tz = np.zeros(vals.shape, dtype=np.int64)
        for k in range(1, 10):
            tz += nzf & (f % _POW10_TABLE[k] == 0)
        frac_len = 10 - tz
        for j in range(10):
            m = nzf & (frac_len > j)
            if not m.any():
                break
            digits = (f[m] // _POW10_TABLE[9 - j]) % 10
            buf[dot[m] + 1 + j] = (48 + digits).astype(np.uint8)


def _exclusive_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.empty(a.size + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


def _segment_sums(values: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """Sum of ``values`` over spans [bounds[i], bounds[i+1])."""
    c = _exclusive_cumsum(values)
    return c[bounds[1:]] - c[bounds[:-1]]


_PREFIXES = (b"POLYGON (", b"MULTIPOLYGON (")


def format_polygon_wkts(
    geom_is_multi: np.ndarray,
    poly_geom_bounds: np.ndarray,
    ring_poly_bounds: np.ndarray,
    pt_ring_bounds: np.ndarray,
    ring_close: np.ndarray,
    pt_x: np.ndarray,
    pt_y: np.ndarray,
) -> list[str]:
    """Build WKT text for many geometries at once.

    geom_is_multi: bool per geometry (chooses POLYGON vs MULTIPOLYGON).
    poly_geom_bounds: int array len n_geoms+1 - geometry g owns polys
        [b[g], b[g+1]).
    ring_poly_bounds: int array len n_polys+1 - poly p owns rings
        [b[p], b[p+1]).
    pt_ring_bounds: int array len n_rings+1 - ring r owns points
        [b[r], b[r+1]) of pt_x/pt_y (int64 fixed-point, NO closing dup).
    ring_close: bool per ring - emit the first point again at the end.
    """
    n_geoms = geom_is_multi.size
    if n_geoms == 0:
        return []
    pt_ring_bounds = pt_ring_bounds.astype(np.int64, copy=False)
    n_rings = pt_ring_bounds.size - 1
    ring_npts = pt_ring_bounds[1:] - pt_ring_bounds[:-1]
    n_emit = ring_npts + ring_close  # incl. closing repeat

    # emit-point -> source index (closing repeat maps to the ring's first)
    emit_bounds = _exclusive_cumsum(n_emit)
    total_pts = int(emit_bounds[-1])
    ring_of_emit = np.repeat(np.arange(n_rings, dtype=np.int64), n_emit)
    p_in_ring = np.arange(total_pts, dtype=np.int64) - emit_bounds[ring_of_emit]
    src = pt_ring_bounds[ring_of_emit] + np.where(p_in_ring < ring_npts[ring_of_emit], p_in_ring, 0)
    ex = pt_x[src]
    ey = pt_y[src]

    lx = fixedpoint_text_lengths(ex)
    ly = fixedpoint_text_lengths(ey)
    last_in_ring = p_in_ring == (n_emit[ring_of_emit] - 1)
    pt_block = lx + 1 + ly + np.where(last_in_ring, 0, 2)  # "x y" + ", "

    ring_content = _segment_sums(pt_block, emit_bounds)
    n_polys = ring_poly_bounds.size - 1
    poly_of_ring = np.repeat(np.arange(n_polys, dtype=np.int64), ring_poly_bounds[1:] - ring_poly_bounds[:-1])
    last_ring_in_poly = np.arange(n_rings) == (ring_poly_bounds[poly_of_ring + 1] - 1)
    ring_block = 2 + ring_content + np.where(last_ring_in_poly, 0, 2)  # "(" body ")" + ", "

    poly_content = _segment_sums(ring_block, ring_poly_bounds)
    geom_of_poly = np.repeat(np.arange(n_geoms, dtype=np.int64), poly_geom_bounds[1:] - poly_geom_bounds[:-1])
    multi_poly = geom_is_multi[geom_of_poly]
    last_poly_in_geom = np.arange(n_polys) == (poly_geom_bounds[geom_of_poly + 1] - 1)
    # single-polygon geometries have no per-poly wrapper
    poly_block = poly_content + np.where(multi_poly, 2 + np.where(last_poly_in_geom, 0, 2), 0)

    geom_content = _segment_sums(poly_block, poly_geom_bounds)
    prefix_len = np.where(geom_is_multi, 14, 9).astype(np.int64)
    geom_len = prefix_len + geom_content + 1  # trailing ")"
    geom_off = _exclusive_cumsum(geom_len)

    buf = np.full(int(geom_off[-1]), _SPACE, dtype=np.uint8)

    # prefixes + final ')'
    for flag, text in ((False, _PREFIXES[0]), (True, _PREFIXES[1])):
        g = np.flatnonzero(geom_is_multi == flag)
        if g.size == 0:
            continue
        base = geom_off[g]
        for k, ch in enumerate(text):
            buf[base + k] = ch
    buf[geom_off[1:] - 1] = ord(")")

    # poly positions (content start of each poly)
    poly_block_off = _exclusive_cumsum(poly_block)
    poly_pos = (
        geom_off[geom_of_poly]
        + prefix_len[geom_of_poly]
        + (poly_block_off[:-1] - poly_block_off[poly_geom_bounds[geom_of_poly]])
    )
    # multi wrapper parens + ", " separators
    mp = np.flatnonzero(multi_poly)
    if mp.size:
        buf[poly_pos[mp]] = ord("(")
        close_at = poly_pos[mp] + 1 + poly_content[mp]
        buf[close_at] = ord(")")
        sep = mp[~last_poly_in_geom[mp]]
        if sep.size:
            buf[poly_pos[sep] + 1 + poly_content[sep] + 1] = _COMMA
            # following space already present in the space-filled buffer
    poly_content_pos = poly_pos + multi_poly.astype(np.int64)

    # ring positions
    ring_block_off = _exclusive_cumsum(ring_block)
    ring_pos = (
        poly_content_pos[poly_of_ring]
        + (ring_block_off[:-1] - ring_block_off[ring_poly_bounds[poly_of_ring]])
    )
    buf[ring_pos] = ord("(")
    buf[ring_pos + 1 + ring_content] = ord(")")
    sep_r = np.flatnonzero(~last_ring_in_poly)
    if sep_r.size:
        buf[ring_pos[sep_r] + 2 + ring_content[sep_r]] = _COMMA

    # point positions
    pt_block_off = _exclusive_cumsum(pt_block)
    pt_pos = (
        ring_pos[ring_of_emit]
        + 1
        + (pt_block_off[:-1] - pt_block_off[emit_bounds[ring_of_emit]])
    )
    write_fixedpoint(buf, pt_pos, ex)
    write_fixedpoint(buf, pt_pos + lx + 1, ey)
    sep_p = np.flatnonzero(~last_in_ring)
    if sep_p.size:
        buf[pt_pos[sep_p] + lx[sep_p] + 1 + ly[sep_p]] = _COMMA

    big = buf.tobytes().decode("ascii")
    off = geom_off.tolist()
    return [big[off[i] : off[i + 1]] for i in range(n_geoms)]
