"""Batch (numpy/pyarrow) WKT codec for the snap stage hot path.

The scalar codec (functions/wkt.py) parses/formats one geometry at a
time in interpreted Python - measured at ~25% of the flagship stage.
This module does the same work for a whole Arrow batch as array
programs:

* parse: Arrow kernels classify each row's kind from its prefix; one
  structural scan runs over the polygon rows' bytes, read in place from
  the Arrow data buffer with row bounds from its offsets (paren depth
  via cumsum classifies ring/member boundaries), then ONE C-speed float
  cast (pyarrow) for every coordinate of every row at once;
* format: snapped coordinates are exact int64 fixed-point grid values
  (``i / 10^10``), so WKT text is generated digit-by-digit from the
  integers into one shared byte buffer (vectorized over all points of
  all output geometries), which becomes the data buffer of the returned
  Arrow string array, the geometry bounds its offsets.  Each coordinate
  array's digit layout is computed once (fixedpoint_digits) and then
  written.  ``float(text)`` of the exact-decimal form equals
  ``i / 1e10`` bit-for-bit (both are one correctly-rounded operation on
  the same exact value), so parse round-trips are identical to the
  scalar ``repr``-based formatter.  Every snapped polygon of the snap
  stage is formatted here, so a snapped value has one text.

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

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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


def _as_arrow(texts) -> pa.Array:
    """``texts`` as an Arrow string array: Arrow arrays pass through,
    Python sequences of str/None convert once."""
    return texts if isinstance(texts, pa.Array) else pa.array(texts, pa.string())


def _text_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """The bytes of the rows of ``arr`` end to end, read in place from
    its data buffer, and each row's bounds in them: row r owns bytes
    [bounds[r], bounds[r + 1]).  ``arr`` is a string or large_string
    array, possibly a zero-copy slice (``arr.offset`` > 0)."""
    width = np.dtype(np.int64 if pa.types.is_large_string(arr.type) else np.int32)
    _, off_buf, data_buf = arr.buffers()
    off = np.frombuffer(off_buf, dtype=width, count=len(arr) + 1, offset=arr.offset * width.itemsize)
    data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None else np.empty(0, np.uint8)
    return data[off[0] : off[-1]], (off - off[0]).astype(np.int64)


def parse_polygons_batch(texts) -> ParsedPolygonBatch:
    """Parse all POLYGON/MULTIPOLYGON rows of ``texts`` (an Arrow string
    array, or a list of str) at once.

    Row kinds are classified by Arrow kernels on a trimmed, upper-cased
    13-character prefix; the polygon rows' bytes are read from the Arrow
    data buffer in place.  Other geometry kinds land in ``other_rows``
    (scalar path).  Raises WktBatchFallback when the structural
    assumptions don't hold.
    """
    arr = _as_arrow(texts)
    if arr.null_count:
        raise WktBatchFallback("null WKT")
    head = pc.utf8_upper(pc.utf8_slice_codeunits(pc.utf8_ltrim_whitespace(arr), 0, 13))
    multi = pc.starts_with(head, "MULTIPOLYGON").to_numpy(zero_copy_only=False)
    fast = multi | pc.starts_with(head, "POLYGON").to_numpy(zero_copy_only=False)
    fast_rows = np.flatnonzero(fast)
    other_rows = np.flatnonzero(~fast).tolist()
    if fast_rows.size == 0:
        return _empty_batch(other_rows)

    b, bounds = _text_bytes(arr if fast_rows.size == len(arr) else arr.take(fast_rows))
    if (b >= 128).any():
        raise WktBatchFallback("non-ascii WKT")
    opens = b == _OPEN
    closes = b == _CLOSE
    depth = np.cumsum(opens.view(np.int8) - closes.view(np.int8), dtype=np.int32)
    row_end = bounds[1:]  # fast row r owns chars [row_end[r-1], row_end[r])
    # every row balances on its own: two unbalanced rows that balance
    # each other must not parse as one structure
    if depth.min() < 0 or depth[row_end - 1].any():
        raise WktBatchFallback("unbalanced parens")

    is_multi = multi[fast_rows]
    ring_depth_row = np.where(is_multi, 3, 2).astype(np.int32)
    rd_of_char = np.repeat(ring_depth_row, np.diff(bounds))

    ring_open = opens & (depth == rd_of_char)
    member_open = opens & (depth == rd_of_char - 1)
    ring_pos = np.flatnonzero(ring_open)
    member_pos = np.flatnonzero(member_open)
    if ring_pos.size == 0 or member_pos.size == 0:
        raise WktBatchFallback("EMPTY geometry")
    ring_member = np.searchsorted(member_pos, ring_pos, side="right") - 1
    member_fastrow = np.searchsorted(row_end, member_pos, side="right")
    # every fast row must contribute >= 1 member and every member >= 1 ring
    if member_fastrow[0] != 0 or np.count_nonzero(np.diff(member_fastrow)) != fast_rows.size - 1:
        raise WktBatchFallback("row without polygon body")
    if (np.bincount(member_fastrow, minlength=fast_rows.size)[~is_multi] != 1).any():
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
    # tokens are the runs of kept chars
    tok_pos = np.flatnonzero(keep[1:] & ~keep[:-1]) + 1
    tok_end = np.flatnonzero(keep[:-1] & ~keep[1:]) + 1
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

    # the tokens, packed end to end, as one Arrow string array: one
    # C-speed float cast for every coordinate of every row
    tokens = pa.LargeStringArray.from_buffers(
        tok_pos.size, pa.py_buffer(_exclusive_cumsum(tok_end - tok_pos)), pa.py_buffer(b[keep])
    )
    try:
        vals = tokens.cast(pa.float64()).to_numpy(zero_copy_only=False)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        raise WktBatchFallback(str(e)) from e
    if vals.size != 2 * int(ring_len.sum()):
        raise WktBatchFallback("token count mismatch")
    if not np.isfinite(vals).all():
        raise WktBatchFallback("non-finite ordinate")
    xy = vals.reshape(-1, 2)

    return ParsedPolygonBatch(
        fast_rows,
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
    scalar parser, whose results fold_scalar_rows folds into ``parsed``.
    A single bad row costs O(log n) half-batch reparses - rare by
    construction.  A list is converted to Arrow once; the halves are
    zero-copy slices of it.
    """
    texts = _as_arrow(texts)
    try:
        return parse_polygons_batch(texts), []
    except WktBatchFallback:
        if len(texts) <= 1:
            return _empty_batch([]), list(range(len(texts)))
        mid = len(texts) // 2
        left, fb_l = parse_polygons_batch_resilient(texts.slice(0, mid))
        right, fb_r = parse_polygons_batch_resilient(texts.slice(mid))
        return _concat_parsed(left, right, mid), fb_l + [r + mid for r in fb_r]


def fold_scalar_rows(parsed: ParsedPolygonBatch, scalar_rows) -> ParsedPolygonBatch:
    """Fold the rows the scalar codec parsed, as (row, kind, coords),
    into ``parsed``: (MULTI)POLYGONs with rings join the flat arrays with
    the first two ordinates of each point; EMPTY geometries and other
    kinds are the result's ``other_rows``.  ``scalar_rows`` covers every
    row of ``parsed.other_rows``, so the scalar codec's kind decides."""
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
        [],
    )
    out = _concat_parsed(parsed, folded, 0)
    out.other_rows = other_rows
    return out


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


class FixedpointDigits(NamedTuple):
    """Digit layout of the exact-decimal text of ``vals / 10^10``."""

    neg: np.ndarray  # leading '-'
    q: np.ndarray  # integer part of |vals| / 10^10
    f: np.ndarray  # fractional part, as an int below 10^10
    dq: np.ndarray  # integer digit count
    frac_len: np.ndarray  # fraction digits after the trailing-zero trim (0: no '.')
    length: np.ndarray  # char count of the text


def fixedpoint_digits(vals: np.ndarray) -> FixedpointDigits:
    """The digit layout of every value of ``vals`` (int64 fixed-point)."""
    vals = _float_representable(vals)
    neg = vals < 0
    a = np.abs(vals)
    q = a // POW10
    f = a % POW10
    dq = np.ones(vals.shape, dtype=np.int64)
    max_k = 18 if (q >= _POW10_TABLE[8]).any() else 8  # rare: beyond 8 digits
    for k in range(1, max_k + 1):
        dq += q >= _POW10_TABLE[k]
    nzf = f > 0
    tz = np.zeros(vals.shape, dtype=np.int64)
    for k in range(1, 10):
        tz += nzf & (f % _POW10_TABLE[k] == 0)
    frac_len = np.where(nzf, 10 - tz, 0)
    return FixedpointDigits(neg, q, f, dq, frac_len, neg + dq + np.where(nzf, 1 + frac_len, 0))


def write_fixedpoint(buf: np.ndarray, pos: np.ndarray, d: FixedpointDigits) -> None:
    """Write the texts laid out by ``d`` (fixedpoint_digits) into ``buf``
    at byte offsets ``pos``."""
    if d.neg.any():
        buf[pos[d.neg]] = ord("-")
    start = pos + d.neg  # first digit of the integer part
    # integer digits, written right-to-left
    for j in range(19):
        m = d.dq > j
        if not m.any():
            break
        digits = (d.q[m] // _POW10_TABLE[j]) % 10
        buf[start[m] + d.dq[m] - 1 - j] = (48 + digits).astype(np.uint8)
    dot = start + d.dq
    buf[dot[d.frac_len > 0]] = ord(".")
    for j in range(10):
        m = d.frac_len > j
        if not m.any():
            break
        digits = (d.f[m] // _POW10_TABLE[9 - j]) % 10
        buf[dot[m] + 1 + j] = (48 + digits).astype(np.uint8)


def _exclusive_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.empty(a.size + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


def _ragged(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index spans of ``lens`` items laid end to end: each item's span
    (owner) and its position within that span (offset)."""
    owner = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    offset = np.arange(owner.size, dtype=np.int64) - _exclusive_cumsum(lens)[owner]
    return owner, offset


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
) -> pa.StringArray:
    """Build WKT text for many geometries at once, as one Arrow string
    array over the byte buffer the text is written into.

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
        return pa.array([], pa.string())
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

    dx = fixedpoint_digits(ex)
    dy = fixedpoint_digits(ey)
    lx = dx.length
    ly = dy.length
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
    write_fixedpoint(buf, pt_pos, dx)
    write_fixedpoint(buf, pt_pos + lx + 1, dy)
    sep_p = np.flatnonzero(~last_in_ring)
    if sep_p.size:
        buf[pt_pos[sep_p] + lx[sep_p] + 1 + ly[sep_p]] = _COMMA

    if geom_off[-1] > np.iinfo(np.int32).max:
        raise ValueError("WKT text of one batch beyond 2 GiB")
    return pa.StringArray.from_buffers(n_geoms, pa.py_buffer(geom_off.astype(np.int32)), pa.py_buffer(buf))
