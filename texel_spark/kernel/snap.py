"""Snap-to-grid kernel: quantize polygons to tile-pixel grids per zoom.

Re-creates the reference's snap package semantics
(/root/reference/snap/snap.go) on plain Python tuples, bit-for-bit:
vertices snap to occupied-quadrant centroids, extra points are inserted
where segments skim other vertices (so no new intersections arise), rings
are deduped/split/re-matched, and the result is one list of polygons per
requested tile matrix ID.

The kernel is strictly per-feature (state never crosses polygons,
snap.go:43-74), which is why the Spark operator wrapping it
(texel_spark.operators.snap_tiles) is a narrow Arrow-batched stage: the
batch loop lives in pandas/Arrow, this module is the per-polygon inner
kernel.

Geometry representation: ring = list[(x, y) float tuples], polygon =
list[ring], result = dict[tm_id, list[polygon]].
"""

from __future__ import annotations

import operator

from ..grid.fixedpoint import from_point
from ..grid.tms import TileMatrixSet
from .geomfuncs import CLOCKWISE, COLINEAR, COUNTER_CLOCKWISE, ring_contains, shoelace, winding_of
from .pointindex import (
    VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION,
    OutsideGridError,
    PointIndex,
)


class SnapConfig:
    """snap.Config (snap.go:33-37)."""

    __slots__ = ("keep_points_and_lines", "ignore_outside_grid", "reverse_winding_order")

    def __init__(self, keep_points_and_lines=False, ignore_outside_grid=False, reverse_winding_order=False):
        self.keep_points_and_lines = keep_points_and_lines
        self.ignore_outside_grid = ignore_outside_grid
        self.reverse_winding_order = reverse_winding_order


def snap_polygon(polygon, tms: TileMatrixSet, tm_ids, config: SnapConfig | None = None):
    """snap.SnapPolygon (snap.go:43-74).

    polygon: list of rings (ring 0 = outer); returns {tm_id: [polygons]}.
    Raises OutsideGridError unless config.ignore_outside_grid.
    """
    config = config or SnapConfig()
    polygon = [[(float(v[0]), float(v[1])) for v in ring] for ring in polygon]
    deepest_id = max(tm_ids)
    ix = PointIndex.from_tile_matrix_set(tms, deepest_id)
    level_diff = tms.level_diff(VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION)
    tm_ids_by_level = {tm_id + level_diff: tm_id for tm_id in tm_ids}
    levels = list(tm_ids_by_level)

    try:
        ix.insert_polygon(polygon)
    except OutsideGridError:
        if config.ignore_outside_grid:
            return {}
        raise

    new_polygons_per_level = _add_points_and_snap(ix, polygon, levels, config)
    return {tm_ids_by_level[level]: polys for level, polys in new_polygons_per_level.items()}


def _add_points_and_snap(ix: PointIndex, polygon, levels, config: SnapConfig):
    """snap.addPointsAndSnap (snap.go:89-155)."""
    level_map = set(levels)
    new_outers: dict[int, list] = {}
    new_inners: dict[int, list] = {}
    new_points_and_lines: dict[int, list] = {}

    for ring_idx, ring in enumerate(polygon):
        if not level_map:  # all levels obsoleted
            continue
        is_outer = ring_idx == 0
        ring = _ensure_correct_winding_order(ring, not is_outer)
        ring_len = len(ring)
        new_ring = {level: [] for level in level_map}

        # walk the segments (incl. the closing one) and append snapped points
        for vertex_idx in range(ring_len):
            segment = (ring[vertex_idx], ring[(vertex_idx + 1) % ring_len])
            new_vertices = ix.snap_closest_points(segment, level_map, ring_idx)
            for level in list(level_map):
                cleaned = _cleanup_new_vertices(
                    new_vertices.get(level, []), segment, level, new_ring[level]
                )
                new_ring[level].extend(cleaned)

        for level in list(level_map):
            outer_rings, inner_rings, points_and_lines = _cleanup_new_ring(
                new_ring[level], is_outer, ix.get_hit_multiple(level), ring_idx
            )
            # if the outer ring collapsed (and nothing kept), the zoom is dead
            if is_outer and not outer_rings and (not config.keep_points_and_lines or not points_and_lines):
                level_map.discard(level)
                continue
            new_outers.setdefault(level, []).extend(outer_rings)
            new_inners.setdefault(level, []).extend(inner_rings)
            new_points_and_lines.setdefault(level, []).extend(points_and_lines)

    new_polygons: dict[int, list] = {}
    for level in level_map:
        polygons_for_level = _polygons_for_level(
            new_outers.get(level, []),
            new_inners.get(level, []),
            new_points_and_lines.get(level, []),
            len(polygon) > 1,
            config,
        )
        if polygons_for_level:
            new_polygons[level] = polygons_for_level
    return new_polygons


def _polygons_for_level(outers, inners, points_and_lines, has_inners: bool, config: SnapConfig):
    """The per-level tail of snap.addPointsAndSnap (snap.go:89-155) after
    its ring loop, over the cleaned rings of every input ring: dedupe
    equal rings, match inners to outers, reverse if configured, then
    points and lines as single-ring "polygons" when kept (snap.go:148-153).  The batch kernel's dict lane
    (snap_batch._combine_member_level) runs it too."""
    outers, inners = _dedupe_inners_outers(outers, inners)
    polygons = _match_inners_to_polygons([[o] for o in outers], inners, has_inners)
    if config.reverse_winding_order:
        polygons = [[ring[::-1] for ring in poly] for poly in polygons]
    if config.keep_points_and_lines:
        polygons.extend([point_or_line] for point_or_line in points_and_lines)
    return polygons


# -- ring walking helpers --------------------------------------------------


def _ensure_correct_winding_order(ring, should_be_clockwise: bool):
    """Reverse ring if winding is wrong; colinear counts as correct
    (snap.go:406-417)."""
    if not _winding_order_is_correct(ring, should_be_clockwise):
        return list(reversed(ring))
    return ring


def _winding_order_is_correct(ring, should_be_clockwise: bool) -> bool:
    wo = winding_of(ring)
    return (
        (wo == CLOCKWISE and should_be_clockwise)
        or (wo == COUNTER_CLOCKWISE and not should_be_clockwise)
        or wo == COLINEAR
    )


def _cleanup_new_vertices(new_vertices, segment, level, new_ring):
    """snap.cleanupNewVertices (snap.go:366-380)."""
    count = len(new_vertices)
    if count == 0:  # SnapClosestPoints should have returned >= 1 point
        raise RuntimeError(f"no points found for {segment} on level {level}")
    minus = min(count - 1, 1)
    new_vertices = new_vertices[: count - minus]
    if new_ring and new_vertices[0] == new_ring[-1]:
        new_vertices = new_vertices[1:]
    return new_vertices


def _cleanup_new_ring(new_ring, is_outer: bool, hit_multiple, ring_idx: int):
    """snap.cleanupNewRing (snap.go:383-403)."""
    new_ring = list(new_ring)
    if len(new_ring) > 1 and new_ring[0] == new_ring[-1]:
        new_ring = new_ring[:-1]
    if len(new_ring) < 3:
        return [], [], [new_ring]
    new_ring = _kmp_deduplicate(new_ring)
    if len(new_ring) < 3:
        return [], [], [new_ring]
    return _split_ring(new_ring, is_outer, hit_multiple, ring_idx)


def _is_hit_multiple(hit_multiple, vertex, ring_idx: int) -> bool:
    """Fuzzy (+-1 int unit) lookup of a float vertex in the hit-multiple map
    (snap.go:420-427)."""
    iv = from_point(vertex)
    for candidate in (
        iv,
        (iv[0] + 1, iv[1]),
        (iv[0] - 1, iv[1]),
        (iv[0], iv[1] + 1),
        (iv[0], iv[1] - 1),
    ):
        if ring_idx in hit_multiple.get(candidate, ()):
            return True
    return False


def _split_ring(ring, is_outer: bool, hit_multiple, ring_idx: int):
    """Split a ring at points it passes through more than once
    (snap.go:432-526): a stack of partial rings is completed/merged into
    rings, each classified by winding order."""
    if not hit_multiple:
        # fast path: with no self-tangency points the walk below cannot
        # split - it always yields the ring unchanged (the common case);
        # classification by winding still runs
        return _classify_rings({0: ring}, is_outer)
    partial_ring_idx = 0
    stack: dict[int, list] = {partial_ring_idx: []}
    complete_rings: dict[int, list] = {}
    check_ring = ring + [ring[0]]
    last_idx = len(check_ring) - 1

    for vertex_idx, vertex in enumerate(check_ring):
        if vertex_idx == 0 or not _is_hit_multiple(hit_multiple, vertex, ring_idx):
            if partial_ring_idx in stack:
                stack[partial_ring_idx] = stack[partial_ring_idx] + [vertex]
            else:
                stack[partial_ring_idx] = []
            if vertex_idx < last_idx:
                continue
        else:
            stack[partial_ring_idx] = stack.get(partial_ring_idx, []) + [vertex]

        temp_ring = stack[partial_ring_idx]
        if temp_ring[0] == temp_ring[-1]:
            complete_rings[partial_ring_idx] = temp_ring[:-1]
            del stack[partial_ring_idx]
        else:
            # keep prepending older partials until the ring closes
            partials_to_remove = [partial_ring_idx]
            keys = list(stack.keys())
            for stack_idx in reversed(keys[:-1]):
                partial_from_stack = stack[stack_idx]
                if partial_from_stack[-1] == temp_ring[0]:
                    partials_to_remove.append(stack_idx)
                    temp_ring = partial_from_stack + temp_ring[1:]
                else:
                    break
                if temp_ring[0] == temp_ring[-1]:
                    complete_rings[stack_idx] = temp_ring[:-1]
                    for idx in partials_to_remove:
                        del stack[idx]
                    break

        if vertex_idx < last_idx:
            partial_ring_idx += 1
            stack[partial_ring_idx] = stack.get(partial_ring_idx, []) + [vertex]
        elif stack:
            raise RuntimeError(
                f"reached end of ring with stack length {len(stack)}, expected 0: {stack}"
            )

    return _classify_rings(complete_rings, is_outer)


def _classify_rings(complete_rings, is_outer: bool):
    """Classify completed rings by winding (snap.go:494-526)."""
    outer_rings: list = []
    inner_rings: list = []
    points_and_lines: list = []
    for key in sorted(complete_rings):
        complete_ring = complete_rings[key]
        if len(complete_ring) < 3:
            points_and_lines.append(complete_ring)
        elif is_outer:
            if not _winding_order_is_correct(complete_ring, False):
                inner_rings.append(complete_ring)
            else:
                outer_rings.append(complete_ring)
        else:
            if not _winding_order_is_correct(complete_ring, True):
                outer_rings.append(complete_ring)
            else:
                inner_rings.append(complete_ring)

    # all rings landed on the wrong side: winding was globally flipped -> swap
    if is_outer and not outer_rings and inner_rings:
        outer_rings = [list(reversed(r)) for r in inner_rings]
        inner_rings = []
    elif not is_outer and not inner_rings and outer_rings:
        inner_rings = [list(reversed(r)) for r in outer_rings]
        outer_rings = []
    return outer_rings, inner_rings, points_and_lines


# -- KMP spike/zigzag removal (snap.go:531-703) ----------------------------


def _kmp_deduplicate(ring):
    """Remove snapping-created zigzags/backtracks, keeping one occurrence
    (snap.go:531-639)."""
    # fast path: the walk below only ever acts when some vertex equals the
    # one two steps back (a backtrack); without one it is a no-op
    if not any(map(operator.eq, ring[2:], ring)):
        return ring
    ring_len = len(ring)
    sequences_to_remove: dict[str, tuple[int, int]] = {}
    visited: list = []
    i = 0
    while i < ring_len:
        vertex = ring[i]
        if len(visited) <= 1 or visited[-2] != vertex:
            visited.append(vertex)
            i += 1
            continue
        # a step back was taken: build the reversed segment walked back over
        reverse_segment = [visited[-1], visited[-2]]
        for j in range(3, len(visited) + 1):
            next_i = i + (j - 2)
            if next_i <= ring_len - 1 and visited[-j] == ring[next_i]:
                reverse_segment.append(visited[-j])
            else:
                break
        segment = list(reversed(reverse_segment))
        seg_len = len(segment)
        start = i - seg_len
        end = start + 3 * seg_len
        k = 0
        corpus = ring[start:min(end, ring_len)]
        while True:
            stop = False
            for v in corpus[k:]:
                if v not in segment:
                    stop = True
                    break
            if end > ring_len:
                stop = True
            if stop:
                break
            k = len(corpus)
            corpus = corpus + ring[end:min(end + 2 * seg_len, ring_len)]
            end += 2 * seg_len

        matches = _kmp_search_all(corpus, segment)
        reverse_matches = _kmp_search_all(corpus, reverse_segment)
        key = repr(segment)
        if len(matches) > 1 and (len(matches) - len(reverse_matches)) == 1:
            # zigzag: segment occurs once more than its reverse
            seq_start = start + seg_len
            seq_end = start + matches[-1] + seg_len
            sequences_to_remove.setdefault(key, (seq_start, seq_end))
            i = seq_end
            visited = []
        elif len(matches) > 1 and len(matches) == len(reverse_matches):
            # multiple backtrace
            seq_start = start + 2 * seg_len - 1
            seq_end = start + matches[-1] + seg_len
            sequences_to_remove.setdefault(key, (seq_start, seq_end))
            i = seq_end
            visited = []
        elif len(matches) == 1 and len(reverse_matches) == 1:
            # single backtrace: keep, just skip past
            i = start + 2 * seg_len - 1
            visited = []
        else:
            seq_start = start
            seq_end = 0
            end_point_idx = 0
            if len(reverse_matches) > len(matches):
                # backtrace followed by triangle/square (or odd zigzag)
                seq_end = start + 2 * (seg_len - 1) * len(matches)
                end_point_idx = start + reverse_matches[-1] + seg_len
            elif len(matches) > 1 and (len(matches) - len(reverse_matches)) > 1:
                seq_end = start + 2 * (seg_len - 1) * len(reverse_matches)
                end_point_idx = start + matches[-1] + seg_len
            sequences_to_remove.setdefault(key, (seq_start, seq_end))
            i = end_point_idx - 1
            visited = []
    return _remove_sequences(ring, sequences_to_remove)


def _remove_sequences(ring, sequences_to_remove):
    """mapslicehelp.RemoveSequences (mapslicehelp.go:55-66): cut the
    [start, end) spans, ordered by start index."""
    new_ring = []
    keep_from = 0
    for seq in sorted(sequences_to_remove.values(), key=lambda se: se[0]):
        new_ring.extend(ring[keep_from:seq[0]])
        keep_from = seq[1]
    new_ring.extend(ring[keep_from:])
    return new_ring


def _kmp_search_all(corpus, find):
    """All start indexes of find in corpus, non-overlapping (snap.go:642-660)."""
    matches = []
    offset = 0
    while True:
        match = _kmp_search(corpus, find)
        if match == len(corpus):
            break
        matches.append(match + offset)
        offset += match + len(find)
        corpus = corpus[match + len(find):]
        if len(corpus) < len(find):
            break
    return matches


def _kmp_search(corpus, find):
    """Knuth-Morris-Pratt; returns len(corpus) on failure (snap.go:663-684)."""
    m = i = 0
    table = [0] * max(len(corpus), len(find), 2)
    _kmp_table(find, table)
    while m + i < len(corpus):
        if find[i] == corpus[m + i]:
            if i == len(find) - 1:
                return m
            i += 1
        else:
            if table[i] > -1:
                # NB: order faithful to the reference (snap.go:675-677):
                # i is reassigned BEFORE m is recomputed from it.
                i = table[i]
                m = m + i - table[i]
            else:
                i = 0
                m += 1
    return len(corpus)


def _kmp_table(find, table):
    pos, cnd = 2, 0
    table[0], table[1] = -1, 0
    while pos < len(find):
        if find[pos - 1] == find[cnd]:
            cnd += 1
            table[pos] = cnd
            pos += 1
        elif cnd > 0:
            cnd = table[cnd]
        else:
            table[pos] = 0
            pos += 1


# -- ring dedupe + inner/outer matching (snap.go:177-338) ------------------


def _dedupe_inners_outers(outers, inners):
    """Delete surplus equal rings across outers+inners (snap.go:177-249)."""
    len_outers = len(outers)
    len_all = len_outers + len(inners)
    processed: dict[int, bool] = {}
    to_delete: dict[int, bool] = {}
    for i in range(len_all):
        if i in processed:
            continue
        i_is_outer = i < len_outers
        equal_indexes: dict[int, bool] = {i: i_is_outer}
        ring_i = outers[i] if i_is_outer else inners[i - len_outers]
        for j in range(i + 1, len_all):
            if j in processed:
                continue
            j_is_outer = j < len_outers
            ring_j = outers[j] if j_is_outer else inners[j - len_outers]
            if not _rings_are_equal(ring_i, ring_j, i_is_outer, j_is_outer):
                continue
            equal_indexes[j] = j_is_outer
        if len(equal_indexes) <= 1:
            continue

        len_equal_outers = sum(1 for v in equal_indexes.values() if v)
        len_equal_inners = sum(1 for v in equal_indexes.values() if not v)
        difference = abs(len_equal_outers - len_equal_inners)
        if difference == 0:
            num_outers_to_delete = len_equal_outers - 1
            num_inners_to_delete = len_equal_inners - 1
        else:
            num_outers_to_delete = min(len_equal_outers, len_equal_inners)
            num_inners_to_delete = num_outers_to_delete
        for equal_i, is_outer in equal_indexes.items():
            processed[equal_i] = is_outer
            if is_outer and num_outers_to_delete > 0:
                to_delete[equal_i] = is_outer
                num_outers_to_delete -= 1
            elif not is_outer and num_inners_to_delete > 0:
                to_delete[equal_i] = is_outer
                num_inners_to_delete -= 1

    if not to_delete:
        return outers, inners
    new_outers = [r for idx, r in enumerate(outers) if idx not in to_delete]
    new_inners = [r for idx, r in enumerate(inners) if (idx + len_outers) not in to_delete]
    return new_outers, new_inners


def _rings_are_equal(ring_i, ring_j, i_is_outer: bool, j_is_outer: bool) -> bool:
    """Equal point sequences up to rotation, reversed iff outer-vs-inner
    (snap.go:254-275)."""
    ring_len = len(ring_i)
    if ring_len != len(ring_j):
        return False
    try:
        idx = ring_j.index(ring_i[0])
    except ValueError:
        return False
    different_winding = i_is_outer and not j_is_outer
    for k in range(ring_len):
        if not different_winding and ring_i[k] != ring_j[(idx + k) % ring_len]:
            return False
        if different_winding and ring_i[k] != ring_j[(idx + ring_len - k) % ring_len]:
            return False
    return True


def _match_inners_to_polygons(polygons, inner_rings, has_inners: bool):
    """Assign each inner ring to the smallest containing outer (even-odd PIP),
    unmatched inners become reversed outers (snap.go:277-324)."""
    if not inner_rings:
        return polygons

    poly_i_sorted_by_area_desc = None
    inners_turned_outers = []
    for inner_ring in inner_rings:
        contains_per_poly: dict[int, int] = {}
        matched = False
        for vertex in inner_ring:
            for poly_i in range(len(polygons)):
                contains, _ = ring_contains(polygons[poly_i][0], vertex)
                if contains:
                    contains_per_poly[poly_i] = contains_per_poly.get(poly_i, 0) + 1
            matching_poly_i, match_count = _find_last_key_with_max_value(contains_per_poly)
            if match_count == 1:
                polygons[matching_poly_i].append(inner_ring)
                matched = True
                break
        if matched:
            continue
        if not contains_per_poly:
            # presumably a wrongly-wound inner that should have been an outer
            inners_turned_outers.append(list(reversed(inner_ring)))
            continue
        # multiple matching outers: use the smallest by area
        if poly_i_sorted_by_area_desc is None:
            poly_i_sorted_by_area_desc = _sort_poly_idxs_by_outer_area_desc(polygons)
        candidates = list(contains_per_poly.keys())
        smallest = _last_match(poly_i_sorted_by_area_desc, candidates)
        polygons[smallest].append(inner_ring)

    for ring in inners_turned_outers:
        polygons.append([ring])
    return polygons


def _find_last_key_with_max_value(m: dict):
    """mapslicehelp.FindLastKeyWithMaxValue (mapslicehelp.go:28-43): iterate
    newest->oldest; strictly-greater replaces, ties count winners."""
    max_k = None
    max_v = None
    num_winners = 0
    first = True
    for k in reversed(list(m.keys())):
        v = m[k]
        if first or v > max_v:
            max_k, max_v, num_winners, first = k, v, 1, False
            continue
        if v == max_v:
            num_winners += 1
    return max_k, num_winners


def _last_match(haystack, needle):
    """mapslicehelp.LastMatch (mapslicehelp.go:68-76)."""
    for x in reversed(haystack):
        if x in needle:
            return x
    return 0


def _sort_poly_idxs_by_outer_area_desc(polygons):
    """Outer-ring shoelace areas, descending; stable for ties
    (snap.go:326-338)."""
    areas = []
    for i, poly in enumerate(polygons):
        areas.append((shoelace(poly[0]) if poly else 0.0, i))
    order = sorted(range(len(areas)), key=lambda i: -areas[i][0])
    return order
