"""Per-polygon sparse quadtree point index for snap-to-grid.

Re-creates the reference's pointindex package
(/root/reference/pointindex/pointindex.go) with identical int64 fixed-point
semantics, so snapped output coordinates are bit-for-bit equal.

This is NOT a distributed structure: one index is built per polygon inside
the Arrow-batched snap kernel (snap.go:43-45), from that polygon's own
vertices.  State never crosses features, which is exactly why the Spark
stage that wraps it is a narrow transformation.

Representation notes (performance, not semantics): occupied cells are
plain sets of Morton codes per level - a child's code is
``parent_z << 2 | quadrant`` and an ancestor's is ``z >> 2*levels``, so
insertion does ONE bit interleave per vertex, and cell extents/centroids
(deterministic closed-form functions of (level, x, y),
pointindex.go:183-198) are computed only for the few candidate cells the
quadtree descent actually touches.  Output order and values are
identical to the reference's map-of-Quadrant design.

Geometry is plain tuples: point=(x, y) ints (fixed point), extent=(minx,
miny, maxx, maxy), line=((x1, y1), (x2, y2)).  Cell semantics are
half-open: bottom/left edges inclusive, top/right exclusive
(pointindex.go:54-64).
"""

from __future__ import annotations

from ..grid import morton
from ..grid.fixedpoint import from_point, go_div, i_between_inc, to_ord
from ..grid.tms import TileMatrixSet

VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION = 16

_RIGHT = 0b01
_TOP = 0b10


class OutsideGridError(Exception):
    def __init__(self, deepest_x: int, deepest_y: int, deepest_size: int):
        super().__init__(
            f"trying to insert a coord ({deepest_x}, {deepest_y}) outside the "
            f"grid/extent (0, {deepest_size}; 0, {deepest_size})"
        )


class Quadrant:
    """(z, int extent, int centroid); maxX/maxY exclusive (pointindex.go:39-43)."""

    __slots__ = ("z", "extent", "centroid")

    def __init__(self, z, extent, centroid):
        self.z = z
        self.extent = extent
        self.centroid = centroid


class PointIndex:
    """Sparse quadtree over a quad-tree tile matrix set (pointindex.go:65-74)."""

    def __init__(self, int_extent, deepest_level: int):
        self.int_extent = int_extent
        self.deepest_level = deepest_level
        self.deepest_size = 1 << deepest_level
        self.deepest_res = go_div(int_extent[2] - int_extent[0], self.deepest_size)
        # occupied Morton codes per level (the sparse structure)
        self.cells: list[set[int]] = [set() for _ in range(deepest_level + 1)]
        self.hit_once: dict[int, dict[tuple[int, int], list[int]]] = {}
        self.hit_multiple: dict[int, dict[tuple[int, int], list[int]]] = {}
        # per-level cell span + half-span (span is always >= 0)
        self._spans = [(1 << (deepest_level - lv)) * self.deepest_res for lv in range(deepest_level + 1)]
        self._halves = [s >> 1 for s in self._spans]
        _, self.int_centroid = self._quadrant_extent_and_centroid(0, 0, 0, int_extent)

    # -- construction -----------------------------------------------------

    @classmethod
    def from_tile_matrix_set(cls, tms: TileMatrixSet, deepest_tm_id: int) -> "PointIndex":
        """pointindex.FromTileMatrixSet (pointindex.go:79-107)."""
        level_diff = tms.level_diff(VECTOR_TILE_INTERNAL_PIXEL_RESOLUTION)
        deepest_level = deepest_tm_id + level_diff
        return cls(tms.int_root_extent(0), deepest_level)

    def _quadrant_extent_and_centroid(self, level: int, x: int, y: int, root_extent):
        """Closed-form cell extent + centroid; the centroid IS the snapped
        coordinate (min + span/2 = +half internal pixel, pointindex.go:183-198)."""
        span = (1 << (self.deepest_level - level)) * self.deepest_res
        min_x, min_y = root_extent[0], root_extent[1]
        half = span >> 1 if span >= 0 else go_div(span, 2)
        extent = (min_x + x * span, min_y + y * span, min_x + (x + 1) * span, min_y + (y + 1) * span)
        centroid = (min_x + x * span + half, min_y + y * span + half)
        return extent, centroid

    def quadrant_at(self, level: int, z: int) -> Quadrant:
        """Materialize the Quadrant for an occupied-or-not cell code."""
        x, y = morton.from_z(z)
        extent, centroid = self._quadrant_extent_and_centroid(level, x, y, self.int_extent)
        return Quadrant(z, extent, centroid)

    def insert_polygon(self, polygon) -> None:
        """Insert every vertex of every ring (pointindex.go:110-131)."""
        for ring in polygon:
            for vertex in ring:
                self.insert_point(vertex)

    def insert_point(self, point) -> None:
        """Quantize a float point to the deepest grid (pointindex.go:134-139).

        Division floors, where the reference's int64 division truncates
        toward zero: a point below the grid's int origin, even by less
        than one cell, gets a negative cell and is outside the grid
        (truncation puts it in cell 0, which does not hold it, so its
        segments snap to no point; PARITY.md 2.3a).
        """
        ip = from_point(point)
        deepest_x = (ip[0] - self.int_extent[0]) // self.deepest_res
        deepest_y = (ip[1] - self.int_extent[1]) // self.deepest_res
        self.insert_coord(deepest_x, deepest_y)

    def insert_coord(self, deepest_x: int, deepest_y: int) -> None:
        """pointindex.go:152-181: mark the cell at every level (ancestor
        code = deepest code >> 2*level_diff)."""
        if deepest_x < 0 or deepest_y < 0 or deepest_x > self.deepest_size - 1 or deepest_y > self.deepest_size - 1:
            raise OutsideGridError(deepest_x, deepest_y, self.deepest_size)
        z = morton.to_z(deepest_x, deepest_y)
        cells = self.cells
        deepest = self.deepest_level
        # walk deep -> shallow and stop at the first already-marked cell:
        # its ancestors are marked by construction (clustered vertices
        # short-circuit after a couple of levels)
        for level in range(deepest, -1, -1):
            zl = z >> (2 * (deepest - level))
            level_cells = cells[level]
            if zl in level_cells:
                break
            level_cells.add(zl)

    # -- snapping ---------------------------------------------------------

    def snap_closest_points(self, line, level_set, ring_id: int):
        """Centroids of occupied cells the segment passes through, per level,
        in descent order; also tracks repeat hits (pointindex.go:200-228)."""
        int_line = (from_point(line[0]), from_point(line[1]))
        quadrants_per_level = self._snap_closest_points(int_line, level_set)
        points_per_level = {}
        if quadrants_per_level is None:
            return points_per_level
        for level, quadrants in quadrants_per_level.items():
            if not quadrants:
                continue
            self.hit_once.setdefault(level, {})
            self.hit_multiple.setdefault(level, {})
            points = []
            for i, (_, _, _, _, centroid) in enumerate(quadrants):
                points.append((to_ord(centroid[0]), to_ord(centroid[1])))
                # first point skipped to avoid superfluous duplicates
                if i > 0:
                    self._check_point_hits(centroid, ring_id, level)
            points_per_level[level] = points
        return points_per_level

    def _snap_closest_points(self, int_line, level_set):
        if not level_set or not line_intersects(int_line, self.int_extent):
            return None
        result = {}
        # parent tuple: (z, x, y, extent, centroid)
        parents = [(0, 0, 0, self.int_extent, self.int_centroid)]
        if 0 in level_set:
            result[0] = parents
        root_min_x = self.int_extent[0]
        root_min_y = self.int_extent[1]
        (p1x, p1y), (p2x, p2y) = int_line
        for level in range(1, self.deepest_level + 1):
            intersected = []
            level_cells = self.cells[level]
            span = self._spans[level]
            half = self._halves[level]
            for pz, px, py, pext, pcent in parents:
                base_z = pz << 2
                if not (
                    base_z in level_cells
                    or (base_z | 1) in level_cells
                    or (base_z | 2) in level_cells
                    or (base_z | 3) in level_cells
                ):
                    continue
                # infinite quadrant of each endpoint wrt the parent centroid
                # + half-open containment in the parent (pointindex.go:264-268)
                cx, cy = pcent
                q1 = (1 if p1x >= cx else 0) | (2 if p1y >= cy else 0)
                q2 = (1 if p2x >= cx else 0) | (2 if p2y >= cy else 0)
                in1 = pext[0] <= p1x < pext[2] and pext[1] <= p1y < pext[3]
                in2 = pext[0] <= p2x < pext[2] and pext[1] <= p2y < pext[3]

                if q1 == q2:
                    both = in1 and in2
                    to_check = ((q1, both, False),)
                elif (q1 ^ q2) in (0b01, 0b10):
                    both = in1 and in2
                    to_check = ((q1, both, False), (q2, both, False))
                elif in1:
                    to_check = (
                        (q1, True, False),
                        (q1 ^ 0b01, False, True),
                        (q1 ^ 0b10, False, True),
                        (q2, in2, False),
                    )
                else:
                    to_check = (
                        (q1, False, False),
                        (q1 ^ 0b01, False, True),
                        (q1 ^ 0b10, False, True),
                        (q2, in2, False),
                    )

                mutexed = False
                for qi, certain, mutex in to_check:
                    if mutex and mutexed:
                        continue
                    z = base_z | qi
                    if z not in level_cells:
                        continue
                    x = (px << 1) | (qi & _RIGHT)
                    y = (py << 1) | ((qi & _TOP) >> 1)
                    min_x = root_min_x + x * span
                    min_y = root_min_y + y * span
                    extent = (min_x, min_y, min_x + span, min_y + span)
                    if certain or line_intersects(int_line, extent):
                        intersected.append((z, x, y, extent, (min_x + half, min_y + half)))
                        if mutex:
                            mutexed = True
            parents = intersected
            if level in level_set:
                result[level] = intersected
        return result

    def _check_point_hits(self, vertex, ring_id: int, level: int) -> None:
        """pointindex.go:433-448: second hit by the same ring marks a
        self-tangency (future ring-split point)."""
        level_hit_once = self.hit_once[level]
        level_hit_multiple = self.hit_multiple[level]
        once = level_hit_once.get(vertex)
        if once:
            if ring_id not in once:
                once.append(ring_id)
            else:
                multi = level_hit_multiple.setdefault(vertex, [])
                if ring_id not in multi:
                    multi.append(ring_id)
        else:
            level_hit_once.setdefault(vertex, []).append(ring_id)

    def get_hit_multiple(self, level: int):
        return self.hit_multiple.get(level, {})


# -- pure predicate helpers (module-level) ---------------------------------


def contains_point(int_pt, int_extent) -> bool:
    """Half-open cell containment: right/top edges excluded (pointindex.go:360-364)."""
    return (
        int_extent[0] <= int_pt[0] < int_extent[2]
        and int_extent[1] <= int_pt[1] < int_extent[3]
    )


def _extent_edges(int_extent):
    """Clockwise edges: bottom, right, top, left (intgeom/extent.go:44-73);
    right (1) and top (2) are the exclusive ones."""
    min_x, min_y, max_x, max_y = int_extent
    v0 = (min_x, min_y)
    v1 = (max_x, min_y)
    v2 = (max_x, max_y)
    v3 = (min_x, max_y)
    return ((v0, v1), (v1, v2), (v2, v3), (v3, v0))


def _is_exclusive_edge(edge_i: int) -> bool:
    i = edge_i % 4
    return i == 1 or i == 2


def _exclusive_tip(edge_i: int, edge):
    """The non-inclusive tip point of an inclusive edge (pointindex.go:456-464)."""
    i = edge_i % 4
    if i == 0:
        return edge[1]
    if i == 3:
        return edge[0]
    raise AssertionError(f"not an inclusive edge: {edge_i}")


def segment_intersect(int_l1, int_l2):
    """Line-line intersection on the int lines' float projections.

    Mirrors intgeom.SegmentIntersect (intgeom/intgeom.go:57-61) which
    delegates to float go-spatial planar code (parametric ua/ub form) -
    INCLUDING its quirk of returning (x, x): ordinate 0 is used for both
    axes of the returned point.  The tip-touch exceptions in
    line_intersects compare against that value, so parity requires
    reproducing it exactly.
    """
    x1, y1 = to_ord(int_l1[0][0]), to_ord(int_l1[0][1])
    x2, y2 = to_ord(int_l1[1][0]), to_ord(int_l1[1][1])
    x3, y3 = to_ord(int_l2[0][0]), to_ord(int_l2[0][1])
    x4, y4 = to_ord(int_l2[1][0]), to_ord(int_l2[1][1])

    denom = (y4 - y3) * (x2 - x1) - (x4 - x3) * (y2 - y1)
    if denom == 0:
        return (0, 0), False
    ua = ((x4 - x3) * (y1 - y3) - (y4 - y3) * (x1 - x3)) / denom
    ub = ((x2 - x1) * (y1 - y3) - (y2 - y1) * (x1 - x3)) / denom
    px = x1 + ua * (x2 - x1)
    ok = 0 <= ua <= 1 and 0 <= ub <= 1
    # reference quirk: index 0 twice (intgeom.go:59)
    from_px = int(px * 1e10)
    return (from_px, from_px), ok


def line_intersects(int_line, int_extent) -> bool:
    """Segment x half-open-extent test with the reference's edge-touch
    exceptions (pointindex.go:393-427)."""
    if contains_point(int_line[0], int_extent) or contains_point(int_line[1], int_extent):
        return True
    for edge_i, int_edge in enumerate(_extent_edges(int_extent)):
        intersection, intersects = segment_intersect(int_line, int_edge)
        if intersects:
            if _is_exclusive_edge(edge_i):
                if int_line[0] == intersection or int_line[1] == intersection:
                    # tip of a line coming from outside touches an exclusive edge
                    continue
            else:
                exclusive_point = _exclusive_tip(edge_i, int_edge)
                if int_line[0] == exclusive_point or int_line[1] == exclusive_point:
                    continue
            return True
        elif not _is_exclusive_edge(edge_i) and _line_overlaps_inclusive_edge(int_line, edge_i, int_edge):
            return True
    return False


def _line_overlaps_inclusive_edge(int_line, edge_i: int, int_edge) -> bool:
    """Collinear overlap on an inclusive edge, exclusive tip excluded
    (pointindex.go:467-490)."""
    if int_edge[0][0] == int_edge[1][0]:
        const_ax, var_ax = 0, 1
    elif int_edge[0][1] == int_edge[1][1]:
        const_ax, var_ax = 1, 0
    else:
        raise AssertionError(f"not a straight edge: {int_edge}")
    e_const = int_edge[0][const_ax]
    if int_line[0][const_ax] != e_const or int_line[1][const_ax] != e_const:
        return False
    e1 = int_edge[0][var_ax]
    e2 = int_edge[1][var_ax]
    tip = _exclusive_tip(edge_i, int_edge)
    l1 = int_line[0][var_ax]
    l2 = int_line[1][var_ax]
    return l1 != l2 and (
        (i_between_inc(l1, e1, e2) and int_line[0] != tip)
        or (i_between_inc(l2, e1, e2) and int_line[1] != tip)
    )
