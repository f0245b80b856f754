"""Scalar geometry helpers for the snap kernel.

Float routines mirror the reference's geomhelp package
(/root/reference/geomhelp/geomhelp.go) and go-spatial's winding order,
with identical IEEE evaluation order so results (incl. boundary cases that
depend on exact float equality) match bit-for-bit.
"""

from __future__ import annotations

import math

CLOCKWISE = -1
COLINEAR = 0
COUNTER_CLOCKWISE = 1


def shoelace(pts) -> float:
    """Absolute shoelace area (geomhelp.go:12-24); sequential accumulation
    starting from the closing edge, like the reference."""
    if not pts:
        return 0.0
    s = 0.0
    p0 = pts[-1]
    for p1 in pts:
        s += p0[1] * p1[0] - p0[0] * p1[1]
        p0 = p1
    return abs(s / 2)


def ray_intersect(pt, start, end):
    """Ray-casting step -> (intersects, on_boundary) (geomhelp.go:30-88,
    via paulmach/orb); nextafter nudges the degenerate vertical cases."""
    if start[0] > end[0]:
        start, end = end, start
    px, py = pt[0], pt[1]

    if px == start[0]:
        if py == start[1]:
            return False, True
        elif start[0] == end[0]:
            if start[1] > end[1] and start[1] >= py >= end[1]:
                return False, True
            if end[1] > start[1] and end[1] >= py >= start[1]:
                return False, True
        px = math.nextafter(px, math.inf)
    elif px == end[0]:
        if py == end[1]:
            return False, True
        px = math.nextafter(px, math.inf)

    if px < start[0] or px > end[0]:
        return False, False

    if start[1] > end[1]:
        if py > start[1]:
            return False, False
        elif py < end[1]:
            return True, False
    else:
        if py > end[1]:
            return False, False
        elif py < start[1]:
            return True, False

    rs = (py - start[1]) / (px - start[0])
    ds = (end[1] - start[1]) / (end[0] - start[0])

    if rs == ds:
        return False, True

    return rs <= ds, False


def ring_contains(ring, point):
    """Even-odd point-in-ring incl. boundary -> (contains, on_boundary)
    (snap.go:343-363)."""
    c, on = ray_intersect(point, ring[0], ring[-1])
    if on:
        return True, True
    for i in range(len(ring) - 1):
        intersects, on = ray_intersect(point, ring[i], ring[i + 1])
        if on:
            return True, True
        if intersects:
            c = not c
    return c, False


def winding_of(pts) -> int:
    """Winding per go-spatial winding.Order{}.OfPoints, y-axis-up.

    Curve-orientation at the rightmost-lowest vertex (see
    https://en.wikipedia.org/wiki/Curve_orientation): pick the vertex with
    the smallest y (largest x on ties) and take the sign of the cross
    product of its neighbours.  A zero cross product (e.g. a horizontal
    run through the rightmost-lowest point, or a doubled-back spike) is
    COLINEAR - the snap kernel treats colinear as "already correct", which
    several reference goldens depend on (snap_test.go:589-640).
    """
    n = len(pts)
    if n < 3:
        return COLINEAR
    rmli = 0
    rx, ry = pts[0]
    for i, (x, y) in enumerate(pts):
        if y < ry or (y == ry and x > rx):
            rmli, rx, ry = i, x, y
    a = pts[rmli - 1] if rmli > 0 else pts[n - 1]
    b = pts[rmli]
    c = pts[(rmli + 1) % n]
    det = (b[0] - a[0]) * (c[1] - a[1]) - (c[0] - a[0]) * (b[1] - a[1])
    if det == 0:
        return COLINEAR
    if det > 0:
        return COUNTER_CLOCKWISE
    return CLOCKWISE


def winding_of_shoelace(pts) -> int:
    """Alternative winding via the trapezoid-form signed sum (kept for
    cross-checking the golden suite): sum<0 => CCW, sum>0 => CW."""
    n = len(pts)
    if n < 3:
        return COLINEAR
    s = 0.0
    for i in range(n):
        j = (i + 1) % n
        s += (pts[j][0] - pts[i][0]) * (pts[j][1] + pts[i][1])
    if s == 0:
        return COLINEAR
    if s < 0:
        return COUNTER_CLOCKWISE
    return CLOCKWISE
