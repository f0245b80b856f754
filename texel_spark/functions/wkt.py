"""Minimal WKT codec for (MULTI)POLYGON, POINT and LINESTRING.

Geometry spans in the interleaved-document model carry WKT in the span
text (FIXTURES.md section 1); the kernel wants ragged ring lists.  This
codec runs inside Arrow-batched UDFs, so it is plain fast Python with no
regex backtracking.

Representation: polygon = list[ring], ring = list[(x, y)]; multipolygon =
list[polygon].
"""

from __future__ import annotations

import math


def _parse_point(text: str):
    """One WKT point: 2+ finite ordinates (ValueError otherwise)."""
    pt = tuple(float(o) for o in text.split())
    if len(pt) < 2:
        raise ValueError(f"malformed WKT: point {text.strip()!r} has fewer than 2 ordinates")
    if not all(map(math.isfinite, pt)):
        raise ValueError(f"malformed WKT: non-finite ordinate in point {text.strip()!r}")
    return pt


def _parse_ring(body: str):
    return [_parse_point(pt) for pt in body.split(",")]


def _split_groups(s: str):
    """Split 'a),(b' style top-level groups of one nesting level."""
    groups = []
    depth = 0
    start = 0
    for i, ch in enumerate(s):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise ValueError("malformed WKT: unbalanced parens")
            if depth == 0:
                groups.append(s[start:i])
    return groups


_KINDS = ("multipoint", "multilinestring", "multipolygon", "polygon", "linestring", "point")


def parse_wkt(wkt: str):
    """Returns (kind, coords): ('polygon', rings) | ('multipolygon',
    polygons) | ('point', (x, y)) | ('linestring', ring).  ``<KIND> EMPTY``
    returns the kind with empty coordinates.  Malformed text - unbalanced
    parens, a polygon without rings, a point with fewer than 2 ordinates,
    a NaN/inf ordinate - raises ValueError."""
    s = wkt.strip()
    if s[-5:].upper() == "EMPTY":
        kind = s.split(None, 1)[0].lower()
        if kind in _KINDS:
            return kind, []
    if s.count("(") != s.count(")"):
        raise ValueError(f"malformed WKT: unbalanced parens in {s[:40]!r}")
    upper = s[:20].upper()
    if upper.startswith("MULTIPOINT"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        groups = _split_groups(body)
        return "multipoint", [_parse_point(p) for p in (groups or body.split(","))]
    if upper.startswith("MULTILINESTRING"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        return "multilinestring", [_parse_ring(g) for g in _split_groups(body)]
    if upper.startswith("MULTIPOLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        polys = [[_parse_ring(r) for r in _split_groups(g)] for g in _split_groups(body)]
        if not polys or not all(polys):
            raise ValueError(f"malformed WKT: polygon without rings in {s[:40]!r}")
        return "multipolygon", polys
    if upper.startswith("POLYGON"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        rings = [_parse_ring(r) for r in _split_groups(body)]
        if not rings:
            raise ValueError(f"malformed WKT: polygon without rings in {s[:40]!r}")
        return "polygon", rings
    if upper.startswith("LINESTRING"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        return "linestring", _parse_ring(body)
    if upper.startswith("POINT"):
        body = s[s.index("(") + 1 : s.rindex(")")]
        return "point", _parse_point(body)
    raise ValueError(f"unsupported WKT: {s[:40]}")


def _fmt_pt(pt) -> str:
    return f"{pt[0]!r} {pt[1]!r}"


def ring_to_wkt_body(ring, close: bool = True) -> str:
    pts = list(ring)
    if close and pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    return "(" + ", ".join(_fmt_pt(p) for p in pts) + ")"


def polygon_to_wkt(rings) -> str:
    return "POLYGON (" + ", ".join(ring_to_wkt_body(r) for r in rings) + ")"


def multipolygon_to_wkt(polygons) -> str:
    return (
        "MULTIPOLYGON ("
        + ", ".join("(" + ", ".join(ring_to_wkt_body(r) for r in poly) + ")" for poly in polygons)
        + ")"
    )


def geometry_to_wkt(kind: str, coords) -> str:
    if kind == "polygon":
        return polygon_to_wkt(coords)
    if kind == "multipolygon":
        return multipolygon_to_wkt(coords)
    if kind == "linestring":
        return "LINESTRING " + ring_to_wkt_body(coords, close=False)
    if kind == "point":
        return "POINT (" + _fmt_pt(coords) + ")"
    if kind == "multipoint":
        return "MULTIPOINT (" + ", ".join("(" + _fmt_pt(p) + ")" for p in coords) + ")"
    if kind == "multilinestring":
        return "MULTILINESTRING (" + ", ".join(ring_to_wkt_body(ln, close=False) for ln in coords) + ")"
    raise ValueError(kind)


def polygon_bbox(rings):
    xs = [p[0] for r in rings for p in r]
    ys = [p[1] for r in rings for p in r]
    return min(xs), min(ys), max(xs), max(ys)
