"""Fixed-point coordinate arithmetic (int64, 10 decimal digits).

Re-creates the semantics of the reference's intgeom package
(/root/reference/intgeom/intgeom.go:27-50): ordinates are stored as int64
with the last 10 digits as decimals, so that dividing a matrix span by the
pixel count at deep zoom levels stays exact.  All kernel arithmetic happens
on these integers; floats appear only at the API edges.

Bit-for-bit notes
-----------------
* ``from_ord`` mirrors Go's ``int64(o * math.Pow(10, 10))`` - truncation
  toward zero, with the multiply done in IEEE float64.
* ``to_ord`` mirrors ``float64(o) / math.Pow(10, 10)`` with a special case
  for 0 (intgeom.go:40-45).
* ``go_div`` is Go's integer division: truncation toward zero (Python's
  ``//`` floors, which differs for negative operands - the outside-grid
  checks depend on this, pointindex.go:136-138).
"""

from __future__ import annotations

import math

PRECISION = 10
HALF = 5_000_000_000
ONE = 10_000_000_000
_POW10 = 10.0**PRECISION  # == math.Pow(10, 10) in Go, exactly representable


def from_ord(o: float) -> int:
    """float ordinate -> fixed-point int64 (intgeom.go:48-50)."""
    return int(o * _POW10)


def to_ord(o: int) -> float:
    """fixed-point int64 -> float ordinate (intgeom.go:40-45)."""
    if o == 0:
        return 0.0
    return float(o) / _POW10


def from_point(pt) -> tuple[int, int]:
    return (from_ord(pt[0]), from_ord(pt[1]))


def go_div(a: int, b: int) -> int:
    """Go int64 division: truncation toward zero."""
    q = abs(a) // abs(b)
    if (a < 0) != (b < 0):
        return -q
    return q


def go_round(f: float) -> float:
    """Go math.Round: round half away from zero, exact (no +0.5 trick)."""
    i = math.floor(f)
    diff = f - i
    if diff > 0.5:
        return float(i + 1)
    if diff < 0.5:
        return float(i)
    # exactly .5 -> away from zero
    return float(i + 1) if f > 0 else float(i)


def round_float(f: float, p: int) -> float:
    """tms20.roundFloat (tms20.go:803-806): Round(f*10^p)/10^p."""
    r = math.pow(10, float(p))
    return go_round(f * r) / r


def i_between_inc(f: int, p: int, q: int) -> bool:
    """mathhelp.IBetweenInc (mathhelp.go:3-8)."""
    if p <= q:
        return p <= f <= q
    return q <= f <= p


def f_between_inc(f: float, p: float, q: float) -> bool:
    if p <= q:
        return p <= f <= q
    return q <= f <= p
