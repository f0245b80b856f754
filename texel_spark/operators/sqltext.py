"""Spark SQL expression text for the operators a pass plans.

A PySpark Column call is a chain of py4j round trips: pyspark 4.1 wraps
every ``functions``/``Column`` call in ``errors.utils._with_origin``,
which adds an active-session lookup, a conf read and a call-site
set/clear to the JVM call itself.  A tile fan-out built from
``F.col``/``F.lit``/operator calls took 1,526 round trips (0.4 s of
driver time per pass, before any task starts); the same expressions
handed to ``selectExpr``/``where`` as text take one call per method.

The text spells the tree the Column calls built, node for node, so the
optimized and executed plans do not change.  Literals follow
``F.lit``'s typing, which ``lit`` below reproduces.
"""

from __future__ import annotations

import math


def lit(v: bool | int | float) -> str:
    """``v`` as a Spark SQL literal of the type ``F.lit(v)`` gives it:
    BOOLEAN, INT (BIGINT past 32 bits, as the parser types it) or
    DOUBLE.  A double needs its ``D`` suffix: Spark reads an undecorated
    decimal literal as a DECIMAL, which changes the arithmetic.
    Negative values are parenthesized, so ``x - <lit>`` never reads as
    a ``--`` comment."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"no SQL literal for {v!r}")
        text = f"{v!r}D"
    elif isinstance(v, int):
        text = str(v)
    else:
        raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")
    return f"({text})" if v < 0 else text
