"""Morton (Z-order) interleaving of two 32-bit coords into a 64-bit key.

Same contract as the reference's morton package
(/root/reference/morton/morton.go:22-48): ``to_z`` interleaves x (even
bits) and y (odd bits); inputs must fit in 32 bits.

Scalar versions are used inside the snap kernel; ``to_z_np`` is the
vectorized variant the batch snap kernel uses (numpy int64 bit ops - no
per-row Python).  DataFrame tile keys use the same ladder as Spark SQL
text, ``operators.snap_tiles.morton_z_text`` (JVM, whole-stage codegen).
"""

from __future__ import annotations

import numpy as np

_MASKS = (
    0x5555555555555555,
    0x3333333333333333,
    0x0F0F0F0F0F0F0F0F,
    0x00FF00FF00FF00FF,
    0x0000FFFF0000FFFF,
    0x00000000FFFFFFFF,
)
_POW2 = (0, 1, 2, 4, 8, 16)
_MAX_U32 = 0xFFFFFFFF


def to_z(x: int, y: int) -> int:
    """Interleave; raises if either coord exceeds 32 bits (morton.go:22-38)."""
    if x > _MAX_U32 or y > _MAX_U32 or x < 0 or y < 0:
        raise ValueError(f"cannot make Z out of {x} and {y}")
    for i in range(4, -1, -1):
        x = (x | (x << _POW2[i + 1])) & _MASKS[i]
        y = (y | (y << _POW2[i + 1])) & _MASKS[i]
    return x | (y << 1)


def from_z(z: int) -> tuple[int, int]:
    """Deinterleave a 64-bit Z back into (x, y) (morton.go:40-48)."""
    x = z
    y = z >> 1
    for i in range(6):
        x = (x | (x >> _POW2[i])) & _MASKS[i]
        y = (y | (y >> _POW2[i])) & _MASKS[i]
    return x, y


def to_z_np(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized interleave for int64 arrays with values below 2^32.

    The result is int64 (a Spark LongType column); viewed as uint64 it is
    the exact code, ``to_z``'s value.  Below 2^31 (tile coords at zoom
    <= 31) the int64 values are that code too.
    """
    x = x.astype(np.uint64, copy=True)
    y = y.astype(np.uint64, copy=True)
    masks = np.array(_MASKS, dtype=np.uint64)
    for i in range(4, -1, -1):
        s = np.uint64(_POW2[i + 1])
        x = (x | (x << s)) & masks[i]
        y = (y | (y << s)) & masks[i]
    return (x | (y << np.uint64(1))).astype(np.int64)


def from_z_np(z: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized deinterleave (inverse of to_z_np)."""
    x = z.astype(np.uint64, copy=True)
    y = (z.astype(np.uint64) >> np.uint64(1))
    masks = np.array(_MASKS, dtype=np.uint64)
    for i in range(6):
        s = np.uint64(_POW2[i])
        x = (x | (x >> s)) & masks[i]
        y = (y | (y >> s)) & masks[i]
    return x.astype(np.int64), y.astype(np.int64)
