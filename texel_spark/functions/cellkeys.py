"""Pluggable spatial cell keyers for tile/cell-keyed joins and sinks.

The engine's partition key is (zoom, cell_id).  Morton (Z-order) is the
default - it is what the reference's own quadtree uses
(the reference's morton/morton.go) and it is computable as a pure JVM
SQL expression (operators.snap_tiles.morton_z_text).  Alternatives
slot in behind the same (tx, ty) -> int64 contract:

* ``hilbert``: better locality than Morton (neighbouring cells stay
  closer in key space -> fewer range-scan seams); vectorized numpy.
* ``h3`` / ``s2``: hex/spherical cell systems for lat/lon data; gated on
  the optional libraries, which are not shipped in this container - the
  plumbing raises a clear error instead of silently degrading.
"""

from __future__ import annotations

import numpy as np

from ..grid.morton import to_z_np


def morton_key(tx: np.ndarray, ty: np.ndarray, zoom: int | None = None) -> np.ndarray:
    return to_z_np(np.asarray(tx, dtype=np.int64), np.asarray(ty, dtype=np.int64))


def hilbert_key(tx: np.ndarray, ty: np.ndarray, zoom: int) -> np.ndarray:
    """Hilbert d-index of (tx, ty) on a 2^zoom x 2^zoom grid, vectorized.

    Standard bit-level xy->d conversion (see Hamilton, "Compact Hilbert
    Indices", and the public-domain Wikipedia routine), done with numpy
    int64 ops over whole arrays - no per-row Python.
    """
    x = np.asarray(tx, dtype=np.int64).copy()
    y = np.asarray(ty, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << max(zoom - 1, 0)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        s >>= 1
    return d


def h3_key(lat: np.ndarray, lon: np.ndarray, resolution: int) -> np.ndarray:
    """H3 cell ids (requires the optional ``h3`` package)."""
    try:
        import h3  # noqa: F401
    except ImportError as e:  # pragma: no cover - env without h3
        raise NotImplementedError(
            "h3 cell keys need the 'h3' package (not available in this "
            "environment); use keyer='morton' or 'hilbert' on a projected grid"
        ) from e
    import h3

    return np.array(
        [int(h3.latlng_to_cell(float(a), float(o), resolution), 16) for a, o in zip(lat, lon)],
        dtype=np.uint64,
    ).astype(np.int64)


def s2_key(lat: np.ndarray, lon: np.ndarray, level: int) -> np.ndarray:
    """S2 cell ids (requires the optional ``s2sphere`` package)."""
    try:
        import s2sphere  # noqa: F401
    except ImportError as e:  # pragma: no cover - env without s2
        raise NotImplementedError(
            "s2 cell keys need the 's2sphere' package (not available in this "
            "environment); use keyer='morton' or 'hilbert' on a projected grid"
        ) from e
    import s2sphere

    out = np.empty(len(lat), dtype=np.int64)
    for i, (a, o) in enumerate(zip(lat, lon)):
        cell = s2sphere.CellId.from_lat_lng(s2sphere.LatLng.from_degrees(float(a), float(o)))
        out[i] = cell.parent(level).id()
    return out


KEYERS = {
    "morton": morton_key,
    "hilbert": hilbert_key,
}


def cell_key(keyer: str, tx, ty, zoom: int):
    """Dispatch by name; unknown names list the available keyers."""
    try:
        fn = KEYERS[keyer]
    except KeyError:
        raise ValueError(f"unknown keyer {keyer!r}; available: {sorted(KEYERS)} (+ h3/s2 with extra packages)")
    return fn(tx, ty, zoom)
