"""Engine-level spatial query operators: tile assignment, PIP join, kNN,
rasterize/vectorize.

These are the DataFrame-level counterparts of the reference's per-feature
kernels (SURVEY.md section 2.4 and the north rule's engine extensions):
tile-key assignment is pure column math + vectorized Morton; the PIP join
is a cell-key equi-join with an Arrow-batched even-odd refine; kNN is a
broadcast candidate join + window top-k.

Deterministic derived tables (points from ``events``, triangles from
``nation``) exist so every operator has a DuckDB-SQL oracle over the
shared test data: the derivation arithmetic is plain SQL in both engines.
The fractional offsets (+0.33/+0.25) are chosen so derived points can
never be exactly on a triangle edge or vertex scanline, keeping the
even-odd refine and the oracle's strict sign test equivalent.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..grid.tms import TileMatrixSet, load_embedded
from .sqltext import lit

# NetherlandsRDNewQuad constants used by the oracle SQL too
RD_ORIGIN_X = -285401.92
RD_ORIGIN_Y = 903401.92
RD_MIN_Y = 22598.08
RD_SPAN = 880803.84

# packed-long tile/grid key budget: pack(t) = (t + 2^21) * 2^22 + ... is
# injective only for |t| < 2^21 (21 bits + sign headroom per ordinate in
# one int64).  Quad grids up to zoom 21 fit; anything wider must fail
# loudly rather than silently collide keys in the equi-join.
_PACK_LIMIT = 1 << 21


def _assert_pack_budget(max_abs_index: int, context: str) -> None:
    """Fail loudly when a grid/tile ordinate cannot fit the packed-long
    join key (|index| < 2^21).  A collision would surface as WRONG join
    candidates, mostly-but-not-always masked by the exact refine, so this
    is a correctness guard, not an optimization knob."""
    if max_abs_index >= _PACK_LIMIT:
        raise ValueError(
            f"{context}: grid ordinate range {max_abs_index} exceeds the "
            f"packed long join-key budget (|index| < 2^21 = {_PACK_LIMIT}); "
            "use a shallower zoom / larger cell, or widen the key packing"
        )


def _pack(tx: str, ty: str) -> str:
    """Packed-long tile key of two integer ordinates, as SQL text:
    injective for |t| < 2^21 (see _assert_pack_budget).  Build-side
    tiles can go negative (a triangle bbox dips below the grid origin),
    probe side cannot - the offset keeps the packing collision-free."""
    return f"(({tx}) + {1 << 21}) * {1 << 22} + (({ty}) + {1 << 21})"


def _tile_x(x: str, ts: float) -> str:
    """Tile column of native x on the RD grid (topLeft), as SQL text."""
    return f"floor(({x} - {lit(RD_ORIGIN_X)}) / {lit(ts)})"


def _tile_y(y: str, ts: float) -> str:
    """Tile row of native y on the RD grid (topLeft), as SQL text."""
    return f"floor(({lit(RD_ORIGIN_Y)} - {y}) / {lit(ts)})"


# the strict sign test of point (px, py) against triangle (a, b, c2):
# inside when all three edge determinants share a sign
_EDGE_DETS = (
    "(px - bx) * (ay - `by`) - (ax - bx) * (py - `by`)",
    "(px - cx2) * (`by` - cy2) - (bx - cx2) * (py - cy2)",
    "(px - ax) * (cy2 - ay) - (cx2 - ax) * (py - ay)",
)
_INSIDE_TRIANGLE = " OR ".join(
    "(" + " AND ".join(f"({d}) {op} 0" for d in _EDGE_DETS) + ")" for op in ("<", ">")
)


def points_from_events(events: DataFrame) -> DataFrame:
    """Deterministic RD-extent points derived from the events table."""
    return events.selectExpr(
        "event_id",
        f"{lit(RD_ORIGIN_X + 0.33)} + CAST((event_id * 2654435761) % 880000 AS DOUBLE) AS px",
        f"{lit(RD_MIN_Y + 0.25)} + CAST((event_id * 7919) % 880000 AS DOUBLE) AS py",
    )


POINTS_FROM_EVENTS_SQL = f"""
SELECT event_id,
       {RD_ORIGIN_X + 0.33} + CAST((event_id * 2654435761) % 880000 AS DOUBLE) AS px,
       {RD_MIN_Y + 0.25} + CAST((event_id * 7919) % 880000 AS DOUBLE) AS py
FROM events
"""


def triangles_from_nation(nation: DataFrame) -> DataFrame:
    """25 deterministic triangles in the RD extent, one per nation."""
    cx = f"({lit(RD_ORIGIN_X + 0.08)} + CAST(((n_nationkey * 37 + 11) % 800) * 1000 AS DOUBLE))"
    cy = f"({lit(RD_MIN_Y + 0.08)} + CAST(((n_nationkey * 53 + 7) % 800) * 1000 AS DOUBLE))"
    r = "CAST(5000 + (n_nationkey % 7) * 3000 AS DOUBLE)"
    return nation.selectExpr(
        "n_nationkey AS nationkey",
        f"{cx} AS cx",
        f"{cy} AS cy",
        f"{r} AS r",
        f"{cx} AS ax", f"{cy} + {r} AS ay",
        f"{cx} - {r} AS bx", f"{cy} - {r} AS `by`",
        f"{cx} + {r} AS cx2", f"{cy} - {r} AS cy2",
    )


TRIANGLES_FROM_NATION_SQL = f"""
SELECT n_nationkey AS nationkey,
       cx, cy, r,
       cx AS ax, cy + r AS ay,
       cx - r AS bx, cy - r AS "by",
       cx + r AS cx2, cy - r AS cy2
FROM (
  SELECT n_nationkey,
         {RD_ORIGIN_X + 0.08} + CAST(((n_nationkey * 37 + 11) % 800) * 1000 AS DOUBLE) AS cx,
         {RD_MIN_Y + 0.08} + CAST(((n_nationkey * 53 + 7) % 800) * 1000 AS DOUBLE) AS cy,
         CAST(5000 + (n_nationkey % 7) * 3000 AS DOUBLE) AS r
  FROM nation
)
"""


def tile_size(zoom: int, tms: TileMatrixSet | None = None) -> float:
    tms = tms or load_embedded("NetherlandsRDNewQuad")
    if zoom not in tms.tile_matrices:
        levels = sorted(tms.tile_matrices)
        raise ValueError(
            f"zoom {zoom} is not defined for grid {tms.id!r} "
            f"(levels {levels[0]}..{levels[-1]})"
        )
    tm = tms.tile_matrices[zoom]
    return float(tm.tile_width) * tm.cell_size


def tile_assign(events: DataFrame, zoom: int = 8) -> DataFrame:
    """T1 point->tile assignment + per-tile counts (column math only;
    tms20.go:664-712 semantics for a topLeft grid)."""
    ts = tile_size(zoom)
    pts = points_from_events(events)
    return (
        pts.selectExpr(f"{zoom} AS zoom", f"{_tile_x('px', ts)} AS tx", f"{_tile_y('py', ts)} AS ty")
        .groupBy("zoom", "tx", "ty")
        .agg(F.count("*").alias("n_points"))
    )


def tile_assign_sql(zoom: int = 8) -> str:
    ts = tile_size(zoom)
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL})
SELECT {zoom} AS zoom,
       CAST(FLOOR((px - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT) AS tx,
       CAST(FLOOR(({RD_ORIGIN_Y} - py) / {ts!r}) AS BIGINT) AS ty,
       COUNT(*) AS n_points
FROM pts GROUP BY 1, 2, 3
"""


def hilbert_sql_expr_ctes(zoom: int, base_cte: str, carry_cols: str) -> str:
    """DuckDB CTE chain computing the Hilbert d-index of (tx, ty) on a
    2^zoom grid - the standard bit-level xy->d loop (Wikipedia /
    Hamilton), UNROLLED one CTE per bit so the oracle performs the exact
    integer math of functions.cellkeys.hilbert_key (VERDICT r4 item 4).

    The flip uses ``s-1-x`` (quadrant-local) like the numpy kernel;
    intermediate values can go negative, which is safe because both
    engines use two's-complement BIGINTs and later iterations only read
    bits below s (verified against the published n-1-x variant on full
    grids in tests/test_cellkeys.py).  Produces CTEs ``h0..h{zoom}``;
    the final one carries ``{carry_cols}`` plus ``hd`` (the d-index).
    """
    ctes = [f"h0 AS (SELECT {carry_cols}, tx AS hx, ty AS hy, CAST(0 AS BIGINT) AS hd FROM {base_cte})"]
    for i in range(zoom):
        s = 1 << (zoom - 1 - i)
        ctes.append(
            f"""h{i + 1} AS (
  SELECT {carry_cols},
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - hy ELSE hy END) ELSE hx END AS hx,
         CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {s - 1} - hx ELSE hx END) ELSE hy END AS hy,
         hd + {s * s} * xor(3 * rx, ry) AS hd
  FROM (SELECT *,
               CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry
        FROM h{i}))"""
        )
    return ",\n".join(ctes)


def hilbert_tile_assign(events: DataFrame, zoom: int = 8) -> DataFrame:
    """Pluggable cell keyer: tile_assign's per-tile counts keyed by the
    Hilbert d-index instead of Morton (better range locality).  The key
    is an Arrow-batched UDF on the aggregated rows, so on an event
    stream the groupBy is the one stateful operator (complete or update
    mode, one state row per live tile, bounded by 4^zoom)."""
    # imported here: the UDF module imports pandas, which no other
    # operator in this module needs
    from ..functions.udfs import hilbert_udf

    base = tile_assign(events, zoom=zoom)
    return base.withColumn("cell_id", hilbert_udf(zoom)(F.col("tx"), F.col("ty")))


def hilbert_tile_assign_sql(zoom: int = 8) -> str:
    """Oracle for the Hilbert-keyed tile assignment: tile_assign_sql's
    math, then the unrolled Hilbert chain on (tx, ty)."""
    ts = tile_size(zoom)
    chain = hilbert_sql_expr_ctes(zoom, "base", "zoom, tx, ty, n_points")
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL}),
base AS (
  SELECT {zoom} AS zoom,
         CAST(FLOOR((px - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT) AS tx,
         CAST(FLOOR(({RD_ORIGIN_Y} - py) / {ts!r}) AS BIGINT) AS ty,
         COUNT(*) AS n_points
  FROM pts GROUP BY 1, 2, 3
),
{chain}
SELECT zoom, tx, ty, n_points, hd AS cell_id FROM h{zoom}
"""


def tile_extent_agg(events: DataFrame, zoom: int = 5) -> DataFrame:
    """S7 running-extent aggregate per tile (gpkg.go:254-270 as a
    min/max groupBy; partial aggregation is map-side for free)."""
    ts = tile_size(zoom)
    pts = points_from_events(events)
    return (
        pts.selectExpr(
            f"{zoom} AS zoom", f"{_tile_x('px', ts)} AS tx", f"{_tile_y('py', ts)} AS ty", "px", "py"
        )
        .groupBy("zoom", "tx", "ty")
        .agg(
            F.count("*").alias("n_points"),
            F.min("px").alias("min_x"),
            F.min("py").alias("min_y"),
            F.max("px").alias("max_x"),
            F.max("py").alias("max_y"),
        )
    )


def tile_extent_agg_sql(zoom: int = 5) -> str:
    ts = tile_size(zoom)
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL})
SELECT {zoom} AS zoom,
       CAST(FLOOR((px - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT) AS tx,
       CAST(FLOOR(({RD_ORIGIN_Y} - py) / {ts!r}) AS BIGINT) AS ty,
       COUNT(*) AS n_points,
       MIN(px) AS min_x, MIN(py) AS min_y, MAX(px) AS max_x, MAX(py) AS max_y
FROM pts GROUP BY 1, 2, 3
"""


def _triangle_tiles(tris: DataFrame, ts: float) -> DataFrame:
    """Each triangle once per tile (tx, ty) of its bbox's covering range
    (a bounded explode), as SQL text."""
    return (
        tris.selectExpr(
            "*",
            f"{_tile_x('bx', ts)} AS tx0",
            f"{_tile_x('cx2', ts)} AS tx1",
            f"{_tile_y('ay', ts)} AS ty0",
            f"{_tile_y('`by`', ts)} AS ty1",
        )
        .selectExpr("*", "explode(sequence(tx0, tx1)) AS tx")
        .selectExpr("*", "explode(sequence(ty0, ty1)) AS ty")
    )


def pip_join(events: DataFrame, nation: DataFrame, zoom: int = 7) -> DataFrame:
    """Point-in-polygon join: cell-key equi-join + refine.

    Plan shape (the scale path): polygons fan out to their covering tiles
    (bounded explode), points map to exactly one tile, the join is a hash
    equi-join on the tile key (broadcastable when the polygon side is
    small), and the exact even-odd test refines candidates.  No cross
    join ever materializes.  Refine here is JVM column math (sign tests)
    - the generic WKT refine lives in the snap pipeline kernel.

    The join key is the two tile ordinates PACKED into one long: a
    single integral key takes Spark's LongHashedRelation fast path,
    while a (tx, ty) composite key falls back to the generic
    UnsafeHashedRelation, whose per-probe UnsafeRow build + murmur hash
    measured 7.6x slower on the 40M-row probe and was the r2
    anti-scaling culprit (jstack: all task threads in
    UnsafeHashedRelation.getValue/BytesToBytesMap.safeLookup).
    """
    ts = tile_size(zoom)
    _assert_pack_budget(int(math.ceil(RD_SPAN / ts)), f"pip_join(zoom={zoom})")
    tri_tiles = _triangle_tiles(triangles_from_nation(nation), ts).selectExpr(
        "nationkey", "ax", "ay", "bx", "`by`", "cx2", "cy2", f"{_pack('tx', 'ty')} AS tk"
    )
    pts = points_from_events(events).selectExpr(
        "event_id", "px", "py", f"{_pack(_tile_x('px', ts), _tile_y('py', ts))} AS tk"
    )
    cand = pts.join(F.broadcast(tri_tiles), ["tk"])
    return cand.where(_INSIDE_TRIANGLE).select("event_id", "nationkey")


def pip_join_sql() -> str:
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL}),
tris AS ({TRIANGLES_FROM_NATION_SQL})
SELECT p.event_id, t.nationkey
FROM pts p CROSS JOIN tris t
WHERE (
  ((p.px - t.bx) * (t.ay - t."by") - (t.ax - t.bx) * (p.py - t."by") < 0 AND
   (p.px - t.cx2) * (t."by" - t.cy2) - (t.bx - t.cx2) * (p.py - t.cy2) < 0 AND
   (p.px - t.ax) * (t.cy2 - t.ay) - (t.cx2 - t.ax) * (p.py - t.ay) < 0)
  OR
  ((p.px - t.bx) * (t.ay - t."by") - (t.ax - t.bx) * (p.py - t."by") > 0 AND
   (p.px - t.cx2) * (t."by" - t.cy2) - (t.bx - t.cx2) * (p.py - t.cy2) > 0 AND
   (p.px - t.ax) * (t.cy2 - t.ay) - (t.cx2 - t.ax) * (p.py - t.ay) > 0)
)
"""


def knn_join(events: DataFrame, nation: DataFrame, k: int = 3, n_queries: int = 2000) -> DataFrame:
    """kNN lookup: each query point's k nearest triangle centroids.

    The small side broadcasts; distance is JVM column math; top-k is a
    rank-filtered window: Spark 4 rewrites it with a map-side
    WindowGroupLimit, so the shuffle carries only ~k rows per query, not
    |queries| x |candidates| (measured 3x faster than the
    collect_list/array_sort aggregate alternative at 2M x 25, whose
    ObjectHashAggregate runs outside codegen).  For a large right side
    the cell-neighborhood candidate join (knn_join_grid) is the scale
    path.
    """
    pts = points_from_events(events).where(f"event_id < {n_queries}")
    cents = triangles_from_nation(nation).select("nationkey", "cx", "cy")
    return (
        pts.crossJoin(F.broadcast(cents))
        .selectExpr("*", "(px - cx) * (px - cx) + (py - cy) * (py - cy) AS dist")
        .selectExpr("*", "row_number() OVER (PARTITION BY event_id ORDER BY dist ASC, nationkey ASC) AS rnk")
        .where(f"rnk <= {k}")
        .select("event_id", "nationkey", "rnk")
    )


def knn_join_sql(k: int = 3, n_queries: int = 2000) -> str:
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL}),
cents AS (SELECT nationkey, cx, cy FROM ({TRIANGLES_FROM_NATION_SQL}))
SELECT event_id, nationkey, CAST(rnk AS INT) AS rnk FROM (
  SELECT p.event_id, c.nationkey,
         ROW_NUMBER() OVER (
           PARTITION BY p.event_id
           ORDER BY (p.px - c.cx) * (p.px - c.cx) + (p.py - c.cy) * (p.py - c.cy) ASC,
                    c.nationkey ASC
         ) AS rnk
  FROM pts p CROSS JOIN cents c
  WHERE p.event_id < {n_queries}
)
WHERE rnk <= {k}
"""


def rasterize(nation: DataFrame, zoom: int = 5, pixels: int = 8) -> DataFrame:
    """Raster<->vector conversion, forward direction (T2 georeferencing,
    tms20.go:714-747): sample each triangle's covering tiles on a
    pixels x pixels grid and emit interior pixels.

    Output row = (nationkey, zoom, tx, ty, ix, iy): a sparse raster mask.
    """
    ts = tile_size(zoom)
    cell = ts / pixels
    g = (
        _triangle_tiles(triangles_from_nation(nation), ts)
        .selectExpr("*", f"explode(sequence(0, {pixels - 1})) AS ix")
        .selectExpr("*", f"explode(sequence(0, {pixels - 1})) AS iy")
        # pixel centre in native CRS (topLeft grid: y decreases with iy)
        .selectExpr(
            "*",
            f"{lit(RD_ORIGIN_X)} + tx * {lit(ts)} + (ix + 0.5D) * {lit(cell)} AS px",
            f"{lit(RD_ORIGIN_Y)} - ty * {lit(ts)} - (iy + 0.5D) * {lit(cell)} AS py",
        )
    )
    return g.where(_INSIDE_TRIANGLE).selectExpr("nationkey", f"{zoom} AS zoom", "tx", "ty", "ix", "iy")


def rasterize_sql(zoom: int = 5, pixels: int = 8) -> str:
    ts = tile_size(zoom)
    cell = ts / pixels
    return f"""
WITH tris AS ({TRIANGLES_FROM_NATION_SQL}),
tiles AS (
  SELECT t.*, tx.tx, ty.ty
  FROM tris t,
       LATERAL (SELECT UNNEST(range(CAST(FLOOR((t.bx - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT),
                                    CAST(FLOOR((t.cx2 - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT) + 1)) AS tx) tx,
       LATERAL (SELECT UNNEST(range(CAST(FLOOR(({RD_ORIGIN_Y} - t.ay) / {ts!r}) AS BIGINT),
                                    CAST(FLOOR(({RD_ORIGIN_Y} - t."by") / {ts!r}) AS BIGINT) + 1)) AS ty) ty
),
pix AS (
  SELECT g.*, i.ix, j.iy,
         CAST({RD_ORIGIN_X} AS DOUBLE) + g.tx * CAST({ts!r} AS DOUBLE) + (i.ix + 0.5) * CAST({cell!r} AS DOUBLE) AS px,
         CAST({RD_ORIGIN_Y} AS DOUBLE) - g.ty * CAST({ts!r} AS DOUBLE) - (j.iy + 0.5) * CAST({cell!r} AS DOUBLE) AS py
  FROM tiles g,
       LATERAL (SELECT UNNEST(range(0, {pixels})) AS ix) i,
       LATERAL (SELECT UNNEST(range(0, {pixels})) AS iy) j
)
SELECT nationkey, {zoom} AS zoom, tx, ty, CAST(ix AS INT) AS ix, CAST(iy AS INT) AS iy
FROM pix
WHERE (
  ((px - bx) * (ay - "by") - (ax - bx) * (py - "by") < 0 AND
   (px - cx2) * ("by" - cy2) - (bx - cx2) * (py - cy2) < 0 AND
   (px - ax) * (cy2 - ay) - (cx2 - ax) * (py - ay) < 0)
  OR
  ((px - bx) * (ay - "by") - (ax - bx) * (py - "by") > 0 AND
   (px - cx2) * ("by" - cy2) - (bx - cx2) * (py - cy2) > 0 AND
   (px - ax) * (cy2 - ay) - (cx2 - ax) * (py - ay) > 0)
)
"""


def vectorize_raster(nation: DataFrame, zoom: int = 5, pixels: int = 8) -> DataFrame:
    """Raster -> vector: merge horizontal pixel runs back into boxes.

    Inverse direction of rasterize: groups interior pixels into maximal
    per-(tile,row) runs and georeferences each run to a native-CRS box
    (ToNative semantics).  Output: one row per run with native bbox.
    """
    ts = tile_size(zoom)
    cell = ts / pixels
    r = rasterize(nation, zoom, pixels)
    run_id = "ix - row_number() OVER (PARTITION BY nationkey, zoom, tx, ty, iy ORDER BY ix)"
    runs = r.selectExpr("*", f"{run_id} AS run").groupBy("nationkey", "zoom", "tx", "ty", "iy", "run").agg(
        F.min("ix").alias("ix0"), F.max("ix").alias("ix1"), F.count("*").alias("n_px")
    )
    x0, y0, ts_, cell_ = lit(RD_ORIGIN_X), lit(RD_ORIGIN_Y), lit(ts), lit(cell)
    return runs.selectExpr(
        "nationkey", "zoom", "tx", "ty", "iy", "n_px",
        f"{x0} + tx * {ts_} + ix0 * {cell_} AS min_x",
        f"{y0} - ty * {ts_} - (iy + 1) * {cell_} AS min_y",
        f"{x0} + tx * {ts_} + (ix1 + 1) * {cell_} AS max_x",
        f"{y0} - ty * {ts_} - iy * {cell_} AS max_y",
    )


def vectorize_raster_sql(zoom: int = 5, pixels: int = 8) -> str:
    ts = tile_size(zoom)
    cell = ts / pixels
    return f"""
WITH raster AS ({rasterize_sql(zoom, pixels)}),
runs AS (
  SELECT nationkey, zoom, tx, ty, iy,
         ix - ROW_NUMBER() OVER (PARTITION BY nationkey, zoom, tx, ty, iy ORDER BY ix) AS run,
         ix
  FROM raster
)
SELECT nationkey, zoom, tx, ty, iy,
       COUNT(*) AS n_px,
       CAST({RD_ORIGIN_X} AS DOUBLE) + tx * CAST({ts!r} AS DOUBLE) + MIN(ix) * CAST({cell!r} AS DOUBLE) AS min_x,
       CAST({RD_ORIGIN_Y} AS DOUBLE) - ty * CAST({ts!r} AS DOUBLE) - (iy + 1) * CAST({cell!r} AS DOUBLE) AS min_y,
       CAST({RD_ORIGIN_X} AS DOUBLE) + tx * CAST({ts!r} AS DOUBLE) + (MAX(ix) + 1) * CAST({cell!r} AS DOUBLE) AS max_x,
       CAST({RD_ORIGIN_Y} AS DOUBLE) - ty * CAST({ts!r} AS DOUBLE) - iy * CAST({cell!r} AS DOUBLE) AS max_y
FROM runs GROUP BY nationkey, zoom, tx, ty, iy, run
"""


def topk_per_tile(events: DataFrame, zoom: int = 8, k: int = 3) -> DataFrame:
    """Top-k points per tile by distance to the tile centre (K17's
    area-sort as an engine-level window: partitionBy(tile).orderBy)."""
    ts = tile_size(zoom)
    pts = points_from_events(events)
    df = pts.selectExpr("event_id", "px", "py", f"{_tile_x('px', ts)} AS tx", f"{_tile_y('py', ts)} AS ty")
    cx = f"({lit(RD_ORIGIN_X)} + (tx + 0.5D) * {lit(ts)})"
    cy = f"({lit(RD_ORIGIN_Y)} - (ty + 0.5D) * {lit(ts)})"
    return (
        df.selectExpr("*", f"(px - {cx}) * (px - {cx}) + (py - {cy}) * (py - {cy}) AS dist")
        .selectExpr("*", "row_number() OVER (PARTITION BY tx, ty ORDER BY dist ASC, event_id ASC) AS rnk")
        .where(f"rnk <= {k}")
        .selectExpr(f"{zoom} AS zoom", "tx", "ty", "event_id", "CAST(rnk AS INT) AS rnk")
    )


def topk_per_tile_sql(zoom: int = 8, k: int = 3) -> str:
    ts = tile_size(zoom)
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL}),
tiled AS (
  SELECT event_id, px, py,
         CAST(FLOOR((px - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT) AS tx,
         CAST(FLOOR(({RD_ORIGIN_Y} - py) / {ts!r}) AS BIGINT) AS ty
  FROM pts
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY tx, ty
      ORDER BY (px - (CAST({RD_ORIGIN_X} AS DOUBLE) + (tx + 0.5) * CAST({ts!r} AS DOUBLE)))
               * (px - (CAST({RD_ORIGIN_X} AS DOUBLE) + (tx + 0.5) * CAST({ts!r} AS DOUBLE)))
             + (py - (CAST({RD_ORIGIN_Y} AS DOUBLE) - (ty + 0.5) * CAST({ts!r} AS DOUBLE)))
               * (py - (CAST({RD_ORIGIN_Y} AS DOUBLE) - (ty + 0.5) * CAST({ts!r} AS DOUBLE))) ASC,
             event_id ASC) AS rnk
  FROM tiled
)
SELECT {zoom} AS zoom, tx, ty, event_id, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {k}
"""


def _knn_full_scan(unresolved, c, d, w, k):
    """Exhaustive top-k for the (small) unresolved tail of knn_join_grid."""
    return (
        unresolved.crossJoin(c.select("nationkey", "cx", "cy"))
        .withColumn("dist", d)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("event_id", "nationkey", F.col("rnk").cast("int").alias("rnk"))
    )


def knn_join_grid(
    events: DataFrame,
    nation: DataFrame,
    k: int = 3,
    n_queries: int = 2000,
    cell: float = 250_000.0,
    max_rounds: int = 12,
) -> DataFrame:
    """Exact kNN via expanding-ring cell-neighborhood search - the 100 TB
    scale path, exact at ANY density (no cell-size tuning needed).

    Both sides bucket into a coarse grid.  Round r joins each unresolved
    query against its (2r+1)^2 cell neighborhood (an equi-join on cell
    key, shuffle- and broadcast-friendly) and takes the window top-k.  A
    query is PROVABLY resolved when it found >= k candidates and its
    k-th distance <= r*cell: any point in a cell at Chebyshev cell
    distance > r is farther than r*cell away.  Unresolved queries (too
    few/too far neighbors) re-join with the ring radius QUADRUPLED
    (r *= 4), so only log4(grid span) rounds are needed; if max_rounds
    is exhausted first, the remaining tail is resolved by one full scan
    (never silently dropped - ADVICE r2), so correctness never depends
    on the cell size or the round budget.

    Driver-side state is only aggregates (corpus cell bounds, emptiness
    checks); all candidate generation/scoring is distributed.  Round-
    local caches are unpersisted as soon as they are consumed (ADVICE
    r2): a long run holds at most the current unresolved set and the
    current round's top-k in executor storage.
    """
    pts = points_from_events(events).where(F.col("event_id") < n_queries)
    cents = triangles_from_nation(nation).select("nationkey", "cx", "cy")
    c = cents.select(
        "nationkey",
        "cx",
        "cy",
        F.floor(F.col("cx") / cell).alias("gx"),
        F.floor(F.col("cy") / cell).alias("gy"),
    )
    # single packed long key -> LongHashedRelation fast path (see pip_join)
    c = c.withColumn("gk", (F.col("gx") + F.lit(1 << 21)) * F.lit(1 << 22) + (F.col("gy") + F.lit(1 << 21))).cache()
    # corpus cell bounds: once the ring spans them, the search is a full
    # scan for that query and therefore exact by exhaustion
    b = c.agg(
        F.min("gx").alias("x0"), F.max("gx").alias("x1"),
        F.min("gy").alias("y0"), F.max("gy").alias("y1"),
    ).collect()[0]
    # all join keys are ring cells clamped to these corpus bounds, so
    # bounding them bounds every packed key in the query
    _assert_pack_budget(
        max(abs(int(b[c_])) for c_ in ("x0", "x1", "y0", "y1")),
        f"knn_join_grid(cell={cell})",
    )
    span_cells = max(int(b["x1"] - b["x0"]), int(b["y1"] - b["y0"])) + 1

    q0 = pts.select(
        "event_id",
        "px",
        "py",
        F.floor(F.col("px") / cell).alias("qgx"),
        F.floor(F.col("py") / cell).alias("qgy"),
    )
    d = (F.col("px") - F.col("cx")) * (F.col("px") - F.col("cx")) + (F.col("py") - F.col("cy")) * (F.col("py") - F.col("cy"))
    w = Window.partitionBy("event_id").orderBy(F.col("dist").asc(), F.col("nationkey").asc())

    unresolved = q0.cache()
    finished = False
    resolved_parts: list[DataFrame] = []
    round_caches: list[DataFrame] = []
    r = 1
    for _ in range(max_rounds):
        if r >= span_cells:
            # ring spans the whole corpus: search it directly (the
            # unresolved tail is small by now - no point exploding cells)
            resolved_parts.append(_knn_full_scan(unresolved, c, d, w, k))
            finished = True
            break
        # ring cells clamped to the corpus bounds: empty space costs nothing
        cand = unresolved.withColumn(
            "gx",
            F.explode(
                F.sequence(
                    F.greatest(F.col("qgx") - r, F.lit(int(b["x0"]))),
                    F.least(F.col("qgx") + r, F.lit(int(b["x1"]))),
                )
            ),
        ).withColumn(
            "gy",
            F.explode(
                F.sequence(
                    F.greatest(F.col("qgy") - r, F.lit(int(b["y0"]))),
                    F.least(F.col("qgy") + r, F.lit(int(b["y1"]))),
                )
            ),
        ).withColumn("gk", (F.col("gx") + F.lit(1 << 21)) * F.lit(1 << 22) + (F.col("gy") + F.lit(1 << 21)))
        topk = (
            cand.drop("gx", "gy").join(c.drop("gx", "gy"), ["gk"])
            .withColumn("dist", d)
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("event_id", "nationkey", F.col("rnk").cast("int").alias("rnk"), "dist")
            .cache()
        )
        proof = topk.groupBy("event_id").agg(
            F.count("*").alias("cnt"), F.max("dist").alias("kth")
        )
        # STRICT <: a point just outside the ring can sit at exactly
        # r*cell (query on its cell edge, candidate on the far corner)
        done_ids = proof.where(
            (F.col("cnt") >= k) & (F.col("kth") < F.lit(float(r) * cell) ** 2)
        ).select("event_id")
        resolved_parts.append(
            topk.join(F.broadcast(done_ids), "event_id").select("event_id", "nationkey", "rnk")
        )
        round_caches.append(topk)
        prev_unresolved = unresolved
        unresolved = unresolved.join(F.broadcast(done_ids), "event_id", "left_anti").cache()
        if prev_unresolved is not q0:
            prev_unresolved.unpersist()
        if unresolved.isEmpty():
            finished = True
            break
        r = min(r * 4, span_cells)
    if not finished:
        # max_rounds exhausted with queries still unresolved: finish them
        # with one full scan rather than dropping them (ADVICE r2)
        resolved_parts.append(_knn_full_scan(unresolved, c, d, w, k))
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    # materialize before releasing the lineage caches the union reads from
    out = out.localCheckpoint(eager=True)
    for tk in round_caches:
        tk.unpersist()
    if unresolved is not q0:
        unresolved.unpersist()
    q0.unpersist()
    c.unpersist()
    return out


def tile_pyramid_rollup(events: DataFrame, max_zoom: int = 8, min_zoom: int = 0) -> DataFrame:
    """Overview-tile pyramid: per-tile point counts at every zoom from
    ``min_zoom`` to ``max_zoom``, in ONE aggregation.

    The quad-tree grid halves tile counts per level (tms20.go quad-tree
    validation: each matrix exactly doubles the previous), so the parent
    of tile (tx, ty) at z is (tx >> 1, ty >> 1) at z-1.  Instead of
    (max_zoom - min_zoom) successive parent-groupBys - a shuffle per
    level, the classic overview-building antipattern at 100 TB - each
    point is assigned its max_zoom tile, explodes to its
    (max_zoom - min_zoom + 1) ancestors with per-level literal bit
    shifts, and ONE shuffle keyed by (zoom, tx, ty) counts the pyramid
    (map-side partial counts keep the shuffle tile-sized).  Arithmetic
    shiftright = floor division by 2^k, correct for negative
    (outside-grid-west/north) tile coords too.  Having exactly one
    stateful operator is also what lets this same function run on an
    event stream in complete or update mode.

    The DuckDB oracle is deliberately STRONGER than a rollup mirror: it
    assigns points directly at every zoom from the raw coordinates,
    proving rollup-of-children == direct assignment (exact because each
    level's tile size is exactly double the next: floor(p / (a * 2^k))
    == floor(floor(p / a) / 2^k)).
    """
    if not 0 <= min_zoom <= max_zoom:
        raise ValueError(f"need 0 <= min_zoom <= max_zoom, got {min_zoom}..{max_zoom}")
    ts = tile_size(max_zoom)
    ancestors = ", ".join(
        f"struct({z} AS zoom, shiftright(tx, {max_zoom - z}) AS tx, shiftright(ty, {max_zoom - z}) AS ty)"
        for z in range(min_zoom, max_zoom + 1)
    )
    return (
        points_from_events(events)
        .selectExpr(f"{_tile_x('px', ts)} AS tx", f"{_tile_y('py', ts)} AS ty")
        .selectExpr(f"inline(array({ancestors}))")
        .groupBy("zoom", "tx", "ty")
        .agg(F.count("*").alias("n_points"))
    )


def tile_pyramid_rollup_sql(max_zoom: int = 8, min_zoom: int = 0) -> str:
    level_rows = ", ".join(
        f"({z}, {tile_size(z)!r})" for z in range(min_zoom, max_zoom + 1)
    )
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL}),
lv(zoom, ts) AS (SELECT * FROM (VALUES {level_rows}))
SELECT lv.zoom,
       CAST(FLOOR((px - ({RD_ORIGIN_X})) / lv.ts) AS BIGINT) AS tx,
       CAST(FLOOR(({RD_ORIGIN_Y} - py) / lv.ts) AS BIGINT) AS ty,
       COUNT(*) AS n_points
FROM pts CROSS JOIN lv
GROUP BY 1, 2, 3
"""


def tile_diff(old_events: DataFrame, new_events: DataFrame, zoom: int = 8) -> DataFrame:
    """Incremental tile-update detection: diff the tile index computed
    from two event generations and emit only tiles whose content
    changed - the operation that turns planet-scale vector-tile
    maintenance from "regenerate everything" (the reference's model:
    one full run per release) into "rewrite the touched tiles".

    Output: (zoom, tx, ty, status, n_old, n_new) for status in
    added / removed / changed; unchanged tiles (the overwhelming
    majority between crawls) are filtered out before any sink.

    Scale shape: two map-side-combined tile aggregations (each shuffle
    carries one row per DISTINCT tile, not per event) and ONE full
    outer join on the uniform (zoom, tx, ty) key - no skew, no
    broadcast needed, and the join input is tile-universe-sized
    (<= 4^zoom rows/side) regardless of event count.
    """
    old_t = tile_assign(old_events, zoom=zoom).withColumnRenamed("n_points", "n_old")
    new_t = tile_assign(new_events, zoom=zoom).withColumnRenamed("n_points", "n_new")
    j = old_t.join(new_t, ["zoom", "tx", "ty"], "full_outer")
    status = (
        "CASE WHEN n_old IS NULL THEN 'added' WHEN n_new IS NULL THEN 'removed' "
        "WHEN n_old != n_new THEN 'changed' END"
    )
    return (
        j.selectExpr("*", f"{status} AS status")
        .where("status IS NOT NULL")
        .selectExpr("zoom", "tx", "ty", "status", "coalesce(n_old, 0) AS n_old", "coalesce(n_new, 0) AS n_new")
    )


def tile_diff_sql(zoom: int = 8, old_filter: str = "event_id % 10 <> 0") -> str:
    ts = tile_size(zoom)
    tile = (
        f"CAST(FLOOR((px - ({RD_ORIGIN_X})) / {ts!r}) AS BIGINT) AS tx, "
        f"CAST(FLOOR(({RD_ORIGIN_Y} - py) / {ts!r}) AS BIGINT) AS ty"
    )
    return f"""
WITH pts AS ({POINTS_FROM_EVENTS_SQL}),
old_t AS (
  SELECT {zoom} AS zoom, {tile}, COUNT(*) AS n_old
  FROM pts WHERE {old_filter} GROUP BY 1, 2, 3
), new_t AS (
  SELECT {zoom} AS zoom, {tile}, COUNT(*) AS n_new
  FROM pts GROUP BY 1, 2, 3
)
SELECT COALESCE(o.zoom, n.zoom) AS zoom,
       COALESCE(o.tx, n.tx) AS tx,
       COALESCE(o.ty, n.ty) AS ty,
       CASE WHEN o.tx IS NULL THEN 'added'
            WHEN n.tx IS NULL THEN 'removed'
            WHEN o.n_old <> n.n_new THEN 'changed' END AS status,
       COALESCE(o.n_old, 0) AS n_old,
       COALESCE(n.n_new, 0) AS n_new
FROM old_t o FULL OUTER JOIN new_t n
  ON o.zoom = n.zoom AND o.tx = n.tx AND o.ty = n.ty
WHERE (o.tx IS NULL OR n.tx IS NULL OR o.n_old <> n.n_new)
"""
