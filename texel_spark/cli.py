"""CLI with the reference's surface: snap a GeoPackage for vector tiles.

Mirrors texel's flags (/root/reference/main.go:45-114):

    spark-submit --py-files texel_spark.zip -m texel_spark.cli \\
        -s source.gpkg -t target.gpkg \\
        --tilematrixset NetherlandsRDNewQuad --tilematrices [5,9] \\
        [--keep-points-and-lines] [--ignore-outside-grid] \\
        [--reverse-winding-order] [--pagesize 1000]

One target GPKG per tile matrix ID, suffixed ``_<tmID>`` before the
extension (main.go:139-152, 219-224); every spatial table in the source
is processed (non-spatial tables dropped, README.md:55-58); preflight
runs the quad-tree validation + deviation stats warning
(main.go:190-201).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def resolve_tms(spec: str):
    """Embedded grid id, or a path to a custom OGC TMS 2.0 JSON
    (tms20.go:42-54: the reference loads either form)."""
    import os

    from .grid.tms import load_embedded, load_json_tile_matrix_set

    if spec.endswith(".json") or os.path.sep in spec:
        return load_json_tile_matrix_set(spec)
    return load_embedded(spec)


def target_path_for(base: str, tm_id: int) -> str:
    dot = base.rfind(".")
    if dot < 0:
        return f"{base}_{tm_id}"
    return f"{base[:dot]}_{tm_id}{base[dot:]}"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="texel-spark")
    p.add_argument("-s", "--source", required=True)
    p.add_argument("-t", "--target", required=True)
    p.add_argument(
        "--tilematrixset", "-tms", default="NetherlandsRDNewQuad",
        help="embedded TMS id (one of the 14 OGC registry grids) or a path "
        "to a custom OGC TMS 2.0 JSON file (main.go:98, tms20.go:42-54)",
    )
    p.add_argument("--tilematrices", "-z", default="[5]", help="JSON list of tile matrix IDs")
    p.add_argument("--keep-points-and-lines", action="store_true")
    p.add_argument("--ignore-outside-grid", action="store_true")
    p.add_argument("--reverse-winding-order", action="store_true")
    p.add_argument("--pagesize", type=int, default=1000)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from .grid.tms import deviation_stats, is_quad_tree
    from .kernel.snap import SnapConfig
    from .operators.snap_tiles import snap_documents
    from .session import get_spark
    from .sources.gpkg import get_table_info, read_features, write_features

    tms = resolve_tms(args.tilematrixset)
    tm_ids = json.loads(args.tilematrices)
    config = SnapConfig(
        keep_points_and_lines=args.keep_points_and_lines,
        ignore_outside_grid=args.ignore_outside_grid,
        reverse_winding_order=args.reverse_winding_order,
    )

    # preflight (main.go:190-201)
    is_quad_tree(tms)
    dev_units, dev_pixels = deviation_stats(tms, max(tm_ids))
    if dev_pixels >= 1:
        print(f"[WARNING] fixed-point deviation at deepest zoom: {dev_pixels:.2f} px", file=sys.stderr)

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="texel-spark-cli", master=args.master)
    tables = get_table_info(args.source)
    if not tables:
        print("no spatial tables found", file=sys.stderr)
        return 1

    for tinfo in tables:
        feats = read_features(spark, args.source, tinfo.name)
        attr_cols = [c for c, _ in tinfo.columns if c not in (tinfo.geometry_column, "fid")]
        # stable feature key for re-joining attributes after the kernel
        keyed = feats.withColumn("__fk", F.monotonically_increasing_id()).cache()
        geoms = keyed.where(F.col("wkt").isNotNull()).select(
            F.col("__fk").cast("string").alias("doc_id"), F.lit(0).alias("span_idx"), "wkt"
        )
        # persisted so the Python kernel runs once per table, not once
        # per tile matrix's write
        snapped = snap_documents(geoms, tms, tm_ids, config).persist()
        try:
            for tm_id in tm_ids:
                out = (
                    snapped.where(F.col("zoom") == tm_id)
                    .select(
                        "doc_id",
                        F.col("geom_kind").alias("snapped_kind"),
                        F.col("wkt").alias("snapped_wkt"),
                    )
                    .join(keyed.withColumn("doc_id", F.col("__fk").cast("string")), "doc_id")
                    .select(*attr_cols, F.col("snapped_kind").alias("geom_kind"), F.col("snapped_wkt").alias("wkt"))
                )
                path = target_path_for(args.target, tm_id)
                stats = write_features(
                    out, path, tinfo.name, srs_id=tinfo.srs_id,
                    geometry_type=tinfo.geometry_type, page_size=args.pagesize,
                )
                print(f"{tinfo.name} -> {path}: {stats['rows']} features, extent {stats['extent']}")
        finally:
            snapped.unpersist()
            keyed.unpersist()
    if not pre_existing:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
