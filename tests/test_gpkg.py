"""GeoPackage source/sink + CLI end-to-end (format parity with the
reference's primary interchange: processing/gpkg/gpkg.go, main.go)."""

import sqlite3

import pytest

pyspark = pytest.importorskip("pyspark")

from texel_spark.functions.wkb import (
    geometry_to_gpkg_blob,
    geometry_to_wkb,
    gpkg_blob_to_geometry,
    parse_wkb,
)


def test_wkb_roundtrip():
    rings = [
        [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        [(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0)],
    ]
    kind, coords, end = parse_wkb(geometry_to_wkb("polygon", rings))
    assert kind == "polygon" and coords == rings
    mp = [rings, [[(20.0, 20.0), (30.0, 20.0), (30.0, 30.0)]]]
    kind, coords, _ = parse_wkb(geometry_to_wkb("multipolygon", mp))
    assert kind == "multipolygon" and coords == mp
    kind, coords, _ = parse_wkb(geometry_to_wkb("point", (1.5, -2.5)))
    assert kind == "point" and coords == (1.5, -2.5)


def test_gpkg_blob_roundtrip():
    rings = [[(117220.282, 440135.898), (117210.713, 440135.101), (117211.129, 440130.102)]]
    blob = geometry_to_gpkg_blob("polygon", rings, srs_id=28992)
    kind, coords = gpkg_blob_to_geometry(blob)
    assert kind == "polygon" and coords == rings


def _make_source_gpkg(path: str, n: int = 30):
    """Build a small source GPKG the way any GIS tool would."""
    from texel_spark.functions.wkb import geometry_to_gpkg_blob

    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT, srs_id INTEGER PRIMARY KEY,
          organization TEXT, organization_coordsys_id INTEGER, definition TEXT, description TEXT);
        INSERT INTO gpkg_spatial_ref_sys VALUES ('EPSG:28992', 28992, 'EPSG', 28992, 'undefined', NULL);
        CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, data_type TEXT, identifier TEXT,
          description TEXT, last_change DATETIME, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER);
        CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT,
          geometry_type_name TEXT, srs_id INTEGER, z TINYINT, m TINYINT);
        CREATE TABLE buildings (fid INTEGER PRIMARY KEY, name TEXT, height REAL, geom BLOB);
        INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)
          VALUES ('buildings', 'features', 'buildings', 28992);
        INSERT INTO gpkg_geometry_columns VALUES ('buildings', 'geom', 'POLYGON', 28992, 0, 0);
        CREATE TABLE notes (id INTEGER PRIMARY KEY, body TEXT); -- non-spatial, must be dropped
        """
    )
    for i in range(n):
        cx = 117000.0 + (i % 10) * 40
        cy = 440000.0 + (i // 10) * 40
        rings = [[(cx, cy), (cx + 20, cy), (cx + 20, cy + 15), (cx, cy + 15)]]
        blob = geometry_to_gpkg_blob("polygon", rings, 28992)
        con.execute(
            "INSERT INTO buildings (name, height, geom) VALUES (?, ?, ?)",
            (f"b{i}", 3.0 + i, blob),
        )
    con.commit()
    con.close()


def test_table_discovery_drops_non_spatial(tmp_path):
    from texel_spark.sources.gpkg import get_table_info

    src = str(tmp_path / "src.gpkg")
    _make_source_gpkg(src)
    tables = get_table_info(src)
    assert [t.name for t in tables] == ["buildings"]
    assert tables[0].geometry_column == "geom"
    assert tables[0].srs_id == 28992


def test_read_features_parallel(spark, tmp_path):
    from texel_spark.sources.gpkg import read_features

    src = str(tmp_path / "src.gpkg")
    _make_source_gpkg(src, n=30)
    df = read_features(spark, src, "buildings", n_splits=7)
    rows = df.collect()
    assert len(rows) == 30
    assert {r["name"] for r in rows} == {f"b{i}" for i in range(30)}
    assert all(r["wkt"].startswith("POLYGON") for r in rows)


def test_write_read_roundtrip(spark, tmp_path):
    from texel_spark.sources.gpkg import read_features, write_features

    src = str(tmp_path / "src.gpkg")
    _make_source_gpkg(src, n=25)
    df = read_features(spark, src, "buildings")
    out = str(tmp_path / "copy.gpkg")
    stats = write_features(df.drop("fid"), out, "buildings", page_size=10)
    assert stats["rows"] == 25
    back = read_features(spark, out, "buildings")
    assert back.count() == 25
    # extent recorded in gpkg_contents (S7)
    con = sqlite3.connect(out)
    (min_x, min_y, max_x, max_y) = con.execute(
        "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents WHERE table_name='buildings'"
    ).fetchone()
    con.close()
    assert min_x == 117000.0 and max_x == 117000.0 + 9 * 40 + 20


def test_cli_end_to_end(spark, tmp_path):
    """The reference's CLI flow: source gpkg -> snapped target gpkg per zoom."""
    from texel_spark.cli import main, target_path_for
    from texel_spark.sources.gpkg import read_features

    src = str(tmp_path / "src.gpkg")
    _make_source_gpkg(src, n=12)
    tgt = str(tmp_path / "out.gpkg")
    rc = main(["-s", src, "-t", tgt, "-z", "[9, 11]", "--keep-points-and-lines", "--master", "local[4]"])
    assert rc == 0
    for z in (9, 11):
        path = target_path_for(tgt, z)
        df = read_features(spark, path, "buildings")
        rows = df.collect()
        assert rows, f"no features at zoom {z}"
        assert set(df.columns) >= {"name", "height", "geom_kind", "wkt"}
        # attributes passed through verbatim (span-sequence analog)
        names = {r["name"] for r in rows}
        assert names <= {f"b{i}" for i in range(12)}


def test_cli_snaps_each_row_once(spark, tmp_path, monkeypatch):
    """The CLI persists each table's snapped frame, so writing two tile
    matrices runs the Python kernel once: a row-counting accumulator
    around snap_documents counts every snapped row exactly once."""
    from texel_spark.cli import main, target_path_for
    from texel_spark.operators import snap_tiles
    from texel_spark.sources.gpkg import read_features

    rows_out = spark.sparkContext.accumulator(0)
    snap_documents = snap_tiles.snap_documents

    def counted(*args, **kwargs):
        df = snap_documents(*args, **kwargs)

        def count(batches):
            for pdf in batches:
                rows_out.add(len(pdf))
                yield pdf

        return df.mapInPandas(count, schema=df.schema)

    monkeypatch.setattr(snap_tiles, "snap_documents", counted)
    src = str(tmp_path / "src.gpkg")
    _make_source_gpkg(src, n=12)
    tgt = str(tmp_path / "out.gpkg")
    assert main(["-s", src, "-t", tgt, "-z", "[9, 11]", "--master", "local[4]"]) == 0
    written = sum(read_features(spark, target_path_for(tgt, z), "buildings").count() for z in (9, 11))
    assert written > 0
    assert rows_out.value == written


REFERENCE_EXAMPLE = "/root/reference/example/example.gpkg"


@pytest.mark.skipif(not __import__("os").path.exists(REFERENCE_EXAMPLE), reason="reference example not present")
def test_reference_example_gpkg_end_to_end(spark, tmp_path):
    """The reference repo's own example GeoPackage (README.md:72-88) runs
    through the CLI: polygons snapped per zoom, MULTIPOINT /
    MULTILINESTRING features passed through verbatim, attributes kept."""
    import sqlite3

    from texel_spark.cli import main
    from texel_spark.functions.wkb import gpkg_blob_to_geometry

    tgt = str(tmp_path / "processed.gpkg")
    rc = main([
        "-s", REFERENCE_EXAMPLE, "-t", tgt,
        "--tilematrixset", "WebMercatorQuad", "-z", "[10]",
        "--keep-points-and-lines", "--ignore-outside-grid", "--master", "local[4]",
    ])
    assert rc == 0
    out = str(tmp_path / "processed_10.gpkg")
    con = sqlite3.connect(out)
    counts = {t: con.execute(f'SELECT COUNT(*) FROM "{t}"').fetchone()[0] for t in ("polygons", "points", "lines")}
    assert counts == {"polygons": 6, "points": 4, "lines": 3}
    # pass-through kinds survive; snapped polygons are on the z10 lattice
    kind, coords = gpkg_blob_to_geometry(con.execute('SELECT geom FROM "points" LIMIT 1').fetchone()[0])
    assert kind == "multipoint"
    kind, coords = gpkg_blob_to_geometry(con.execute('SELECT geom FROM "lines" LIMIT 1').fetchone()[0])
    assert kind == "multilinestring"
    names = {r[0] for r in con.execute('SELECT name FROM "polygons"')}
    src = sqlite3.connect(f"file:{REFERENCE_EXAMPLE}?mode=ro", uri=True)
    src_names = {r[0] for r in src.execute('SELECT name FROM "polygons"')}
    assert names == src_names  # attributes pass through verbatim
