"""Golden-file parity: round-trip the reference's own .asc/.asp fixtures
byte-for-byte (read -> write -> compare), mirroring HeightMap.Tests.cs:107-204
and the FileCompare harness (LasUtility.Tests/Utils.cs:6-29)."""

import os

import numpy as np
import pytest

from lasutility_spark.gridlib.asc import (
    ascii_to_byte_raster,
    byte_raster_to_ascii,
    byte_raster_window_to_ascii,
    save_dem_ground,
    write_dem_topdown,
)
from lasutility_spark.gridlib.bounds import RasterBounds

FIXDIR = "/root/reference/LasUtility.Tests/TestFiles"
ASC = os.path.join(FIXDIR, "HeightMap/AddRasterAndSave/Input/buildings_roads.asc")
ASP = os.path.join(FIXDIR, "RasteriserEvenOdd/AddShapefileAndSave/Input/terraintype.asp")


def _norm(text: str) -> str:
    # CRLF-normalized line compare, like Utils.FileCompare (Utils.cs:6-29)
    return "\n".join(line.rstrip("\r") for line in text.splitlines()).rstrip("\n")


@pytest.mark.skipif(
    not os.path.exists(ASC),
    reason=f"{ASC} not present: the byte-for-byte .asc read/write round trip "
    "stays unverified",
)
def test_asc_roundtrip_byte_parity():
    text = open(ASC).read()
    raster, bounds = ascii_to_byte_raster(text, compressed=False)
    assert bounds.rows == 791 and bounds.cols == 1423
    assert bounds.minx == 517550 and bounds.miny == 7043748
    out = byte_raster_to_ascii(raster, bounds, compressed=False)
    assert _norm(out) == _norm(text)


@pytest.mark.skipif(
    not os.path.exists(ASC),
    reason=f"{ASC} not present: the building cell value 101 at "
    "(518550, 7044465) stays unverified",
)
def test_asc_contains_building():
    # HeightMap.Tests.cs:91-104: building value 101 at (518550, 7044465)
    raster, bounds = ascii_to_byte_raster(open(ASC).read(), compressed=False)
    r, c = bounds.proj_to_cell_scalar(518550, 7044465)
    assert raster[r, c] == 101


@pytest.mark.skipif(
    not os.path.exists(ASP),
    reason=f"{ASP} not present: the byte-for-byte RLE .asp read/write round "
    "trip stays unverified",
)
def test_asp_rle_roundtrip_byte_parity():
    text = open(ASP).read()
    raster, bounds = ascii_to_byte_raster(text, compressed=True)
    assert bounds.rows == 12000 and bounds.cols == 12000
    out = byte_raster_to_ascii(raster, bounds, compressed=True)
    assert _norm(out) == _norm(text)


@pytest.mark.skipif(
    not os.path.exists(ASC),
    reason=f"{ASC} not present: the crop-window writer's header "
    "(ncols, nrows, window corners) stays unverified",
)
def test_asc_crop_window_writer():
    # S7 semantics: half-open window, header carries window corners
    raster, bounds = ascii_to_byte_raster(open(ASC).read(), compressed=False)
    out = byte_raster_window_to_ascii(raster, bounds, 518000, 7044000, 518100, 7044100, False)
    lines = out.splitlines()
    assert lines[0].split() == ["ncols", "100"]
    assert lines[1].split() == ["nrows", "100"]
    assert lines[2].split() == ["xllcorner", "518000"]
    assert lines[3].split() == ["yllcorner", "7044000"]
    assert len(lines) == 6 + 100


def test_dem_sinks_disagree_on_purpose():
    # S12 vs S13: bottom-up/-9999 vs top-down/-999 (VoxelGrid.cs:200-220,319-345)
    b = RasterBounds(2, 2, 0, 0, 2, 2)
    dem = np.array([[1.0, np.nan], [3.0, 4.0]], dtype=np.float32)
    ground = save_dem_ground(dem, b)
    topdown = write_dem_topdown(dem, b)
    glines = ground.splitlines()
    tlines = topdown.splitlines()
    assert glines[5].split()[1] == "-9999"
    assert tlines[5].split()[1] == "-999"
    assert glines[6] == "1 -9999"  # row 0 (south) first
    assert tlines[6].rstrip() == "3 4"  # row 1 (north) first
