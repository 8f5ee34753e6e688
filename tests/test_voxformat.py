"""Reference VoxelGrid MessagePack (.obj) checkpoint format parity
(VoxelGrid.cs:347-366; golden test VoxelGrid.Tests.cs:52-135)."""

import os

import numpy as np
import pytest

from lasutility_spark.gridlib.voxformat import (
    deserialize_voxel_grid,
    serialize_voxel_grid,
)

GOLDEN = (
    "/root/reference/LasUtility.Tests/TestFiles/VoxelGrid/"
    "AddPointsAndSave/Input/points.obj"
)
needs_fixture = pytest.mark.skipif(
    not os.path.exists(GOLDEN),
    reason=f"{GOLDEN} not present: VoxelGrid MessagePack golden-byte parity "
    "(serialize and deserialize) stays unverified",
)


def _build_reference_grid():
    """Replays VoxelGrid.Tests.cs AddPointsAndSave through the pinned
    AddPoint semantics (ground -> DEM max, else bin append;
    VoxelGrid.cs AddPoint)."""
    rows = cols = 10
    minx, miny, maxx, maxy = 0.0, 100000.0, 10.0, 200000.0
    dem = np.full((rows, cols), np.nan, dtype=np.float32)
    bins = [[] for _ in range(rows * cols)]

    def add(x, y, z, cls, ground):
        c = int((x - minx) / ((maxx - minx) / cols))
        r = int((y - miny) / ((maxy - miny) / rows))
        if ground:
            dem[r, c] = z if np.isnan(dem[r, c]) else max(dem[r, c], z)
        else:
            bins[r * cols + c].append((np.float32(z), cls))

    eps = 0.000001
    add(0.0, 100000.0, 100, 0, True)
    add(10.0 - eps, 200000.0 - eps, 10, 0, True)
    add(5.0, 155000.0, np.float32(5) / 2, 0, False)
    add(5.0, 155000.0, np.float32(5) * 2, 0, False)
    add(5.0, 155000.0, np.float32(5), 0, False)
    # SortAndTrim: descending z
    bins = [sorted(c, key=lambda t: t[0], reverse=True) for c in bins]
    return rows, cols, minx, miny, maxx, maxy, bins, dem


@needs_fixture
def test_serialize_matches_reference_golden_bytes():
    rows, cols, minx, miny, maxx, maxy, bins, dem = _build_reference_grid()
    mine = serialize_voxel_grid(rows, cols, minx, miny, maxx, maxy, bins, dem)
    with open(GOLDEN, "rb") as f:
        assert mine == f.read()  # byte-identical, incl. C# NaN payload


@needs_fixture
def test_deserialize_reference_golden():
    """The LoadPoints assertions (VoxelGrid.Tests.cs:105-135)."""
    with open(GOLDEN, "rb") as f:
        bounds, bins, dem, is_sorted = deserialize_voxel_grid(f.read())
    assert bounds == {
        "rows": 10, "cols": 10,
        "minx": 0.0, "miny": 100000.0, "maxx": 10.0, "maxy": 200000.0,
    }
    assert is_sorted
    assert dem[0, 0] == 100.0 and dem[9, 9] == 10.0
    cell = bins[5 * 10 + 5]  # p3's cell
    assert [z for z, _c in cell] == [10.0, 5.0, 2.5]  # sorted high->low
    assert all(c == 0 for _z, c in cell)


def test_roundtrip_with_nan_payload():
    rows, cols = 3, 4
    dem = np.full((rows, cols), np.nan, dtype=np.float32)
    dem[1, 2] = 17.25
    bins = [[] for _ in range(rows * cols)]
    bins[0] = [(np.float32(2.5), 5), (np.float32(1.0), 200)]
    blob = serialize_voxel_grid(rows, cols, -10.0, 5.0, 30.0, 45.0, bins, dem)
    b, rbins, rdem, srt = deserialize_voxel_grid(blob)
    assert b["rows"] == rows and b["minx"] == -10.0
    assert rbins[0] == [(2.5, 5), (1.0, 200)]
    assert np.isnan(rdem[0, 0]) and rdem[1, 2] == np.float32(17.25)
    # second serialize is byte-stable (incl. NaN bit pattern)
    assert serialize_voxel_grid(
        rows, cols, -10.0, 5.0, 30.0, 45.0, rbins, rdem, srt
    ) == blob
