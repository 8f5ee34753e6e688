"""Unit tests porting the reference's hand-computed expectations verbatim
(engine-independent truths; see SURVEY.md §5)."""

import math

import numpy as np
import pytest

from lasutility_spark.gridlib.bounds import RasterBounds
from lasutility_spark.gridlib.rle import rle_compress_row, rle_decompress_row
from lasutility_spark.gridlib.scanline import (
    bresenham_line,
    fill_polygon,
    rasterize_polygon_with_holes,
)
from lasutility_spark.gridlib.tilenamer import (
    cell_id,
    cell_id_envelope,
    cell_id_to_name,
    tile_decode,
    tile_encode,
    tile_encode_batch,
)


# ---- tile codec golden pairs (NlsTileNamer.Tests.cs:10-60) -------------


def test_decode_1km():
    assert tile_decode("V5211G2_1") == (518000, 7581000, 519000, 7582000)


def test_decode_12km():
    assert tile_decode("V4323L") == (428000, 7554000, 440000, 7566000)


def test_encode_1km():
    assert tile_encode(426502, 7214414, 1000) == "R4412H3_6"


def test_encode_3km():
    assert tile_encode(426502, 7214414, 3000) == "R4412H3"


def test_encode_12km_right():
    assert tile_encode(426502, 7214414, 12000) == "R4412R"


def test_encode_12km_left():
    assert tile_encode(380000, 6666000, 12000) == "L4133L"


@pytest.mark.parametrize("size", [1000, 3000, 6000, 12000, 24000, 48000, 96000])
def test_encode_decode_roundtrip(size):
    rng = np.random.RandomState(42)
    e = rng.randint(20000, 692000, 200)
    n = rng.randint(6570000, 7818000, 200)
    names = tile_encode_batch(e, n, size)
    for ee, nn, name in zip(e, n, names):
        mine, minn, maxe, maxn = tile_decode(str(name))
        assert mine <= ee < maxe, (name, ee)
        assert minn <= nn < maxn, (name, nn)
        assert maxn - minn == size
        # east width: 2x north at >=24km levels and the 24x12 level, else equal
        if size >= 12000 and size != 12000:
            assert maxe - mine == 2 * size
        else:
            assert maxe - mine == size


def test_encode_batch_matches_scalar():
    rng = np.random.RandomState(7)
    e = rng.randint(20000, 692000, 50)
    n = rng.randint(6570000, 7818000, 50)
    for size in (1000, 12000):
        batch = tile_encode_batch(e, n, size)
        for i in range(50):
            assert batch[i] == tile_encode(int(e[i]), int(n[i]), size)


@pytest.mark.parametrize("size", [1000, 3000, 6000, 12000, 24000])
def test_cell_id_consistent_with_names(size):
    rng = np.random.RandomState(3)
    e = rng.randint(20000, 692000, 500)
    n = rng.randint(6570000, 7818000, 500)
    cid = cell_id(e, n, size)
    names = tile_encode_batch(e, n, size)
    assert (cell_id_to_name(cid, size) == names).all()
    mine, minn, maxe, maxn = cell_id_envelope(cid, size)
    assert ((e >= mine) & (e < maxe) & (n >= minn) & (n < maxn)).all()
    # same cell id <-> same name (partition key is exactly the tile)
    import collections

    by_cid = collections.defaultdict(set)
    for c, nm in zip(cid, names):
        by_cid[int(c)].add(str(nm))
    assert all(len(v) == 1 for v in by_cid.values())


def test_encode_out_of_bounds_raises():
    with pytest.raises(ValueError):
        tile_encode(10000, 7000000, 1000)
    with pytest.raises(ValueError):
        tile_encode(100000, 7818000, 1000)


def test_decode_hierarchy_prefix_pruning():
    # coarser prefixes contain finer tiles (partition-pruning invariant)
    full = tile_decode("R4412H3_6")
    for plen in (2, 3, 4, 5, 6, 7):
        env = tile_decode("R4412H3_6"[:plen])
        assert env[0] <= full[0] and env[1] <= full[1]
        assert env[2] >= full[2] and env[3] >= full[3]


# ---- half-open bounds / edge semantics (VoxelGrid.Tests.cs:18-49,
#      HeightMap.Tests.cs:44-52) ------------------------------------------


def test_half_open_edges():
    b = RasterBounds(10, 10, 0.0, 10.0, 10.0, 20.0)
    eps = 1e-8
    r, c = b.proj_to_cell_scalar(0.0, 10.0)
    assert (r, c) == (0, 0)
    r, c = b.proj_to_cell_scalar(10.0 - eps, 20.0 - eps)
    assert (r, c) == (9, 9)
    r, c = b.proj_to_cell_scalar(10.0, 20.0)  # max edge is outside
    assert (r, c) == (-1, -1)
    r, c = b.proj_to_cell_scalar(5.0, 20.0 - eps)
    assert (r, c) == (9, 5)


def test_nonsquare_cells():
    # HeightMap.Tests.cs:56-88 — non-metric, non-square cells
    b = RasterBounds(10, 10, 0.0, 100000.0, 10.0, 200000.0)
    assert b.cell_width == 1.0
    assert b.cell_height == 10000.0
    r, c = b.proj_to_cell_scalar(5.0, 155000.0)
    assert (r, c) == (5, 5)
    x, y = b.cell_bottom_left(5, 5)
    assert (x, y) == (5.0, 150000.0)
    x, y = b.cell_top_right(5, 5)
    assert (x, y) == (6.0, 160000.0)


def test_cell_corner_out_of_range_raises():
    b = RasterBounds(10, 10, 0, 0, 10, 10)
    with pytest.raises(IndexError):
        b.cell_bottom_left(10, 0)


# ---- scanline golden (MathUtils.Tests.cs:14-55) --------------------------


def test_rasterise_triangle_golden():
    b = RasterBounds(10, 10, 10, 10, 20, 20)
    dest = np.zeros((10, 10), dtype=np.uint8)
    xs = np.array([15.0, 19.0, 19.0])
    ys = np.array([15.0, 15.0, 19.0])
    fill_polygon(b, dest, 10, xs, ys)

    expected = np.zeros((10, 10), dtype=np.uint8)
    # filled cells: y=16: x 16-18; y=17: x 17-18; y=18: x 18
    for y, xlo in ((16, 16), (17, 17), (18, 18)):
        for x in range(xlo, 19):
            r, c = b.proj_to_cell_scalar(x, y)
            expected[r, c] = 10
    assert np.array_equal(dest, expected)


def test_polygon_with_hole_two_pass():
    b = RasterBounds(20, 20, 0, 0, 20, 20)
    dest = np.zeros((20, 20), dtype=np.uint8)
    # pre-existing layer value inside the future hole must survive (V6)
    dest[8:10, 8:10] = 7
    ext = (np.array([2.0, 16.0, 16.0, 2.0]), np.array([2.0, 2.0, 16.0, 16.0]))
    hole = (np.array([6.0, 12.0, 12.0, 6.0]), np.array([6.0, 6.0, 12.0, 12.0]))
    rasterize_polygon_with_holes(b, dest, 5, ext, [hole], 2, 15, 2, 15)
    assert dest[4, 4] == 5  # inside exterior
    assert dest[8, 8] == 7  # hole preserved earlier value
    assert dest[0, 0] == 0  # outside


# ---- Bresenham (MathUtils.cs:18-87) --------------------------------------


def test_bresenham_diagonal():
    cells = bresenham_line(0, 0, 3, 3)
    assert cells.tolist() == [[0, 0], [1, 1], [2, 2], [3, 3]]


def test_bresenham_straight_and_reverse():
    assert bresenham_line(0, 0, 3, 0).tolist() == [[0, 0], [1, 0], [2, 0], [3, 0]]
    assert bresenham_line(0, 0, 0, 3).tolist() == [[0, 0], [0, 1], [0, 2], [0, 3]]
    fwd = bresenham_line(0, 0, 5, 2)
    assert fwd[0].tolist() == [0, 0] and fwd[-1].tolist() == [5, 2]
    assert len(fwd) == 8  # dx+dy+1 cells


# ---- RLE codec (ByteRaster.cs:94-122; HeightMap.Tests.cs:222-282) --------


def test_rle_format_exact():
    row = np.array([0, 0, 0, 5, 5, 1], dtype=np.uint8)
    assert rle_compress_row(row) == "3x0 2x5 1x1"
    assert rle_compress_row(np.array([9], dtype=np.uint8)) == "1x9"


def test_rle_roundtrip_random():
    rng = np.random.RandomState(0)
    for _ in range(20):
        row = rng.choice([0, 0, 0, 1, 2, 255], size=rng.randint(1, 500)).astype(np.uint8)
        assert np.array_equal(rle_decompress_row(rle_compress_row(row), len(row)), row)


def test_clip_native_matches_python_fallback():
    """C clip kernels (S-H ring + Liang-Barsky polyline) are bit-identical
    to the Python fallback over fuzzed boundary-crossing geometries."""
    import os

    from lasutility_spark.gridlib import clip

    rng = np.random.RandomState(7)
    box = (0.0, 0.0, 100.0, 100.0)
    for _ in range(800):
        nv = rng.randint(3, 14)
        xs = rng.uniform(-60, 160, nv)
        ys = rng.uniform(-60, 160, nv)
        c = clip.clip_ring(xs, ys, *box)
        os.environ["LSU_NO_NATIVE"] = "1"
        try:
            p = clip.clip_ring(xs, ys, *box)
        finally:
            del os.environ["LSU_NO_NATIVE"]
        assert (c is None) == (p is None)
        if c is not None:
            assert np.array_equal(c[0], p[0]) and np.array_equal(c[1], p[1])
    for _ in range(800):
        nv = rng.randint(2, 20)
        xs = rng.uniform(-60, 160, nv)
        ys = rng.uniform(-60, 160, nv)
        c = clip.clip_polyline(xs, ys, *box)
        os.environ["LSU_NO_NATIVE"] = "1"
        try:
            p = clip.clip_polyline(xs, ys, *box)
        finally:
            del os.environ["LSU_NO_NATIVE"]
        assert len(c) == len(p)
        for (cx, cy), (px_, py_) in zip(c, p):
            assert np.array_equal(cx, px_) and np.array_equal(cy, py_)


def _native_build_worker(tmpdir: str, barrier, delay: float) -> None:
    import sys
    import tempfile
    import time

    tempfile.tempdir = tmpdir
    from lasutility_spark.gridlib import _native

    barrier.wait()
    time.sleep(delay)  # staggered first builds, as in a Spark stage
    try:
        tri = _native.triangulate(
            np.array([0.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0])
        )
    except Exception:
        sys.exit(1)
    sys.exit(0 if len(tri) == 1 else 1)


def test_native_kernel_concurrent_first_build(tmp_path):
    """Workers that compile the C kernel into one empty cache at the same
    time all load it: none raises because another build overwrote the
    source file it was compiling."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    n = 6
    for trial in range(4):
        d = tmp_path / f"cache{trial}"
        d.mkdir()
        barrier = ctx.Barrier(n)
        procs = [
            ctx.Process(
                target=_native_build_worker, args=(str(d), barrier, 0.01 * i)
            )
            for i in range(n)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(120)
        assert [p.exitcode for p in procs] == [0] * n, trial
