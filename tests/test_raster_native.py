"""The five raster kernels of ``_delaunay.c`` (point sampling, DEM
triangle-push rasterize, even-odd polygon fill, Bresenham polyline stamp,
rectangle clip) against their numpy forms in ``tests/raster_oracle.py``:
identical arrays and dtypes on seeded inputs, the same pip side tables
when the oracle runs inside ``datagen.gen_pip_tile_stats``, loud
refusals of planes the kernels cannot address, and an ASan/UBSan build
of the unit over the same corpus."""

import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

import raster_oracle
from lasutility_spark.gridlib import _native, clip, imagetile, scanline
from lasutility_spark.gridlib.bounds import RasterBounds
from lasutility_spark.gridlib.tin import Tin

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLIP_BOX = (0.0, 0.0, 100.0, 100.0)


def _same(a, b):
    """Identical arrays (dtype, shape, values; NaN equals NaN)."""
    a, b = np.asarray(a), np.asarray(b)
    assert a.dtype == b.dtype, (a.dtype, b.dtype)
    assert a.shape == b.shape, (a.shape, b.shape)
    assert np.array_equal(a, b, equal_nan=a.dtype.kind == "f")


# ---- seeded corpora (also run by the ASan build below) ------------------


def sample_corpus():
    """(dem, minx, miny, cs, rate): square and non-square float32 planes
    with NaN holes, at ETRS offsets, at both sampling rates."""
    rng = np.random.RandomState(3)
    out = []
    for rows, cols in ((64, 64), (48, 80), (80, 48), (1, 7), (7, 1)):
        dem = rng.uniform(0.0, 500.0, (rows, cols)).astype(np.float32)
        dem[rng.rand(rows, cols) < 0.05] = np.nan
        for rate in (imagetile.BASE_RATE, imagetile.DENSE_RATE):
            out.append((dem, 385000.0, 6672000.0, 1000.0 / cols, rate))
    return out


def sawtooth_ring():
    """3,000 vertices whose middle rows cross 2,998 edges: one tooth per
    two columns of a 8 x 3,000 raster."""
    xs = [0.0]
    ys = [0.0]
    for k in range(1499):
        xs += [2.0 * k, 2.0 * k + 1.0]
        ys += [1.0, 6.0]
    xs.append(2998.0)
    ys.append(0.0)
    return np.array(xs), np.array(ys)


def fill_corpus(in_range=True):
    """(dest, value, row_bot, row_top, poly_x, poly_y) for rings of 3 to
    40 vertices, half of them on integer cell coordinates as
    scanline.fill_polygon passes them, then the 3,000-vertex sawtooth.
    ``in_range=False`` puts vertices and rows off the raster (the kernel
    clamps; the numpy oracle cannot follow there)."""
    rng = np.random.RandomState(11)
    out = []
    for i in range(400):
        rows, cols = rng.randint(2, 40), rng.randint(2, 40)
        nv = rng.randint(3, 41)
        if in_range:
            xs = rng.uniform(0, cols - 1, nv)
            ys = rng.uniform(0, rows - 1, nv)
        else:
            xs = rng.uniform(-cols, 2 * cols, nv)
            ys = rng.uniform(-rows, 2 * rows, nv)
        if i % 2:
            xs, ys = np.floor(xs), np.floor(ys)
        if in_range and i % 3:
            row_bot, row_top = int(ys.min()), int(ys.max())
        elif in_range:
            row_bot = rng.randint(0, rows)
            row_top = rng.randint(row_bot, rows)
        else:
            row_bot = rng.randint(-rows, rows)
            row_top = rng.randint(row_bot, 2 * rows)
        dest = rng.randint(0, 4, (rows, cols)).astype(np.uint8)
        out.append((dest, rng.randint(1, 256), row_bot, row_top, xs, ys))
    xs, ys = sawtooth_ring()
    out.append((np.zeros((8, 3000), np.uint8), 7, 0, 7, xs, ys))
    return out


def polyline_corpus(in_range=True):
    """(dest, value, vrows, vcols): int32 vertex sequences of 1 to 20
    cells, as bounds.proj_to_cell_unchecked returns them."""
    rng = np.random.RandomState(13)
    out = []
    for _ in range(400):
        rows, cols = rng.randint(1, 40), rng.randint(1, 40)
        nv = rng.randint(1, 21)
        if in_range:
            vr = rng.randint(0, rows, nv)
            vc = rng.randint(0, cols, nv)
        else:
            vr = rng.randint(-rows, 2 * rows, nv)
            vc = rng.randint(-cols, 2 * cols, nv)
        dest = rng.randint(0, 4, (rows, cols)).astype(np.uint8)
        out.append((dest, rng.randint(1, 256), vr.astype(np.int32), vc.astype(np.int32)))
    return out


def clip_corpus():
    """The fuzzed boundary-crossing rings and polylines around CLIP_BOX."""
    rng = np.random.RandomState(7)
    rings, lines = [], []
    for _ in range(800):
        nv = rng.randint(3, 14)
        rings.append((rng.uniform(-60, 160, nv), rng.uniform(-60, 160, nv)))
    for _ in range(800):
        nv = rng.randint(2, 20)
        lines.append((rng.uniform(-60, 160, nv), rng.uniform(-60, 160, nv)))
    return rings, lines


def dem_corpus():
    """(bounds, x, y, z, cls): points over and around a non-square and a
    square grid, so triangles hit every clamp."""
    rng = np.random.RandomState(17)
    out = []
    for rows, cols in ((40, 56), (64, 64)):
        b = RasterBounds(rows, cols, 385000.0, 6672000.0, 386000.0, 6673000.0)
        n = 400
        x = b.minx + np.round(rng.uniform(-100, 1100, n), 2)
        y = b.miny + np.round(rng.uniform(-100, 1100, n), 2)
        z = rng.uniform(0, 50, n)
        cls = rng.choice([2, 3, 4, 5, 6], n).astype(np.uint8)
        out.append((b, x, y, z, cls))
    return out


# ---- the differential test ----------------------------------------------


def test_sample_points_matches_oracle():
    for dem, minx, miny, cs, rate in sample_corpus():
        got = _native.sample_points(dem, minx, miny, cs, rate)
        want = raster_oracle.sample_points(dem, minx, miny, cs, rate)
        assert len(got) == len(want) == 4
        for a, b in zip(got, want):
            _same(a, b)
    # and through the public contract, at a dense and a base-rate tile
    for name in ("L4133B3_7", "L4133B3_8"):
        dem = sample_corpus()[2][0]
        got = imagetile.sample_points_from_tile(name, dem, 385000, 6672000, 1000 / 48)
        rate = imagetile.DENSE_RATE if imagetile.is_dense_tile(name) else imagetile.BASE_RATE
        for a, b in zip(got, raster_oracle.sample_points(dem, 385000.0, 6672000.0, 1000 / 48, rate)):
            _same(a, b)


@pytest.mark.parametrize("with_locked", [False, True])
@pytest.mark.parametrize("with_classification", [False, True])
def test_rasterize_dem_matches_oracle(monkeypatch, with_locked, with_classification):
    for b, x, y, z, cls in dem_corpus():
        tin = Tin(x, y, z, cls)
        assert tin.triangle_count > 500
        planes = []
        for kernel in (_native.rasterize_dem, raster_oracle.rasterize_dem):
            monkeypatch.setattr(_native, "rasterize_dem", kernel)
            dem = np.full((b.rows, b.cols), np.nan, dtype=np.float32)
            locked = None
            if with_locked:
                dem[::3, ::2] = 7.5  # pre-filled cells the TIN must keep
                locked = ~np.isnan(dem)
            cplane = (np.zeros((b.rows, b.cols), np.uint8)
                      if with_classification else None)
            tin.rasterize_dem(b, dem=dem, locked=locked, classification=cplane)
            planes.append((dem, cplane))
        (d_c, c_c), (d_o, c_o) = planes
        assert np.isnan(d_c).mean() < 0.5
        _same(d_c, d_o)
        if with_classification:
            _same(c_c, c_o)
            assert len(np.unique(c_c)) > 2


def test_fill_polygon_cells_matches_oracle():
    for dest, value, row_bot, row_top, xs, ys in fill_corpus():
        got, want = dest.copy(), dest.copy()
        _native.fill_polygon_cells(got, value, row_bot, row_top, xs, ys)
        raster_oracle.fill_polygon_cells(want, value, row_bot, row_top, xs, ys)
        _same(got, want)
    # the sawtooth fills one cell per tooth on its middle rows
    assert (got[3] == 7).sum() == 1499


def test_rasterize_polyline_matches_oracle():
    for dest, value, vr, vc in polyline_corpus():
        got, want = dest.copy(), dest.copy()
        _native.rasterize_polyline(got, value, vr, vc)
        raster_oracle.rasterize_polyline(want, value, vr, vc)
        _same(got, want)


def test_clip_matches_oracle(monkeypatch):
    """clip.clip_ring/clip_polyline on the C kernels and with the oracle
    loops patched in: the same rings and parts, bit for bit."""
    rings, lines = clip_corpus()

    def run():
        return ([clip.clip_ring(xs, ys, *CLIP_BOX) for xs, ys in rings],
                [clip.clip_polyline(xs, ys, *CLIP_BOX) for xs, ys in lines])

    c_rings, c_lines = run()
    monkeypatch.setattr(_native, "clip_ring", raster_oracle.clip_ring)
    monkeypatch.setattr(_native, "clip_polyline", raster_oracle.clip_polyline)
    o_rings, o_lines = run()
    assert sum(r is None for r in c_rings) not in (0, len(rings))
    for c, o in zip(c_rings, o_rings):
        assert (c is None) == (o is None)
        if c is not None:
            _same(c[0], o[0])
            _same(c[1], o[1])
    assert sum(len(p) for p in c_lines) > len(lines) // 2
    for c, o in zip(c_lines, o_lines):
        assert len(c) == len(o)
        for (cx, cy), (ox, oy) in zip(c, o):
            _same(cx, ox)
            _same(cy, oy)


def test_pip_tile_stats_on_oracle_kernels(monkeypatch):
    """The pip side tables of the 9-tile fixture are the same frames
    whether datagen's per-tile loop runs the C kernels or the numpy
    oracle: this is what makes them independent of the C arithmetic."""
    from lasutility_spark import datagen

    names = datagen.tile_names(9)
    pdf, ldf, _ = datagen.gen_features(names, n_polygons=72, n_lines=72)
    stats, extents = datagen.gen_pip_tile_stats(names, pdf, ldf)
    for name in ("fill_polygon_cells", "rasterize_polyline", "clip_ring",
                 "clip_polyline"):
        monkeypatch.setattr(_native, name, getattr(raster_oracle, name))
    o_stats, o_extents = datagen.gen_pip_tile_stats(names, pdf, ldf)
    assert stats["painted_cells"].sum() > 0 and len(extents) > 9
    pd.testing.assert_frame_equal(stats, o_stats)
    pd.testing.assert_frame_equal(extents, o_extents)


# ---- loud refusals ------------------------------------------------------

_B8 = RasterBounds(8, 8, 0.0, 0.0, 8.0, 8.0)
_SQUARE = (np.array([1.0, 6.0, 6.0, 1.0]), np.array([1.0, 1.0, 6.0, 6.0]))


def _fill(dest):
    scanline.fill_polygon(_B8, dest, 3, *_SQUARE)


def _line(dest):
    scanline.rasterize_linestring(_B8, dest, 3, *_SQUARE)


def _tin_dem(dem, classification=None):
    tin = Tin(np.array([0.5, 7.5, 0.5]), np.array([0.5, 0.5, 7.5]), np.zeros(3))
    tin.rasterize_dem(_B8, dem=dem, classification=classification)


def _sample(dem):
    imagetile.sample_points_from_tile("L4133B3_7", dem, 385000, 6672000, 10.0)


@pytest.mark.parametrize("call, match", [
    (lambda: _fill(np.zeros((8, 8), np.int32)), "got C-contiguous int32"),
    (lambda: _fill(np.zeros((8, 16), np.uint8)[:, ::2]), "got non-contiguous uint8"),
    (lambda: _line(np.zeros((8, 8), np.float64)), "got C-contiguous float64"),
    (lambda: _line(np.zeros((8, 16), np.uint8)[:, ::2]), "got non-contiguous uint8"),
    (lambda: _tin_dem(np.full((8, 8), np.nan)), "dem must be .* float32 .* got C-contiguous float64"),
    (lambda: _tin_dem(np.full((8, 16), np.nan, np.float32)[:, ::2]), "got non-contiguous float32"),
    (lambda: _tin_dem(np.full((8, 8), np.nan, np.float32), np.zeros((8, 8), np.int64)),
     "classification must be .* uint8 .* got C-contiguous int64"),
    (lambda: _sample(np.zeros((8, 8), np.float64)), "got C-contiguous float64"),
    (lambda: _sample(np.zeros((8, 16), np.float32)[:, ::2]), "got non-contiguous float32"),
    (lambda: _sample(np.zeros((8, 8, 1), np.float32)), r"shape \(8, 8, 1\)"),
    (lambda: _sample(np.zeros(64, np.float32)), r"shape \(64,\)"),
], ids=["fill-int32", "fill-strided", "line-float64", "line-strided",
        "dem-float64", "dem-strided", "dem-class-int64", "sample-float64",
        "sample-strided", "sample-3d", "sample-1d"])
def test_kernels_refuse_planes_they_cannot_address(call, match):
    with pytest.raises(ValueError, match=match):
        call()


# ---- memory safety ------------------------------------------------------

_ASAN_RUN = """
import ctypes, sys
import numpy as np
sys.path.insert(0, {tests!r})
import raster_oracle
from test_raster_native import (clip_corpus, dem_corpus, fill_corpus,
                                polyline_corpus, sample_corpus)

lib = ctypes.CDLL({so!r})
P, I = ctypes.c_void_p, ctypes.c_int64
D = ctypes.c_double
lib.lsu_fill_polygon_cells.restype = I
lib.lsu_fill_polygon_cells.argtypes = [P, I, I, ctypes.c_int, I, I, P, P, I]
lib.lsu_rasterize_polyline.restype = None
lib.lsu_rasterize_polyline.argtypes = [P, I, I, ctypes.c_int, P, P, I]
lib.lsu_clip_ring.restype = I
lib.lsu_clip_ring.argtypes = [I, P, P, D, D, D, D, P, P, P, P]
lib.lsu_clip_polyline.restype = I
lib.lsu_clip_polyline.argtypes = [I, P, P, D, D, D, D, P, P, P]
lib.lsu_sample_points.restype = I
lib.lsu_sample_points.argtypes = [I, I, P, D, D, D, D, P, P, P, P]
lib.lsu_rasterize_dem.restype = None
lib.lsu_rasterize_dem.argtypes = [I, P, P, P, P, P, I, I, D, D, D, D, D, P, P, P]
libc = ctypes.CDLL(None)
libc.malloc.restype = P
libc.malloc.argtypes = [ctypes.c_size_t]
libc.free.argtypes = [P]
live = []


def heap(arr=None, nbytes=None):
    # every buffer exactly sized on the heap, so a one-element overread
    # or overwrite lands in ASan's redzone
    if arr is not None:
        arr = np.ascontiguousarray(arr)
        nbytes = arr.nbytes
    p = libc.malloc(max(nbytes, 1))
    if arr is not None and nbytes:
        ctypes.memmove(p, arr.ctypes.data, nbytes)
    live.append(p)
    return p


def release():
    while live:
        libc.free(live.pop())


def read(p, dtype, shape):
    n = int(np.prod(shape)) * np.dtype(dtype).itemsize
    return np.frombuffer(ctypes.string_at(p, n), dtype).reshape(shape).copy()


runs = 0
for in_range in (True, False):
    for dest, value, rb, rt, xs, ys in fill_corpus(in_range):
        d = heap(dest)
        rc = lib.lsu_fill_polygon_cells(d, dest.shape[0], dest.shape[1], value,
                                        rb, rt, heap(xs), heap(ys), len(xs))
        assert rc == 0, rc
        if in_range:
            want = dest.copy()
            raster_oracle.fill_polygon_cells(want, value, rb, rt, xs, ys)
            assert np.array_equal(read(d, np.uint8, dest.shape), want)
        release()
        runs += 1
    for dest, value, vr, vc in polyline_corpus(in_range):
        d = heap(dest)
        lib.lsu_rasterize_polyline(d, dest.shape[0], dest.shape[1], value,
                                   heap(vr.astype(np.int64)),
                                   heap(vc.astype(np.int64)), len(vr))
        if in_range:
            want = dest.copy()
            raster_oracle.rasterize_polyline(want, value, vr, vc)
            assert np.array_equal(read(d, np.uint8, dest.shape), want)
        release()
        runs += 1
rings, lines = clip_corpus()
for xs, ys in rings:
    n = len(xs)
    cap = 8 * (16 * n + 8)
    lib.lsu_clip_ring(n, heap(xs), heap(ys), 0.0, 0.0, 100.0, 100.0,
                      heap(nbytes=cap), heap(nbytes=cap), heap(nbytes=cap),
                      heap(nbytes=cap))
    release()
    runs += 1
for xs, ys in lines:
    n = len(xs)
    cap = 8 * (2 * n + 2)
    lib.lsu_clip_polyline(n, heap(xs), heap(ys), 0.0, 0.0, 100.0, 100.0,
                          heap(nbytes=cap), heap(nbytes=cap), heap(nbytes=8 * n))
    release()
    runs += 1
for dem, minx, miny, cs, rate in sample_corpus():
    k = dem.size
    lib.lsu_sample_points(dem.shape[0], dem.shape[1], heap(dem), minx, miny, cs,
                          rate, heap(nbytes=8 * k), heap(nbytes=8 * k),
                          heap(nbytes=8 * k), heap(nbytes=k))
    release()
    runs += 1
rng = np.random.RandomState(19)
for b, x, y, z, cls in dem_corpus():
    tri = rng.randint(0, len(x), (3000, 3)).astype(np.int64)
    k = b.rows * b.cols
    for locked in (None, (rng.rand(b.rows, b.cols) < 0.3).astype(np.uint8)):
        lib.lsu_rasterize_dem(len(tri), heap(tri), heap(x), heap(y), heap(z),
                              heap(cls), b.rows, b.cols, b.minx, b.miny,
                              b.maxx, b.maxy, 1e-5, heap(nbytes=4 * k),
                              None if locked is None else heap(locked),
                              heap(nbytes=k))
        release()
        runs += 1
print("ran", runs)
"""


def test_raster_kernels_memory_safe_under_asan(tmp_path):
    """The corpus, in range and off the raster, through ``_delaunay.c``
    built with ``-fsanitize=address,undefined``: no out-of-bounds access
    and no undefined behaviour on buffers malloc'd to the sizes the
    ``_native`` wrappers allocate; in-range fills and lines also equal
    the oracle there."""
    so = str(tmp_path / "delaunay_asan.so")
    src = os.path.join(REPO, "lasutility_spark", "gridlib", "_delaunay.c")
    subprocess.run(
        ["cc", "-O1", "-g", "-fsanitize=address,undefined",
         "-fno-omit-frame-pointer", "-shared", "-fPIC", "-o", so, src, "-lm"],
        check=True, capture_output=True, timeout=120,
    )
    libasan = subprocess.run(
        ["cc", "-print-file-name=libasan.so"], check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    env = dict(os.environ)
    env.update(
        LD_PRELOAD=libasan, PYTHONMALLOC="malloc",
        ASAN_OPTIONS="detect_leaks=0",
        UBSAN_OPTIONS="halt_on_error=1:print_stacktrace=1",
        PYTHONPATH=REPO,
    )
    code = _ASAN_RUN.format(tests=os.path.dirname(os.path.abspath(__file__)), so=so)
    r = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=30,
    )
    assert r.returncode == 0, r.stdout + r.stderr[-4000:]
    assert "runtime error" not in r.stderr, r.stderr[-4000:]
    want = 2 * (401 + 400) + 1600 + len(sample_corpus()) + 4
    assert f"ran {want}" in r.stdout, r.stdout + r.stderr[-4000:]
