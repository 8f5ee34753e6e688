"""The image-tile contract: how one image-table row becomes points.

A row is one 1 km tile.  Its ``caption`` carries the georeferencing,
``"<tile_name>;<minx>;<miny>;<maxx>;<maxy>;<cellsize>;<nodata>"``, and its
``bytes`` are a png16 height plane quantized over ``[Z_MIN, Z_MAX]``
(:func:`gridlib.png.dem_to_png16`).  Decode-to-points (:func:`tile_points`)
parses the caption, decodes the plane and samples it: each pixel is a
candidate LiDAR return at its cell center, and an integer hash
(splitmix64) of the absolute world coordinates picks the sampled pixels
and their class.  Every value is a pure function of coordinates, never
of partition, order or RNG state, so any parallelism yields the same
points.
"""

from __future__ import annotations

import numpy as np

from . import _native, topodb
from .png import png16_to_dem

Z_MIN, Z_MAX = 0.0, 500.0  # DEM quantization range for 16-bit PNG tiles

CAPTION_FMT = "{name};{minx};{miny};{maxx};{maxy};{cellsize};{nodata}"


def parse_caption(caption: str):
    name, minx, miny, maxx, maxy, cellsize, nodata = caption.split(";")
    return name, int(minx), int(miny), int(maxx), int(maxy), float(cellsize), float(nodata)


def _splitmix64(v: np.ndarray) -> np.ndarray:
    """Deterministic integer hash (public splitmix64 mixer)."""
    v = v.astype(np.uint64)
    v = (v + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = v
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    return z ^ (z >> np.uint64(31))


def hash01(*ints: np.ndarray) -> np.ndarray:
    """Combine integer arrays -> uniform [0,1) doubles, coordinate-pure."""
    acc = np.zeros_like(np.broadcast_arrays(*ints)[0], dtype=np.uint64)
    for arr in ints:
        acc = _splitmix64(acc ^ np.asarray(arr, dtype=np.int64).view(np.uint64))
    return (acc >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# point sampling: which pixels are "LIDAR returns" and their class --------

BASE_RATE = 0.08
DENSE_RATE = 0.45  # a few "urban" tiles for skew tests (FIXTURES.md §1)


def is_dense_tile(name: str) -> bool:
    h = _splitmix64(np.frombuffer(name.encode().ljust(8, b"\0")[:8], dtype=np.uint64))
    return bool(h % np.uint64(10) == 0)  # ~10% of tiles are dense


def sample_points_from_tile(
    name: str, dem: np.ndarray, minx: int, miny: int, cellsize: float
):
    """Decode-to-points: pixel -> point at cell center; deterministic
    subsample + class assignment (ground 80%, veg 3/4/5, the arithmetic
    of :func:`hash01` and :func:`assign_classes`), run by the C kernel
    gridlib._native.sample_points.  ``dem`` must be a C-contiguous 2-D
    float32 plane (``ValueError`` otherwise)."""
    rate = DENSE_RATE if is_dense_tile(name) else BASE_RATE
    return _native.sample_points(
        dem, float(minx), float(miny), float(cellsize), rate
    )


def assign_classes(x, y, z):
    """Deterministic veg-class assignment + height lift for sampled
    points (ground 80%, veg classes 3/4/5 sit above the terrain),
    derived from (x, y) only."""
    v = hash01((x * 100).astype(np.int64) + 13, (y * 100).astype(np.int64))
    cls = np.full(len(x), topodb.CLS_GROUND, dtype=np.uint8)
    veg = v >= 0.8
    cls[veg & (v < 0.88)] = topodb.CLS_LOW_VEGETATION
    cls[(v >= 0.88) & (v < 0.95)] = topodb.CLS_MEDIUM_VEGETATION
    cls[v >= 0.95] = topodb.CLS_HIGH_VEGETATION
    # vegetation points sit above the terrain
    z = z + np.where(cls == topodb.CLS_GROUND, 0.0, 2.0 + 14.0 * v)
    return z, cls


def tile_points(caption: str, data: bytes):
    """One image row -> its points ``(x, y, z, cls)``: parse the caption,
    decode the png16 plane, sample it.  Raises ``ValueError`` when the
    plane's shape is not the caption's extent divided by its cellsize
    (a smaller plane would be sampled as the tile's lower-left part)."""
    name, minx, miny, maxx, maxy, cs, _ = parse_caption(caption)
    dem = png16_to_dem(bytes(data), Z_MIN, Z_MAX)
    want = (round((maxy - miny) / cs), round((maxx - minx) / cs))
    if dem.shape != want:
        raise ValueError(f"{name}: plane {dem.shape} != caption extent {want}")
    return sample_points_from_tile(name, dem, minx, miny, cs)
