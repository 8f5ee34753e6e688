"""Geometry clipping to a rectangular tile box (V3 analog).

The reference clips features partly outside the raster with NTS
``Geometry.Intersection`` (Shapefile/RasteriserEvenOdd.cs:43-48).  For a
rectangular clip window that is Sutherland-Hodgman for polygon rings and
Liang-Barsky for line segments — both public classics.  Features that
cross the box are clipped by the C kernels in _delaunay.c; their Python
loops are kept only as the differential oracle in
``tests/raster_oracle.py`` (bit-identical arithmetic, -ffp-contract=off,
held by ``tests/test_raster_native.py``).  S-H can emit
zero-width "bridge" edges along the clip boundary for concave polygons;
those are harmless to the even-odd scanline (zero-area spans).
"""

from __future__ import annotations

import numpy as np

from . import _native


def clip_ring(xs: np.ndarray, ys: np.ndarray, minx, miny, maxx, maxy):
    """Sutherland-Hodgman: polygon ring -> clipped ring (or None if empty).

    Returns open rings (no duplicated last vertex), like the input.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    # identity fast path: ring fully inside the box (the common case at
    # 1 km tiles vs ~100 m features) — S-H would return it unchanged
    if (
        len(xs) >= 3
        and xs.min() >= minx and xs.max() <= maxx
        and ys.min() >= miny and ys.max() <= maxy
    ):
        return xs, ys
    return _native.clip_ring(xs, ys, minx, miny, maxx, maxy)


def clip_polyline(xs: np.ndarray, ys: np.ndarray, minx, miny, maxx, maxy):
    """Liang-Barsky per segment -> list of clipped polylines (splits where
    the line exits and re-enters the box)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    # identity fast path: whole polyline inside the box -> one unchanged
    # part (every segment keeps t0=0, t1=1 in Liang-Barsky)
    if (
        len(xs) >= 2
        and xs.min() >= minx and xs.max() <= maxx
        and ys.min() >= miny and ys.max() <= maxy
    ):
        return [(xs, ys)]
    return _native.clip_polyline(xs, ys, minx, miny, maxx, maxy)
