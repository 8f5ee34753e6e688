"""Even-odd scanline polygon fill + Bresenham line, in integer cell space.

Exact-parity port of the pinned reference semantics:

- PIP happens in **integer cell-index space**: ring vertices are first
  mapped through proj_to_cell, then the classic even-odd scanline runs on
  those integer coords (MathUtils.cs:104-109) — NOT in world space.
- node x formula: ``int(polyX[i] + (pixelY-polyY[i])/(polyY[j]-polyY[i])
  * (polyX[j]-polyX[i]))`` with C# double->int truncation
  (MathUtils.cs:136)
- spans filled right-exclusive ``[nodeX[i], nodeX[i+1])``
  (MathUtils.cs:161-168)
- crossing rule ``polyY[i] < y <= polyY[j]`` either direction
  (MathUtils.cs:131)
- Bresenham with perfect-diagonal special case (MathUtils.cs:18-87)

The fill and the line stamp run in C (:mod:`_native`); their numpy forms
are kept only as the differential oracle in ``tests/raster_oracle.py``.
Golden cell-set from MathUtils.Tests.cs:14-55 is pinned in tests.
"""

from __future__ import annotations

import numpy as np

from . import _native
from .bounds import RasterBounds


def fill_polygon(
    bounds: RasterBounds,
    dest: np.ndarray,
    value: int,
    ring_x: np.ndarray,
    ring_y: np.ndarray,
) -> None:
    """V5: MathUtils.FillPolygon (MathUtils.cs:89-112).

    ``ring_x/ring_y`` are world coordinates of one closed-or-open ring.
    Raises if the ring envelope is outside ``bounds`` (MathUtils.cs:96-97).
    """
    ring_x = np.asarray(ring_x, dtype=np.float64)
    ring_y = np.asarray(ring_y, dtype=np.float64)

    rmin, cmin = bounds.proj_to_cell_scalar(float(ring_x.min()), float(ring_y.min()))
    rmax, cmax = bounds.proj_to_cell_scalar(float(ring_x.max()), float(ring_y.max()))
    if rmin < 0 or rmax < 0:
        raise ValueError("Polygon is larger than the bounds")

    # envelope corners are in bounds (checked above) => every vertex is
    rows, cols = bounds.proj_to_cell_unchecked(ring_x, ring_y)
    # vertex coords in cell space as doubles (MathUtils.cs:104-109);
    # the C kernel is MathUtils.FillPolygonInt (MathUtils.cs:114-170)
    _native.fill_polygon_cells(
        dest, value, rmin, rmax, cols.astype(np.float64), rows.astype(np.float64)
    )


def rasterize_linestring(
    bounds: RasterBounds, dest: np.ndarray, value: int, xs: np.ndarray, ys: np.ndarray
) -> None:
    """V7 wrapper: RasteriserEvenOdd.RasteriseLine (RasteriserEvenOdd.cs:84-101)
    — per segment, Bresenham over the cell indices of the endpoints;
    cells outside ``dest`` are skipped.
    Callers pass vertices already clipped inside ``bounds`` (V3 runs
    first, RasteriserEvenOdd.cs:43-48)."""
    rows, cols = bounds.proj_to_cell_unchecked(
        np.asarray(xs, float), np.asarray(ys, float)
    )
    _native.rasterize_polyline(dest, value, rows, cols)


def rasterize_polygon_with_holes(
    bounds: RasterBounds,
    dest: np.ndarray,
    value: int,
    exterior: tuple[np.ndarray, np.ndarray],
    interiors: list[tuple[np.ndarray, np.ndarray]],
    rmin: int,
    rmax: int,
    cmin: int,
    cmax: int,
    temp: np.ndarray | None = None,
) -> None:
    """V6: RasteriserEvenOdd.RasterisePolygon (RasteriserEvenOdd.cs:103-148).

    Holed polygons go through a temp plane: exterior filled with ``value``,
    interior rings re-filled with NoData(0), then non-zero cells of the
    window [rmin, rmax) x [cmin, cmax) copied back — note the reference's
    **exclusive** upper bounds on the copy-back loop
    (RasteriserEvenOdd.cs:134-136), pinned as-is.
    """
    if not interiors:
        fill_polygon(bounds, dest, value, *exterior)
        return

    if temp is None:
        temp = np.zeros_like(dest)
    fill_polygon(bounds, temp, value, *exterior)
    for hole in interiors:
        fill_polygon(bounds, temp, 0, *hole)

    window = temp[rmin:rmax, cmin:cmax]
    mask = window != 0
    dest[rmin:rmax, cmin:cmax][mask] = window[mask]
    window[mask] = 0  # reset temp for reuse
