"""TIN construction + DEM rasterization — the flagship per-tile kernel.

Exact-parity port of the pinned reference semantics
(LasUtility/DEM/Triangulation.cs):

- triangle-push rasterization: per triangle, clamp bbox to grid
  (Triangulation.cs:253-256), skip |det| < 1e-12 (:265-267), barycentric
  inside test ``l1,l2,l3 >= 0`` (:282-287), write height at the cell
  **bottom-left** corner (:278), optional nearest-vertex classification
  plane (:289-294), locked-cells mask skipped (:275-276).
- ⚠ overwrites non-NaN cells unconditionally unless locked — the
  interface comment claims otherwise (ITriangulation.cs:31-34); the CODE
  behavior is pinned (SURVEY.md §2 T9).
- nearest-vertex classification = argmin 3-D distance to the triangle's
  vertices (T8, Triangulation.cs:315-324).
- point query: barycentric height + class, NaN outside the hull
  (T5, Triangulation.cs:159-196).

All loops are per-*triangle* (few thousand per tile); per-cell work is
vectorized numpy over the triangle's bbox — no per-cell Python.
"""

from __future__ import annotations

import numpy as np

from . import _native
from .bounds import EPSILON, RasterBounds
from .delaunay import delaunay


class Tin:
    """Triangulated surface over one tile's points (T1-T8)."""

    def __init__(self, x, y, z, cls=None):
        self.x = np.asarray(x, dtype=np.float64)
        self.y = np.asarray(y, dtype=np.float64)
        self.z = np.asarray(z, dtype=np.float64)
        self.cls = (
            np.zeros(len(self.x), dtype=np.uint8)
            if cls is None
            else np.asarray(cls, dtype=np.uint8)
        )
        self.triangles = delaunay(self.x, self.y)

    @property
    def triangle_count(self) -> int:  # T4 (Triangulation.cs:110-116)
        return len(self.triangles)

    def triangle_vertices(self, i: int):  # T4 (Triangulation.cs:118-130)
        t = self.triangles[i]
        return [(self.x[v], self.y[v], self.z[v]) for v in t]

    # -- T9/T10/T11: triangle-push rasterization --------------------------

    def rasterize_dem(
        self,
        bounds: RasterBounds,
        dem: np.ndarray | None = None,
        locked: np.ndarray | None = None,
        classification: np.ndarray | None = None,
    ) -> np.ndarray:
        """Fill ``dem`` (rows x cols float32, NaN = missing) from the TIN.

        Mirrors SurfaceTriangulation.RasteriseDem (Triangulation.cs:202-298).
        """
        if dem is None:
            dem = np.full((bounds.rows, bounds.cols), np.nan, dtype=np.float32)
        if dem.shape != (bounds.rows, bounds.cols):
            raise ValueError("Raster array dimensions must match raster bounds.")
        if locked is not None and locked.shape != dem.shape:
            raise ValueError("Raster array dimensions must match raster bounds.")
        if classification is not None and classification.shape != dem.shape:
            raise ValueError("Raster array dimensions must match raster bounds.")

        tris = self.triangles
        if len(tris) == 0:
            return dem

        # C fast path: tight per-triangle scanline, compute-bound (the
        # numpy expansion below is memory-bandwidth bound, which caps
        # multi-worker scaling); falls through to the numpy twin below
        # under LSU_NO_NATIVE=1 or for non-contiguous/other-dtype planes
        if (
            dem.dtype == np.float32
            and dem.flags["C_CONTIGUOUS"]
            and (locked is None or locked.flags["C_CONTIGUOUS"])
            and (
                classification is None
                or (
                    classification.dtype == np.uint8
                    and classification.flags["C_CONTIGUOUS"]
                )
            )
            and _native.rasterize_dem(
                tris, self.x, self.y, self.z, self.cls, dem,
                bounds.minx, bounds.miny, bounds.maxx, bounds.maxy,
                EPSILON, locked, classification,
            )
        ):
            return dem

        x, y, z = self.x, self.y, self.z
        cw, ch = bounds.cell_width, bounds.cell_height

        i0, i1, i2 = tris[:, 0], tris[:, 1], tris[:, 2]
        x0, y0, z0 = x[i0], y[i0], z[i0]
        x1, y1, z1 = x[i1], y[i1], z[i1]
        x2, y2, z2 = x[i2], y[i2], z[i2]

        # per-triangle bbox clamped to grid (Triangulation.cs:253-262)
        minx = np.maximum(np.minimum(np.minimum(x0, x1), x2), bounds.minx)
        miny = np.maximum(np.minimum(np.minimum(y0, y1), y2), bounds.miny)
        maxx = np.minimum(np.maximum(np.maximum(x0, x1), x2), bounds.maxx - EPSILON)
        maxy = np.minimum(np.maximum(np.maximum(y0, y1), y2), bounds.maxy - EPSILON)

        det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
        keep = (
            (np.abs(det) >= 1e-12)  # degenerate skip (Triangulation.cs:265-267)
            & (minx <= maxx)
            & (miny <= maxy)
        )
        if not keep.any():
            return dem
        order = np.flatnonzero(keep)  # preserve triangle order for overwrites
        r0 = ((miny[order] - bounds.miny) / ch).astype(np.int64)
        c0 = ((minx[order] - bounds.minx) / cw).astype(np.int64)
        r1 = ((maxy[order] - bounds.miny) / ch).astype(np.int64)
        c1 = ((maxx[order] - bounds.minx) / cw).astype(np.int64)

        # flat "triangle x bbox-cell" expansion — one numpy pass, no
        # per-cell Python.  Duplicate-index fancy assignment keeps the
        # last write, matching the reference's sequential triangle loop.
        nr = r1 - r0 + 1
        nc = c1 - c0 + 1
        counts = nr * nc
        total = int(counts.sum())
        tidx = np.repeat(np.arange(len(order)), counts)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        off = np.arange(total) - starts[tidx]
        rows = r0[tidx] + off // nc[tidx]
        cols = c0[tidx] + off % nc[tidx]

        gt = order[tidx]
        px = bounds.minx + cols * cw  # cell bottom-left (Triangulation.cs:278)
        py = bounds.miny + rows * ch
        inv = 1.0 / det[gt]
        l1 = ((y1[gt] - y2[gt]) * (px - x2[gt]) + (x2[gt] - x1[gt]) * (py - y2[gt])) * inv
        l2 = ((y2[gt] - y0[gt]) * (px - x2[gt]) + (x0[gt] - x2[gt]) * (py - y2[gt])) * inv
        l3 = 1.0 - l1 - l2
        inside = (l1 >= 0) & (l2 >= 0) & (l3 >= 0)
        if locked is not None:
            inside &= ~locked[rows, cols]  # T10 (Triangulation.cs:275-276)
        if not inside.any():
            return dem

        rows = rows[inside]
        cols = cols[inside]
        gt = gt[inside]
        h = (
            l1[inside] * z0[gt] + l2[inside] * z1[gt] + l3[inside] * z2[gt]
        )
        dem[rows, cols] = h.astype(np.float32)

        if classification is not None:
            # nearest-vertex class in 3-D (T8, Triangulation.cs:315-324);
            # <= tie order: vertex 0 wins, then vertex 1
            px, py = px[inside], py[inside]
            d0 = (px - x0[gt]) ** 2 + (py - y0[gt]) ** 2 + (h - z0[gt]) ** 2
            d1 = (px - x1[gt]) ** 2 + (py - y1[gt]) ** 2 + (h - z1[gt]) ** 2
            d2 = (px - x2[gt]) ** 2 + (py - y2[gt]) ** 2 + (h - z2[gt]) ** 2
            c0v = self.cls[i0[gt]]
            c1v = self.cls[i1[gt]]
            c2v = self.cls[i2[gt]]
            pick = np.where((d0 <= d1) & (d0 <= d2), c0v, np.where(d1 <= d2, c1v, c2v))
            classification[rows, cols] = pick
        return dem

    # -- T5-T8: point queries ---------------------------------------------

    def query(self, qx, qy):
        """Vectorized point query -> (height, classification); NaN / 0
        outside the hull (Triangulation.cs:159-196)."""
        qx = np.asarray(qx, dtype=np.float64)
        qy = np.asarray(qy, dtype=np.float64)
        out_h = np.full(qx.shape, np.nan)
        out_c = np.zeros(qx.shape, dtype=np.uint8)
        if len(self.triangles) == 0 or qx.size == 0:
            return out_h, out_c

        x, y, z = self.x, self.y, self.z
        t = self.triangles
        x0, y0, z0 = x[t[:, 0]], y[t[:, 0]], z[t[:, 0]]
        x1, y1, z1 = x[t[:, 1]], y[t[:, 1]], z[t[:, 1]]
        x2, y2, z2 = x[t[:, 2]], y[t[:, 2]], z[t[:, 2]]
        det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
        ok = np.abs(det) >= 1e-12

        # bucket triangles by bbox into a coarse grid (X5/X6 analog,
        # TriangleGrid.cs:61-89) to keep candidate sets small
        ngrid = max(1, int(np.sqrt(max(len(t), 1))))
        gminx, gmaxx = x.min(), x.max() + 1e-9
        gminy, gmaxy = y.min(), y.max() + 1e-9
        gw = (gmaxx - gminx) / ngrid
        gh = (gmaxy - gminy) / ngrid
        buckets: dict[tuple[int, int], list[int]] = {}
        tminx = np.minimum(np.minimum(x0, x1), x2)
        tmaxx = np.maximum(np.maximum(x0, x1), x2)
        tminy = np.minimum(np.minimum(y0, y1), y2)
        tmaxy = np.maximum(np.maximum(y0, y1), y2)
        for i in range(len(t)):
            if not ok[i]:
                continue
            ca = int((tminx[i] - gminx) / gw)
            cb = int((tmaxx[i] - gminx) / gw)
            ra = int((tminy[i] - gminy) / gh)
            rb = int((tmaxy[i] - gminy) / gh)
            for rr in range(max(ra, 0), min(rb, ngrid - 1) + 1):
                for cc in range(max(ca, 0), min(cb, ngrid - 1) + 1):
                    buckets.setdefault((rr, cc), []).append(i)

        inv = np.where(ok, 1.0 / np.where(det == 0, 1, det), 0.0)
        flat_qx = qx.ravel()
        flat_qy = qy.ravel()
        flat_h = out_h.ravel()
        flat_c = out_c.ravel()
        for qi in range(flat_qx.size):
            px, py = flat_qx[qi], flat_qy[qi]
            rr = int((py - gminy) / gh)
            cc = int((px - gminx) / gw)
            cand = buckets.get((rr, cc))
            if not cand:
                continue
            ci = np.asarray(cand)
            l1 = ((y1[ci] - y2[ci]) * (px - x2[ci]) + (x2[ci] - x1[ci]) * (py - y2[ci])) * inv[ci]
            l2 = ((y2[ci] - y0[ci]) * (px - x2[ci]) + (x0[ci] - x2[ci]) * (py - y2[ci])) * inv[ci]
            l3 = 1.0 - l1 - l2
            hit = np.flatnonzero((l1 >= 0) & (l2 >= 0) & (l3 >= 0))
            if len(hit) == 0:
                continue
            k = ci[hit[0]]
            a, b, c = self.triangles[k]
            w1 = l1[hit[0]]
            w2 = l2[hit[0]]
            w3 = l3[hit[0]]
            h = w1 * z[a] + w2 * z[b] + w3 * z[c]
            flat_h[qi] = h
            d = [
                (x[v] - px) ** 2 + (y[v] - py) ** 2 + (z[v] - h) ** 2
                for v in (a, b, c)
            ]
            if d[0] <= d[1] and d[0] <= d[2]:
                flat_c[qi] = self.cls[a]
            elif d[1] <= d[2]:
                flat_c[qi] = self.cls[b]
            else:
                flat_c[qi] = self.cls[c]
        return flat_h.reshape(qx.shape), flat_c.reshape(qx.shape)


def backfill_dem_from_tin(
    dem: np.ndarray,
    bounds: RasterBounds,
    tin: Tin,
    window: tuple[int, int, int, int] | None = None,
) -> tuple[int, int]:
    """A8: VoxelGrid.SetMissingHeightsFromTriangulation (VoxelGrid.cs:121-160).

    Fills NaN DEM cells from the TIN evaluated at cell bottom-left corners,
    restricted to an integer window; returns (missing_before, missing_after)
    — the per-partition metrics the north rule requires.
    """
    if window is None:
        r0, c0, r1, c1 = 0, 0, bounds.rows - 1, bounds.cols - 1
    else:
        iminx, iminy, imaxx, imaxy = window
        r0, c0 = bounds.proj_to_cell_scalar(iminx, iminy)
        r1, c1 = bounds.proj_to_cell_scalar(imaxx - EPSILON, imaxy - EPSILON)
        if r0 < 0 or r1 < 0:
            raise ValueError("window outside raster bounds")

    win = dem[r0 : r1 + 1, c0 : c1 + 1]
    nan_mask = np.isnan(win)
    before = int(nan_mask.sum())
    if before == 0:
        return 0, 0
    rows, cols = np.nonzero(nan_mask)
    qx = bounds.minx + (cols + c0) * bounds.cell_width
    qy = bounds.miny + (rows + r0) * bounds.cell_height
    h, _ = tin.query(qx, qy)
    filled = ~np.isnan(h)
    win[rows[filled], cols[filled]] = h[filled].astype(np.float32)
    after = int(before - filled.sum())
    return before, after
