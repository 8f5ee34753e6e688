"""2-D Delaunay triangulation through the C sweep-hull kernel.

Role parity: the reference triangulates per tile with DelaunatorSharp
(LasUtility/DEM/Triangulation.cs:58-72).  ``_delaunay.c`` implements the
same sweep-hull (Delaunator) scheme and is built on first use by
:mod:`_native`; it is the only triangulator, so a node that cannot build
it raises instead of producing different triangles.

Co-circular inputs may legally triangulate either way (SURVEY.md §7
"Delaunay nondeterminism"); the kernel breaks ties by point index, so the
same input order always gives the same triangles, independent of
parallelism (required for local[8] == local[32] output equality).
"""

from __future__ import annotations

import numpy as np

from . import _native


def delaunay(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Triangulate points -> (n_tri, 3) int array of CCW triangles
    (indices into the *input* arrays; exact duplicate points are ignored,
    keeping the first occurrence)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(x)
    if n < 3:
        return np.empty((0, 3), dtype=np.int64)

    # drop exact duplicates, keep first occurrence.  Pairs packed as
    # complex128 (real=x, imag=y): complex equality is exact pairwise
    # float equality, and unique's stable mergesort keeps the first
    # occurrence — same result as unique(axis=0) at ~1/4 the cost (the
    # axis=0 path lexsorts a structured view; this was the single
    # largest slice of the TIN build).  (±0.0 would compare equal here
    # where the byte-view compared unequal — impossible for tile-local
    # coordinates, which are never signed zeros.)
    _, first_idx = np.unique(x + 1j * y, return_index=True)
    keep_idx = np.sort(first_idx)

    # tile-local coordinates: Delaunay is translation-invariant, and
    # orient/incircle determinants on absolute ETRS coordinates (~6.6e6)
    # lose ~13 digits to cancellation, while grid-aligned local inputs
    # keep them integer-valued and exact in doubles
    cx0 = (float(x.min()) + float(x.max())) / 2.0
    cy0 = (float(y.min()) + float(y.max())) / 2.0
    tri = keep_idx[_native.triangulate(x[keep_idx] - cx0, y[keep_idx] - cy0)]
    if len(tri):
        ax, ay = x[tri[:, 0]], y[tri[:, 0]]
        bx, by = x[tri[:, 1]], y[tri[:, 1]]
        cx_, cy_ = x[tri[:, 2]], y[tri[:, 2]]
        area2 = (bx - ax) * (cy_ - ay) - (by - ay) * (cx_ - ax)
        flip = area2 < 0  # normalize to CCW (winding contract of Tin)
        tri[flip, 1], tri[flip, 2] = tri[flip, 2], tri[flip, 1]
        tri = tri[area2 != 0.0]
    return tri
