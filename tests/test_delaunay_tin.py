"""Delaunay + TIN kernel tests: exact (rational) Delaunay property checks,
grid (co-circular) and quantized ETRS inputs, and rasterization semantics
pinned by Triangulation.Tests.cs:82-179."""

from fractions import Fraction

import numpy as np
import pytest

from lasutility_spark.gridlib.bounds import RasterBounds
from lasutility_spark.gridlib.delaunay import delaunay
from lasutility_spark.gridlib.tin import Tin, backfill_dem_from_tin


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _incircle(a, b, c, d):
    """> 0 iff d is strictly inside the circumcircle of CCW (a, b, c)."""
    adx, ady = a[0] - d[0], a[1] - d[1]
    bdx, bdy = b[0] - d[0], b[1] - d[1]
    cdx, cdy = c[0] - d[0], c[1] - d[1]
    return (
        (adx * adx + ady * ady) * (bdx * cdy - cdx * bdy)
        - (bdx * bdx + bdy * bdy) * (adx * cdy - cdx * ady)
        + (cdx * cdx + cdy * cdy) * (adx * bdy - bdx * ady)
    )


def _hull(pts):
    """Strictly convex hull (CCW) by Andrew's monotone chain."""
    pts = sorted(set(pts))
    lower, upper = [], []
    for p in pts:
        while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(pts):
        while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def _check_delaunay(x, y, tri):
    """Exact Delaunay property check, in rationals (Fraction(float) is
    exact): triangles are CCW and no directed edge repeats; on every
    interior edge the opposite vertex is not strictly inside the other
    triangle's circumcircle; every boundary edge is a convex-hull edge (no
    point strictly to its right); every distinct input point is a vertex;
    and the triangle areas sum to the convex hull area."""
    assert len(tri) > 0
    pts = [(Fraction(a), Fraction(b)) for a, b in zip(x.tolist(), y.tolist())]
    apex = {}  # directed edge (a, b) -> third vertex of its CCW triangle
    for a, b, c in tri.tolist():
        assert _cross(pts[a], pts[b], pts[c]) > 0, "triangle not CCW"
        for e, o in (((a, b), c), ((b, c), a), ((c, a), b)):
            assert e not in apex, f"edge {e} in two triangles"
            apex[e] = o
    hull = _hull(pts)
    for (a, b), c in apex.items():
        if (b, a) in apex:
            d = apex[(b, a)]
            assert _incircle(pts[a], pts[b], pts[c], pts[d]) <= 0, (
                f"illegal edge {(a, b)}"
            )
        else:
            # extreme points suffice: if any point lies strictly right of
            # a -> b, some hull vertex does
            assert all(_cross(pts[a], pts[b], h) >= 0 for h in hull), (
                f"boundary edge {(a, b)} is not a hull edge"
            )
    assert {pts[i] for i in tri.ravel().tolist()} == set(pts), "point missed"
    # area coverage: sum of triangle areas == convex hull area
    tri_area = 0.0
    for a, b, c in tri:
        tri_area += abs(
            (x[b] - x[a]) * (y[c] - y[a]) - (y[b] - y[a]) * (x[c] - x[a])
        ) / 2
    hull_area = float(
        abs(sum(_cross(hull[0], p, q) for p, q in zip(hull[1:], hull[2:]))) / 2
    )
    assert abs(tri_area - hull_area) < 1e-6 * max(hull_area, 1.0)


def test_delaunay_random_points():
    rng = np.random.RandomState(42)
    x = rng.uniform(0, 100, 200)
    y = rng.uniform(0, 100, 200)
    tri = delaunay(x, y)
    _check_delaunay(x, y, tri)
    # Euler: for n points with h on hull: triangles = 2n - h - 2
    assert len(tri) <= 2 * 200 - 3 - 2


def test_delaunay_grid_points_cocircular():
    # points at cell centers — maximally co-circular (the FP worst case)
    gx, gy = np.meshgrid(np.arange(12) + 0.5, np.arange(12) + 0.5)
    x, y = gx.ravel(), gy.ravel()
    tri = delaunay(x, y)
    _check_delaunay(x, y, tri)
    assert len(tri) == 2 * 11 * 11  # exactly two triangles per grid square


def test_delaunay_quantized_etrs_tile():
    # 3,000 points of one 1 km tile at ETRS-TM35FIN offsets, quantized to
    # 0.01 m like LAS coordinates: absolute coordinates the kernel must
    # triangulate through the tile-local translation
    rng = np.random.RandomState(5)
    x = 385000.0 + np.round(rng.uniform(0, 1000, 3000), 2)
    y = 6672000.0 + np.round(rng.uniform(0, 1000, 3000), 2)
    _check_delaunay(x, y, delaunay(x, y))


def test_delaunay_ignores_no_native_switch(monkeypatch):
    # LSU_NO_NATIVE=1 switches only the numpy-twinned kernels; the C
    # triangulator has no twin, so the switch must not change triangles
    rng = np.random.RandomState(11)
    x = np.round(rng.uniform(0, 100, 500), 2)
    y = np.round(rng.uniform(0, 100, 500), 2)
    want = delaunay(x, y)
    monkeypatch.setenv("LSU_NO_NATIVE", "1")
    assert np.array_equal(delaunay(x, y), want)


def test_delaunay_duplicates_and_small():
    assert len(delaunay(np.array([0.0, 1.0]), np.array([0.0, 1.0]))) == 0
    x = np.array([0.0, 1.0, 0.0, 1.0, 0.0])
    y = np.array([0.0, 0.0, 1.0, 0.0, 0.0])  # two dup points
    tri = delaunay(x, y)
    assert len(tri) == 1
    assert set(tri[0]) == {0, 1, 2}


def test_delaunay_collinear_returns_empty():
    x = np.arange(10, dtype=float)
    y = 2 * x + 1
    assert len(delaunay(x, y)) == 0


def test_rasterize_dem_basic_plane():
    # z = x + 2y plane: interpolation must reproduce it exactly
    rng = np.random.RandomState(1)
    x = np.concatenate([rng.uniform(0, 10, 80), [0, 10, 0, 10]])
    y = np.concatenate([rng.uniform(0, 10, 80), [0, 0, 10, 10]])
    # clamp corners just inside
    x = np.clip(x, 0, 9.999)
    y = np.clip(y, 0, 9.999)
    z = x + 2 * y
    b = RasterBounds(20, 20, 0, 0, 10, 10)
    tin = Tin(x, y, z)
    dem = tin.rasterize_dem(b)
    rows, cols = np.meshgrid(np.arange(20), np.arange(20), indexing="ij")
    px = 0 + cols * b.cell_width
    py = 0 + rows * b.cell_height
    expected = px + 2 * py
    filled = ~np.isnan(dem)
    assert filled.mean() > 0.8
    assert np.allclose(dem[filled], expected[filled], atol=1e-5)


def test_rasterize_overwrites_unless_locked():
    # pinned code-vs-comment trap: T9 overwrites non-NaN cells unless locked
    x = np.array([0.0, 9.0, 0.0, 9.0])
    y = np.array([0.0, 0.0, 9.0, 9.0])
    z = np.array([5.0, 5.0, 5.0, 5.0])
    b = RasterBounds(10, 10, 0, 0, 10, 10)
    tin = Tin(x, y, z)
    dem = np.full((10, 10), 1.0, dtype=np.float32)
    locked = np.zeros((10, 10), dtype=bool)
    locked[0, 0] = True
    tin.rasterize_dem(b, dem=dem, locked=locked)
    assert dem[0, 0] == 1.0  # locked survives (Triangulation.cs:275-276)
    assert dem[2, 2] == 5.0  # unlocked overwritten (Triangulation.cs:287-294)


def test_classification_plane_nearest_vertex():
    x = np.array([0.0, 9.0, 0.0])
    y = np.array([0.0, 0.0, 9.0])
    z = np.array([0.0, 0.0, 0.0])
    cls = np.array([2, 5, 9], dtype=np.uint8)
    b = RasterBounds(10, 10, 0, 0, 10, 10)
    tin = Tin(x, y, z, cls)
    dem = np.full((10, 10), np.nan, dtype=np.float32)
    cplane = np.zeros((10, 10), dtype=np.uint8)
    tin.rasterize_dem(b, dem=dem, classification=cplane)
    assert cplane[0, 0] == 2  # nearest vertex 0
    assert cplane[0, 8] == 5
    assert cplane[8, 0] == 9


def test_query_and_backfill_metrics():
    rng = np.random.RandomState(7)
    x = rng.uniform(0, 10, 120)
    y = rng.uniform(0, 10, 120)
    z = np.sin(x) + np.cos(y)
    tin = Tin(x, y, z)
    h, _ = tin.query(np.array([5.0]), np.array([5.0]))
    assert abs(h[0] - (np.sin(5) + np.cos(5))) < 0.3
    h_out, _ = tin.query(np.array([50.0]), np.array([50.0]))
    assert np.isnan(h_out[0])

    b = RasterBounds(10, 10, 0, 0, 10, 10)
    dem = np.full((10, 10), np.nan, dtype=np.float32)
    dem[0, 0] = 1.0
    before, after = backfill_dem_from_tin(dem, b, tin, window=(0, 0, 10, 10))
    assert before == 99
    assert after < before  # hull interior cells got filled
    assert dem[0, 0] == 1.0  # existing values untouched (A8 fills NaN only)


def test_rasterize_matches_query_at_cells():
    # T9 and T5 must agree: rasterized value == query at cell bottom-left
    rng = np.random.RandomState(3)
    x = rng.uniform(0, 20, 150)
    y = rng.uniform(0, 20, 150)
    z = rng.uniform(0, 5, 150)
    b = RasterBounds(15, 15, 0, 0, 20, 20)
    tin = Tin(x, y, z)
    dem = tin.rasterize_dem(b)
    rows, cols = np.meshgrid(np.arange(15), np.arange(15), indexing="ij")
    qh, _ = tin.query(cols * b.cell_width, rows * b.cell_height)
    both = ~np.isnan(dem) & ~np.isnan(qh)
    # shared triangle edges may be claimed by either adjacent triangle —
    # values still match within FP tolerance
    assert both.mean() > 0.5
    assert np.allclose(dem[both], qh[both], atol=1e-5)
