"""Differential oracle for the native raster kernels in ``_delaunay.c``.

The numpy/Python forms of point sampling, DEM triangle-push
rasterization, even-odd polygon fill, Bresenham polyline stamping and
rectangle clipping that ``gridlib`` ran before each kernel became its
only runtime path.  Every function has the signature of its
``gridlib._native`` wrapper, so a test can monkeypatch it in and run a
whole package caller (``datagen.gen_pip_tile_stats``, ``Tin.rasterize_dem``,
``clip.clip_ring``, ...) on the oracle instead of the C code.

One change against the package's last numpy sampler: it read a square
plane (``dem.shape[0]`` pixels each way); here it reads ``rows x cols``,
like the kernel.  The numpy fill slices ``dest[y, a:b]``, so it wraps a
negative column where the kernel clamps: hold the two to each other on
rings inside the raster only.
"""

from __future__ import annotations

import numpy as np

from lasutility_spark.gridlib.imagetile import assign_classes, hash01


def sample_points(dem: np.ndarray, minx: float, miny: float, cs: float, rate: float):
    """Numpy decode-to-points subsample (imagetile.sample_points_from_tile)."""
    rows, cols = dem.shape
    cc, rws = np.meshgrid(np.arange(cols), np.arange(rows))
    ex = minx + (cc + 0.5) * cs
    ny = miny + (rws + 0.5) * cs
    u = hash01((ex * 100).astype(np.int64) + 7, (ny * 100).astype(np.int64))
    sel = u < rate
    x = ex[sel].ravel()
    y = ny[sel].ravel()
    z = dem[sel].ravel().astype(np.float64)
    z, cls = assign_classes(x, y, z)
    return x, y, z, cls


def rasterize_dem(tri, x, y, z, cls, dem, minx, miny, maxx, maxy, eps,
                  locked, classification) -> None:
    """Numpy triangle-push rasterization (Triangulation.cs:202-298) into
    ``dem`` in place: a flat triangle x bbox-cell expansion."""
    if len(tri) == 0:
        return
    rows_n, cols_n = dem.shape
    cw = (maxx - minx) / cols_n
    ch = (maxy - miny) / rows_n
    if cls is None:
        cls = np.zeros(len(x), dtype=np.uint8)

    i0, i1, i2 = tri[:, 0], tri[:, 1], tri[:, 2]
    x0, y0, z0 = x[i0], y[i0], z[i0]
    x1, y1, z1 = x[i1], y[i1], z[i1]
    x2, y2, z2 = x[i2], y[i2], z[i2]

    # per-triangle bbox clamped to grid (Triangulation.cs:253-262)
    tminx = np.maximum(np.minimum(np.minimum(x0, x1), x2), minx)
    tminy = np.maximum(np.minimum(np.minimum(y0, y1), y2), miny)
    tmaxx = np.minimum(np.maximum(np.maximum(x0, x1), x2), maxx - eps)
    tmaxy = np.minimum(np.maximum(np.maximum(y0, y1), y2), maxy - eps)

    det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
    keep = (
        (np.abs(det) >= 1e-12)  # degenerate skip (Triangulation.cs:265-267)
        & (tminx <= tmaxx)
        & (tminy <= tmaxy)
    )
    if not keep.any():
        return
    order = np.flatnonzero(keep)  # preserve triangle order for overwrites
    r0 = ((tminy[order] - miny) / ch).astype(np.int64)
    c0 = ((tminx[order] - minx) / cw).astype(np.int64)
    r1 = ((tmaxy[order] - miny) / ch).astype(np.int64)
    c1 = ((tmaxx[order] - minx) / cw).astype(np.int64)

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
    px = minx + cols * cw  # cell bottom-left (Triangulation.cs:278)
    py = miny + rows * ch
    inv = 1.0 / det[gt]
    l1 = ((y1[gt] - y2[gt]) * (px - x2[gt]) + (x2[gt] - x1[gt]) * (py - y2[gt])) * inv
    l2 = ((y2[gt] - y0[gt]) * (px - x2[gt]) + (x0[gt] - x2[gt]) * (py - y2[gt])) * inv
    l3 = 1.0 - l1 - l2
    inside = (l1 >= 0) & (l2 >= 0) & (l3 >= 0)
    if locked is not None:
        inside &= ~locked[rows, cols]  # T10 (Triangulation.cs:275-276)
    if not inside.any():
        return

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
        c0v = cls[i0[gt]]
        c1v = cls[i1[gt]]
        c2v = cls[i2[gt]]
        pick = np.where((d0 <= d1) & (d0 <= d2), c0v, np.where(d1 <= d2, c1v, c2v))
        classification[rows, cols] = pick


def fill_polygon_cells(dest, value, row_bot, row_top, poly_x, poly_y) -> None:
    """Numpy MathUtils.FillPolygonInt (MathUtils.cs:114-170), vectorized
    per scanline row over the polygon edges."""
    px_i = poly_x
    py_i = poly_y
    px_j = np.roll(poly_x, 1)  # j = i-1 with wraparound (MathUtils.cs:127,139)
    py_j = np.roll(poly_y, 1)

    for pixel_y in range(row_bot, row_top + 1):
        crosses = ((py_i < pixel_y) & (py_j >= pixel_y)) | (
            (py_j < pixel_y) & (py_i >= pixel_y)
        )
        if not crosses.any():
            continue
        xi = px_i[crosses]
        yi = py_i[crosses]
        xj = px_j[crosses]
        yj = py_j[crosses]
        # C# (int) cast truncates toward zero (MathUtils.cs:136)
        node_x = np.trunc(xi + (pixel_y - yi) / (yj - yi) * (xj - xi)).astype(np.int64)
        node_x.sort()
        for k in range(0, len(node_x) - 1, 2):
            a, b = node_x[k], node_x[k + 1]
            if b > a:
                dest[pixel_y, a:b] = value  # right-exclusive (MathUtils.cs:164)


def bresenham_line(ax: int, ay: int, bx: int, by: int) -> np.ndarray:
    """V7: MathUtils.Line (MathUtils.cs:18-87) -> (n, 2) array of (x, y).

    Includes the perfect-diagonal special case and the same `side` tie-break
    as the reference so the exact cell sequence matches.
    """
    cells = [(ax, ay)]
    xinc = -1 if bx < ax else 1
    yinc = -1 if by < ay else 1
    dx = xinc * (bx - ax)
    dy = yinc * (by - ay)

    if dx == dy:  # perfect diagonal (MathUtils.cs:40-60)
        x, y = ax, ay
        for _ in range(dx):
            x += xinc
            y += yinc
            cells.append((x, y))
        return np.array(cells, dtype=np.int64)

    side = -1 * ((yinc if dx == 0 else xinc) - 1)  # MathUtils.cs:64
    i = dx + dy
    error = dx - dy
    dx *= 2
    dy *= 2
    x, y = ax, ay
    while i > 0:
        i -= 1
        if error > 0 or error == side:
            x += xinc
            error -= dy
        else:
            y += yinc
            error += dx
        cells.append((x, y))
    return np.array(cells, dtype=np.int64)


def rasterize_polyline(dest, value, vrows, vcols) -> None:
    """Per segment, stamp the Bresenham cells of the (row, col) vertex
    sequence (RasteriserEvenOdd.cs:84-101)."""
    for i in range(1, len(vrows)):
        seg = bresenham_line(int(vcols[i - 1]), int(vrows[i - 1]), int(vcols[i]), int(vrows[i]))
        dest[seg[:, 1], seg[:, 0]] = value


def clip_ring(xs, ys, minx, miny, maxx, maxy):
    """Sutherland-Hodgman over the four box edges -> (x, y) or None."""
    pts = list(zip(np.asarray(xs).tolist(), np.asarray(ys).tolist()))

    def inside(p, edge):
        x, y = p
        if edge == 0:
            return x >= minx
        if edge == 1:
            return x <= maxx
        if edge == 2:
            return y >= miny
        return y <= maxy

    def intersect(p, q, edge):
        (x1, y1), (x2, y2) = p, q
        if edge in (0, 1):
            xb = minx if edge == 0 else maxx
            t = (xb - x1) / (x2 - x1)
            return (xb, y1 + t * (y2 - y1))
        yb = miny if edge == 2 else maxy
        t = (yb - y1) / (y2 - y1)
        return (x1 + t * (x2 - x1), yb)

    for edge in range(4):
        if not pts:
            return None
        out = []
        prev = pts[-1]
        prev_in = inside(prev, edge)
        for cur in pts:
            cur_in = inside(cur, edge)
            if cur_in:
                if not prev_in:
                    out.append(intersect(prev, cur, edge))
                out.append(cur)
            elif prev_in:
                out.append(intersect(prev, cur, edge))
            prev, prev_in = cur, cur_in
        pts = out
    if len(pts) < 3:
        return None
    arr = np.asarray(pts)
    return arr[:, 0], arr[:, 1]


def clip_polyline(xs, ys, minx, miny, maxx, maxy):
    """Liang-Barsky per segment -> list of (x, y) parts."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    parts = []
    cur_x: list[float] = []
    cur_y: list[float] = []

    def flush():
        nonlocal cur_x, cur_y
        if len(cur_x) >= 2:
            parts.append((np.asarray(cur_x), np.asarray(cur_y)))
        cur_x, cur_y = [], []

    for i in range(1, len(xs)):
        x1, y1, x2, y2 = xs[i - 1], ys[i - 1], xs[i], ys[i]
        dx, dy = x2 - x1, y2 - y1
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in (
            (-dx, x1 - minx),
            (dx, maxx - x1),
            (-dy, y1 - miny),
            (dy, maxy - y1),
        ):
            if p == 0:
                if q < 0:
                    ok = False
                    break
            else:
                t = q / p
                if p < 0:
                    if t > t1:
                        ok = False
                        break
                    t0 = max(t0, t)
                else:
                    if t < t0:
                        ok = False
                        break
                    t1 = min(t1, t)
        if not ok:
            flush()
            continue
        cx1, cy1 = x1 + t0 * dx, y1 + t0 * dy
        cx2, cy2 = x1 + t1 * dx, y1 + t1 * dy
        if not cur_x or (cur_x[-1], cur_y[-1]) != (cx1, cy1):
            flush()
            cur_x, cur_y = [cx1], [cy1]
        cur_x.append(cx2)
        cur_y.append(cy2)
        if t1 < 1.0:
            flush()
    flush()
    return parts
