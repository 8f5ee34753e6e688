/* Sweep-hull 2-D Delaunay triangulation.
 *
 * Fresh C implementation of the Delaunator algorithm (Mapbox, ISC; the
 * published sweep-circle variant of incremental insertion with an
 * advancing convex-hull front and pseudo-angle hull hashing).  Role
 * parity with the reference's DelaunatorSharp dependency
 * (LasUtility/DEM/Triangulation.cs:58-72) — same algorithm family the
 * reference uses, NOT a port of reference code.
 *
 * API (ctypes):
 *   int64_t lsu_triangulate(int64_t n, const double *x, const double *y,
 *                           int64_t *out_tri);   [capacity 3 * 2n]
 *   returns number of triangles (>= 0), or -1 on allocation failure,
 *   -2 when the input is fully collinear (caller emits 0 triangles).
 *
 * Determinism: ties in the radial sort break by point index, so the
 * output depends only on the input point sequence — never on memory
 * layout or parallelism (required: local[8] == local[32] bit-equality).
 *
 * Numerical notes: plain double-precision predicates (like upstream
 * Delaunator).  The engine feeds tile-local coordinates (|xy| ~ 1e3),
 * where grid-aligned inputs make every orient/incircle determinant
 * integer-valued and exact in doubles; the Python wrapper
 * property-checks nothing at runtime but the test suite pins empty
 * circumcircles on co-circular grids (tests/test_delaunay_tin.py).
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define EPS 2.220446049250313e-16 /* 2^-52 */

typedef struct {
    int64_t n;
    const double *x, *y;
    int64_t *triangles;  /* 3 * max_tri */
    int64_t *halfedges;  /* 3 * max_tri */
    int64_t tri_len;     /* in half-edge slots (3 per triangle) */
    int64_t *hull_prev, *hull_next, *hull_tri;
    int64_t *hull_hash;
    int64_t hash_size;
    int64_t hull_start;
    double cx, cy; /* sort center = seed circumcenter */
    int64_t *stack;
    int64_t stack_cap;
} ctx_t;

/* positive <=> (a,b,c) counter-clockwise */
static inline double orient2d(double ax, double ay, double bx, double by,
                              double cx, double cy) {
    return (ax - cx) * (by - cy) - (ay - cy) * (bx - cx);
}

/* squared circumradius of (a,b,c); HUGE_VAL when degenerate */
static inline double circumradius2(double ax, double ay, double bx, double by,
                                   double cx, double cy) {
    double dx = bx - ax, dy = by - ay, ex = cx - ax, ey = cy - ay;
    double bl = dx * dx + dy * dy, cl = ex * ex + ey * ey;
    double det = dx * ey - dy * ex;
    if (det == 0.0) return HUGE_VAL;
    double d = 0.5 / det;
    double px = (ey * bl - dy * cl) * d, py = (dx * cl - ex * bl) * d;
    return px * px + py * py;
}

static inline void circumcenter(double ax, double ay, double bx, double by,
                                double cx, double cy, double *ox, double *oy) {
    double dx = bx - ax, dy = by - ay, ex = cx - ax, ey = cy - ay;
    double bl = dx * dx + dy * dy, cl = ex * ex + ey * ey;
    double d = 0.5 / (dx * ey - dy * ex);
    *ox = ax + (ey * bl - dy * cl) * d;
    *oy = ay + (dx * cl - ex * bl) * d;
}

/* true <=> p strictly inside the circumcircle of CCW triangle (a,b,c) */
static inline int in_circle(double ax, double ay, double bx, double by,
                            double cx, double cy, double px, double py) {
    double dx = ax - px, dy = ay - py;
    double ex = bx - px, ey = by - py;
    double fx = cx - px, fy = cy - py;
    double ap = dx * dx + dy * dy;
    double bp = ex * ex + ey * ey;
    double cp = fx * fx + fy * fy;
    /* determinant > 0 <=> p strictly inside for CCW (a,b,c); the classic
       "< 0" form assumes y-down screen coordinates (CW winding) */
    return dx * (ey * cp - bp * fy) - dy * (ex * cp - bp * fx) +
               ap * (ex * fy - ey * fx) >
           0.0;
}

/* monotone pseudo-angle of (dx,dy) in [0,1) — radial hull hash key */
static inline double pseudo_angle(double dx, double dy) {
    double p = dx / (fabs(dx) + fabs(dy));
    return (dy > 0.0 ? 3.0 - p : 1.0 + p) / 4.0;
}

static inline int64_t hash_key(ctx_t *c, double x, double y) {
    int64_t k =
        (int64_t)floor(pseudo_angle(x - c->cx, y - c->cy) * (double)c->hash_size);
    return ((k % c->hash_size) + c->hash_size) % c->hash_size;
}

static inline void link_he(ctx_t *c, int64_t a, int64_t b) {
    c->halfedges[a] = b;
    if (b != -1) c->halfedges[b] = a;
}

static int64_t add_triangle(ctx_t *c, int64_t i0, int64_t i1, int64_t i2,
                            int64_t a, int64_t b, int64_t d) {
    int64_t t = c->tri_len;
    c->triangles[t] = i0;
    c->triangles[t + 1] = i1;
    c->triangles[t + 2] = i2;
    link_he(c, t, a);
    link_he(c, t + 1, b);
    link_he(c, t + 2, d);
    c->tri_len += 3;
    return t;
}

static int64_t legalize(ctx_t *c, int64_t a) {
    int64_t i = 0, ar = 0;
    const double *x = c->x, *y = c->y;
    for (;;) {
        int64_t b = c->halfedges[a];
        int64_t a0 = a - a % 3;
        ar = a0 + (a + 2) % 3;
        if (b == -1) {
            if (i == 0) break;
            a = c->stack[--i];
            continue;
        }
        int64_t b0 = b - b % 3;
        int64_t al = a0 + (a + 1) % 3;
        int64_t bl = b0 + (b + 2) % 3;
        int64_t p0 = c->triangles[ar];
        int64_t pr = c->triangles[a];
        int64_t pl = c->triangles[al];
        int64_t p1 = c->triangles[bl];
        int illegal = in_circle(x[p0], y[p0], x[pr], y[pr], x[pl], y[pl],
                                x[p1], y[p1]);
        if (illegal) {
            c->triangles[a] = p1;
            c->triangles[b] = p0;
            int64_t hbl = c->halfedges[bl];
            if (hbl == -1) { /* flipped edge touched the hull: repoint it */
                int64_t e = c->hull_start;
                do {
                    if (c->hull_tri[e] == bl) {
                        c->hull_tri[e] = a;
                        break;
                    }
                    e = c->hull_prev[e];
                } while (e != c->hull_start);
            }
            link_he(c, a, hbl);
            link_he(c, b, c->halfedges[ar]);
            link_he(c, ar, bl);
            int64_t br = b0 + (b + 1) % 3;
            if (i < c->stack_cap) c->stack[i++] = br;
        } else {
            if (i == 0) break;
            a = c->stack[--i];
        }
    }
    return ar;
}

typedef struct {
    double d;
    int64_t id;
} dist_id_t;

static int cmp_dist_id(const void *pa, const void *pb) {
    const dist_id_t *a = (const dist_id_t *)pa, *b = (const dist_id_t *)pb;
    if (a->d < b->d) return -1;
    if (a->d > b->d) return 1;
    if (a->id < b->id) return -1; /* deterministic tie-break */
    if (a->id > b->id) return 1;
    return 0;
}

int64_t lsu_triangulate(int64_t n, const double *x, const double *y,
                        int64_t *out_tri) {
    if (n < 3) return 0;

    double minx = HUGE_VAL, miny = HUGE_VAL, maxx = -HUGE_VAL, maxy = -HUGE_VAL;
    for (int64_t i = 0; i < n; i++) {
        if (x[i] < minx) minx = x[i];
        if (x[i] > maxx) maxx = x[i];
        if (y[i] < miny) miny = y[i];
        if (y[i] > maxy) maxy = y[i];
    }
    double bcx = (minx + maxx) / 2.0, bcy = (miny + maxy) / 2.0;

    /* seed: closest to bbox center, its nearest neighbor, then the third
       point minimizing the circumradius */
    int64_t i0 = 0;
    double best = HUGE_VAL;
    for (int64_t i = 0; i < n; i++) {
        double d = (x[i] - bcx) * (x[i] - bcx) + (y[i] - bcy) * (y[i] - bcy);
        if (d < best) { best = d; i0 = i; }
    }
    int64_t i1 = -1;
    best = HUGE_VAL;
    for (int64_t i = 0; i < n; i++) {
        if (i == i0) continue;
        double d = (x[i] - x[i0]) * (x[i] - x[i0]) + (y[i] - y[i0]) * (y[i] - y[i0]);
        if (d < best) { best = d; i1 = i; }
    }
    int64_t i2 = -1;
    best = HUGE_VAL;
    for (int64_t i = 0; i < n; i++) {
        if (i == i0 || i == i1) continue;
        double r = circumradius2(x[i0], y[i0], x[i1], y[i1], x[i], y[i]);
        if (r < best) { best = r; i2 = i; }
    }
    if (i2 == -1 || best == HUGE_VAL) return -2; /* fully collinear */

    if (orient2d(x[i0], y[i0], x[i1], y[i1], x[i2], y[i2]) < 0.0) {
        int64_t t = i1; i1 = i2; i2 = t; /* make seed CCW */
    }

    int64_t max_tri = 2 * n - 5;
    ctx_t c;
    memset(&c, 0, sizeof(c));
    c.n = n; c.x = x; c.y = y;
    c.hash_size = (int64_t)ceil(sqrt((double)n));
    if (c.hash_size < 1) c.hash_size = 1;
    c.stack_cap = 512;
    c.triangles = (int64_t *)malloc(sizeof(int64_t) * 3 * max_tri);
    c.halfedges = (int64_t *)malloc(sizeof(int64_t) * 3 * max_tri);
    c.hull_prev = (int64_t *)malloc(sizeof(int64_t) * n);
    c.hull_next = (int64_t *)malloc(sizeof(int64_t) * n);
    c.hull_tri = (int64_t *)malloc(sizeof(int64_t) * n);
    c.hull_hash = (int64_t *)malloc(sizeof(int64_t) * c.hash_size);
    c.stack = (int64_t *)malloc(sizeof(int64_t) * c.stack_cap);
    dist_id_t *order = (dist_id_t *)malloc(sizeof(dist_id_t) * n);
    if (!c.triangles || !c.halfedges || !c.hull_prev || !c.hull_next ||
        !c.hull_tri || !c.hull_hash || !c.stack || !order) {
        free(c.triangles); free(c.halfedges); free(c.hull_prev);
        free(c.hull_next); free(c.hull_tri); free(c.hull_hash);
        free(c.stack); free(order);
        return -1;
    }

    circumcenter(x[i0], y[i0], x[i1], y[i1], x[i2], y[i2], &c.cx, &c.cy);
    for (int64_t i = 0; i < n; i++) {
        order[i].d = (x[i] - c.cx) * (x[i] - c.cx) + (y[i] - c.cy) * (y[i] - c.cy);
        order[i].id = i;
    }
    qsort(order, (size_t)n, sizeof(dist_id_t), cmp_dist_id);

    c.hull_start = i0;
    c.hull_next[i0] = i1; c.hull_prev[i2] = i1;
    c.hull_next[i1] = i2; c.hull_prev[i0] = i2;
    c.hull_next[i2] = i0; c.hull_prev[i1] = i0;
    c.hull_tri[i0] = 0; c.hull_tri[i1] = 1; c.hull_tri[i2] = 2;
    for (int64_t i = 0; i < c.hash_size; i++) c.hull_hash[i] = -1;
    c.hull_hash[hash_key(&c, x[i0], y[i0])] = i0;
    c.hull_hash[hash_key(&c, x[i1], y[i1])] = i1;
    c.hull_hash[hash_key(&c, x[i2], y[i2])] = i2;

    c.tri_len = 0;
    add_triangle(&c, i0, i1, i2, -1, -1, -1);

    double xp = HUGE_VAL, yp = HUGE_VAL;
    for (int64_t k = 0; k < n; k++) {
        int64_t i = order[k].id;
        double xi = x[i], yi = y[i];
        if (k > 0 && fabs(xi - xp) <= EPS && fabs(yi - yp) <= EPS) continue;
        xp = xi; yp = yi;
        if (i == i0 || i == i1 || i == i2) continue;

        /* locate a visible hull edge via the radial hash */
        int64_t start = 0;
        int64_t key = hash_key(&c, xi, yi);
        for (int64_t j = 0; j < c.hash_size; j++) {
            start = c.hull_hash[(key + j) % c.hash_size];
            if (start != -1 && start != c.hull_next[start]) break;
        }
        start = c.hull_prev[start];
        int64_t e = start, q;
        for (;;) {
            q = c.hull_next[e];
            if (orient2d(xi, yi, x[e], y[e], x[q], y[q]) < 0.0) break;
            e = q;
            if (e == start) { e = -1; break; }
        }
        if (e == -1) continue; /* near-duplicate / inside numerically */

        int64_t t = add_triangle(&c, e, i, c.hull_next[e], -1, -1, c.hull_tri[e]);
        c.hull_tri[i] = legalize(&c, t + 2);
        c.hull_tri[e] = t;

        /* walk forward, adding triangles while the next edge is visible */
        int64_t nn = c.hull_next[e];
        for (;;) {
            q = c.hull_next[nn];
            if (!(orient2d(xi, yi, x[nn], y[nn], x[q], y[q]) < 0.0)) break;
            t = add_triangle(&c, nn, i, q, c.hull_tri[i], -1, c.hull_tri[nn]);
            c.hull_tri[i] = legalize(&c, t + 2);
            c.hull_next[nn] = nn; /* mark removed */
            nn = q;
        }
        /* walk backward */
        if (e == start) {
            for (;;) {
                q = c.hull_prev[e];
                if (!(orient2d(xi, yi, x[q], y[q], x[e], y[e]) < 0.0)) break;
                t = add_triangle(&c, q, i, e, -1, c.hull_tri[e], c.hull_tri[q]);
                legalize(&c, t + 2);
                c.hull_tri[q] = t;
                c.hull_next[e] = e; /* mark removed */
                e = q;
            }
        }
        c.hull_start = e;
        c.hull_prev[i] = e;
        c.hull_next[e] = i;
        c.hull_prev[nn] = i;
        c.hull_next[i] = nn;
        c.hull_hash[hash_key(&c, xi, yi)] = i;
        c.hull_hash[hash_key(&c, x[e], y[e])] = e;
    }

    int64_t n_tri = c.tri_len / 3;
    memcpy(out_tri, c.triangles, sizeof(int64_t) * 3 * n_tri);

    free(c.triangles); free(c.halfedges); free(c.hull_prev);
    free(c.hull_next); free(c.hull_tri); free(c.hull_hash);
    free(c.stack); free(order);
    return n_tri;
}

/* V5 even-odd scanline polygon fill in integer cell space (semantics of
 * LasUtility/Common/MathUtils.cs:114-170 FillPolygonInt): per pixel row
 * in [row_bot, row_top], collect edge crossings with the rule
 * ``polyY[i] < y <= polyY[j]`` in either direction (MathUtils.cs:131),
 * node x = C#-style trunc-toward-zero (MathUtils.cs:136), sort, fill
 * right-exclusive pairs (MathUtils.cs:161-168).  Each edge crosses a
 * row at most once, so the crossing buffer holds n doubles.  Writes are
 * clamped to the raster for memory safety (callers pre-clip rings to
 * bounds).  Returns 0, or -1 when the crossing buffer cannot be
 * allocated.
 */
int64_t lsu_fill_polygon_cells(uint8_t *dest, int64_t rows, int64_t cols,
                               int value, int64_t row_bot, int64_t row_top,
                               const double *poly_x, const double *poly_y,
                               int64_t n) {
    if (n < 2) return 0;
    double *node_x = malloc(sizeof(double) * (size_t)n);
    if (!node_x) return -1;
    if (row_bot < 0) row_bot = 0;
    if (row_top >= rows) row_top = rows - 1;
    for (int64_t y = row_bot; y <= row_top; y++) {
        double py = (double)y;
        int64_t nn = 0;
        int64_t j = n - 1;
        for (int64_t i = 0; i < n; i++) {
            double yi = poly_y[i], yj = poly_y[j];
            if ((yi < py && yj >= py) || (yj < py && yi >= py)) {
                node_x[nn++] =
                    poly_x[i] + (py - yi) / (yj - yi) * (poly_x[j] - poly_x[i]);
            }
            j = i;
        }
        /* insertion sort (crossing counts per row are small on real rings) */
        for (int64_t a = 1; a < nn; a++) {
            double v = node_x[a];
            int64_t b = a - 1;
            while (b >= 0 && node_x[b] > v) { node_x[b + 1] = node_x[b]; b--; }
            node_x[b + 1] = v;
        }
        uint8_t *drow = dest + y * cols;
        for (int64_t k = 0; k + 1 < nn; k += 2) {
            int64_t a = (int64_t)node_x[k];     /* trunc toward zero */
            int64_t b = (int64_t)node_x[k + 1];
            if (a < 0) a = 0;
            if (b > cols) b = cols;
            for (int64_t c = a; c < b; c++) drow[c] = (uint8_t)value;
        }
    }
    free(node_x);
    return 0;
}

/* V7 Bresenham polyline rasterization (MathUtils.cs:18-87 incl. the
 * perfect-diagonal special case and `side` tie-break, via
 * RasteriserEvenOdd.cs:84-101): stamps every cell of every segment of
 * the (row, col) vertex sequence.  Out-of-raster cells are skipped. */
void lsu_rasterize_polyline(uint8_t *dest, int64_t rows, int64_t cols,
                            int value, const int64_t *vr, const int64_t *vc,
                            int64_t n) {
#define STAMP(X, Y)                                                   \
    do {                                                              \
        if ((Y) >= 0 && (Y) < rows && (X) >= 0 && (X) < cols)         \
            dest[(Y) * cols + (X)] = (uint8_t)value;                  \
    } while (0)
    for (int64_t s = 1; s < n; s++) {
        int64_t ax = vc[s - 1], ay = vr[s - 1], bx = vc[s], by = vr[s];
        int64_t x = ax, y = ay;
        STAMP(x, y);
        int64_t xinc = bx < ax ? -1 : 1;
        int64_t yinc = by < ay ? -1 : 1;
        int64_t dx = xinc * (bx - ax);
        int64_t dy = yinc * (by - ay);
        if (dx == dy) { /* perfect diagonal (MathUtils.cs:40-60) */
            for (int64_t i = 0; i < dx; i++) {
                x += xinc;
                y += yinc;
                STAMP(x, y);
            }
            continue;
        }
        int64_t side = -1 * ((dx == 0 ? yinc : xinc) - 1); /* MathUtils.cs:64 */
        int64_t i = dx + dy;
        int64_t error = dx - dy;
        dx *= 2;
        dy *= 2;
        while (i > 0) {
            i--;
            if (error > 0 || error == side) {
                x += xinc;
                error -= dy;
            } else {
                y += yinc;
                error += dx;
            }
            STAMP(x, y);
        }
    }
#undef STAMP
}

/* T9 triangle-push DEM rasterization (semantics of
 * LasUtility/DEM/Triangulation.cs:202-298): per triangle IN ORDER,
 * clamp bbox to the grid, skip |det| < 1e-12, barycentric inside-test
 * l1,l2,l3 >= 0 at each covered cell's bottom-left corner, overwrite
 * height unless the cell is locked; optional nearest-vertex (3-D argmin,
 * <=-tie to lower vertex index) classification plane.
 *
 * Why C: the numpy form (kept in tests/raster_oracle.py as the
 * differential oracle) materializes a flat triangle-x-bbox expansion
 * (~20 double temporaries per covered cell) and is memory-bandwidth
 * bound — which on a shared-bus host caps multi-core scaling at ~0.3
 * efficiency.  The tight loop below touches each covered cell once and
 * stays compute-bound (~0.84 measured scaling, the host's frequency
 * ceiling).
 *
 * dem: rows*cols float32 (row-major, row 0 = southernmost), NaN=missing
 * locked: rows*cols uint8 or NULL
 * classification + cls: optional plane + per-point classes (NULL = skip)
 */
void lsu_rasterize_dem(int64_t n_tri, const int64_t *tri, const double *x,
                       const double *y, const double *z, const uint8_t *cls,
                       int64_t rows, int64_t cols, double minx, double miny,
                       double maxx, double maxy, double eps, float *dem,
                       const uint8_t *locked, uint8_t *classification) {
    double cw = (maxx - minx) / (double)cols;
    double ch = (maxy - miny) / (double)rows;
    for (int64_t t = 0; t < n_tri; t++) {
        int64_t i0 = tri[3 * t], i1 = tri[3 * t + 1], i2 = tri[3 * t + 2];
        double x0 = x[i0], y0 = y[i0], z0 = z[i0];
        double x1 = x[i1], y1 = y[i1], z1 = z[i1];
        double x2 = x[i2], y2 = y[i2], z2 = z[i2];

        double tminx = x0 < x1 ? (x0 < x2 ? x0 : x2) : (x1 < x2 ? x1 : x2);
        double tmaxx = x0 > x1 ? (x0 > x2 ? x0 : x2) : (x1 > x2 ? x1 : x2);
        double tminy = y0 < y1 ? (y0 < y2 ? y0 : y2) : (y1 < y2 ? y1 : y2);
        double tmaxy = y0 > y1 ? (y0 > y2 ? y0 : y2) : (y1 > y2 ? y1 : y2);
        if (tminx < minx) tminx = minx;
        if (tminy < miny) tminy = miny;
        if (tmaxx > maxx - eps) tmaxx = maxx - eps;
        if (tmaxy > maxy - eps) tmaxy = maxy - eps;
        if (tminx > tmaxx || tminy > tmaxy) continue;

        double det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2);
        if (fabs(det) < 1e-12) continue;
        double inv = 1.0 / det;

        int64_t r0 = (int64_t)((tminy - miny) / ch);
        int64_t c0 = (int64_t)((tminx - minx) / cw);
        int64_t r1 = (int64_t)((tmaxy - miny) / ch);
        int64_t c1 = (int64_t)((tmaxx - minx) / cw);
        if (r1 >= rows) r1 = rows - 1;
        if (c1 >= cols) c1 = cols - 1;

        for (int64_t r = r0; r <= r1; r++) {
            double py = miny + (double)r * ch;
            double dy2 = py - y2;
            float *drow = dem + r * cols;
            const uint8_t *lrow = locked ? locked + r * cols : NULL;
            for (int64_t cc = c0; cc <= c1; cc++) {
                double px = minx + (double)cc * cw;
                double dx2 = px - x2;
                double l1 = ((y1 - y2) * dx2 + (x2 - x1) * dy2) * inv;
                if (l1 < 0.0) continue;
                double l2 = ((y2 - y0) * dx2 + (x0 - x2) * dy2) * inv;
                if (l2 < 0.0) continue;
                double l3 = 1.0 - l1 - l2;
                if (l3 < 0.0) continue;
                if (lrow && lrow[cc]) continue;
                double h = l1 * z0 + l2 * z1 + l3 * z2;
                drow[cc] = (float)h;
                if (classification) {
                    double d0 = (px - x0) * (px - x0) + (py - y0) * (py - y0) +
                                (h - z0) * (h - z0);
                    double d1 = (px - x1) * (px - x1) + (py - y1) * (py - y1) +
                                (h - z1) * (h - z1);
                    double d2 = (px - x2) * (px - x2) + (py - y2) * (py - y2) +
                                (h - z2) * (h - z2);
                    uint8_t pick;
                    if (d0 <= d1 && d0 <= d2) pick = cls[i0];
                    else if (d1 <= d2) pick = cls[i1];
                    else pick = cls[i2];
                    classification[r * cols + cc] = pick;
                }
            }
        }
    }
}

/* ----------------------------------------------------------------------
 * lsu_sample_points: decode-to-points subsample + class assignment.
 *
 * The arithmetic of imagetile.sample_points_from_tile's contract:
 * pixel centers hashed with splitmix64 -> uniform [0,1) doubles; a
 * pixel becomes a "LIDAR return" when u < rate, with class from a
 * second hash (ground 80%, vegetation 3/4/5) and vegetation lifted
 * above the terrain.  All integer arithmetic matches the numpy oracle
 * in tests/raster_oracle.py (truncating int64 casts of non-negative
 * products, the same op order for the IEEE doubles), so outputs match
 * it bit for bit.  dem is rows*cols float32, row-major.
 * -------------------------------------------------------------------- */

static inline uint64_t lsu_splitmix64(uint64_t v) {
    v += 0x9E3779B97F4A7C15ULL;
    uint64_t z = v;
    z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9ULL;
    z = (z ^ (z >> 27)) * 0x94D049BB133111EBULL;
    return z ^ (z >> 31);
}

static inline double lsu_hash01_2(int64_t a, int64_t b) {
    uint64_t acc = 0;
    acc = lsu_splitmix64(acc ^ (uint64_t)a);
    acc = lsu_splitmix64(acc ^ (uint64_t)b);
    return (double)(acc >> 11) / 9007199254740992.0; /* 2^53 */
}

int64_t lsu_sample_points(int64_t rows, int64_t cols, const float *dem,
                          double minx, double miny, double cs, double rate,
                          double *out_x, double *out_y, double *out_z,
                          uint8_t *out_cls) {
    int64_t n = 0;
    for (int64_t r = 0; r < rows; r++) {
        double ny = miny + ((double)r + 0.5) * cs;
        int64_t hy = (int64_t)(ny * 100.0);
        for (int64_t c = 0; c < cols; c++) {
            double ex = minx + ((double)c + 0.5) * cs;
            double u = lsu_hash01_2((int64_t)(ex * 100.0) + 7, hy);
            if (u >= rate) continue;
            double v = lsu_hash01_2((int64_t)(ex * 100.0) + 13, hy);
            uint8_t cls = 2; /* ground */
            if (v >= 0.8) {
                if (v < 0.88) cls = 3;
                else if (v < 0.95) cls = 4;
                else cls = 5;
            }
            double z = (double)dem[r * cols + c];
            if (cls != 2) z += 2.0 + 14.0 * v;
            out_x[n] = ex;
            out_y[n] = ny;
            out_z[n] = z;
            out_cls[n] = cls;
            n++;
        }
    }
    return n;
}

/* ---- rectangular clipping (V3): Sutherland-Hodgman ring +
   Liang-Barsky polyline.  Same double arithmetic, op for op, as the
   Python loops in tests/raster_oracle.py (compiled -ffp-contract=off),
   so outputs are bit-identical — pinned by tests/test_raster_native.py. */

int64_t lsu_clip_ring(int64_t n, const double* xs, const double* ys,
                      double minx, double miny, double maxx, double maxy,
                      double* out_x, double* out_y,
                      double* work_x, double* work_y)
{
    const double* in_x = xs;
    const double* in_y = ys;
    double* a_x = out_x;
    double* a_y = out_y;
    double* b_x = work_x;
    double* b_y = work_y;
    int64_t in_n = n;
    for (int edge = 0; edge < 4; edge++) {
        if (in_n == 0) return 0;
        int64_t out_n = 0;
        double px = in_x[in_n - 1], py = in_y[in_n - 1];
        int prev_in = edge == 0 ? (px >= minx) : edge == 1 ? (px <= maxx)
                    : edge == 2 ? (py >= miny) : (py <= maxy);
        for (int64_t i = 0; i < in_n; i++) {
            double cx = in_x[i], cy = in_y[i];
            int cur_in = edge == 0 ? (cx >= minx) : edge == 1 ? (cx <= maxx)
                       : edge == 2 ? (cy >= miny) : (cy <= maxy);
            if (cur_in != prev_in) {
                double ix, iy;
                if (edge < 2) {
                    double xb = edge == 0 ? minx : maxx;
                    double t = (xb - px) / (cx - px);
                    ix = xb;
                    iy = py + t * (cy - py);
                } else {
                    double yb = edge == 2 ? miny : maxy;
                    double t = (yb - py) / (cy - py);
                    ix = px + t * (cx - px);
                    iy = yb;
                }
                a_x[out_n] = ix;
                a_y[out_n] = iy;
                out_n++;
            }
            if (cur_in) {
                a_x[out_n] = cx;
                a_y[out_n] = cy;
                out_n++;
            }
            px = cx;
            py = cy;
            prev_in = cur_in;
        }
        in_x = a_x;
        in_y = a_y;
        in_n = out_n;
        double* t;
        t = a_x; a_x = b_x; b_x = t;
        t = a_y; a_y = b_y; b_y = t;
    }
    if (in_n < 3) return 0;
    if (in_x != out_x) {
        for (int64_t i = 0; i < in_n; i++) {
            out_x[i] = in_x[i];
            out_y[i] = in_y[i];
        }
    }
    return in_n;
}

int64_t lsu_clip_polyline(int64_t n, const double* xs, const double* ys,
                          double minx, double miny, double maxx, double maxy,
                          double* out_x, double* out_y, int64_t* part_lens)
{
    int64_t n_parts = 0, total = 0, cur = 0;
    for (int64_t i = 1; i < n; i++) {
        double x1 = xs[i - 1], y1 = ys[i - 1], x2 = xs[i], y2 = ys[i];
        double dx = x2 - x1, dy = y2 - y1;
        double t0 = 0.0, t1 = 1.0;
        int ok = 1;
        double ps[4], qs[4];
        ps[0] = -dx; qs[0] = x1 - minx;
        ps[1] = dx;  qs[1] = maxx - x1;
        ps[2] = -dy; qs[2] = y1 - miny;
        ps[3] = dy;  qs[3] = maxy - y1;
        for (int e = 0; e < 4; e++) {
            double p = ps[e], q = qs[e];
            if (p == 0.0) {
                if (q < 0.0) { ok = 0; break; }
            } else {
                double t = q / p;
                if (p < 0.0) {
                    if (t > t1) { ok = 0; break; }
                    if (t > t0) t0 = t;
                } else {
                    if (t < t0) { ok = 0; break; }
                    if (t < t1) t1 = t;
                }
            }
        }
        if (!ok) {
            if (cur >= 2) part_lens[n_parts++] = cur; else total -= cur;
            cur = 0;
            continue;
        }
        double cx1 = x1 + t0 * dx, cy1 = y1 + t0 * dy;
        double cx2 = x1 + t1 * dx, cy2 = y1 + t1 * dy;
        if (cur == 0 || out_x[total - 1] != cx1 || out_y[total - 1] != cy1) {
            if (cur >= 2) part_lens[n_parts++] = cur; else total -= cur;
            cur = 0;
            out_x[total] = cx1;
            out_y[total] = cy1;
            total++;
            cur++;
        }
        out_x[total] = cx2;
        out_y[total] = cy2;
        total++;
        cur++;
        if (t1 < 1.0) {
            if (cur >= 2) part_lens[n_parts++] = cur; else total -= cur;
            cur = 0;
        }
    }
    if (cur >= 2) part_lens[n_parts++] = cur; else total -= cur;
    return n_parts;
}
