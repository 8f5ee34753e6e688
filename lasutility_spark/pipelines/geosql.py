"""Geospatial relational operators as portable SQL over a points CTE.

The driver's correctness harness (``__spark_entry__.py``) has no image
table in its registered views, so the geospatial operators are verified
over a deterministic points table derived from ``lineitem``
(engine.points.synth_points_sql) — exactly the same rows on both engines.

Operators covered (SURVEY.md §2 ids):

- X3/X4  cell assignment + cell corners (floor arithmetic)
- X1/X2  tile-name encode (SQL-emitted grammar) and envelope decode
- A2     ground DEM max(z)
- A4/A5  per-cell descending rank / top-1 in class range
- A6     class-range heights
- A7     neighborhood local-max, halo form across tile borders
- S4     integer extent
- S14    surface model coalesce
- V2     class-map semi-join
- V5'    point-in-polygon join against a literal polygon (sign test)
- V1     class-map dimension union/except

All half-open-bounds floor arithmetic matches gridlib.bounds
(RasterBounds.cs:118-133); tile grid is the 1 km NLS level anchored like
gridlib.tilenamer (cell_id = row * 2^32 + col).
"""

from __future__ import annotations

from ..engine.points import synth_points_sql
from ..gridlib import tilenamer as tn
from ..gridlib import topodb

# 1 km NLS grid: cell id arithmetic identical to gridlib.tilenamer.cell_id
_CELL = (
    "CAST(FLOOR((y - 6570000.0) / 1000.0) AS BIGINT) * 4294967296 "
    "+ CAST(FLOOR((x - (-76000.0)) / 1000.0) AS BIGINT)"
)
# row/col inside the tile at 128x128 cells (cellsize 7.8125 m)
_ROW = "CAST(FLOOR((y - (FLOOR((y - 6570000.0) / 1000.0) * 1000.0 + 6570000.0)) / 7.8125e0) AS INT)"
_COL = "CAST(FLOOR((x - (FLOOR((x - (-76000.0)) / 1000.0) * 1000.0 + (-76000.0))) / 7.8125e0) AS INT)"


def _with_points(body: str) -> str:
    return f"WITH points AS ({synth_points_sql('lineitem')}) {body}"


def cells_sql(dialect: str) -> str:
    """X3: point -> cell assignment; per-cell point counts."""
    return _with_points(
        f"""
    SELECT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col,
           COUNT(*) AS n_points
    FROM points
    GROUP BY 1, 2, 3
    """
    )


def cell_corners_sql(dialect: str) -> str:
    """X4: distinct cells -> bottom-left world coordinates."""
    return _with_points(
        f"""
    SELECT DISTINCT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col,
      FLOOR((x - (-76000.0)) / 1000.0) * 1000.0 + (-76000.0) + {_COL} * 7.8125e0 AS cell_minx,
      FLOOR((y - 6570000.0) / 1000.0) * 1000.0 + 6570000.0 + {_ROW} * 7.8125e0 AS cell_miny
    FROM points
    """
    )


def ground_dem_sql(dialect: str) -> str:
    """A2: per-cell max(z) of ground points."""
    return _with_points(
        f"""
    SELECT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col,
           MAX(z) AS dem_z
    FROM points WHERE cls = 2
    GROUP BY 1, 2, 3
    """
    )


def bins_ranked_sql(dialect: str, topk: int = 3) -> str:
    """A4/A5: per-cell descending z rank over non-ground points."""
    return _with_points(
        f"""
    SELECT cell_id, cell_row, cell_col, rnk, z, cls
    FROM (
      SELECT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col, z, cls,
             ROW_NUMBER() OVER (
               PARTITION BY {_CELL}, {_ROW}, {_COL}
               ORDER BY z DESC, cls, x, y
             ) AS rnk
      FROM points WHERE cls <> 2
    ) t WHERE rnk <= {topk}
    """
    )


def highest_in_class_sql(dialect: str, lo: int = 3, hi: int = 5) -> str:
    """A5: highest point in class range per cell — top-1 of the A4 desc
    sort restricted to ``lo <= cls <= hi`` (VoxelGrid.cs:305-317,
    GetHighestPointInClassRange; requires-sorted contract via the
    deterministic ORDER BY tie-break)."""
    return _with_points(
        f"""
    SELECT cell_id, cell_row, cell_col, z, cls
    FROM (
      SELECT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col, z, cls,
             ROW_NUMBER() OVER (
               PARTITION BY {_CELL}, {_ROW}, {_COL}
               ORDER BY z DESC, cls, x, y
             ) AS rnk
      FROM points WHERE cls BETWEEN {lo} AND {hi}
    ) t WHERE rnk = 1
    """
    )


def heights_range_sql(dialect: str, lo: int = 3, hi: int = 5) -> str:
    """A6: class-range heights per cell."""
    return _with_points(
        f"""
    SELECT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col, z, cls
    FROM points WHERE cls BETWEEN {lo} AND {hi}
    """
    )


def surface_model_sql(dialect: str, lo: int = 3, hi: int = 5) -> str:
    """S14: coalesce(class-range max, ground max, -9999) per cell."""
    return _with_points(
        f"""
    SELECT cell_id, cell_row, cell_col,
           COALESCE(surface_z, dem_z, -9999.0) AS h
    FROM (
      SELECT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col,
             MAX(CASE WHEN cls BETWEEN {lo} AND {hi} THEN z END) AS surface_z,
             MAX(CASE WHEN cls = 2 THEN z END) AS dem_z
      FROM points GROUP BY 1, 2, 3
    ) t
    """
    )


def extent_sql(dialect: str) -> str:
    """S4: floor/ceil integer envelope of the point set."""
    return _with_points(
        """
    SELECT CAST(FLOOR(MIN(x)) AS BIGINT) AS minx,
           CAST(FLOOR(MIN(y)) AS BIGINT) AS miny,
           CAST(CEIL(MAX(x)) AS BIGINT) AS maxx,
           CAST(CEIL(MAX(y)) AS BIGINT) AS maxy
    FROM points
    """
    )


def tile_encode_sql_query(dialect: str) -> str:
    """X1: NLS tile names at 1 km for each distinct cell (SQL-emitted
    grammar; the Spark side runs the engine's real numpy codec instead)."""
    name = tn.tile_encode_sql("t.ix", "t.iy", 1000)
    return _with_points(
        f"""
    SELECT t.cell_id, {name} AS tile_name, COUNT(*) AS n_points
    FROM (
      SELECT {_CELL} AS cell_id,
             CAST(FLOOR(x) AS BIGINT) AS ix, CAST(FLOOR(y) AS BIGINT) AS iy
      FROM points
    ) t
    GROUP BY t.cell_id, {name}
    """
    )


def tile_envelope_sql(dialect: str) -> str:
    """X2: decoded tile envelopes — closed-form floor arithmetic."""
    return _with_points(
        f"""
    SELECT DISTINCT {_CELL} AS cell_id,
      FLOOR((x - (-76000.0)) / 1000.0) * 1000e0 + (-76000e0) AS tile_minx,
      FLOOR((y - 6570000.0) / 1000.0) * 1000e0 + 6570000e0 AS tile_miny,
      FLOOR((x - (-76000.0)) / 1000.0) * 1000e0 + (-76000e0) + 1000e0 AS tile_maxx,
      FLOOR((y - 6570000.0) / 1000.0) * 1000e0 + 6570000e0 + 1000e0 AS tile_maxy
    FROM points
    """
    )


# literal convex test polygon for the PIP-join oracle (world space)
_PIP_POLY = [
    (381000.0, 6667000.0),
    (385000.0, 6667500.0),
    (386000.0, 6671000.0),
    (382000.0, 6672500.0),
]


def knn_interp_sql(dialect: str, k: int = 4, sample_mod: int = 97) -> str:
    """T5/T8 kNN surface interpolation (the north star's "nearest-
    neighbor (kNN) surface interpolation") as a bounded relational plan:
    for a deterministic sample of occupied cells, take the ``k`` nearest
    GROUND points within the same 1 km tile and blend them with integer
    rank weights ``k - rank + 1`` (an IDW analog whose arithmetic is
    exact in both engines — true 1/d^2 weights would divide floats).

    Exactness: distances are quantized ``floor(d * 64)`` per axis before
    squaring (pure int64 from there), ties broken by (x, y); the final
    blend divides two int sums < 2^53, so the double division is exact.
    At scale the tile equi-join IS the partition pruning — each cell
    only ever meets its own tile's points (the T3/T5 grid-index
    contract), so the pair count is sum(points_per_tile * sampled
    cells_per_tile), never |cells| x |points|.
    """
    return _with_points(
        f"""
    , cells AS (
      SELECT DISTINCT {_CELL} AS cell_id, {_ROW} AS cell_row, {_COL} AS cell_col,
        FLOOR((x - (-76000.0)) / 1000.0) * 1000.0 + (-76000.0)
          + {_COL} * 7.8125e0 + 3.90625e0 AS cx,
        FLOOR((y - 6570000.0) / 1000.0) * 1000.0 + 6570000.0
          + {_ROW} * 7.8125e0 + 3.90625e0 AS cy
      FROM points
    ),
    sample_cells AS (
      SELECT * FROM cells
      WHERE (cell_row * 131 + cell_col * 17) % {sample_mod} = 0
    ),
    ranked AS (
      SELECT c.cell_id, c.cell_row, c.cell_col,
             CAST(FLOOR(p.z * 1000.0) AS BIGINT) AS z_x1000,
             CAST(FLOOR((p.x - c.cx) * 64.0) AS BIGINT)
               * CAST(FLOOR((p.x - c.cx) * 64.0) AS BIGINT)
             + CAST(FLOOR((p.y - c.cy) * 64.0) AS BIGINT)
               * CAST(FLOOR((p.y - c.cy) * 64.0) AS BIGINT) AS d2q,
             ROW_NUMBER() OVER (
               PARTITION BY c.cell_id, c.cell_row, c.cell_col
               ORDER BY CAST(FLOOR((p.x - c.cx) * 64.0) AS BIGINT)
                          * CAST(FLOOR((p.x - c.cx) * 64.0) AS BIGINT)
                        + CAST(FLOOR((p.y - c.cy) * 64.0) AS BIGINT)
                          * CAST(FLOOR((p.y - c.cy) * 64.0) AS BIGINT),
                        p.x, p.y
             ) AS rnk
      FROM sample_cells c
      JOIN points p
        ON {_CELL.replace('x', 'p.x').replace('y', 'p.y')} = c.cell_id
       AND p.cls = 2
    )
    SELECT cell_id, cell_row, cell_col,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(MIN(d2q) AS BIGINT) AS min_d2q,
           CAST(FLOOR(CAST(SUM(({k} - rnk + 1) * z_x1000) AS DOUBLE)
                      / SUM({k} - rnk + 1)) AS BIGINT) AS knn_z_x1000
    FROM ranked WHERE rnk <= {k}
    GROUP BY cell_id, cell_row, cell_col
    """
    )


def pip_literal_sql(dialect: str) -> str:
    """V5-analog: PIP join of all points against a literal convex polygon
    via the all-same-side cross-product test (boundary-inclusive, like
    IsPointInTriangle, Triangulation.cs:349-360); per-class hit counts."""
    conds = []
    n = len(_PIP_POLY)
    for i in range(n):
        x1, y1 = _PIP_POLY[i]
        x2, y2 = _PIP_POLY[(i + 1) % n]
        conds.append(f"(({x2} - {x1}) * (y - {y1}) - ({y2} - {y1}) * (x - {x1})) >= 0")
    inside = " AND ".join(conds)
    return _with_points(
        f"""
    SELECT cls, COUNT(*) AS n_inside,
           CAST(FLOOR(MIN(z)) AS BIGINT) AS min_z_floor,
           CAST(FLOOR(MAX(z)) AS BIGINT) AS max_z_floor
    FROM points WHERE {inside}
    GROUP BY cls
    """
    )


def neighborhood_max_halo_sql(dialect: str, radius: int = 1, lo: int = 3, hi: int = 5) -> str:
    """A7 halo variant: strict local maxima over Chebyshev ``radius`` on
    the GLOBAL cell grid — neighborhoods cross 1 km tile borders (the
    at-scale complement of A7's reference-parity border clamp,
    VoxelGrid.cs:274-281).  Neighbor probing is an equi-join after a
    small offset explode (shuffle on (gr, gc)) — never an inequality
    join."""
    offs = ", ".join(
        f"({dr}, {dc})"
        for dr in range(-radius, radius + 1)
        for dc in range(-radius, radius + 1)
        if not (dr == 0 and dc == 0)
    )
    return _with_points(
        f"""
    , cellmax AS (
      SELECT CAST(FLOOR((y - 6570000.0) / 7.8125e0) AS BIGINT) AS gr,
             CAST(FLOOR((x - (-76000.0)) / 7.8125e0) AS BIGINT) AS gc,
             MAX(z) AS zmax
      FROM points WHERE cls BETWEEN {lo} AND {hi}
      GROUP BY 1, 2
    )
    SELECT a.gr, a.gc, a.zmax,
           CAST((COUNT(CASE WHEN b.zmax >= a.zmax THEN 1 END) = 0) AS INT)
             AS is_local_max
    FROM cellmax a
    CROSS JOIN (VALUES {offs}) AS o(dr, dc)
    LEFT JOIN cellmax b ON b.gr = a.gr + o.dr AND b.gc = a.gc + o.dc
    GROUP BY a.gr, a.gc, a.zmax
    """
    )


# --- literal feature set for the kernel-path PIP classification oracle ----
#
# Three polygons (one pair overlapping for V8 last-writer-wins, one with a
# hole for V6), each strictly inside one 1 km tile so the per-tile clip is
# the identity and the even-odd fill is expressible in closed-form SQL.
# The Spark side runs the REAL kernel (WKB decode -> clip -> C/numpy
# even-odd scanline -> raster -> point lookup); the oracle replays the
# pinned integer cell-space arithmetic (MathUtils.cs:114-170) directly.

_PIPK_CS = 1000.0 / 128  # 7.8125, exact in binary
_PIPK_PX = 128

# (seq, luokka, value, tile_minx, tile_miny, rings) — rings open, world
# coords, exterior first; vertices keep >=100 m margin to the tile edge.
PIPK_FEATURES = [
    (
        1, 901, 10, 381000.0, 6667000.0,
        [
            [
                (381100.25, 6667100.25), (381800.5, 6667150.75),
                (381600.25, 6667500.5), (381850.75, 6667820.25),
                (381300.5, 6667900.75), (381400.25, 6667500.25),
            ]
        ],
    ),
    (
        2, 902, 20, 381000.0, 6667000.0,
        [
            [
                (381500.5, 6667300.5), (381900.25, 6667350.25),
                (381880.75, 6667700.75), (381520.25, 6667650.5),
            ]
        ],
    ),
    (
        3, 903, 30, 383000.0, 6669000.0,
        [
            [
                (383850.25, 6669500.5), (383747.5, 6669747.25),
                (383500.25, 6669850.5), (383252.75, 6669747.5),
                (383150.25, 6669500.25), (383252.5, 6669252.75),
                (383500.5, 6669150.25), (383747.25, 6669252.5),
            ],
            [
                (383400.25, 6669400.25), (383600.5, 6669400.5),
                (383600.25, 6669600.75), (383400.5, 6669600.5),
            ],
        ],
    ),
]

PIPK_CLASSMAP = {901: 10, 902: 20, 903: 30}


def _pipk_cell(v: float, origin: float) -> int:
    return int((v - origin) / _PIPK_CS)


def pip_classify_kernel_sql(dialect: str) -> str:
    """Oracle for the kernel-path point->class PIP join: every synthesized
    point gets the class value of its raster cell under the literal
    feature set; per-value counts.

    Replays the engine's pinned arithmetic in SQL: vertex coords mapped to
    integer cell space (RasterBounds.cs:126-132), even-odd crossing rule
    ``yi < Y <= yj`` either direction with the truncating node-x formula
    (MathUtils.cs:131,136), right-exclusive spans == odd count of node_x
    <= C, holes via exterior-odd AND holes-even plus the reference's
    exclusive copy-back window (RasteriserEvenOdd.cs:134-136), and
    last-writer-wins by max seq (V8)."""
    edge_rows, win_rows = [], []
    for seq, _luokka, value, tminx, tminy, rings in PIPK_FEATURES:
        for ring_idx, ring in enumerate(rings):
            cells = [
                (_pipk_cell(vx, tminx), _pipk_cell(vy, tminy)) for vx, vy in ring
            ]
            n = len(cells)
            for k in range(n):  # i = v[k], j = v[k-1] (np.roll semantics)
                xi, yi = cells[k]
                xj, yj = cells[k - 1]
                tcol = int((tminx - tn.ORIGIN_EAST) // 1000)
                trow = int((tminy - tn.ORIGIN_NORTH) // 1000)
                edge_rows.append(
                    f"({seq}, {ring_idx}, {value}, {tcol}, {trow}, "
                    f"{xi}, {yi}, {xj}, {yj})"
                )
        ext = rings[0]
        exc = [(_pipk_cell(vx, tminx), _pipk_cell(vy, tminy)) for vx, vy in ext]
        if len(rings) > 1:  # holed: exclusive copy-back window of the ext bbox
            wr0 = min(r for _c, r in exc)
            wr1 = max(r for _c, r in exc)
            wc0 = min(c for c, _r in exc)
            wc1 = max(c for c, _r in exc)
        else:  # direct fill: window is the whole tile
            wr0, wr1, wc0, wc1 = 0, _PIPK_PX, 0, _PIPK_PX
        win_rows.append(f"({seq}, {wr0}, {wr1}, {wc0}, {wc1})")

    edges = ", ".join(edge_rows)
    wins = ", ".join(win_rows)
    return _with_points(
        f"""
    , pts AS (
      SELECT x, y,
             CAST(FLOOR((x - (-76000.0)) / 1000.0) AS BIGINT) AS tcol,
             CAST(FLOOR((y - 6570000.0) / 1000.0) AS BIGINT) AS trow,
             {_ROW} AS r, {_COL} AS c
      FROM points
    ),
    dpts AS (SELECT DISTINCT x, y, tcol, trow, r, c FROM pts),
    edges AS (
      SELECT * FROM (VALUES {edges})
        AS e(seq, ring, val, tcol, trow, xi, yi, xj, yj)
    ),
    wins AS (
      SELECT * FROM (VALUES {wins}) AS w(seq, wr0, wr1, wc0, wc1)
    ),
    par AS (
      SELECT d.x, d.y, d.r, d.c, e.seq, e.ring, MAX(e.val) AS val,
             CAST(SUM(CASE WHEN (
                      (e.yi < d.r AND e.yj >= d.r)
                   OR (e.yj < d.r AND e.yi >= d.r))
                   AND CAST(FLOOR(e.xi
                       + CAST(d.r - e.yi AS DOUBLE) / (e.yj - e.yi)
                         * (e.xj - e.xi)) AS BIGINT) <= d.c
                 THEN 1 ELSE 0 END) % 2 AS INT) AS parity
      FROM dpts d JOIN edges e ON d.tcol = e.tcol AND d.trow = e.trow
      GROUP BY d.x, d.y, d.r, d.c, e.seq, e.ring
    ),
    feat AS (
      SELECT p.x, p.y, p.seq, MAX(p.val) AS val,
             CASE WHEN MAX(CASE WHEN p.ring = 0 THEN p.parity END) = 1
                   AND COALESCE(SUM(CASE WHEN p.ring > 0 THEN p.parity END), 0) = 0
                   AND MAX(p.r) >= MAX(w.wr0) AND MAX(p.r) < MAX(w.wr1)
                   AND MAX(p.c) >= MAX(w.wc0) AND MAX(p.c) < MAX(w.wc1)
              THEN 1 ELSE 0 END AS painted
      FROM par p JOIN wins w ON w.seq = p.seq
      GROUP BY p.x, p.y, p.seq
    ),
    win2 AS (
      SELECT x, y, MAX(CASE WHEN painted = 1 THEN seq END) AS wseq
      FROM feat GROUP BY x, y
    ),
    sel AS (
      SELECT w.x, w.y, CAST(f.val AS INT) AS value
      FROM win2 w JOIN feat f ON f.x = w.x AND f.y = w.y AND f.seq = w.wseq
    )
    SELECT COALESCE(s.value, 0) AS value, COUNT(*) AS n_points
    FROM pts p LEFT JOIN sel s ON s.x = p.x AND s.y = p.y
    GROUP BY 1
    """
    )


def classmap_union_sql(dialect: str) -> str:
    """V1: class-map dimension union minus removals (Rasteriser.cs:43-56)
    over literal VALUES — the broadcast dimension table ops."""
    rows_a = ", ".join(f"({k}, {v})" for k, v in sorted(topodb.BUILDING_POLYGON.items()))
    rows_b = ", ".join(f"({k}, {v})" for k, v in sorted(topodb.WATER_POLYGON.items()))
    rows_rm = ", ".join(f"({k}, {v})" for k, v in sorted(topodb.SWAMP_POLYGON.items()))
    return f"""
    SELECT luokka, value FROM (
      SELECT * FROM (VALUES {rows_a}) AS a(luokka, value)
      UNION
      SELECT * FROM (VALUES {rows_b}) AS b(luokka, value)
      UNION
      SELECT * FROM (VALUES {rows_rm}) AS r(luokka, value)
    ) u
    EXCEPT
    SELECT * FROM (VALUES {rows_rm}) AS r2(luokka, value)
    """


def classmap_semijoin_sql(dialect: str) -> str:
    """V2: LUOKKA semi-join — points keep only classes present in a tiny
    dimension (broadcast at scale); here classes 3..5 via VALUES."""
    return _with_points(
        """
    SELECT p.cls, COUNT(*) AS n
    FROM points p
    WHERE p.cls IN (SELECT cls FROM (VALUES (3), (4), (5)) AS d(cls))
    GROUP BY p.cls
    """
    )
