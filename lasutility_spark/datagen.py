"""Deterministic synthetic input tables: test and benchmark input only.

No engine module imports this one.  It writes the image table of
BASELINE.json ``input_hint`` — ``(image_id:string, bytes:binary, w:int32,
h:int32, fmt:string, caption:string, phash:int64)`` — plus vector feature
tables (``feature_id, geom_wkb, luokka, seq``) per FIXTURES.md §2-3, and
the oracle side tables the correctness queries compare against.

The rows follow the image-tile contract of :mod:`gridlib.imagetile`
(caption grammar, png16 height range, coordinate-hashed point sampling),
so every pixel/point value is a pure function of absolute world
coordinates — never of partition, order, or RNG stream state.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from .gridlib import topodb
# parse_caption, sample_points_from_tile and assign_classes are unused
# here: perfbench/ reads them, like Z_MIN/Z_MAX and is_dense_tile, as
# ``datagen.<name>``.
from .gridlib.imagetile import (  # noqa: F401
    BASE_RATE,
    CAPTION_FMT,
    DENSE_RATE,
    Z_MAX,
    Z_MIN,
    assign_classes,
    hash01,
    is_dense_tile,
    parse_caption,
    sample_points_from_tile,
)
from .gridlib.phash import phash64
from .gridlib.png import dem_to_png16
from .gridlib.tilenamer import cell_id as _cell_id
from .gridlib.tilenamer import tile_decode, tile_encode
from .gridlib.wkb import encode_linestring, encode_polygon

# anchor area: the reference's L4133 map tile (RasteriserEvenOdd fixture)
ANCHOR_E = 380000
ANCHOR_N = 6666000
TILE_M = 1000  # one image = one 1 km tile


def terrain_z(e: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Smooth deterministic pseudo-terrain + coordinate-hashed micro-noise."""
    e = np.asarray(e, dtype=np.float64)
    n = np.asarray(n, dtype=np.float64)
    z = (
        180.0
        + 40.0 * np.sin(e / 700.0) * np.cos(n / 900.0)
        + 18.0 * np.sin(n / 290.0)
        + 9.0 * np.cos(e / 130.0) * np.sin(n / 170.0)
    )
    noise = hash01((e * 100).astype(np.int64), (n * 100).astype(np.int64)) - 0.5
    return z + 0.4 * noise


def tile_names(n_tiles: int) -> list[str]:
    """First n tiles of a row-major 1 km grid anchored at L4133."""
    k = int(np.ceil(np.sqrt(n_tiles)))
    names = []
    for i in range(n_tiles):
        e = ANCHOR_E + (i % k) * TILE_M
        n = ANCHOR_N + (i // k) * TILE_M
        names.append(tile_encode(e, n, TILE_M))
    return names


def tile_dem(name: str, px: int = 128) -> np.ndarray:
    """Deterministic float32 DEM plane for a tile (cell-center sampled)."""
    minx, miny, maxx, maxy = tile_decode(name)
    cs = (maxx - minx) / px
    cols, rws = np.meshgrid(np.arange(px), np.arange(px))
    ex = minx + (cols + 0.5) * cs
    ny = miny + (rws + 0.5) * cs
    return terrain_z(ex, ny).astype(np.float32)


def gen_tile_rows(names: list[str], px: int = 128) -> pd.DataFrame:
    """Per-tile core: tile names -> image-table rows (the input_hint shape).

    Pixel (r, c) covers the cell at world (minx + c*cs, miny + r*cs);
    pixel value = quantized terrain height at the cell center.
    """
    rows = []
    for name in names:
        minx, miny, maxx, maxy = tile_decode(name)
        cs = (maxx - minx) / px
        dem = tile_dem(name, px)
        data = dem_to_png16(dem, Z_MIN, Z_MAX)
        caption = CAPTION_FMT.format(
            name=name, minx=minx, miny=miny, maxx=maxx, maxy=maxy,
            cellsize=cs, nodata=-9999,
        )
        rows.append(
            {
                "image_id": name,
                "bytes": data,
                "w": np.int32(px),
                "h": np.int32(px),
                "fmt": "png16",
                "caption": caption,
                "phash": np.int64(phash64(dem)),
                # tile-anchor columns: the row-major write order makes
                # miny monotone across the file, so min/max row-group
                # stats turn any spatial range predicate into parquet
                # row-group pruning (the Iceberg partition-column analog)
                "minx": np.int32(minx),
                "miny": np.int32(miny),
            }
        )
    return pd.DataFrame(rows)


# vector features (FIXTURES.md §2) ----------------------------------------


def gen_features(area_tiles: list[str], n_polygons: int, n_lines: int):
    """Seeded polygons (some holed) + polylines over the tile area, with
    luokka codes from the TopographicDb code books and a ``seq`` overlay
    rank (V8 last-writer-wins).

    Returns (polygons, lines, envelopes): the third frame carries each
    feature's bounding box computed from the RAW vertex arrays before WKB
    encoding — the independent oracle for the X5 cover explode (which
    derives envelopes by decoding the WKB)."""
    envs = [tile_decode(t) for t in area_tiles]
    minx = min(e[0] for e in envs)
    miny = min(e[1] for e in envs)
    maxx = max(e[2] for e in envs)
    maxy = max(e[3] for e in envs)
    rng = np.random.RandomState(42)
    poly_codes = sorted(topodb.ALL_POLYGON)
    line_codes = sorted(topodb.ALL_LINE)

    envs = []
    polys = []
    for fid in range(n_polygons):
        cx = rng.uniform(minx + 50, maxx - 50)
        cy = rng.uniform(miny + 50, maxy - 50)
        nv = rng.randint(4, 12)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = rng.uniform(8, 120, nv)
        xs = np.clip(cx + rad * np.cos(ang), minx, maxx - 0.01)
        ys = np.clip(cy + rad * np.sin(ang), miny, maxy - 0.01)
        rings = [(xs, ys)]
        if rng.rand() < 0.15 and rad.min() > 25:  # a hole
            hr = rad.min() * 0.4
            hxs = cx + hr * np.cos(ang)
            hys = cy + hr * np.sin(ang)
            rings.append((hxs[::-1], hys[::-1]))
        luokka = int(poly_codes[rng.randint(len(poly_codes))])
        env = {
            "minx": float(min(r[0].min() for r in rings)),
            "miny": float(min(r[1].min() for r in rings)),
            "maxx": float(max(r[0].max() for r in rings)),
            "maxy": float(max(r[1].max() for r in rings)),
        }
        # envelope columns ride with the geometry (the GeoParquet bbox
        # pattern): spatial predicates push down to the parquet scan and
        # the cover explode never needs to decode WKB
        polys.append(
            {
                "feature_id": fid,
                "geom_wkb": encode_polygon(
                    [(np.append(r[0], r[0][0]), np.append(r[1], r[1][0])) for r in rings]
                ),
                "luokka": luokka,
                "seq": fid,
                **env,
            }
        )
        envs.append({"feature_id": fid, "kind": "polygon", "luokka": luokka,
                     "seq": fid, **env})

    lines = []
    for fid in range(n_lines):
        nv = rng.randint(2, 20)
        x0 = rng.uniform(minx + 10, maxx - 10)
        y0 = rng.uniform(miny + 10, maxy - 10)
        steps = rng.uniform(-80, 80, (nv - 1, 2))
        pts = np.vstack([[x0, y0], np.cumsum(steps, axis=0) + [x0, y0]])
        xs = np.clip(pts[:, 0], minx, maxx - 0.01)
        ys = np.clip(pts[:, 1], miny, maxy - 0.01)
        luokka = int(line_codes[rng.randint(len(line_codes))])
        env = {
            "minx": float(xs.min()), "miny": float(ys.min()),
            "maxx": float(xs.max()), "maxy": float(ys.max()),
        }
        lines.append(
            {
                "feature_id": n_polygons + fid,
                "geom_wkb": encode_linestring(xs, ys),
                "luokka": luokka,
                "seq": n_polygons + fid,
                **env,
            }
        )
        envs.append({"feature_id": n_polygons + fid, "kind": "line",
                     "luokka": luokka, "seq": n_polygons + fid, **env})
    return pd.DataFrame(polys), pd.DataFrame(lines), pd.DataFrame(envs)


# oracle side tables --------------------------------------------------------


def gen_tile_stats(
    names: list[str], px: int = 128, out_px: int = 64
) -> pd.DataFrame:
    """Expected per-tile TIN-stage metrics, computed directly from the
    coordinate hashes (NOT by running the engine): point selection and
    class assignment depend only on absolute cell-center coordinates, so
    the counts are closed-form — the engine must reproduce them through
    the full PNG encode -> decode -> sample -> shuffle path (and the C
    sample_points kernel is cross-checked against this direct numpy
    arithmetic).

    Columns: n_points (T9 per-tile point count), n_ground_points,
    a2_filled_cells (distinct ``out_px``-grid cells holding >=1 ground
    point — the exact A2 ground-max plane fill count, Delaunay-free),
    w/h/total_cells (the tie-independent raster frame invariants),
    sum_area_x100 (S10: closed-form convex-hull area x100 — EVERY
    triangulation of the point set tiles its convex hull, so the
    engine's Delaunay triangle-area sum must equal it bit-for-bit
    regardless of co-circular/collinear tie breaks; computed here by
    monotone-chain hull + shoelace, fully Delaunay-free).
    """
    rows = []
    for name in names:
        minx, miny, maxx, maxy = tile_decode(name)
        cs = (maxx - minx) / px
        cols, rws = np.meshgrid(np.arange(px), np.arange(px))
        ex = minx + (cols + 0.5) * cs
        ny = miny + (rws + 0.5) * cs
        u = hash01((ex * 100).astype(np.int64) + 7, (ny * 100).astype(np.int64))
        rate = DENSE_RATE if is_dense_tile(name) else BASE_RATE
        sel = u < rate
        x = ex[sel].ravel()
        y = ny[sel].ravel()
        v = hash01((x * 100).astype(np.int64) + 13, (y * 100).astype(np.int64))
        ground = v < 0.8
        ocs = (maxx - minx) / out_px
        gc = ((x[ground] - minx) / ocs).astype(np.int64)
        gr = ((y[ground] - miny) / ocs).astype(np.int64)
        a2 = int(np.unique(gr * out_px + gc).size)
        rows.append(
            {
                "cell_id": np.int64(
                    _cell_id(np.array([minx]), np.array([miny]), TILE_M)[0]
                ),
                "image_id": name,
                "w": np.int32(out_px),
                "h": np.int32(out_px),
                "n_points": np.int32(sel.sum()),
                "n_ground_points": np.int32(ground.sum()),
                "a2_filled_cells": np.int32(a2),
                "total_cells": np.int32(out_px * out_px),
                "sum_area_x100": np.int64(hull_area_x100(x, y, minx, miny)),
            }
        )
    return pd.DataFrame(rows)


def hull_area_x100(x, y, minx: float, miny: float) -> int:
    """Convex-hull area of a point set, x100, as an exact integer.

    Coordinates are origin-shifted so every float64 op is EXACT on the
    dyadic cell-center grid (offsets < 1000 with 2^-7-granular
    fractions: differences, 34-bit cross products, and their sums all
    fit the 53-bit mantissa), which makes this bit-comparable to a
    Delaunay triangle-area sum computed with the same difference-based
    shoelace — the two derivations (monotone chain here, sweep-hull
    Delaunay in gridlib) share no code."""
    import math

    if len(x) < 3:
        return 0
    pts = sorted(set(zip((x - minx).tolist(), (y - miny).tolist())))
    if len(pts) < 3:
        return 0

    def _chain(points):
        h: list[tuple[float, float]] = []
        for p in points:
            while (
                len(h) >= 2
                and (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                <= 0
            ):
                h.pop()
            h.append(p)
        return h

    lower = _chain(pts)
    upper = _chain(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return 0
    x0, y0 = hull[0]
    a2 = 0.0
    for (ax, ay), (bx, by) in zip(hull[1:-1], hull[2:]):
        a2 += (ax - x0) * (by - y0) - (ay - y0) * (bx - x0)
    return int(math.floor(abs(a2) / 2.0 * 100.0 + 0.5))


def gen_pip_tile_stats(
    names: list[str], polys: pd.DataFrame, lines: pd.DataFrame, px: int = 64
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Expected per-tile feature-rasterization metrics (V1-V8), computed
    at generation time by the single-process per-tile loop, so the Spark
    cogrouped distribution must reproduce it.  The loop runs the gridlib
    C kernels; ``tests/test_raster_native.py`` regenerates both frames
    with the fill, polyline and clip kernels swapped for their numpy
    oracles (``tests/raster_oracle.py``) and requires them equal, which
    is what makes these tables independent of the C arithmetic.

    Returns (tile_stats, class_extents): the second frame is the
    raster->vector oracle — per (tile, class value) the painted cell
    count and row/col extent box of the expected raster."""
    from .engine import pip_stage  # lazy: keeps pyspark out of this import

    feats = [
        (int(r.seq), int(r.luokka), bytes(r.geom_wkb))
        for r in pd.concat([polys, lines], ignore_index=True).itertuples()
    ]
    classmap = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
    rows = []
    ext_rows = []
    for name in names:
        minx, miny, _, _ = tile_decode(name)
        cell = int(_cell_id(np.array([minx]), np.array([miny]), TILE_M)[0])
        raster, n_applied, _env = pip_stage._rasterize_tile_raster(
            cell, px, TILE_M, feats, classmap
        )
        rows.append(
            {
                "cell_id": np.int64(cell),
                "image_id": name,
                "w": np.int32(px),
                "h": np.int32(px),
                "n_features": np.int32(n_applied),
                "painted_cells": np.int32((raster != 0).sum()),
            }
        )
        for v in np.unique(raster):
            if v == 0:
                continue
            rr, cc = np.nonzero(raster == v)
            ext_rows.append(
                {
                    "cell_id": np.int64(cell),
                    "image_id": name,
                    "value": np.int32(v),
                    "n_cells": np.int64(len(rr)),
                    "min_row": np.int32(rr.min()),
                    "max_row": np.int32(rr.max()),
                    "min_col": np.int32(cc.min()),
                    "max_col": np.int32(cc.max()),
                }
            )
    return pd.DataFrame(rows), pd.DataFrame(ext_rows)


# table writer --------------------------------------------------------------

SF_TILES = {0.001: 9, 0.01: 36, 0.1: 4096}

# per-tile expected-metric side tables are only written for oracle-scale
# fixtures: the PIP expected rasterization is a single-process numpy loop
# (O(tiles x features)), unusable at the 4096-tile sf0.1 fixture — and
# only the sf0.01 fixture feeds the DuckDB oracle queries.
MAX_STATS_TILES = 256


def ensure_images_table(
    sf: float, base_dir: str = "/root/repo/.cache", n_tiles: int | None = None
) -> str:
    """Write (once) and return the path of the deterministic images table
    for a scale factor (or an explicit tile count); also writes
    polygons/lines feature tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = n_tiles if n_tiles else SF_TILES.get(sf, max(9, int(2560 * sf)))
    out = os.path.join(base_dir, f"images_n{n}")  # content-addressed by count
    # v8 marks a complete cache (v8 caches may also hold media tables
    # that nothing reads any more); v7 added sum_area_x100 (S10
    # hull-area oracle) to tile_stats; v6 added the pip_class_extents
    # raster->vector oracle side table; v4 added the tile_stats/
    # pip_tile_stats expected-metric side tables (oracle fixtures only);
    # v3 added envelope columns on the feature tables + tile-anchor
    # columns on images (pushdown pruning).  v3+ caches upgrade in place
    # (side tables only); older caches regenerate in full (idempotent).
    marker = os.path.join(out, "_SUCCESS_v8")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    names = tile_names(n)
    if any(
        os.path.exists(os.path.join(out, f"_SUCCESS_v{v}"))
        for v in (3, 4, 5, 6, 7)
    ):
        # incremental upgrade: tables are deterministic functions of the
        # tile list, so only the missing side tables need writing
        _write_stats_tables(out, names, n)
        open(marker, "w").close()
        return out
    df = gen_tile_rows(names)
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
            ("minx", pa.int32()),
            ("miny", pa.int32()),
        ]
    )
    # small row groups => many parquet splits => the Spark scan itself is
    # parallel (no single-task repartition source stage); at 10^12 scale
    # the table naturally has thousands of files/groups, this mirrors that
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        os.path.join(out, "images.parquet"),
        row_group_size=64,
    )
    pdf, ldf, edf = gen_features(names, n_polygons=max(40, 8 * n), n_lines=max(40, 8 * n))
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(out, "polygons.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(ldf, preserve_index=False),
        os.path.join(out, "lines.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(edf, preserve_index=False),
        os.path.join(out, "feature_envelopes.parquet"),
    )
    _write_stats_tables(out, names, n)
    open(marker, "w").close()
    return out


def _write_stats_tables(out: str, names: list[str], n: int) -> None:
    """tile_stats/pip_tile_stats/pip_class_extents side tables (oracle
    fixtures only — the driver's DuckDB correctness gate reads the
    sf0.01 fixture; larger fixtures never need them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if n > MAX_STATS_TILES:
        return

    def _put(fname: str, frame: pd.DataFrame) -> None:
        if os.path.exists(os.path.join(out, fname)):
            return
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            os.path.join(out, fname),
        )

    # v7 in-place upgrade: rewrite tile_stats if it predates sum_area_x100
    ts_path = os.path.join(out, "tile_stats.parquet")
    if os.path.exists(ts_path):
        if "sum_area_x100" not in pq.ParquetFile(ts_path).schema_arrow.names:
            os.remove(ts_path)
    _put("tile_stats.parquet", gen_tile_stats(names))
    if not os.path.exists(os.path.join(out, "pip_class_extents.parquet")):
        pdf, ldf, _ = gen_features(
            names, n_polygons=max(40, 8 * n), n_lines=max(40, 8 * n)
        )
        stats, extents = gen_pip_tile_stats(names, pdf, ldf)
        _put("pip_tile_stats.parquet", stats)
        _put("pip_class_extents.parquet", extents)
