"""Seeded input generation for the benchmark workloads.

Every workload's inputs are a pure function of (workload, seed, scale).
They are written once under the build directory of the checkout and
reused by later runs, so generation is never charged to set-up time.
The engine receives only the written files.

Each input directory holds a ``manifest.json`` with the input
properties the engine's behaviour depends on: point and tile counts,
points per tile, dense-tile ratio, features per tile and tiles covered
per feature.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

from lasutility_spark import datagen
from lasutility_spark.gridlib import topodb
from lasutility_spark.gridlib.las import write_las
from lasutility_spark.gridlib.laz import write_laz
from lasutility_spark.gridlib.png import png16_to_dem
from lasutility_spark.gridlib.tilenamer import cell_id, tile_decode, tile_encode
from lasutility_spark.gridlib.wkb import encode_linestring, encode_polygon

TILE_M = datagen.TILE_M
DENSE_RATIO = 0.10

# Per-workload sizes.  "full" is what the benchmark measures; "tiny" is
# for the benchmark's own tests.
SIZES = {
    "dem_tiles": {"full": {"tiles": 768}, "tiny": {"tiles": 20}},
    "pip_classify": {
        "full": {"tiles": 384, "polygons_per_tile": 12, "lines_per_tile": 6},
        "tiny": {"tiles": 20, "polygons_per_tile": 4, "lines_per_tile": 2},
    },
    "strips_dem": {
        "full": {"cols": 3, "rows": 2, "points_per_tile": 12000, "city_factor": 8},
        "tiny": {"cols": 2, "rows": 2, "points_per_tile": 3000, "city_factor": 8},
    },
    "laz_dsm": {
        "full": {"strips": 4, "points_per_strip": 12000, "chunk": 6000},
        "tiny": {"strips": 2, "points_per_strip": 3000, "chunk": 1500},
    },
}


def _anchor(seed: int) -> tuple[int, int]:
    """South-west corner of the seed's area, on the 1 km grid."""
    return (
        datagen.ANCHOR_E + TILE_M * ((seed * 37) % 61),
        datagen.ANCHOR_N + TILE_M * ((seed * 11) % 53),
    )


def _pick_tiles(seed: int, n: int) -> list[str]:
    """n distinct 1 km tiles with exactly round(n * DENSE_RATIO) dense
    ones (``datagen.is_dense_tile``), drawn from a seeded candidate grid
    twice the needed area.  Fixing the ratio keeps the work per tile
    equal across seeds."""
    rng = np.random.RandomState(seed)
    e0, n0 = _anchor(seed)
    side = int(np.ceil(np.sqrt(2 * n))) + 2
    while True:
        cand = [
            tile_encode(e0 + TILE_M * (i % side), n0 + TILE_M * (i // side), TILE_M)
            for i in range(side * side)
        ]
        dense = [t for t in cand if datagen.is_dense_tile(t)]
        sparse = [t for t in cand if not datagen.is_dense_tile(t)]
        k = int(round(n * DENSE_RATIO))
        if len(dense) >= k and len(sparse) >= n - k:
            break
        side *= 2
    picked = list(rng.choice(dense, k, replace=False)) + list(
        rng.choice(sparse, n - k, replace=False)
    )
    return sorted(str(t) for t in picked)


def _write_images(path: str, names: list[str]) -> list[int]:
    """Image-table parquet (the engine's tile table schema); returns the
    sampled point count of every tile."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = datagen.gen_tile_rows(names)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        os.path.join(path, "images.parquet"),
        row_group_size=64,
    )
    counts = []
    for cap, data in zip(df["caption"], df["bytes"]):
        name, minx, miny, _mx, _my, cs, _ = datagen.parse_caption(cap)
        dem = png16_to_dem(bytes(data), datagen.Z_MIN, datagen.Z_MAX)
        counts.append(len(datagen.sample_points_from_tile(name, dem, minx, miny, cs)[0]))
    return counts


def _gen_dem_tiles(path: str, seed: int, size: dict) -> dict:
    names = _pick_tiles(seed, size["tiles"])
    counts = _write_images(path, names)
    return {
        "tiles": len(names),
        "points": int(sum(counts)),
        "points_per_tile_p50": float(np.median(counts)),
        "dense_tile_ratio": float(np.mean([datagen.is_dense_tile(t) for t in names])),
    }


def covered_cells(minx, miny, maxx, maxy) -> list[int]:
    """Cell ids of the 1 km tiles an envelope touches."""
    lo, hi = cell_id(np.array([minx, maxx]), np.array([miny, maxy]), TILE_M)
    return [
        (r << 32) + c
        for r in range(int(lo) >> 32, (int(hi) >> 32) + 1)
        for c in range(int(lo) & 0xFFFFFFFF, (int(hi) & 0xFFFFFFFF) + 1)
    ]


def _gen_pip_classify(path: str, seed: int, size: dict) -> dict:
    """Image tiles plus polygons (15% holed) and polylines centred in
    each tile.  Radii up to 160 m and walks of up to 120 m per step make
    a share of features cross tile edges, so they are listed under
    every tile they cover."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = _pick_tiles(seed, size["tiles"])
    counts = _write_images(path, names)
    rng = np.random.RandomState(seed + 1)
    poly_codes = sorted(topodb.ALL_POLYGON)
    line_codes = sorted(topodb.ALL_LINE)
    rows, covers = [], []
    for name in names:
        minx, miny, maxx, maxy = tile_decode(name)
        for _ in range(size["polygons_per_tile"]):
            cx, cy = rng.uniform(minx, maxx), rng.uniform(miny, maxy)
            nv = rng.randint(4, 12)
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rng.uniform(10, 160, nv)
            xs, ys = cx + rad * np.cos(ang), cy + rad * np.sin(ang)
            rings = [(np.append(xs, xs[0]), np.append(ys, ys[0]))]
            if rng.rand() < 0.15:
                hr = rad.min() * 0.4
                hx, hy = cx + hr * np.cos(ang[::-1]), cy + hr * np.sin(ang[::-1])
                rings.append((np.append(hx, hx[0]), np.append(hy, hy[0])))
            env = (xs.min(), ys.min(), xs.max(), ys.max())
            rows.append((encode_polygon(rings), int(poly_codes[rng.randint(len(poly_codes))]), env))
        for _ in range(size["lines_per_tile"]):
            nv = rng.randint(2, 12)
            start = [rng.uniform(minx, maxx), rng.uniform(miny, maxy)]
            pts = np.vstack([start, np.cumsum(rng.uniform(-120, 120, (nv - 1, 2)), axis=0) + start])
            env = (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())
            rows.append((encode_linestring(pts[:, 0], pts[:, 1]), int(line_codes[rng.randint(len(line_codes))]), env))
    table = {
        "feature_id": [], "geom_wkb": [], "luokka": [], "seq": [],
        "minx": [], "miny": [], "maxx": [], "maxy": [],
    }
    for fid, (g, luokka, env) in enumerate(rows):
        for k, v in zip(("feature_id", "geom_wkb", "luokka", "seq"), (fid, g, luokka, fid)):
            table[k].append(v)
        for k, v in zip(("minx", "miny", "maxx", "maxy"), env):
            table[k].append(float(v))
        covers.append(len(covered_cells(*env)))
    pq.write_table(pa.table(table), os.path.join(path, "features.parquet"))
    return {
        "tiles": len(names),
        "points": int(sum(counts)),
        "points_per_tile_p50": float(np.median(counts)),
        "dense_tile_ratio": float(np.mean([datagen.is_dense_tile(t) for t in names])),
        "features": len(rows),
        "features_per_tile": (size["polygons_per_tile"] + size["lines_per_tile"]),
        "covers_per_feature": float(np.mean(covers)),
    }


def _strip_points(rng, x0, x1, y0, y1, n):
    """n LiDAR returns uniformly over [x0,x1) x [y0,y1) on the datagen
    terrain, with its deterministic class and vegetation lift."""
    # 1 cm inside the far edges: LAS stores coordinates quantized, and a
    # point rounded onto the edge would land in the next tile
    x = rng.uniform(x0, x1 - 0.01, n)
    y = rng.uniform(y0, y1 - 0.01, n)
    z, cls = datagen.assign_classes(x, y, datagen.terrain_z(x, y))
    return x, y, z, cls


def _gen_strips_dem(path: str, seed: int, size: dict) -> dict:
    """East-west flight strips over a cols x rows block of 1 km tiles.
    Strips are 600 m wide at a 500 m pitch (100 m side overlap), each
    split into a western and an eastern file at a point that is not a
    tile edge.  One extra cross strip lands on a single "city" tile so
    that it holds about ``city_factor`` times the median tile's points."""
    rng = np.random.RandomState(seed)
    e0, n0 = _anchor(seed)
    cols, rows, ppt = size["cols"], size["rows"], size["points_per_tile"]
    w, h = cols * TILE_M, rows * TILE_M
    density = ppt / float(TILE_M * TILE_M) * 500.0 / 600.0
    files, n_total = [], 0
    cut = e0 + w * 0.43
    for k, ys in enumerate(np.arange(n0 - 50.0, n0 + h - 50.0, 500.0)):
        y0, y1 = max(ys, n0), min(ys + 600.0, n0 + h)
        for part, (x0, x1) in enumerate(((e0, cut), (cut, e0 + w))):
            n = int(density * (x1 - x0) * (y1 - y0))
            x, y, z, cls = _strip_points(rng, x0, x1, y0, y1, n)
            fname = os.path.join(path, f"strip{k:02d}_{part}.las")
            with open(fname, "wb") as f:
                f.write(write_las(x, y, z, cls))
            files.append(os.path.basename(fname))
            n_total += n
    cc, cr = int(rng.randint(cols)), int(rng.randint(rows))
    cx0, cy0 = e0 + cc * TILE_M, n0 + cr * TILE_M
    x, y, z, cls = _strip_points(
        rng, cx0, cx0 + TILE_M, cy0, cy0 + TILE_M, (size["city_factor"] - 1) * ppt
    )
    with open(os.path.join(path, "city.las"), "wb") as f:
        f.write(write_las(x, y, z, cls))
    files.append("city.las")
    n_total += len(x)
    tiles = [
        tile_encode(e0 + TILE_M * c, n0 + TILE_M * r, TILE_M)
        for r in range(rows) for c in range(cols)
    ]
    return {
        "files": files,
        "tiles": len(tiles),
        "tile_names": tiles,
        "west_cols": cols // 2,
        "points": int(n_total),
        "points_per_tile_p50": float(ppt),
        "city_tile": tile_encode(cx0, cy0, TILE_M),
        "dense_tile_ratio": 1.0 / len(tiles),
    }


def _gen_laz_dsm(path: str, seed: int, size: dict) -> dict:
    """LAZ strips (point format 1: GPS time), one file per strip, each
    compressed in fixed-size chunks that the engine decodes one per
    task.  Strips run north-south across two tile columns."""
    rng = np.random.RandomState(seed)
    e0, n0 = _anchor(seed)
    files, n_total = [], 0
    per = size["points_per_strip"]
    for k in range(size["strips"]):
        x0 = e0 + 300.0 + 350.0 * k
        x, y, z, cls = _strip_points(rng, x0, x0 + 450.0, n0, n0 + 2 * TILE_M, per)
        order = np.argsort(y, kind="stable")  # flight order: along track
        x, y, z, cls = x[order], y[order], z[order], cls[order]
        gps = 1.0e5 + k * 1.0e3 + np.arange(per) * 1.0e-3
        fname = f"strip{k:02d}.laz"
        with open(os.path.join(path, fname), "wb") as f:
            f.write(write_laz(x, y, z, cls, gps_time=gps, chunk_size=size["chunk"]))
        files.append(fname)
        n_total += per
    return {
        "files": files,
        "points": int(n_total),
        "chunks": int(sum(-(-size["points_per_strip"] // size["chunk"]) for _ in files)),
        "points_per_tile_p50": None,
        "dense_tile_ratio": 0.0,
    }


GENERATORS = {
    "dem_tiles": _gen_dem_tiles,
    "pip_classify": _gen_pip_classify,
    "strips_dem": _gen_strips_dem,
    "laz_dsm": _gen_laz_dsm,
}


def ensure_inputs(cache_root: str, workload: str, seed: int, scale: str) -> tuple[str, dict]:
    """Directory and manifest of the workload's inputs, generated on
    first use and cached by (workload, seed, scale)."""
    size = SIZES[workload][scale]
    tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(cache_root, f"{workload}-s{seed}-{scale}-{tag}")
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        props = GENERATORS[workload](tmp, seed, size)
        props.update(workload=workload, seed=seed, scale=scale)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(props, f, indent=1)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest) as f:
        return path, json.load(f)
