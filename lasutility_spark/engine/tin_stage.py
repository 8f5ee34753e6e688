"""Flagship per-tile stage: points -> Delaunay TIN -> DEM raster tiles.

Spark shape (SURVEY.md §3.1):

    points (mapInPandas source) -> cell_id column (JVM expr)
           -> repartition(n, cell_id) -> groupBy(cell_id)
           -> applyInPandas(tin_kernel) -> DEM tile table (png16 + caption)

The kernel body is gridlib (Delaunay + vectorized barycentric fill); the
hash exchange before applyInPandas is the only data movement, and it
needs no sampling pass over the points (``tiling.repartition_by_cell``).  Each output row
carries per-partition lineage metrics (n_points, n_triangles, filled /
missing cell counts) — the checkpoint/resume contract (north rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gridlib import topodb
from ..gridlib.bounds import RasterBounds
from ..gridlib.imagetile import CAPTION_FMT, Z_MAX, Z_MIN, parse_caption, tile_points
from ..gridlib.phash import phash64
from ..gridlib.png import dem_to_png16
from ..gridlib.tilenamer import cell_id, cell_id_envelope, cell_id_to_name
from ..gridlib.tin import Tin
from .tiling import repartition_by_cell, with_cell_id

# a2_filled_cells: exact fill count of the A2 ground-max plane BEFORE the
# TIN backfill (pipeline B lineage metric; -1 on the pure-TIN pipeline A
# paths where no A2 plane exists).  Unlike filled_cells it is
# Delaunay-tie-independent, so it rides the DuckDB oracle.
TILE_SCHEMA = (
    "cell_id long, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, n_points int, n_triangles int, "
    "filled_cells int, missing_cells int, a2_filled_cells int"
)
TILE_COLUMNS = [c.split()[0] for c in TILE_SCHEMA.split(", ")]


def _tile_kernel_factory(px: int, size_north: int, ground_max_first: bool):
    """Kernel: one tile's points -> one DEM tile row.

    ground_max_first=True reproduces pipeline B (VoxelGrid A2 then A8):
    per-cell max-z of ground points wins where present; the TIN (built
    from ground points) backfills the remaining NaN cells.  False =
    pipeline A: pure TIN rasterization of all points (T9).
    """

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([_tile_row(
            int(key[0]),
            pdf["x"].to_numpy(),
            pdf["y"].to_numpy(),
            pdf["z"].to_numpy(),
            pdf["cls"].to_numpy().astype(np.uint8),
            px,
            size_north,
            ground_max_first,
        )])

    return kernel


def _tile_row(
    cell: int,
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    cls: np.ndarray,
    px: int,
    size_north: int,
    ground_max_first: bool,
) -> dict:
    """One tile's point arrays -> its DEM tile row (point order does not
    matter — Delaunay canonicalizes via sorted dedup)."""
    bounds = RasterBounds(px, px, *_envelope(cell, size_north))

    ground = cls == topodb.CLS_GROUND
    dem = np.full((px, px), np.nan, dtype=np.float32)
    tin_pts = ground if ground_max_first else slice(None)

    a2_filled = 0 if ground_max_first else -1
    if ground_max_first and ground.any():
        # A2: per-cell max(z) of ground points (VoxelGrid.cs:100-107)
        row, col = bounds.proj_to_cell(x[ground], y[ground])
        ok = (row >= 0) & (col >= 0)
        flat = row[ok].astype(np.int64) * px + col[ok].astype(np.int64)
        acc = np.full(px * px, -np.inf, dtype=np.float64)
        np.maximum.at(acc, flat, z[ground][ok])
        filled = acc > -np.inf
        a2_filled = int(filled.sum())
        dem.ravel()[filled] = acc[filled].astype(np.float32)

    n_tri = 0
    xs = x[tin_pts]
    if len(xs) >= 3:
        tin = Tin(x[tin_pts], y[tin_pts], z[tin_pts], cls[tin_pts])
        n_tri = tin.triangle_count
        if ground_max_first:
            locked = ~np.isnan(dem)  # keep A2 values, fill NaN only (A8)
            tin.rasterize_dem(bounds, dem=dem, locked=locked)
        else:
            tin.rasterize_dem(bounds, dem=dem)

    return _encode_tile(cell, dem, len(x), n_tri, a2_filled, size_north)


def _envelope(cell: int, size_north: int) -> tuple[int, int, int, int]:
    return tuple(
        int(v) for v in np.array(cell_id_envelope(np.array([cell]), size_north)).ravel()
    )


def _encode_tile(
    cell: int,
    dem: np.ndarray,
    n_points: int,
    n_triangles: int,
    a2_filled: int,
    size_north: int,
) -> dict:
    """A finished DEM plane -> its :data:`TILE_SCHEMA` row: caption,
    png16 bytes, phash and fill counts.  Every TIN path ends here."""
    px = dem.shape[0]
    minx, miny, maxx, maxy = _envelope(cell, size_north)
    name = str(cell_id_to_name(np.array([cell]), size_north)[0])
    caption = CAPTION_FMT.format(
        name=name, minx=minx, miny=miny, maxx=maxx, maxy=maxy,
        cellsize=(maxx - minx) / px, nodata=-9999,
    )
    filled_cells = int((~np.isnan(dem)).sum())
    return {
        "cell_id": cell,
        "image_id": name,
        "bytes": dem_to_png16(dem, Z_MIN, Z_MAX),
        "w": px,
        "h": px,
        "fmt": "png16",
        "caption": caption,
        "phash": phash64(np.nan_to_num(dem)),
        "n_points": n_points,
        "n_triangles": n_triangles,
        "filled_cells": filled_cells,
        "missing_cells": px * px - filled_cells,
        "a2_filled_cells": a2_filled,
    }


def rasterize_tin_tiles(
    points: DataFrame,
    px: int = 128,
    size_north: int = 1000,
    ground_max_first: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """points(x, y, z, cls) -> DEM tile table (one row per tile)."""
    if "cell_id" not in points.columns:
        points = with_cell_id(points, size_north)
    points = repartition_by_cell(points, num_partitions)
    kernel = _tile_kernel_factory(px, size_north, ground_max_first)
    return points.groupBy("cell_id").applyInPandas(kernel, TILE_SCHEMA)


def rasterize_images_fused(images: DataFrame, px: int = 128,
                           partitions: int | None = None) -> DataFrame:
    """Shuffle-free flagship path: one image = one tile, and sampled
    points land in their own tile by construction, so decode -> sample ->
    Delaunay -> rasterize fuses into a single narrow mapInPandas pass —
    no exchange at all (the general :func:`rasterize_tin_tiles` keeps the
    shuffle for points that don't align with tiles).

    The input scan is one small parquet file at test scale, so without an
    explicit repartition the whole stage would run on ONE task — the
    classic small-file parallelism trap (at 10^12 scale the table has
    thousands of splits and this repartition becomes a no-op coalesce).
    """
    if partitions:
        images = images.repartition(partitions)

    def run(batches):
        for pdf in batches:
            rows = []
            for cap, data in zip(pdf["caption"], pdf["bytes"]):
                _name, minx, miny, *_ = parse_caption(cap)
                x, y, z, cls = tile_points(cap, data)
                cell = int(cell_id(np.array([minx]), np.array([miny]), 1000)[0])
                rows.append(_tile_row(cell, x, y, z, cls, px, 1000, False))
            yield pd.DataFrame(rows, columns=TILE_COLUMNS)

    return images.select("caption", "bytes").mapInPandas(run, TILE_SCHEMA)


SUB_SCHEMA = (
    "cell_id long, qr int, qc int, dem binary, n_points int, n_triangles int"
)


def rasterize_tin_tiles_skew(
    points: DataFrame,
    px: int = 128,
    size_north: int = 1000,
    dense_threshold: int = 20000,
    split: int = 2,
    halo: float = 40.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Skew-aware TIN rasterization (north rule: salting on dense tiles).

    The NLS grammar bottoms out at 1 km, so dense tiles are re-keyed
    BELOW the grammar: a ``split x split`` quad split of the tile, with
    points within ``halo`` meters of a sub-tile edge duplicated into the
    neighboring sub-tiles (the X5 cover-duplication trick applied to
    salting).  Each sub-kernel triangulates its points + halo and
    rasterizes only its own px/split window, so a dense tile's
    O(n log n) Delaunay cost splits across ``split^2`` tasks instead of
    straggling one; a per-tile merge kernel reassembles the full tile.
    Sparse tiles take the normal one-group path untouched.

    Heights can differ from the unsalted kernel only for cells whose
    containing triangle spans farther than ``halo`` into the sub-tile —
    pinned by a PSNR gate in tests (SURVEY §7 Delaunay-ambiguity rule).
    """
    if "cell_id" not in points.columns:
        points = with_cell_id(points, size_north)
    counts = points.groupBy("cell_id").agg(F.count("*").alias("_n"))
    dense_ids = counts.filter(F.col("_n") > dense_threshold).select("cell_id")
    points = points.join(
        F.broadcast(dense_ids.withColumn("_dense", F.lit(True))),
        "cell_id",
        "left",
    )
    sparse = points.filter(F.col("_dense").isNull()).drop("_dense")
    dense = points.filter(F.col("_dense").isNotNull()).drop("_dense")

    normal = rasterize_tin_tiles(
        sparse, px=px, size_north=size_north, num_partitions=num_partitions
    )

    # --- salted path for dense tiles ------------------------------------
    from ..gridlib import tilenamer as tn

    se, sn = (float(v) for v in tn._snap_sizes(size_north))
    sub_e, sub_n = se / split, sn / split

    tile_minx = F.col("cell_id").bitwiseAND(F.lit(0xFFFFFFFF)) * F.lit(se) + F.lit(
        float(tn.ORIGIN_EAST)
    )
    tile_miny = F.shiftright(F.col("cell_id"), 32) * F.lit(sn) + F.lit(
        float(tn.ORIGIN_NORTH)
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    d = dense.withColumn("_off", F.explode(offs))
    qc = F.floor(
        (F.col("x") + F.col("_off.dx") * F.lit(halo) - tile_minx) / F.lit(sub_e)
    ).cast("int")
    qr = F.floor(
        (F.col("y") + F.col("_off.dy") * F.lit(halo) - tile_miny) / F.lit(sub_n)
    ).cast("int")
    d = (
        d.withColumn("qc", qc)
        .withColumn("qr", qr)
        .filter(
            (F.col("qc") >= 0) & (F.col("qc") < split)
            & (F.col("qr") >= 0) & (F.col("qr") < split)
        )
        # dedup ONLY the halo-exploded copies: two offsets of the same
        # source row land in the same (qr,qc). Including z and cls keeps
        # distinct points that share (x,y) — matching the unsalted path —
        # and makes the result deterministic regardless of partition order.
        .dropDuplicates(["cell_id", "qr", "qc", "x", "y", "z", "cls"])
        .drop("_off")
    )

    if px % split != 0:
        raise ValueError(
            f"px={px} must be divisible by split={split}: sub-rasters of "
            f"{px // split} px would not tile the {px}x{px} DEM"
        )
    sub_px = px // split

    def sub_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell, kqr, kqc = int(key[0]), int(key[1]), int(key[2])
        minx, miny, _maxx, _maxy = _envelope(cell, size_north)
        sminx = minx + kqc * sub_e
        sminy = miny + kqr * sub_n
        bounds = RasterBounds(sub_px, sub_px, sminx, sminy, sminx + sub_e, sminy + sub_n)
        x = pdf["x"].to_numpy()
        y = pdf["y"].to_numpy()
        z = pdf["z"].to_numpy()
        cls = pdf["cls"].to_numpy().astype(np.uint8)
        dem = np.full((sub_px, sub_px), np.nan, dtype=np.float32)
        n_tri = 0
        if len(x) >= 3:
            tin = Tin(x, y, z, cls)
            n_tri = tin.triangle_count
            tin.rasterize_dem(bounds, dem=dem)
        # interior point count (exclude halo dups) for lineage metrics
        interior = (
            (x >= sminx) & (x < sminx + sub_e) & (y >= sminy) & (y < sminy + sub_n)
        ).sum()
        return pd.DataFrame(
            [
                {
                    "cell_id": cell,
                    "qr": kqr,
                    "qc": kqc,
                    "dem": dem.tobytes(),
                    "n_points": int(interior),
                    "n_triangles": n_tri,
                }
            ]
        )

    subs = d.repartition(num_partitions or 64, "cell_id", "qr", "qc").groupBy(
        "cell_id", "qr", "qc"
    ).applyInPandas(sub_kernel, SUB_SCHEMA)

    def merge_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        dem = np.full((px, px), np.nan, dtype=np.float32)
        n_pts = n_tri = 0
        for buf, qr, qc, npts, ntri in zip(
            pdf["dem"], pdf["qr"], pdf["qc"], pdf["n_points"], pdf["n_triangles"]
        ):
            sub = np.frombuffer(buf, dtype=np.float32).reshape(sub_px, sub_px)
            r0, c0 = int(qr) * sub_px, int(qc) * sub_px
            dem[r0 : r0 + sub_px, c0 : c0 + sub_px] = sub
            n_pts += int(npts)
            n_tri += int(ntri)
        return pd.DataFrame([_encode_tile(cell, dem, n_pts, n_tri, -1, size_north)])

    salted = subs.groupBy("cell_id").applyInPandas(merge_kernel, TILE_SCHEMA)
    return normal.unionByName(salted)

