"""VoxelGrid as relational operators (SURVEY.md §2.3, A1-A9).

The reference mutates a Bin[,] grid in one process (VoxelGrid/VoxelGrid.cs);
here every operation is a stock Catalyst plan over a points DataFrame
keyed by (cell_id, row, col):

- A2 ground DEM:        filter(cls==2) -> hash agg max(z)
- A3/A4 bins:           collect_list(struct(z,cls)) + sort_array desc
  (sort_array on struct sorts by first field = z, matching
  BinPoint.CompareTo, Bin.cs:51-54)
- A5 highest-in-range:  max_by over class-filtered points
- A7 neighborhood max:  radius self-join (range join on |dr|,|dc|<=r)
- A8 backfill:          left join TIN surface + coalesce (tin_stage)
- S14 surface export:   coalesce(surface_z, dem_z, nodata)

Every aggregate here is partial-aggregated map-side by Catalyst (hash
aggregate) — no shuffle of raw points beyond the single groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..gridlib import topodb

CELL_KEYS = ["cell_id", "row", "col"]


def ground_dem(points: DataFrame) -> DataFrame:
    """A2 (VoxelGrid.cs:92-119): per-cell max z of ground points."""
    return (
        points.filter(F.col("cls") == topodb.CLS_GROUND)
        .groupBy(*CELL_KEYS)
        .agg(F.max("z").alias("dem_z"))
    )


def bins(points: DataFrame) -> DataFrame:
    """A3+A4 (VoxelGrid.cs:108-114,235-247): non-ground points per cell,
    descending by z."""
    return (
        points.filter(F.col("cls") != topodb.CLS_GROUND)
        .groupBy(*CELL_KEYS)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("z", "cls")), asc=False
            ).alias("points")
        )
    )


def highest_in_class_range(points: DataFrame, lo: int, hi: int) -> DataFrame:
    """A5 (VoxelGrid.cs:305-317): top-1 z in [lo, hi] per cell."""
    f = points.filter(F.col("cls").between(lo, hi))
    return f.groupBy(*CELL_KEYS).agg(
        F.max("z").alias("surface_z"),
        F.max_by("cls", F.struct("z", "cls")).alias("surface_cls"),
    )


def surface_model(points: DataFrame, lo: int, hi: int, nodata: float = -9999.0) -> DataFrame:
    """S14 (VoxelGrid.cs:162-198): per cell, highest point with class in
    [lo, hi], else ground DEM, else nodata."""
    cells = points.groupBy(*CELL_KEYS).agg(
        F.max(F.when(F.col("cls").between(lo, hi), F.col("z"))).alias("surface_z"),
        F.max(F.when(F.col("cls") == topodb.CLS_GROUND, F.col("z"))).alias("dem_z"),
    )
    return cells.select(
        *CELL_KEYS,
        F.coalesce("surface_z", "dem_z", F.lit(nodata)).alias("h"),
    )


def neighborhood_max(points: DataFrame, radius: int, lo: int, hi: int) -> DataFrame:
    """A7 (VoxelGrid.cs:267-303): is the cell's class-range max strictly
    above every neighbor's within Chebyshev ``radius``?

    Expressed as a self-join of the per-cell max table on
    |dr| <= radius AND |dc| <= radius within the same tile.  The reference
    clamps at tile borders (VoxelGrid.cs:274-281); an equi-join on cell_id
    reproduces that clamping for per-tile grids.  Emits is_local_max.
    """
    cellmax = (
        points.filter(F.col("cls").between(lo, hi))
        .groupBy(*CELL_KEYS)
        .agg(F.max("z").alias("zmax"))
    )
    a = cellmax.alias("a")
    b = cellmax.alias("b")
    joined = a.join(
        b,
        (F.col("a.cell_id") == F.col("b.cell_id"))
        & (F.abs(F.col("a.row") - F.col("b.row")) <= radius)
        & (F.abs(F.col("a.col") - F.col("b.col")) <= radius)
        & ~((F.col("a.row") == F.col("b.row")) & (F.col("a.col") == F.col("b.col"))),
        "left",
    )
    return joined.groupBy(
        F.col("a.cell_id").alias("cell_id"),
        F.col("a.row").alias("row"),
        F.col("a.col").alias("col"),
        F.col("a.zmax").alias("zmax"),
    ).agg(
        (F.count(F.when(F.col("b.zmax") >= F.col("a.zmax"), 1)) == 0).alias(
            "is_local_max"
        )
    )


def neighborhood_max_halo(
    points: DataFrame,
    radius: int = 1,
    lo: int = 3,
    hi: int = 5,
    cell_m: float = 7.8125,
    origin_east: float = -76000.0,
    origin_north: float = 6570000.0,
) -> DataFrame:
    """A7 halo variant: local maxima on the GLOBAL cell grid, so
    neighborhoods cross 1 km tile borders (the at-scale complement of
    :func:`neighborhood_max`'s reference-parity clamp, VoxelGrid.cs:274-281).

    Physical plan: per-cell max (one hash agg), then each cell explodes
    its (2r+1)^2-1 neighbor offsets and LEFT equi-joins the cell-max
    table on (gr, gc) — a plain shuffled equi-join that AQE can
    broadcast/skew-split; never an inequality join, no per-tile
    materialization, scales to any grid extent."""
    gr = F.floor((F.col("y") - F.lit(origin_north)) / F.lit(cell_m)).cast("long")
    gc = F.floor((F.col("x") - F.lit(origin_east)) / F.lit(cell_m)).cast("long")
    cellmax = (
        points.filter(F.col("cls").between(lo, hi))
        .groupBy(gr.alias("gr"), gc.alias("gc"))
        .agg(F.max("z").alias("zmax"))
    )
    offs = F.array(
        *[
            F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"))
            for dr in range(-radius, radius + 1)
            for dc in range(-radius, radius + 1)
            if not (dr == 0 and dc == 0)
        ]
    )
    probes = cellmax.select(
        "gr", "gc", F.col("zmax").alias("azmax"), F.explode(offs).alias("o")
    ).select(
        "gr", "gc", "azmax",
        (F.col("gr") + F.col("o.dr")).alias("ngr"),
        (F.col("gc") + F.col("o.dc")).alias("ngc"),
    )
    nb = cellmax.select(
        F.col("gr").alias("ngr"), F.col("gc").alias("ngc"),
        F.col("zmax").alias("bzmax"),
    )
    return (
        probes.join(nb, ["ngr", "ngc"], "left")
        .groupBy("gr", "gc", F.col("azmax").alias("zmax"))
        .agg(
            (F.count(F.when(F.col("bzmax") >= F.col("azmax"), 1)) == 0)
            .cast("int")
            .alias("is_local_max")
        )
    )


def extent(points: DataFrame) -> DataFrame:
    """S4 (Shapefile/Rasteriser.cs:23-41): floor/ceil integer envelope."""
    return points.agg(
        F.floor(F.min("x")).cast("long").alias("minx"),
        F.floor(F.min("y")).cast("long").alias("miny"),
        F.ceil(F.max("x")).cast("long").alias("maxx"),
        F.ceil(F.max("y")).cast("long").alias("maxy"),
    )
