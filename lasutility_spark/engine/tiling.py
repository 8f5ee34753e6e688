"""Spatial partitioning: cell-id columns and the hash exchange on them.

The cell id (the H3/S2 analog, reference grammar Nls/TileNamer.cs) is a
**native Spark column expression** — pure floor/mod arithmetic that stays
inside WholeStageCodegen; no Python on the partition-key hot path.  Tile
*names* (strings) are only attached to per-tile outputs via a vectorized
pandas UDF (cheap: one string per tile, not per point).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..gridlib import tilenamer as tn


def cell_id_col(x: Column, y: Column, size_north: int) -> Column:
    """Packed int64 cell id of the tile containing (x, y) at a level —
    mirrors gridlib.tilenamer.cell_id (same arithmetic, JVM-side)."""
    se, sn = tn._snap_sizes(size_north)
    col = F.floor((x - F.lit(float(tn.ORIGIN_EAST))) / F.lit(float(se))).cast("long")
    row = F.floor((y - F.lit(float(tn.ORIGIN_NORTH))) / F.lit(float(sn))).cast("long")
    return (row * F.lit(1 << 32) + col).alias("cell_id")


def local_cell_cols(
    x: Column, y: Column, cell_id: Column, size_north: int, px: int
) -> tuple[Column, Column]:
    """(row, col) of the point inside its tile's px-x-px raster — the X3
    cell assignment (RasterBounds.cs:118-133) as column exprs."""
    se, sn = tn._snap_sizes(size_north)
    cw = se / px
    ch = sn / px
    tile_minx = cell_id.bitwiseAND(F.lit(0xFFFFFFFF)) * F.lit(se) + F.lit(
        tn.ORIGIN_EAST
    )
    tile_miny = F.shiftright(cell_id, 32) * F.lit(sn) + F.lit(tn.ORIGIN_NORTH)
    col = F.floor((x - tile_minx) / F.lit(float(cw))).cast("int").alias("col")
    row = F.floor((y - tile_miny) / F.lit(float(ch))).cast("int").alias("row")
    return row, col


@F.pandas_udf(StringType())
def tile_name_1km(cid: pd.Series) -> pd.Series:
    """cell_id -> NLS tile name at the 1 km level (vectorized, memoized on
    unique ids inside gridlib)."""
    return pd.Series(tn.cell_id_to_name(cid.to_numpy(), 1000).astype(object))


def with_cell_id(
    df: DataFrame, size_north: int = 1000, x: str = "x", y: str = "y"
) -> DataFrame:
    return df.withColumn("cell_id", cell_id_col(F.col(x), F.col(y), size_north))


def cell_id_from_caption(size_north: int = 1000) -> Column:
    """cell_id of an image row parsed from its caption
    (``name;minx;miny;maxx;maxy;cellsize;nodata``) — pure JVM string/int
    exprs, so deriving the tile list from a 10^12-row table needs no
    driver collect and no Python."""
    minx = F.split(F.col("caption"), ";").getItem(1).cast("double")
    miny = F.split(F.col("caption"), ";").getItem(2).cast("double")
    return cell_id_col(minx, miny, size_north)


def repartition_by_cell(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Hash-partition on cell_id so each applyInPandas group is one tile
    and every tile's points meet in one task.

    ``repartition(n, "cell_id")`` needs no sampling pass over the input
    (a range partitioner scans it twice to pick bounds), and it already
    satisfies the ``groupBy(cell_id)`` distribution, so the grouped
    kernel adds no second exchange.  ``n`` defaults to the cluster's
    ``defaultParallelism``: an explicit count keeps AQE from coalescing
    a few heavy tiles into one task."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, "cell_id")
