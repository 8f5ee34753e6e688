"""Image-table -> points DataFrame (the S2 scan analog).

The reference streams LAZ points one by one (LAS/LasZipNetReader.cs:63-89);
here the point cloud is *derived from decoded pixels* of the image table
(SURVEY.md §1.5): pixel -> point at cell center, value -> z, plus a
deterministic class assignment.  Decode runs inside ``mapInPandas`` —
Arrow batches in, no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import datagen
from ..gridlib.png import png16_to_dem

POINTS_SCHEMA = "x double, y double, z double, cls smallint"
# smallint, not tinyint: LAS 1.4 (point formats 6+) classification is the
# full 0-255 byte, and a tinyint column wraps 128..255 to negatives


def _decode_points_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out_x, out_y, out_z, out_c = [], [], [], []
        for cap, data in zip(pdf["caption"], pdf["bytes"]):
            name, minx, miny, maxx, maxy, cs, _ = datagen.parse_caption(cap)
            dem = png16_to_dem(data, datagen.Z_MIN, datagen.Z_MAX)
            x, y, z, cls = datagen.sample_points_from_tile(name, dem, minx, miny, cs)
            out_x.append(x)
            out_y.append(y)
            out_z.append(z)
            out_c.append(cls)
        if not out_x:
            yield pd.DataFrame({"x": [], "y": [], "z": [], "cls": []})
            continue
        yield pd.DataFrame(
            {
                "x": np.concatenate(out_x),
                "y": np.concatenate(out_y),
                "z": np.concatenate(out_z),
                "cls": np.concatenate(out_c).astype(np.int16),
            }
        )


def decode_points(images: DataFrame) -> DataFrame:
    """images(image_id, bytes, caption, ...) -> points(x, y, z, cls).

    Column pruning matters at scale: only ``bytes`` + ``caption`` are
    read (the parquet scan prunes the rest).
    """
    return images.select("bytes", "caption").mapInPandas(
        _decode_points_batches, POINTS_SCHEMA
    )


def read_images(spark, images_dir: str) -> DataFrame:
    return spark.read.parquet(f"{images_dir}/images.parquet")


def synth_points_sql(table: str = "lineitem") -> str:
    """Portable SQL deriving a deterministic LIDAR-like points table from
    the driver's lineitem table — used so the DuckDB oracle and the Spark
    query compute from the *same* rows (CORRECTNESS harness; the driver's
    testdata has no image table).  Integer arithmetic only, then exact
    /64 and /1024 divisions, so both engines agree bit-for-bit.
    """
    return f"""
    SELECT
      (CAST((l_orderkey * 7919 + l_linenumber * 104729) % 512000 AS DOUBLE) / 64.0)
        + 380000.0 AS x,
      (CAST((l_partkey * 7907 + l_suppkey * 31 + l_linenumber) % 512000 AS DOUBLE) / 64.0)
        + 6666000.0 AS y,
      CAST((l_orderkey * 131 + l_partkey * 17 + l_linenumber) % 524288 AS DOUBLE) / 1024.0
        AS z,
      CAST(CASE
        WHEN (l_orderkey + l_linenumber) % 10 < 7 THEN 2
        WHEN (l_orderkey + l_linenumber) % 10 = 7 THEN 3
        WHEN (l_orderkey + l_linenumber) % 10 = 8 THEN 4
        ELSE 5 END AS INT) AS cls
    FROM {table}
    """


def synth_points(spark, sf_dir: str) -> DataFrame:
    """Spark side of :func:`synth_points_sql` over the driver's parquet."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(synth_points_sql("lineitem"))
