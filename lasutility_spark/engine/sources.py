"""File-format sources: LAS/LAZ point clouds -> DataFrames.

The reference's inputs are LAZ/LAS point streams (LAS/LasZipNetReader.cs).
LAS files scan DISTRIBUTED: the driver bins the path list into one file
list per task, and each task parses its files with the vectorized numpy
reader (gridlib/las.py) inside ``mapInPandas`` — at 100 TB the
tile->file mapping shards across executors and no point ever touches
the driver.  LAZ files split the same way with LASzip chunks as the
unit (``read_laz_points_chunked``).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..gridlib.las import read_las_file
from ..gridlib.laz import read_laz_file
from .points import POINTS_SCHEMA


def read_las_points(spark: SparkSession, paths: list[str]) -> DataFrame:
    """LAS/LAZ files -> points(x, y, z, cls), one scan wave.

    The files are binned into ``min(len(paths), defaultParallelism)``
    file lists, largest file first into the lightest bin, so bytes
    balance across tasks.  Each list is one row (column ``path``) of its
    own ``parallelize`` slice: the scan is one task per bin and needs no
    exchange to spread the rows.

    Compressed .laz files route through the pure-Python LASzip
    decompressor (gridlib/laz.py); at scale each LAZ *chunk* is an
    independently decodable unit (see :func:`read_laz_points_chunked`)."""
    n = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    size = {p: os.path.getsize(p) for p in paths}
    bins: list[list[str]] = [[] for _ in range(n)]
    load = [0] * n
    for p in sorted(paths, key=size.get, reverse=True):
        i = load.index(min(load))
        bins[i].append(p)
        load[i] += size[p]
    rdd = spark.sparkContext.parallelize([(b,) for b in bins], n)
    path_df = spark.createDataFrame(rdd, "path array<string>")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for files in pdf["path"]:
                for p in files:
                    reader = read_laz_file if p.endswith(".laz") else read_las_file
                    _h, x, y, z, cls = reader(p)
                    yield pd.DataFrame(
                        {"x": x, "y": y, "z": z, "cls": cls.astype("int16")}
                    )

    return path_df.mapInPandas(run, POINTS_SCHEMA)


def read_laz_points_chunked(spark: SparkSession, path: str) -> DataFrame:
    """One LAZ file -> points(x, y, z, cls), ONE SPARK TASK PER CHUNK.

    The driver parses only the header + chunk table (a few KB) to build
    the split list; each task decodes its own chunk — LASzip chunks are
    independently decodable (raw first point + fresh model state), so
    they parallelize exactly like parquet row groups.  In the sandbox a
    task re-opens the local file and slices its byte range; on a cluster
    the same plan issues object-store ranged reads.
    """
    from ..gridlib.laz import decode_laz_chunk, laz_chunk_plan

    with open(path, "rb") as f:
        data = f.read()
    header, vlr, chunks = laz_chunk_plan(data)
    sx, sy, sz = header["scale"]
    ox, oy, oz = header["offset"]
    rows = [(path, int(s), int(c)) for s, c in chunks]
    plan = spark.createDataFrame(rows, "path string, start long, count long")
    plan = plan.repartition(max(1, min(len(rows), 256)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, bytes] = {}
        for pdf in batches:
            for p, s, c in zip(pdf["path"], pdf["start"], pdf["count"]):
                raw = cache.get(p)
                if raw is None:
                    with open(p, "rb") as f:
                        raw = cache[p] = f.read()
                xs, ys, zs, cls, _ret, _gps, _rgb, _extra, _wave = (
                    decode_laz_chunk(raw, vlr, int(s), int(c))
                )
                yield pd.DataFrame(
                    {
                        "x": xs * sx + ox,
                        "y": ys * sy + oy,
                        "z": zs * sz + oz,
                        "cls": cls.astype("int16"),
                    }
                )

    return plan.mapInPandas(run, POINTS_SCHEMA)
