"""File-format sources: LAS/LAZ point files -> one points DataFrame.

The reference's inputs are LAZ/LAS point streams (LAS/LasZipNetReader.cs).
Both formats scan through one header-planned source,
:func:`read_las_points`:

- the driver reads only headers, by ranged reads: the LAS public header
  and, for LAZ, also the VLRs, the 8-byte chunk-table offset and the
  chunk table.  It never reads point bytes.
- it cuts each file into splits of whole LAS records or whole LASzip
  chunks (each chunk is independently decodable: raw first point plus
  fresh models), sized by Spark's own file-split rule
  ``min(spark.sql.files.maxPartitionBytes,
  max(spark.sql.files.openCostInBytes, total_bytes / defaultParallelism))``.
- the splits are binned into at most ``defaultParallelism``
  ``parallelize`` slices, largest first into the lightest bin, and each
  task ``pread``s only its own byte ranges and decodes them in one
  exchange-free ``mapInPandas`` wave — at 100 TB the split list shards
  across executors and no point ever touches the driver.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..gridlib.las import check_point_block, las_records, read_header_at
from ..gridlib.laz import decode_laz_chunk, laz_plan
from .points import POINTS_SCHEMA


def split_bytes(spark: SparkSession, total_bytes: int) -> int:
    """Spark's file-split size for a scan of ``total_bytes``."""
    conf = spark._jsparkSession.sessionState().conf()
    per_core = total_bytes // spark.sparkContext.defaultParallelism
    return min(
        conf.filesMaxPartitionBytes(), max(conf.filesOpenCostInBytes(), per_core)
    )


def plan_splits(paths: list[str], max_bytes: int) -> list[tuple[str, int, dict]]:
    """Point files -> ``(path, weight, split)`` rows from header reads.

    A split is the byte range ``split["start"]`` + ``split["length"]`` of
    whole LAS records (``n`` of them) or whole LASzip chunks (``chunks``
    lists each one's ``(point_count, byte_length)``), at most
    ``max_bytes`` long unless one chunk is longer.  A file's weights sum
    to its size.  A header that the file's size cannot hold raises
    ValueError naming the file."""
    rows = []
    for path in paths:
        fd = os.open(path, os.O_RDONLY)
        try:
            size = os.fstat(fd).st_size
            splits = _file_splits(lambda off, n: os.pread(fd, n, off), size, max_bytes)
        except ValueError as e:
            raise ValueError(f"{path}: {e}") from e
        finally:
            os.close(fd)
        if not splits:
            continue
        weights = [s["length"] for s in splits]
        weights[0] += splits[0]["start"]
        weights[-1] += size - splits[-1]["start"] - splits[-1]["length"]
        rows += [(path, w, s) for w, s in zip(weights, splits)]
    return rows


def _file_splits(read_at, size: int, max_bytes: int) -> list[dict]:
    h = read_header_at(read_at)
    common = {"scale": h["scale"], "offset": h["offset"]}
    if not h["point_format"] & 0x80:
        check_point_block(h, size)
        start, rec, n = h["offset_to_points"], h["record_len"], h["point_count"]
        per = max(1, max_bytes // rec)
        return [
            {**common, "point_format": h["point_format"], "record_len": rec,
             "start": start + i * rec, "length": min(per, n - i) * rec,
             "n": min(per, n - i)}
            for i in range(0, n, per)
        ]
    _h, vlr, chunks = laz_plan(read_at, size, h)
    groups: list[list[tuple[int, int, int]]] = []
    for c in chunks:
        if groups and c[2] - groups[-1][0][0] <= max_bytes:
            groups[-1].append(c)
        else:
            groups.append([c])
    return [
        {**common, "items": vlr["items"], "start": g[0][0],
         "length": g[-1][2] - g[0][0], "chunks": [(c, e - s) for s, c, e in g]}
        for g in groups
    ]


def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        for paths, splits in zip(pdf["path"], pdf["split"]):
            for path, text in zip(paths, splits):
                yield from _read_split(path, json.loads(text))


def _read_split(path: str, s: dict) -> Iterator[pd.DataFrame]:
    fd = os.open(path, os.O_RDONLY)
    try:
        buf = os.pread(fd, s["length"], s["start"])
    finally:
        os.close(fd)
    if len(buf) != s["length"]:
        raise ValueError(
            f"{path}: read {len(buf)} bytes at offset {s['start']}, the "
            f"plan has {s['length']} (file changed after planning?)"
        )
    if "chunks" not in s:
        _block, core, x, y, z = las_records(buf, s, s["n"])
        yield _frame(x, y, z, core["classification"])
        return
    (sx, sy, sz), (ox, oy, oz) = s["scale"], s["offset"]
    pos = 0
    for count, length in s["chunks"]:
        try:
            xs, ys, zs, cls, *_ = decode_laz_chunk(buf[pos : pos + length], s, 0, count)
        except ValueError as e:
            raise ValueError(f"{path}, chunk at byte {s['start'] + pos}: {e}") from e
        pos += length
        yield _frame(xs * sx + ox, ys * sy + oy, zs * sz + oz, cls)


def _frame(x, y, z, cls) -> pd.DataFrame:
    return pd.DataFrame({"x": x, "y": y, "z": z, "cls": cls.astype("int16")})


def read_las_points(spark: SparkSession, paths: list[str]) -> DataFrame:
    """LAS/LAZ files -> points(x, y, z, cls), one scan wave, no exchange.

    The driver plans splits from the file headers alone
    (:func:`plan_splits`, sized by :func:`split_bytes`) and bins them
    into ``min(len(splits), defaultParallelism)`` lists, largest split
    first into the lightest bin, so bytes balance across tasks.  Each
    list is one row (columns ``path`` and ``split``, one entry per
    split) of its own ``parallelize`` slice: the scan is one task per
    bin.  A file below the split size is one split, so files bin as
    whole files.  Each task reads only its splits' byte ranges; one
    that reads fewer bytes than planned raises ValueError."""
    sizes = [os.path.getsize(p) for p in paths]
    splits = plan_splits(paths, split_bytes(spark, sum(sizes)))
    n = max(1, min(len(splits), spark.sparkContext.defaultParallelism))
    bins: list[tuple[list[str], list[str]]] = [([], []) for _ in range(n)]
    load = [0] * n
    for path, weight, split in sorted(splits, key=lambda r: r[1], reverse=True):
        i = load.index(min(load))
        bins[i][0].append(path)
        bins[i][1].append(json.dumps(split))
        load[i] += weight
    rdd = spark.sparkContext.parallelize(bins, n)
    plan = spark.createDataFrame(rdd, "path array<string>, split array<string>")
    return plan.mapInPandas(_scan, POINTS_SCHEMA)


def read_laz_points_chunked(spark: SparkSession, path: str) -> DataFrame:
    """One LAZ file -> points(x, y, z, cls): :func:`read_las_points` over
    it, one task per split of whole LASzip chunks."""
    return read_las_points(spark, [path])
