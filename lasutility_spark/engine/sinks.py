"""Raster/vector sinks over tile tables (SURVEY.md §2.1 S6-S13 + S10).

Each sink is a mapInPandas kernel producing the reference's exact file
formats as columns (content + stable content hash), so sinks compose as
DataFrames and the driver can write files wherever it wants:

- S6/S7: ByteRaster .asc/.asp writers (full + cropped window)
- S12/S13: the two (deliberately inconsistent) DEM ASCII writers
- S10: TIN -> triangle feature table (WKB polygons + ID attribute)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..gridlib.asc import (
    byte_raster_to_ascii,
    byte_raster_window_to_ascii,
    save_dem_ground,
    write_dem_topdown,
)
from ..gridlib.bounds import RasterBounds
from ..gridlib.imagetile import Z_MAX, Z_MIN, parse_caption
from ..gridlib.png import png16_to_dem, png_decode
from ..gridlib.tin import Tin
from ..gridlib.wkb import encode_polygon

ASC_SCHEMA = "image_id string, kind string, n_lines int, n_chars bigint, sha string"


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def tiles_to_ascii(tiles: DataFrame, compressed: bool = False) -> DataFrame:
    """S6/S12/S13 sinks over a tile table (png8 class rasters get the
    ByteRaster writer; png16 DEM tiles get both DEM writers)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for img_id, fmt, data, cap in zip(
                pdf["image_id"], pdf["fmt"], pdf["bytes"], pdf["caption"]
            ):
                name, minx, miny, maxx, maxy, cs, nodata = parse_caption(cap)
                raster = png_decode(bytes(data))
                b = RasterBounds(raster.shape[0], raster.shape[1], minx, miny, maxx, maxy)
                if fmt == "png8":
                    text = byte_raster_to_ascii(raster, b, compressed)
                    rows.append(
                        {
                            "image_id": img_id,
                            "kind": "asp" if compressed else "asc",
                            "n_lines": text.count("\n"),
                            "n_chars": len(text),
                            "sha": _sha(text),
                        }
                    )
                else:
                    dem = png16_to_dem(bytes(data), Z_MIN, Z_MAX)
                    for kind, text in (
                        ("dem_ground", save_dem_ground(dem, b)),
                        ("dem_topdown", write_dem_topdown(dem, b)),
                    ):
                        rows.append(
                            {
                                "image_id": img_id,
                                "kind": kind,
                                "n_lines": text.count("\n"),
                                "n_chars": len(text),
                                "sha": _sha(text),
                            }
                        )
            yield pd.DataFrame(rows)

    return tiles.select("image_id", "fmt", "bytes", "caption").mapInPandas(
        run, ASC_SCHEMA
    )


def tiles_to_ascii_window(
    tiles: DataFrame, wminx: int, wminy: int, wmaxx: int, wmaxy: int
) -> DataFrame:
    """S7: cropped-window ASCII writer for tiles intersecting the window."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for img_id, data, cap in zip(pdf["image_id"], pdf["bytes"], pdf["caption"]):
                name, minx, miny, maxx, maxy, cs, _ = parse_caption(cap)
                ix0, iy0 = max(wminx, minx), max(wminy, miny)
                ix1, iy1 = min(wmaxx, maxx), min(wmaxy, maxy)
                if ix0 >= ix1 or iy0 >= iy1:
                    continue
                raster = png_decode(bytes(data))
                b = RasterBounds(raster.shape[0], raster.shape[1], minx, miny, maxx, maxy)
                if raster.dtype != np.uint8:
                    raster = (raster >> 8).astype(np.uint8)
                text = byte_raster_window_to_ascii(raster, b, ix0, iy0, ix1, iy1, False)
                rows.append(
                    {
                        "image_id": img_id,
                        "kind": "asc_window",
                        "n_lines": text.count("\n"),
                        "n_chars": len(text),
                        "sha": _sha(text),
                    }
                )
            yield pd.DataFrame(rows)

    return tiles.select("image_id", "bytes", "caption").mapInPandas(run, ASC_SCHEMA)


TRIANGLES_SCHEMA = (
    "image_id string, tri_id int, geom_wkb binary, "
    "x0 double, y0 double, z0 double, x1 double, y1 double, z1 double, "
    "x2 double, y2 double, z2 double"
)


def tin_to_triangle_features(points: DataFrame, size_north: int = 1000) -> DataFrame:
    """S10: per-tile TIN -> triangle polygon features with ID attribute
    (ExportToShp analog, Triangulation.cs:132-157); WKB column instead of
    .shp, written to Parquet."""
    from ..gridlib.tilenamer import cell_id_to_name
    from .tiling import repartition_by_cell, with_cell_id

    if "cell_id" not in points.columns:
        points = with_cell_id(points, size_north)
    points = repartition_by_cell(points)

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        name = str(cell_id_to_name(np.array([cell]), size_north)[0])
        tin = Tin(
            pdf["x"].to_numpy(), pdf["y"].to_numpy(), pdf["z"].to_numpy()
        )
        rows = []
        for t, (a, b, c) in enumerate(tin.triangles):
            xs = np.array([tin.x[a], tin.x[b], tin.x[c], tin.x[a]])
            ys = np.array([tin.y[a], tin.y[b], tin.y[c], tin.y[a]])
            rows.append(
                {
                    "image_id": name,
                    "tri_id": t,
                    "geom_wkb": encode_polygon([(xs, ys)]),
                    "x0": tin.x[a], "y0": tin.y[a], "z0": tin.z[a],
                    "x1": tin.x[b], "y1": tin.y[b], "z1": tin.z[b],
                    "x2": tin.x[c], "y2": tin.y[c], "z2": tin.z[c],
                }
            )
        return pd.DataFrame(rows, columns=[c.split()[0] for c in TRIANGLES_SCHEMA.split(", ")])

    return points.groupBy("cell_id").applyInPandas(kernel, TRIANGLES_SCHEMA)


def write_triangle_shp(triangles: DataFrame, out_dir: str) -> list[str]:
    """S10 file sink: triangle feature table -> one PolygonZ shapefile
    per tile (``<out_dir>/<image_id>.shp`` + .shx/.dbf/.cpg), the exact
    NetTopologySuite byte layout of the reference's ExportToShp
    (DEM/Triangulation.cs:132-157; golden-parity-pinned against its
    committed DEM.shp fixture in tests/test_sinks.py).

    A shapefile is a sequential single-writer format, so each tile's
    (small) triangle list is collected per partition via foreachPartition
    — tiles write in parallel across partitions, nothing aggregates on
    the driver.  Returns the written .shp paths (driver-side listing of
    out_dir afterwards).
    """
    import os

    from ..gridlib.shp import write_polygonz

    os.makedirs(out_dir, exist_ok=True)
    cols = ["image_id", "tri_id", "x0", "y0", "z0", "x1", "y1", "z1",
            "x2", "y2", "z2"]

    def write_partition(rows):
        by_tile: dict[str, list] = {}
        for r in rows:
            by_tile.setdefault(r["image_id"], []).append(r)
        for name, rs in by_tile.items():
            rs.sort(key=lambda r: r["tri_id"])
            recs = [
                [(
                    np.array([r["x0"], r["x1"], r["x2"]]),
                    np.array([r["y0"], r["y1"], r["y2"]]),
                    np.array([r["z0"], r["z1"], r["z2"]]),
                )]
                for r in rs
            ]
            write_polygonz(
                os.path.join(out_dir, f"{name}.shp"),
                recs,
                ids=[r["tri_id"] for r in rs],
            )

    # one tile is produced by exactly one applyInPandas group upstream,
    # so partition-local collection sees every triangle of its tiles
    triangles.select(*cols).foreachPartition(write_partition)
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".shp")
    )
