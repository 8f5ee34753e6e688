"""Vector -> raster stage: shapefile-feature rasterization + PIP join.

Reference pipeline C (SURVEY.md §3.3, Shapefile/RasteriserEvenOdd.cs):
features filtered by the class-map dimension (V2 semi-join), clipped to
the raster (V3), dispatched by geometry type (V4), polygon scanline fill
with even-odd holes (V5/V6), Bresenham lines (V7), strictly in ``seq``
order (V8 last-writer-wins).

One path per input shape (SURVEY.md §4 "Broadcast vs partitioned"):

- **tiled images -> per-tile class histogram** (broadcast):
  :func:`per_cell_feature_lists` groups the exploded feature covers
  per cell, :func:`per_cell_broadcast` ships them once per executor,
  and :func:`classify_images_prebroadcast` runs one narrow
  ``mapInPandas`` over the image table.
- **features -> PIP class tiles** (partitioned):
  :func:`rasterize_features_cogrouped` explodes features to the tiles
  their envelope covers (X5 duplication) and cogroups them with the
  tile rows — an equi-join shuffle on cell_id, no driver collect.

Both call the same per-tile numpy kernel (:func:`_rasterize_tile_raster`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..gridlib import wkb
from ..gridlib.bounds import EPSILON, RasterBounds
from ..gridlib.clip import clip_polyline, clip_ring
from ..gridlib.imagetile import CAPTION_FMT, parse_caption, tile_points
from ..gridlib.phash import phash64
from ..gridlib.png import png_decode, png_encode
from ..gridlib.scanline import rasterize_linestring, rasterize_polygon_with_holes
from ..gridlib.tilenamer import cell_id, cell_id_envelope, cell_id_to_name

PIP_TILE_SCHEMA = (
    "cell_id long, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, n_features int, painted_cells int"
)


def _rasterize_tile_raster(
    cell: int,
    px: int,
    size_north: int,
    feats: list[tuple[int, int, object]],
    classmap: dict[int, int],
):
    """One tile's raw class raster: apply features (seq-sorted) onto a
    fresh byte plane.  Returns (raster, n_applied, envelope).

    feats: (seq, luokka, geom) where geom is WKB bytes OR an
    already-decoded :class:`wkb.Geometry` (hot paths decode each feature
    once per executor/batch instead of once per tile).  Caller must NOT
    pre-sort; sorted here so every caller applies ``seq`` order
    (V8 RasteriserEvenOdd.Tests.cs:45-46).
    """
    minx, miny, maxx, maxy = (
        int(v) for v in np.array(cell_id_envelope(np.array([cell]), size_north)).ravel()
    )
    bounds = RasterBounds(px, px, minx, miny, maxx, maxy)
    raster = np.zeros((px, px), dtype=np.uint8)
    temp = np.zeros((px, px), dtype=np.uint8)
    # clip box: max edges epsilon-inside (RasteriserEvenOdd.cs:24)
    cminx, cminy = minx, miny
    cmaxx, cmaxy = maxx - EPSILON, maxy - EPSILON

    n_applied = 0
    for seq, luokka, gobj in sorted(feats, key=lambda t: t[0]):
        value = classmap.get(int(luokka))
        if value is None:  # V2 (RasteriserEvenOdd.cs:33-38)
            continue
        geom = gobj if isinstance(gobj, wkb.Geometry) else wkb.decode(gobj)
        applied = False
        for rings in geom.polygons():  # V4 dispatch + multi explode
            ext = clip_ring(rings[0][0], rings[0][1], cminx, cminy, cmaxx, cmaxy)
            if ext is None:
                continue
            holes = []
            for hx, hy in rings[1:]:
                h = clip_ring(hx, hy, cminx, cminy, cmaxx, cmaxy)
                if h is not None:
                    holes.append(h)
            exs, eys = ext
            rmin, cmin = bounds.proj_to_cell_scalar(float(exs.min()), float(eys.min()))
            rmax, cmax = bounds.proj_to_cell_scalar(float(exs.max()), float(eys.max()))
            rasterize_polygon_with_holes(
                bounds, raster, int(value), ext, holes, rmin, rmax, cmin, cmax, temp
            )
            applied = True
        for lx, ly in geom.linestrings():
            for sx, sy in clip_polyline(lx, ly, cminx, cminy, cmaxx, cmaxy):
                rasterize_linestring(bounds, raster, int(value), sx, sy)
                applied = True
        if applied:
            n_applied += 1
    return raster, n_applied, (minx, miny, maxx, maxy)


def _rasterize_tile(
    cell: int,
    px: int,
    size_north: int,
    feats: list[tuple[int, int, object]],
    classmap: dict[int, int],
) -> dict:
    """One tile as an encoded image-table row (png8 + caption + phash);
    see :func:`_rasterize_tile_raster` for the kernel itself."""
    raster, n_applied, (minx, miny, maxx, maxy) = _rasterize_tile_raster(
        cell, px, size_north, feats, classmap
    )
    name = str(cell_id_to_name(np.array([cell]), size_north)[0])
    caption = CAPTION_FMT.format(
        name=name, minx=minx, miny=miny, maxx=maxx, maxy=maxy,
        cellsize=(maxx - minx) / px, nodata=0,
    )
    return {
        "cell_id": cell,
        "image_id": name,
        "bytes": png_encode(raster),
        "w": px,
        "h": px,
        "fmt": "png8",
        "caption": caption,
        "phash": phash64(raster),
        "n_features": n_applied,
        "painted_cells": int((raster != 0).sum()),
    }


def explode_feature_covers(
    features: DataFrame,
    size_north: int = 1000,
    use_stored_envelopes: bool | None = None,
) -> DataFrame:
    """X5 duplication: one row per (feature, covered tile).

    When the feature table carries envelope columns (minx/miny/maxx/maxy
    — the GeoParquet bbox pattern, what a 100 TB feature store would
    have), the whole explode stays in JVM codegen: floor arithmetic +
    sequence() on stored columns, zero Python.  Otherwise the envelope
    comes from a vectorized WKB-decode pandas UDF.  ``use_stored_envelopes``
    forces one path (the X5 oracle query forces the decode path so the
    stored envelopes remain an independent cross-check)."""
    from ..gridlib import tilenamer as tn

    se, sn = tn._snap_sizes(size_north)
    stored = (
        {"minx", "miny", "maxx", "maxy"} <= set(features.columns)
        if use_stored_envelopes is None
        else use_stored_envelopes
    )
    if stored:
        f = features
        env = {k: F.col(k) for k in ("minx", "miny", "maxx", "maxy")}
        drop = ["tile_row", "tile_col"]
    else:
        import pyarrow  # noqa: F401  (arrow transport)

        @F.pandas_udf("minx double, miny double, maxx double, maxy double")
        def envelope_udf(g: pd.Series) -> pd.DataFrame:
            envs = [wkb.decode(b).envelope() for b in g]
            return pd.DataFrame(envs, columns=["minx", "miny", "maxx", "maxy"])

        f = features.withColumn("env", envelope_udf("geom_wkb"))
        env = {k: F.col(f"env.{k}") for k in ("minx", "miny", "maxx", "maxy")}
        drop = ["env", "tile_row", "tile_col"]
    c0 = F.floor((env["minx"] - tn.ORIGIN_EAST) / se).cast("long")
    c1 = F.floor((env["maxx"] - tn.ORIGIN_EAST) / se).cast("long")
    r0 = F.floor((env["miny"] - tn.ORIGIN_NORTH) / sn).cast("long")
    r1 = F.floor((env["maxy"] - tn.ORIGIN_NORTH) / sn).cast("long")
    return (
        f.withColumn("tile_row", F.explode(F.sequence(r0, r1)))
        .withColumn("tile_col", F.explode(F.sequence(c0, c1)))
        .withColumn(
            "cell_id", F.col("tile_row") * F.lit(1 << 32) + F.col("tile_col")
        )
        .drop(*drop)
    )


def rasterize_features_cogrouped(
    tiles: DataFrame,
    features: DataFrame,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
) -> DataFrame:
    """Partitioned strategy: explode feature covers, cogroup with tiles on
    cell_id, rasterize per group.  No driver-side collect — scales to
    feature sets far beyond broadcast limits."""
    covers = explode_feature_covers(features, size_north)
    cmap = dict(classmap)

    def run(key, tile_pdf: pd.DataFrame, feat_pdf: pd.DataFrame) -> pd.DataFrame:
        if tile_pdf.empty:
            return pd.DataFrame([])
        cell = int(key[0])
        feats = [
            (int(s), int(l), bytes(g))
            for s, l, g in zip(
                feat_pdf["seq"], feat_pdf["luokka"], feat_pdf["geom_wkb"]
            )
        ]
        return pd.DataFrame([_rasterize_tile(cell, px, size_north, feats, cmap)])

    return (
        tiles.select("cell_id")
        .distinct()
        .groupBy("cell_id")
        .cogroup(covers.groupBy("cell_id"))
        .applyInPandas(run, PIP_TILE_SCHEMA)
    )


def per_cell_feature_lists(features: DataFrame, size_north: int = 1000) -> DataFrame:
    """The broadcast dimension of :func:`classify_images_prebroadcast`:
    exploded covers
    grouped per cell into (cell_id, fl: array<struct(seq, luokka,
    geom_wkb)>).  Callers that classify repeatedly should build this
    ONCE and .cache() it (bench does; a deployment materializes it as a
    table next to the feature store) — rebuilding it per query costs a
    full explode + aggregate + driver broadcast round trip."""
    covers = explode_feature_covers(features, size_north)
    return covers.groupBy("cell_id").agg(
        F.collect_list(F.struct("seq", "luokka", "geom_wkb")).alias("fl")
    )


def per_cell_broadcast(spark: SparkSession, per_cell: DataFrame):
    """Collect the per-cell feature-list dimension (see
    :func:`per_cell_feature_lists`) into a python ``sc.broadcast`` dict
    ``{cell_id: [(seq, luokka, wkb_bytes), ...]}`` — the prepared-
    dimension analog for :func:`classify_images_prebroadcast`.  Built
    ONCE at prep time next to the cached image table; repeated
    classification queries then contain NO join and NO broadcast
    exchange at all."""
    rows = per_cell.select("cell_id", "fl").collect()
    d = {
        int(r["cell_id"]): [
            (int(f["seq"]), int(f["luokka"]), bytes(f["geom_wkb"]))
            for f in r["fl"]
        ]
        for r in rows
    }
    return spark.sparkContext.broadcast(d)


# per-worker lazy WKB-decode memo for the prebroadcast strategy: outer
# key is id() of the broadcast dict (strong ref kept via the value
# tuple), inner dict maps wkb bytes -> decoded geometry, filled on first
# use.  With spark.python.worker.reuse the second run of the same query
# decodes nothing.
_PYBC_DECODE_MEMO: dict[int, tuple[object, dict]] = {}


def classify_images_prebroadcast(
    images: DataFrame,
    b_per_cell,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
) -> DataFrame:
    """Tile-level PIP classification: one row per (tile, class value)
    with the count of the tile's points that fall in that class.

    One image row IS one tile, and its synthesized points lie inside it
    by construction, so the points never exist as a table: per tile the
    kernel rasterizes the tile's features (V1-V8), decodes the tile's
    points from the image bytes and histograms the raster at the point
    cells.  The per-cell feature lists arrive as a prepared
    ``sc.broadcast`` dict (:func:`per_cell_broadcast`), so the plan is
    ONE narrow ``mapInPandas`` over the (cached) image table — no join,
    no exchange.  Valid while sum(per-cell lists) fits executor memory."""
    cmap = dict(classmap)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        val, memo = _pybc_state(b_per_cell)
        for pdf in batches:
            out = []
            for cap, data in zip(pdf["caption"], pdf["bytes"]):
                name, minx, miny, maxx, maxy, _cs, _ = parse_caption(cap)
                cell = int(cell_id(np.array([minx]), np.array([miny]), size_north)[0])
                fls = []
                for seq, luokka, gb in val.get(cell, ()):
                    g = memo.get(gb)
                    if g is None:
                        g = memo[gb] = wkb.decode(gb)
                    fls.append((seq, luokka, g))
                raster, _n, _env = _rasterize_tile_raster(
                    cell, px, size_north, fls, cmap
                )
                x, y, _z, _c = tile_points(cap, data)
                rcs = (maxx - minx) / raster.shape[1]
                row = ((y - miny) / rcs).astype(np.int64)
                col = ((x - minx) / rcs).astype(np.int64)
                uv, cnt = np.unique(raster[row, col], return_counts=True)
                for v, n in zip(uv, cnt):
                    out.append(
                        {
                            "cell_id": cell,
                            "image_id": name,
                            "value": int(v),
                            "n_points": int(n),
                        }
                    )
            yield pd.DataFrame(
                out, columns=["cell_id", "image_id", "value", "n_points"]
            )

    return images.select("caption", "bytes").mapInPandas(
        run, "cell_id long, image_id string, value int, n_points long"
    )


def _pybc_state(b_per_cell):
    """Per-worker (broadcast dict, wkb-decode memo) pair — see
    :data:`_PYBC_DECODE_MEMO`."""
    val = b_per_cell.value
    ent = _PYBC_DECODE_MEMO.get(id(val))
    if ent is None or ent[0] is not val:
        _PYBC_DECODE_MEMO.clear()
        ent = _PYBC_DECODE_MEMO[id(val)] = (val, {})
    return val, ent[1]


def pip_classify_points(
    points: DataFrame, pip_tiles: DataFrame, size_north: int = 1000
) -> DataFrame:
    """PIP classification rows: each point gets the rasterized class value
    of its cell (the reference's point->terrain-class query, A9/V5 join).

    Physical design: **cogroup on cell_id**, not a row join.  A join would
    duplicate the tile's encoded raster (KBs) onto every matching point
    row, so the Arrow transfer to Python grows as points x tile_bytes and
    adding workers just multiplies memory pressure (measured: local[32]
    2x *slower* than local[8] at sf0.1).  Cogrouping ships each raster
    across the shuffle exactly once, decodes it once per group, and
    indexes all of the group's points vectorized — transfer scales as
    points + tiles.  Points whose cell has no tile row get value -1
    (left-join semantics)."""
    from .tiling import with_cell_id

    if "cell_id" not in points.columns:
        points = with_cell_id(points, size_north)

    def run(key, pts: pd.DataFrame, tiles: pd.DataFrame) -> pd.DataFrame:
        if pts.empty:  # tile with no points in this input
            return pd.DataFrame({"x": pd.Series(dtype="f8"),
                                 "y": pd.Series(dtype="f8"),
                                 "value": pd.Series(dtype="i4")})
        xs = pts["x"].to_numpy()
        ys = pts["y"].to_numpy()
        if tiles.empty:
            vals = np.full(len(pts), -1, dtype=np.int32)
        else:
            _, minx, miny, _, _, cs, _ = parse_caption(
                tiles["caption"].iloc[0]
            )
            r = png_decode(bytes(tiles["bytes"].iloc[0]))
            row = ((ys - miny) / cs).astype(np.int64)
            col = ((xs - minx) / cs).astype(np.int64)
            vals = r[row, col].astype(np.int32)
        out = pts[["x", "y"]].copy()
        out["value"] = vals
        return out

    return (
        points.groupBy("cell_id")
        .cogroup(pip_tiles.select("cell_id", "bytes", "caption").groupBy("cell_id"))
        .applyInPandas(run, "x double, y double, value int")
    )


RASTER_EXTENT_SCHEMA = (
    "cell_id long, image_id string, value int, n_cells long, "
    "min_row int, max_row int, min_col int, max_col int"
)


def raster_class_extents(pip_tiles: DataFrame) -> DataFrame:
    """Raster -> vector extraction (the reverse of V5): decode each PIP
    tile's png8 class raster and emit one row per present class value
    with its painted cell count and row/col extent box — the first step
    of polygonization (extent boxes are the feature envelopes a
    vector-side consumer indexes on).

    Narrow mapInPandas over (cell_id, image_id, bytes): decode cost
    parallelizes with the scan, no shuffle; downstream groupBys on
    (value) or spatial joins on the extent boxes are ordinary relational
    plans.  Pure numpy per tile: one nonzero pass per present class.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for cell, img_id, data in zip(
                pdf["cell_id"], pdf["image_id"], pdf["bytes"]
            ):
                raster = png_decode(bytes(data))
                for v in np.unique(raster):
                    if v == 0:
                        continue
                    rr, cc = np.nonzero(raster == v)
                    out.append(
                        {
                            "cell_id": int(cell),
                            "image_id": img_id,
                            "value": int(v),
                            "n_cells": int(len(rr)),
                            "min_row": int(rr.min()),
                            "max_row": int(rr.max()),
                            "min_col": int(cc.min()),
                            "max_col": int(cc.max()),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[c.split()[0] for c in RASTER_EXTENT_SCHEMA.split(", ")],
            )

    return pip_tiles.select("cell_id", "image_id", "bytes").mapInPandas(
        run, RASTER_EXTENT_SCHEMA
    )
