"""Vector -> raster stage: shapefile-feature rasterization + PIP join.

Reference pipeline C (SURVEY.md §3.3, Shapefile/RasteriserEvenOdd.cs):
features filtered by the class-map dimension (V2 semi-join), clipped to
the raster (V3), dispatched by geometry type (V4), polygon scanline fill
with even-odd holes (V5/V6), Bresenham lines (V7), strictly in ``seq``
order (V8 last-writer-wins).

Two physical strategies (SURVEY.md §4 "Broadcast vs partitioned"):

- **broadcast**: the feature set is small (fixture: ~7k features,
  ~660 KB) -> ship decoded features to every kernel, loop tiles in
  ``mapInPandas``.
- **cogrouped**: at 10^12 scale, features are exploded to the tiles
  their envelope covers (X5 duplication) and cogrouped with per-tile
  rows — an equi-join shuffle on cell_id, no driver collect.

Both call the same per-tile numpy kernel, so outputs are identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..gridlib import wkb
from ..gridlib.bounds import EPSILON, RasterBounds
from ..gridlib.clip import clip_polyline, clip_ring
from ..gridlib.phash import phash64
from ..gridlib.png import png_encode
from ..gridlib.scanline import (
    fill_polygon,
    rasterize_linestring,
    rasterize_polygon_with_holes,
)
from ..gridlib.tilenamer import cell_id, cell_id_envelope, cell_id_to_name

PIP_TILE_SCHEMA = (
    "cell_id long, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, n_features int, painted_cells int"
)

# per-worker-process memo of decoded broadcast feature sets: decoding the
# WKB of ~1e5 features costs more than rasterizing one tile, so paying it
# per (tile x feature) made the broadcast strategy O(tiles * features) in
# Python decode time.  Keyed by id() of the broadcast value; the entry
# also holds a strong reference to that value, which (a) lets a hit be
# verified with ``is`` and (b) pins the object so its address cannot be
# recycled for a different broadcast while the memo entry is alive.
# Spark reuses Python workers (spark.python.worker.reuse), so each
# executor decodes once.
_DECODED_BROADCASTS: dict[int, tuple[object, list]] = {}


def _decoded_feats(b_feats) -> list:
    """Broadcast [(seq, luokka, wkb_bytes), ...] -> decoded once per worker.

    Keyed by id() of the broadcast VALUE and identity-verified on hit:
    the PySpark worker keeps one loaded value per broadcast id in its
    registry, so the id is stable across tasks in a reused worker (the
    Broadcast wrapper itself is re-deserialized per task and is not a
    stable key).  The stored strong reference guarantees the id() key
    can never alias a later, different broadcast."""
    val = b_feats.value
    key = id(val)
    got = _DECODED_BROADCASTS.get(key)
    if got is not None and got[0] is val:
        _DECODED_BROADCASTS[key] = _DECODED_BROADCASTS.pop(key)  # refresh LRU
        return got[1]
    raw = val[0] if isinstance(val, tuple) else val
    decoded = [(s, l, wkb.decode(g)) for s, l, g in raw]
    while len(_DECODED_BROADCASTS) >= 2:  # LRU of 2: a job alternating
        # two feature broadcasts (e.g. polygon + line stages) keeps both
        # decoded; insertion order is eviction order (dict is ordered)
        _DECODED_BROADCASTS.pop(next(iter(_DECODED_BROADCASTS)))
    _DECODED_BROADCASTS[key] = (val, decoded)
    return decoded


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
    pre-sort; sorted here so both strategies agree
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
    caption = datagen.CAPTION_FMT.format(
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


def rasterize_features_broadcast(
    spark: SparkSession,
    tiles: DataFrame,
    features: DataFrame,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
) -> DataFrame:
    """Broadcast strategy: features collected + broadcast, tiles fanned out.

    ``tiles`` needs a ``cell_id`` column (one row per output tile).
    """
    rows = features.select("seq", "luokka", "geom_wkb").collect()
    feats = [(r["seq"], r["luokka"], bytes(r["geom_wkb"])) for r in rows]
    b_feats = spark.sparkContext.broadcast(feats)
    b_map = spark.sparkContext.broadcast(dict(classmap))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats_dec = _decoded_feats(b_feats)
            out = [
                _rasterize_tile(
                    int(c), px, size_north, feats_dec, b_map.value
                )
                for c in pdf["cell_id"]
            ]
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {k.split()[0]: [] for k in PIP_TILE_SCHEMA.split(", ")}
            )

    return tiles.select("cell_id").distinct().mapInPandas(run, PIP_TILE_SCHEMA)


def parent_cell_col(batch_parent: int = 3):
    """The batch_parent x batch_parent parent-cell id of ``cell_id`` —
    the cogroup key of :func:`classify_images_fused`.  Callers that
    pre-partition their tile table on this column (repartition(N,
    "parent_id") before caching) let the heavy side of the cogroup skip
    its exchange."""
    return F.expr(
        f"(shiftright(cell_id, 32) DIV {batch_parent}) * 4294967296"
        f" + ((cell_id & 4294967295) DIV {batch_parent})"
    ).alias("parent_id")


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


def classify_images_fused(
    images: DataFrame,
    features: DataFrame,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
    batch_parent: int = 3,
) -> DataFrame:
    """Fused tile-level PIP classification — the 100 TB-shape of the
    point->class join.

    One image row IS one tile, and its synthesized points are inside that
    tile by construction, so the points never need to exist as a shuffled
    table: cogroup the image rows with the exploded feature covers on
    cell_id, and inside the kernel (a) rasterize the tile's features
    (V1-V8), (b) decode the tile's points from the image bytes, (c) index
    the raster at the point cells, returning one row per (tile, class
    value) with the point count.  The only data crossing the shuffle is
    one image row per tile + the exploded features — never per-point rows
    (a 31M-point input moves ~1 GB as points but ~160 MB as tiles; point
    rows are also what made the join-based variant memory-bandwidth bound
    and anti-scale beyond ~8 local workers).

    Emits per-partition lineage metrics (n_points per tile) via the
    n_points column — summable downstream for the north-rule row counts.

    ``batch_parent``: cogroup on the ``batch_parent`` x ``batch_parent``
    PARENT cell (the tile grammar is hierarchical — 3 km over 1 km by
    default), not the tile itself.  Each Python group crossing carries
    ~batch_parent^2 tiles, cutting the per-group fixed cost (Arrow
    round-trip, kernel dispatch) ~9x, and features covering several tiles
    of one parent are WKB-decoded once per group instead of once per
    tile.  Group payload stays bounded (9 tile rows + their features).
    Set to 1 for the plain per-tile cogroup.
    """
    from .. import datagen as dg
    from ..gridlib.png import png16_to_dem
    from .tiling import cell_id_from_caption

    if "cell_id" not in images.columns:
        images = images.withColumn("cell_id", cell_id_from_caption(size_north))
    covers = explode_feature_covers(features, size_north)
    # partition pruning: only covers for tiles this job actually owns ever
    # enter the cogroup — when the input is a slice of the tile universe
    # (an executor shard, an incremental/resume run), the feature side and
    # the group count shrink with it instead of fanning out to every
    # covered cell.  AQE picks broadcast for small tile sets, SMJ at scale.
    covers = covers.join(images.select("cell_id").distinct(), "cell_id", "semi")
    cmap = dict(classmap)
    parent = parent_cell_col(batch_parent)

    def run(key, img_pdf: pd.DataFrame, feat_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "cell_id": pd.Series(dtype="i8"),
                "image_id": pd.Series(dtype=object),
                "value": pd.Series(dtype="i4"),
                "n_points": pd.Series(dtype="i8"),
            }
        )
        if img_pdf.empty:
            return empty
        feat_by_cell = (
            {c: g for c, g in feat_pdf.groupby("cell_id")}
            if not feat_pdf.empty
            else {}
        )
        decode_memo: dict[bytes, object] = {}
        out = []
        for cell, sub in img_pdf.groupby("cell_id"):
            cell = int(cell)
            feats = []
            fp = feat_by_cell.get(cell)
            if fp is not None:
                for s, l, g in zip(fp["seq"], fp["luokka"], fp["geom_wkb"]):
                    gb = bytes(g)
                    geom = decode_memo.get(gb)
                    if geom is None:
                        geom = wkb.decode(gb)
                        decode_memo[gb] = geom
                    feats.append((int(s), int(l), geom))
            raster, _n, _env = _rasterize_tile_raster(
                cell, px, size_north, feats, cmap
            )
            for cap, data in zip(sub["caption"], sub["bytes"]):
                name, minx, miny, maxx, maxy, cs, _ = dg.parse_caption(cap)
                dem = png16_to_dem(bytes(data), dg.Z_MIN, dg.Z_MAX)
                x, y, _z, _c = dg.sample_points_from_tile(name, dem, minx, miny, cs)
                rcs = (maxx - minx) / raster.shape[1]
                row = ((y - miny) / rcs).astype(np.int64)
                col = ((x - minx) / rcs).astype(np.int64)
                vals = raster[row, col]
                uv, cnt = np.unique(vals, return_counts=True)
                for v, n in zip(uv, cnt):
                    out.append(
                        {
                            "cell_id": cell,
                            "image_id": name,
                            "value": int(v),
                            "n_points": int(n),
                        }
                    )
        return pd.DataFrame(out) if out else empty

    # keep a caller-provided parent_id column: input pre-partitioned on
    # it (repartition(N, "parent_id") before cache) satisfies the
    # cogroup's clustered distribution, so the heavy image-bytes side
    # skips its exchange entirely — only the small covers side shuffles
    img_side = images.select("cell_id", "caption", "bytes", *(
        ["parent_id"] if "parent_id" in images.columns else []
    ))
    if "parent_id" not in img_side.columns:
        img_side = img_side.withColumn("parent_id", parent)
    return (
        img_side
        .groupBy("parent_id")
        .cogroup(covers.withColumn("parent_id", parent).groupBy("parent_id"))
        .applyInPandas(
            run, "cell_id long, image_id string, value int, n_points long"
        )
    )


def per_cell_feature_lists(features: DataFrame, size_north: int = 1000) -> DataFrame:
    """The join-attach strategy's broadcast dimension: exploded covers
    grouped per cell into (cell_id, fl: array<struct(seq, luokka,
    geom_wkb)>).  Callers that classify repeatedly should build this
    ONCE and .cache() it (bench does; a deployment materializes it as a
    table next to the feature store) — rebuilding it per query costs a
    full explode + aggregate + driver broadcast round trip."""
    covers = explode_feature_covers(features, size_north)
    return covers.groupBy("cell_id").agg(
        F.collect_list(F.struct("seq", "luokka", "geom_wkb")).alias("fl")
    )


def classify_images_joined(
    images: DataFrame,
    features: DataFrame | None,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
    per_cell: DataFrame | None = None,
) -> DataFrame:
    """Join-attach strategy of the tile PIP classification — the fastest
    shape measured when the per-tile feature lists fit a broadcast.

    The exploded covers (X5) are grouped per cell into a feature-list
    column and BROADCAST-JOINED onto the image rows JVM-side; the kernel
    then runs as ONE narrow ``mapInPandas`` over the image table — no
    cogroup, no exchange on the heavy image side at all, and the
    per-group Arrow framing of the cogroup (measured ~2x the mapInPandas
    framing on this host) disappears.  WKB decode is memoized per worker
    since features repeat across the tiles they cover.

    Strategy ladder (all three produce identical rows, pinned in tests):
    - :func:`classify_images_broadcast` — whole feature set broadcast,
      per-tile bbox scan in the kernel: best when features are tiny.
    - **this** — per-cell lists broadcast, JVM join prunes per tile:
      best while sum(covers) fits a broadcast (~10 MB-1 GB).
    - :func:`classify_images_fused` — cogroup equi-join on cell_id:
      the unbounded-scale fallback (feature side shuffles, image side
      reuses caller partitioning).
    """
    import numpy as np

    from .. import datagen as dg
    from ..gridlib import wkb as W
    from ..gridlib.png import png16_to_dem

    if "cell_id" not in images.columns:
        from .tiling import cell_id_from_caption

        images = images.withColumn("cell_id", cell_id_from_caption(size_north))
    if per_cell is None:
        per_cell = per_cell_feature_lists(features, size_north)
    cmap = dict(classmap)
    img = images.select("cell_id", "caption", "bytes").join(
        F.broadcast(per_cell), "cell_id", "left"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[bytes, object] = {}
        for pdf in batches:
            out = []
            for cell, cap, data, fl in zip(
                pdf["cell_id"], pdf["caption"], pdf["bytes"], pdf["fl"]
            ):
                name, minx, miny, maxx, maxy, cs, _ = dg.parse_caption(cap)
                fls = []
                if fl is not None:
                    for r in fl:
                        gb = bytes(r["geom_wkb"])
                        g = memo.get(gb)
                        if g is None:
                            g = memo[gb] = W.decode(gb)
                        fls.append((int(r["seq"]), int(r["luokka"]), g))
                raster, _n, _env = _rasterize_tile_raster(
                    int(cell), px, size_north, fls, cmap
                )
                dem = png16_to_dem(bytes(data), dg.Z_MIN, dg.Z_MAX)
                x, y, _z, _c = dg.sample_points_from_tile(name, dem, minx, miny, cs)
                rcs = (maxx - minx) / raster.shape[1]
                row = ((y - miny) / rcs).astype(np.int64)
                col = ((x - minx) / rcs).astype(np.int64)
                uv, cnt = np.unique(raster[row, col], return_counts=True)
                for v, n in zip(uv, cnt):
                    out.append(
                        {
                            "cell_id": int(cell),
                            "image_id": name,
                            "value": int(v),
                            "n_points": int(n),
                        }
                    )
            yield pd.DataFrame(
                out, columns=["cell_id", "image_id", "value", "n_points"]
            )

    return img.mapInPandas(
        run, "cell_id long, image_id string, value int, n_points long"
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
    """Zero-exchange variant of :func:`classify_images_joined`: the
    per-cell feature lists arrive as a prepared ``sc.broadcast`` dict
    (:func:`per_cell_broadcast`), so the query plan is ONE narrow
    ``mapInPandas`` over the (cached) image table — no join, no
    broadcast exchange, no shuffle of any side.  This is the same plan
    shape as q1's fused rasterization, which measures at ~90% of the
    host's no-Spark scaling ceiling; the per-attempt broadcast exchange
    of the JVM-join strategy is a constant ~0.3-0.5 s that cannot scale
    with cores.  Identical output rows to the other three strategies
    (pinned in tests).  Valid while sum(per-cell lists) fits executor
    memory — the same envelope as the joined strategy's broadcast."""
    cmap = dict(classmap)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        val, memo = _pybc_state(b_per_cell)
        for pdf in batches:
            yield _classify_tiles_pdf(
                pdf["caption"], pdf["bytes"], val, memo, cmap, px, size_north
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


def _classify_tiles_pdf(
    caps, datas, val: dict, memo: dict, cmap: dict, px: int, size_north: int
) -> pd.DataFrame:
    """Shared per-tile classify loop of the prebroadcast and scan-local
    strategies: caption+png16 bytes -> per-tile class histogram rows."""
    from .. import datagen as dg
    from ..gridlib import wkb as W
    from ..gridlib.png import png16_to_dem
    from ..gridlib.tilenamer import cell_id as cid_fn

    out = []
    for cap, data in zip(caps, datas):
        name, minx, miny, maxx, maxy, cs, _ = dg.parse_caption(cap)
        cell = int(cid_fn(np.array([minx]), np.array([miny]), size_north)[0])
        fls = []
        for seq, luokka, gb in val.get(cell, ()):
            g = memo.get(gb)
            if g is None:
                g = memo[gb] = W.decode(gb)
            fls.append((seq, luokka, g))
        raster, _n, _env = _rasterize_tile_raster(
            cell, px, size_north, fls, cmap
        )
        dem = png16_to_dem(bytes(data), dg.Z_MIN, dg.Z_MAX)
        x, y, _z, _c = dg.sample_points_from_tile(name, dem, minx, miny, cs)
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
    return pd.DataFrame(out, columns=["cell_id", "image_id", "value", "n_points"])


def classify_images_scanlocal(
    splits: DataFrame,
    b_per_cell,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
    strip: tuple[float, float] | None = None,
) -> DataFrame:
    """Scan-local variant of :func:`classify_images_prebroadcast`: the
    input is a row-group split table (``sources.parquet_row_group_
    splits``) and each python task reads its own row groups with
    pyarrow — the image bytes never enter the JVM at all.  Motivation:
    the JVM-cache -> Arrow IPC framing of the tile bytes is a
    pure-memcpy stage bound by host memory bandwidth rather than by
    cores; removing the framing leaves only compute stages.  On a real
    cluster this is the standard node-local columnar scan, so nothing
    is lost at 1000 executors.  Output rows identical to the other
    strategies (pinned in tests)."""
    from .sources import scan_row_groups

    cmap = dict(classmap)

    cols = ["caption", "bytes"] + (["miny"] if strip else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        val, memo = _pybc_state(b_per_cell)
        for pdf in scan_row_groups(batches, cols):
            if strip is not None:
                # row-group stats pruning is advisory; the shard contract
                # (disjoint strips, totals sum) needs the exact predicate
                pdf = pdf[(pdf["miny"] >= strip[0]) & (pdf["miny"] < strip[1])]
            yield _classify_tiles_pdf(
                pdf["caption"], pdf["bytes"], val, memo, cmap, px, size_north
            )

    return splits.mapInPandas(
        run, "cell_id long, image_id string, value int, n_points long"
    )


def classify_images_broadcast(
    spark: SparkSession,
    images: DataFrame,
    features: DataFrame,
    classmap: dict[int, int],
    px: int = 128,
    size_north: int = 1000,
) -> DataFrame:
    """Broadcast strategy of :func:`classify_images_fused` — the right
    physical plan while the feature set fits a broadcast (fixture scale:
    ~7k features ~660 KB; here ~131k ~20 MB).  Features (+precomputed
    envelopes) ship once per executor; image rows stream through ONE
    narrow mapInPandas — no shuffle at all, not even of tile rows.  Per
    tile the kernel bbox-filters the broadcast set (vectorized),
    rasterizes, decodes the tile's points and histograms their class
    values.  Beyond broadcast limits, use classify_images_fused
    (cogrouped equi-join on cell_id).  Outputs are identical."""
    import numpy as np

    from .. import datagen as dg
    from ..gridlib import wkb as W
    from ..gridlib.png import png16_to_dem
    from ..gridlib.tilenamer import cell_id as cid_fn

    rows = features.select("seq", "luokka", "geom_wkb").collect()
    feats = [(r["seq"], r["luokka"], bytes(r["geom_wkb"])) for r in rows]
    envs = np.array(
        [W.decode(g).envelope() for _s, _l, g in feats], dtype=np.float64
    ).reshape(-1, 4)
    b_feats = spark.sparkContext.broadcast((feats, envs))
    b_map = spark.sparkContext.broadcast(dict(classmap))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_feats = _decoded_feats(b_feats)  # decode once per worker
        fenvs = b_feats.value[1]
        cmap = b_map.value
        for pdf in batches:
            out = []
            for cap, data in zip(pdf["caption"], pdf["bytes"]):
                name, minx, miny, maxx, maxy, cs, _ = dg.parse_caption(cap)
                sel = np.flatnonzero(
                    (fenvs[:, 2] >= minx)
                    & (fenvs[:, 0] < maxx)
                    & (fenvs[:, 3] >= miny)
                    & (fenvs[:, 1] < maxy)
                )
                cell = int(cid_fn(np.array([minx]), np.array([miny]), size_north)[0])
                raster, _n, _env = _rasterize_tile_raster(
                    cell, px, size_north, [all_feats[i] for i in sel], cmap
                )
                dem = png16_to_dem(bytes(data), dg.Z_MIN, dg.Z_MAX)
                x, y, _z, _c = dg.sample_points_from_tile(name, dem, minx, miny, cs)
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
                out,
                columns=["cell_id", "image_id", "value", "n_points"],
            )

    return images.select("caption", "bytes").mapInPandas(
        run, "cell_id long, image_id string, value int, n_points long"
    )


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
    from ..gridlib.png import png_decode
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
            _, minx, miny, _, _, cs, _ = datagen.parse_caption(
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
    from ..gridlib.png import png_decode

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
