"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query — synthesize a point cloud from the
  sf0.001 lineitem parquet, tile it on NLS 1 km cell ids, run the
  Delaunay-TIN rasterization kernel per tile, return the tile table.
- ``queries()``: one entry per implemented operator (SURVEY.md §2 ids in
  the key names).  Relational operators run the Spark dialect of the
  same SQL the oracle runs; kernel operators (X1/X2 codec, T9 TIN, V5
  PIP) run the engine's real numpy/Arrow path.
- ``oracle_sql()``: DuckDB dialect for every SQL-expressible operator.
  All definitions use integer-exact arithmetic (polynomial hashes,
  FLOOR-before-CAST) so value hashes match bit-for-bit.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lasutility_spark import datagen
from lasutility_spark.engine import points as epoints
from lasutility_spark.engine import pip_stage, tin_stage
from lasutility_spark.engine.tiling import cell_id_col
from lasutility_spark.gridlib import topodb
from lasutility_spark.gridlib.tilenamer import cell_id_to_name, tile_decode_batch
from lasutility_spark.pipelines import geosql


def _register(spark: SparkSession, sf_dir: str, tables) -> None:
    for t in tables:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).createOrReplaceTempView(t)


def _sql_query(sql_fn, tables):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, tables)
        return spark.sql(sql_fn("spark"))

    return run


# --- Spark-side kernel implementations (real engine path) -----------------


def _tile_encode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 via the engine's vectorized numpy codec (oracle: SQL grammar)."""
    pts = epoints.synth_points(spark, sf_dir)
    df = pts.withColumn("cell_id", cell_id_col(F.col("x"), F.col("y"), 1000))
    counts = df.groupBy("cell_id").agg(F.count("*").alias("n_points"))

    @F.pandas_udf("string")
    def name_udf(cid: pd.Series) -> pd.Series:
        return pd.Series(cell_id_to_name(cid.to_numpy(), 1000).astype(object))

    return counts.select(
        "cell_id", name_udf("cell_id").alias("tile_name"), "n_points"
    )


def _tile_envelope_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 via the engine's real decode (oracle: closed-form arithmetic)."""
    pts = epoints.synth_points(spark, sf_dir)
    cells = (
        pts.withColumn("cell_id", cell_id_col(F.col("x"), F.col("y"), 1000))
        .select("cell_id")
        .distinct()
    )

    @F.pandas_udf("minx double, miny double, maxx double, maxy double")
    def env_udf(cid: pd.Series) -> pd.DataFrame:
        names = cell_id_to_name(cid.to_numpy(), 1000)
        envs = tile_decode_batch(names).astype(np.float64)
        return pd.DataFrame(envs, columns=["minx", "miny", "maxx", "maxy"])

    e = cells.withColumn("env", env_udf("cell_id"))
    return e.select(
        "cell_id",
        F.col("env.minx").alias("tile_minx"),
        F.col("env.miny").alias("tile_miny"),
        F.col("env.maxx").alias("tile_maxx"),
        F.col("env.maxy").alias("tile_maxy"),
    )


def _tin_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T9 flagship kernel over the synthesized image table.  Oracled
    on the Delaunay-tie-independent columns (per-tile point counts from
    the tile_stats side table, computed in closed form at generation
    time); pixel values + triangle counts stay pytest-pinned (PSNR/
    golden gates)."""
    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    images = epoints.read_images(spark, images_dir)
    pts = epoints.decode_points(images)
    tiles = tin_stage.rasterize_tin_tiles(pts, px=64)
    return tiles.select(
        "cell_id", "image_id", "w", "h", "n_points",
        (F.col("filled_cells") + F.col("missing_cells")).alias("total_cells"),
    )


def _tin_rasterize_voxel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline B (A2 ground-max DEM + A8 TIN backfill) per tile.  The
    oracle pins the EXACT A2 plane fill count (ground-cell occupancy is
    Delaunay-free and closed-form at datagen time); the backfilled
    raster itself stays pytest-pinned."""
    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    images = epoints.read_images(spark, images_dir)
    pts = epoints.decode_points(images)
    tiles = tin_stage.rasterize_tin_tiles(pts, px=64, ground_max_first=True)
    return tiles.select("cell_id", "image_id", "n_points", "a2_filled_cells")


def _pip_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1-V8 feature rasterization (cogrouped strategy) over the
    synthesized feature tables.  Oracle = pip_tile_stats side table:
    the per-tile loop run single-process at generation time, so the
    cogrouped Spark distribution is cross-checked against it; the C
    kernels under both are held to their numpy forms by
    tests/test_raster_native.py, which regenerates the table with them."""
    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    images = epoints.read_images(spark, images_dir)
    from lasutility_spark.engine.tiling import cell_id_from_caption

    feats = spark.read.parquet(f"{images_dir}/polygons.parquet").union(
        spark.read.parquet(f"{images_dir}/lines.parquet")
    )
    tile_df = images.select(cell_id_from_caption(1000).alias("cell_id"))
    classmap = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
    out = pip_stage.rasterize_features_cogrouped(tile_df, feats, classmap, px=64)
    return out.select("cell_id", "image_id", "w", "h", "n_features", "painted_cells")


def _pip_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point->class PIP lookup join through the REAL kernel path (WKB
    decode -> clip -> even-odd scanline raster -> cogrouped cell lookup)
    against the literal feature set geosql.PIPK_FEATURES — chosen so the
    DuckDB oracle can replay the pinned cell-space fill arithmetic
    (MathUtils.cs:114-170) in closed form, independently verifying the
    C/numpy scanline kernel end to end."""
    from lasutility_spark.gridlib.wkb import encode_polygon

    pts = epoints.synth_points(spark, sf_dir)
    tiles = pts.select(
        cell_id_col(F.col("x"), F.col("y"), 1000).alias("cell_id")
    ).distinct()
    rows = []
    for seq, luokka, _value, _tminx, _tminy, rings in geosql.PIPK_FEATURES:
        closed = []
        for ring in rings:
            xs = np.array([v[0] for v in ring] + [ring[0][0]])
            ys = np.array([v[1] for v in ring] + [ring[0][1]])
            closed.append((xs, ys))
        rows.append((seq, luokka, bytearray(encode_polygon(closed))))
    feats = spark.createDataFrame(rows, "seq long, luokka long, geom_wkb binary")
    pip_tiles = pip_stage.rasterize_features_cogrouped(
        tiles, feats, geosql.PIPK_CLASSMAP, px=128
    )
    out = pip_stage.pip_classify_points(pts, pip_tiles)
    return out.groupBy("value").agg(F.count("*").alias("n_points"))


# The image-table + X5 oracle queries run over the FIXED sf0.01 fixture
# (datagen.ensure_images_table(0.01)) regardless of sf_dir: their DuckDB
# oracles are expected-result parquet side tables written at generation
# time, and the oracle SQL embeds that one fixture path.

_FIXTURE_SF = 0.01


def _oracle_tile_stats(dialect: str) -> str:
    """T9 oracle: tie-independent per-tile metrics from the closed-form
    tile_stats side table (point selection is a pure coordinate hash)."""
    d = datagen.ensure_images_table(_FIXTURE_SF)
    return (
        "SELECT cell_id, image_id, w, h, n_points, total_cells "
        f"FROM read_parquet('{d}/tile_stats.parquet')"
    )


def _oracle_voxel_stats(dialect: str) -> str:
    """Pipeline-B oracle: exact A2 ground-max plane fill counts."""
    d = datagen.ensure_images_table(_FIXTURE_SF)
    return (
        "SELECT cell_id, image_id, n_points, a2_filled_cells "
        f"FROM read_parquet('{d}/tile_stats.parquet')"
    )


def _raster_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9' raster -> vector: rasterize features per tile (real kernel,
    png8 encode), then DECODE the rasters back and extract per-class
    painted counts + extent boxes — the polygonize first step.  Oracle =
    pip_class_extents side table from the generation-time per-tile
    rasterization (held to the numpy oracle kernels by
    tests/test_raster_native.py), so the full encode -> decode -> extract
    loop is verified against independent arithmetic."""
    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    images = epoints.read_images(spark, images_dir)
    from lasutility_spark.engine.tiling import cell_id_from_caption

    feats = spark.read.parquet(f"{images_dir}/polygons.parquet").union(
        spark.read.parquet(f"{images_dir}/lines.parquet")
    )
    tile_df = images.select(cell_id_from_caption(1000).alias("cell_id"))
    classmap = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
    tiles = pip_stage.rasterize_features_cogrouped(tile_df, feats, classmap, px=64)
    return pip_stage.raster_class_extents(tiles)


def _oracle_raster_extents(dialect: str) -> str:
    d = datagen.ensure_images_table(_FIXTURE_SF)
    return (
        "SELECT cell_id, image_id, value, n_cells, min_row, max_row, "
        "min_col, max_col "
        f"FROM read_parquet('{d}/pip_class_extents.parquet')"
    )


def _oracle_pip_tile_stats(dialect: str) -> str:
    """V1-V8 oracle: per-tile applied-feature + painted-cell counts from
    the generation-time per-tile rasterization."""
    d = datagen.ensure_images_table(_FIXTURE_SF)
    return (
        "SELECT cell_id, image_id, w, h, n_features, painted_cells "
        f"FROM read_parquet('{d}/pip_tile_stats.parquet')"
    )


def _oracle_feature_covers(dialect: str) -> str:
    """X5 oracle: covered-cell counts in closed form from the envelope
    side table (raw-vertex bboxes recorded at datagen time — independent
    of the engine's WKB-decode envelope path)."""
    d = datagen.ensure_images_table(_FIXTURE_SF)
    return f"""
    SELECT seq, luokka,
           (CAST(FLOOR((maxy - 6570000.0) / 1000.0) AS BIGINT)
            - CAST(FLOOR((miny - 6570000.0) / 1000.0) AS BIGINT) + 1)
         * (CAST(FLOOR((maxx - (-76000.0)) / 1000.0) AS BIGINT)
            - CAST(FLOOR((minx - (-76000.0)) / 1000.0) AS BIGINT) + 1)
           AS n_cover_cells
    FROM read_parquet('{d}/feature_envelopes.parquet')
    WHERE kind = 'polygon'
    """


# --- the registry ----------------------------------------------------------

# The driver's correctness harness checks the FIRST 50 entries of
# ``queries()`` in insertion order (VERDICT r04).  The registry therefore
# holds exactly <=50 queries (asserted below) and ``queries()`` emits the
# kernel-path flagships FIRST, so the driver sheet covers every operator
# family with zero truncation.

# name -> (sql_fn, tables) for the dual-dialect relational operators
_RELATIONAL: dict[str, tuple[Callable[[str], str], list[str]]] = {
    "x3_cells": (geosql.cells_sql, ["lineitem"]),
    "x4_cell_corners": (geosql.cell_corners_sql, ["lineitem"]),
    "a2_ground_dem": (geosql.ground_dem_sql, ["lineitem"]),
    "a4_bins_ranked": (geosql.bins_ranked_sql, ["lineitem"]),
    "a5_highest_in_class": (geosql.highest_in_class_sql, ["lineitem"]),
    "a6_heights_range": (geosql.heights_range_sql, ["lineitem"]),
    "s14_surface_model": (geosql.surface_model_sql, ["lineitem"]),
    "s4_extent": (geosql.extent_sql, ["lineitem"]),
    "v5_pip_literal": (geosql.pip_literal_sql, ["lineitem"]),
    "t5_knn_interp": (geosql.knn_interp_sql, ["lineitem"]),
    "v1_classmap_union": (geosql.classmap_union_sql, []),
    "v2_classmap_semijoin": (geosql.classmap_semijoin_sql, ["lineitem"]),
}


def _tin_rasterize_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 via the skew-salted path (north rule: dense tiles re-keyed with
    a sub-grammar quad split + halo; sparse tiles take the normal path).
    Shares the t9 oracle: the salted path must reproduce the same
    per-tile interior point counts (halo duplicates deduped)."""
    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    pts = epoints.decode_points(epoints.read_images(spark, images_dir))
    tiles = tin_stage.rasterize_tin_tiles_skew(
        pts, px=64, dense_threshold=1000, halo=150.0
    )
    return tiles.select(
        "cell_id", "image_id", "w", "h", "n_points",
        (F.col("filled_cells") + F.col("missing_cells")).alias("total_cells"),
    )


def _tin_triangle_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: TIN -> triangle feature table (Triangulation.ExportToShp,
    DEM/Triangulation.cs:132-157) aggregated to tie-INDEPENDENT per-tile
    invariants: triangle COUNTS depend on co-circular/collinear Delaunay
    tie breaks, but the SUM of triangle areas equals the convex-hull
    area for every valid triangulation — and on the dyadic cell-center
    grid the difference-based shoelace is exact in float64, so the
    engine's Delaunay sum matches datagen's monotone-chain hull area
    (``datagen.hull_area_x100``, zero shared code) bit-for-bit.
    n_vertices counts the tile's distinct decoded points (all of which
    are TIN vertices)."""
    from lasutility_spark.engine import sinks, tiling

    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    images = epoints.read_images(spark, images_dir)
    p = epoints.decode_points(images)
    tri = sinks.tin_to_triangle_features(p)
    cross = (F.col("x1") - F.col("x0")) * (F.col("y2") - F.col("y0")) - (
        F.col("x2") - F.col("x0")
    ) * (F.col("y1") - F.col("y0"))
    areas = tri.groupBy("image_id").agg(
        F.floor(F.sum(F.abs(cross)) / F.lit(2.0) * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("sum_area_x100")
    )
    counts = (
        tiling.with_cell_id(p)
        .groupBy("cell_id")
        .agg(F.count("*").cast("int").alias("n_vertices"))
        .withColumn("image_id", tiling.tile_name_1km(F.col("cell_id")))
    )
    return counts.join(areas, "image_id", "left").select(
        "cell_id",
        "image_id",
        "n_vertices",
        F.coalesce(F.col("sum_area_x100"), F.lit(0))
        .cast("long")
        .alias("sum_area_x100"),
    )


def _oracle_triangle_stats(dialect: str) -> str:
    """S10 oracle: tie-independent hull-area + vertex-count invariants
    from the closed-form tile_stats side table."""
    d = datagen.ensure_images_table(_FIXTURE_SF)
    return (
        "SELECT cell_id, image_id, n_points AS n_vertices, sum_area_x100 "
        f"FROM read_parquet('{d}/tile_stats.parquet')"
    )


def _feature_covers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: envelope -> covered-cells explode (the spatial-join duplication
    step), counted per feature; envelopes via the real WKB-decode UDF."""
    images_dir = datagen.ensure_images_table(_FIXTURE_SF)
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet")
    # force the WKB-decode envelope path: the oracle compares against the
    # raw-vertex envelopes stored at datagen time, so decoding here keeps
    # the two sides independent
    covers = pip_stage.explode_feature_covers(feats, use_stored_envelopes=False)
    return covers.groupBy("seq", "luokka").agg(
        F.count("*").alias("n_cover_cells")
    )


def _a7_halo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 halo variant through the engine's DataFrame plan (offset explode
    + equi-join); oracle = the same semantics in portable SQL."""
    from lasutility_spark.engine import voxel

    pts = epoints.synth_points(spark, sf_dir)
    return voxel.neighborhood_max_halo(pts)


# kernel-path queries: real kernel/engine paths vs independent
# closed-form/side-table oracles
_KERNEL_WITH_ORACLE = {
    "x1_tile_encode": (_tile_encode_spark, geosql.tile_encode_sql_query, ["lineitem"]),
    "x2_tile_envelope": (_tile_envelope_spark, geosql.tile_envelope_sql, ["lineitem"]),
    "v5_pip_classify": (_pip_classify, geosql.pip_classify_kernel_sql, ["lineitem"]),
    "a7_halo": (_a7_halo, geosql.neighborhood_max_halo_sql, ["lineitem"]),
    "x5_feature_covers": (_feature_covers, _oracle_feature_covers, []),
    "t9_tin_rasterize": (_tin_rasterize, _oracle_tile_stats, []),
    "t9_tin_rasterize_skew": (_tin_rasterize_skew, _oracle_tile_stats, []),
    "b_voxel_tin_backfill": (_tin_rasterize_voxel, _oracle_voxel_stats, []),
    "v5_pip_rasterize": (_pip_rasterize, _oracle_pip_tile_stats, []),
    "v9_raster_extents": (_raster_extents, _oracle_raster_extents, []),
    "s10_triangle_features": (_tin_triangle_features, _oracle_triangle_stats, []),
}

# Every query has an oracle.  s10's is tie-independent: Delaunay triangle
# COUNTS depend on co-circular ties, but the triangle-area SUM equals the
# convex-hull area for every valid triangulation, and on the dyadic
# cell-center grid both sides compute it exactly (see
# _tin_triangle_features / datagen.hull_area_x100).


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 lineitem -> points -> 1 km tiles -> Delaunay TIN
    -> rasterized DEM tile table (driver collects)."""
    pts = epoints.synth_points(spark, "/root/testdata/sf0.001")
    tiles = tin_stage.rasterize_tin_tiles(pts, px=64, size_north=1000)
    return tiles.select(
        "cell_id", "image_id", "w", "h", "fmt", "caption", "phash",
        "n_points", "n_triangles", "filled_cells", "missing_cells",
    )


# Flagship kernels lead the sheet; everything else follows in family order.
_FLAGSHIPS_FIRST = [
    "t9_tin_rasterize",
    "t9_tin_rasterize_skew",
    "b_voxel_tin_backfill",
    "v5_pip_rasterize",
    "v9_raster_extents",
    "s10_triangle_features",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _FLAGSHIPS_FIRST:
        q[name] = _KERNEL_WITH_ORACLE[name][0]
    for name, (spark_fn, _oracle, _tables) in _KERNEL_WITH_ORACLE.items():
        q.setdefault(name, spark_fn)
    for name, (fn, tables) in _RELATIONAL.items():
        q[name] = _sql_query(fn, tables)
    if len(q) > 50:  # ValueError, not assert: must survive python -O
        raise ValueError(
            f"driver correctness harness caps at 50 queries; got {len(q)} — "
            "consolidate before adding more (see registry comment)"
        )
    return q


def oracle_sql() -> dict[str, str]:
    out = {name: fn("duckdb") for name, (fn, _t) in _RELATIONAL.items()}
    for name, (_spark_fn, oracle_fn, _tables) in _KERNEL_WITH_ORACLE.items():
        out[name] = oracle_fn("duckdb")
    return out
