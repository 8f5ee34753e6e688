"""Physical-plan shape gates: the scale claims in SURVEY/README must be
visible in .explain() output, not just asserted in prose."""

import os

import pytest
from pyspark.sql import functions as F

from lasutility_spark import datagen
from lasutility_spark.engine import pip_stage, points as epoints, tin_stage
from lasutility_spark.engine.tiling import cell_id_from_caption


@pytest.fixture(scope="module")
def images_dir():
    return datagen.ensure_images_table(0.001)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spatial_predicate_pushes_to_parquet_scan(spark, images_dir):
    """Tile-anchor range predicates reach the scan as PushedFilters —
    the row-group pruning that makes strip shards read 1/m of the data."""
    df = epoints.read_images(spark, images_dir).filter(
        (F.col("miny") >= 6666000) & (F.col("miny") < 6668000)
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(miny,6666000)" in plan.replace(" ", "")


def test_feature_bbox_filter_pushes_to_scan(spark, images_dir):
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet").filter(
        F.col("maxy") >= 6666500.0
    )
    plan = _plan(feats)
    assert "PushedFilters" in plan and "maxy" in plan


def test_fused_tin_pass_has_no_exchange(spark, images_dir):
    """q1's fused path over a pre-partitioned cached input: zero
    exchanges at query time (the headline no-shuffle claim)."""
    images = (
        epoints.read_images(spark, images_dir)
        .withColumn("cell_id", cell_id_from_caption(1000))
        .repartition(4, "cell_id")
        .cache()
    )
    images.count()
    plan = _plan(tin_stage.rasterize_images_fused(images, px=32))
    body = plan.split("+- == Initial Plan ==")[0]  # cache-build subplan
    assert "InMemoryTableScan" in body
    assert body.count("Exchange") <= body.count("REPARTITION_BY_NUM")
    images.unpersist()


def test_tin_stage_hash_exchange_without_range_sampling(spark, images_dir):
    """rasterize_tin_tiles moves points with one hash exchange on
    cell_id: no range partitioner, whose bound sampling re-runs the
    point source twice, and no second exchange for the groupBy."""
    p = epoints.decode_points(epoints.read_images(spark, images_dir))
    plan = _plan(tin_stage.rasterize_tin_tiles(p, px=32))
    assert "hashpartitioning(cell_id" in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") == 1, plan


def test_prebroadcast_classify_has_no_exchange(spark, images_dir):
    """classify_images_prebroadcast: the per-cell feature lists arrive as
    a prepared broadcast, so the plan over the image table is ONE narrow
    mapInPandas with no Exchange of any kind."""
    from lasutility_spark.gridlib import topodb

    images = epoints.read_images(spark, images_dir)
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet")
    b = pip_stage.per_cell_broadcast(spark, pip_stage.per_cell_feature_lists(feats))
    plan = _plan(
        pip_stage.classify_images_prebroadcast(images, b, topodb.ALL_POLYGON, px=32)
    )
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_laz_scan_is_one_wave_without_exchange(spark, tmp_path):
    """The LAZ scan is planned from file headers: one MapInPandas over
    the ``parallelize`` bins of whole-chunk splits, with no Exchange,
    one partition per planned bin."""
    import numpy as np

    from lasutility_spark.engine import sources
    from lasutility_spark.gridlib import laz

    rng = np.random.RandomState(41)
    paths = []
    for i, n in enumerate((3000, 1200, 2500)):
        p = tmp_path / f"s{i}.laz"
        p.write_bytes(laz.write_laz(
            380000 + rng.rand(n) * 500, 6666000 + rng.rand(n) * 500,
            rng.rand(n) * 20, np.full(n, 2, np.uint8), chunk_size=1000,
        ))
        paths.append(str(p))
    total = sum(os.path.getsize(p) for p in paths)
    splits = sources.plan_splits(paths, sources.split_bytes(spark, total))
    df = sources.read_las_points(spark, paths)
    plan = _plan(df)
    assert "MapInPandas" in plan and "Exchange" not in plan, plan
    bins = min(len(splits), spark.sparkContext.defaultParallelism)
    assert df.rdd.getNumPartitions() == bins
    assert df.count() == 6700


def test_registry_caps_and_flagships_first():
    """Driver-harness contract: the correctness sweep checks the FIRST
    50 queries() entries in insertion order (VERDICT r04), so the
    registry must stay <=50 with the kernel flagships leading and every
    query carrying an oracle."""
    import __spark_entry__ as m

    q = m.queries()
    o = m.oracle_sql()
    assert len(q) <= 50
    assert list(q)[:6] == [
        "t9_tin_rasterize", "t9_tin_rasterize_skew", "b_voxel_tin_backfill",
        "v5_pip_rasterize", "v9_raster_extents", "s10_triangle_features",
    ]
    assert set(q) == set(o)  # zero rows-only queries
