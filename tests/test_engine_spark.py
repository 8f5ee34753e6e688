"""Spark-stage integration tests: end-to-end slice, PIP strategies, voxel
relational ops, partition-count invariance (local[8] == local[32] analog)."""

import numpy as np
import pandas as pd
import pytest

from lasutility_spark import datagen
from lasutility_spark.engine import pip_stage, points as pts, tiling, tin_stage, voxel
from lasutility_spark.gridlib import imagetile, topodb
from lasutility_spark.gridlib.bounds import RasterBounds
from lasutility_spark.gridlib.png import png16_to_dem, png_decode
from lasutility_spark.gridlib.tilenamer import tile_decode
from lasutility_spark.gridlib.tin import Tin


@pytest.fixture(scope="module")
def images_dir(tmp_path_factory):
    return datagen.ensure_images_table(0.001, base_dir="/root/repo/.cache")


def test_end_to_end_tin_slice(spark, images_dir):
    """SURVEY §7.3: the minimum end-to-end slice, asserted allclose against
    a single-process gridlib oracle on the same input."""
    images = pts.read_images(spark, images_dir)
    p = pts.decode_points(images)
    tiles = tin_stage.rasterize_tin_tiles(p, px=64, num_partitions=4)
    out = {r["image_id"]: r for r in tiles.collect()}
    assert len(out) == 9

    # single-process oracle for one tile
    import pyarrow.parquet as pq

    src = pq.read_table(f"{images_dir}/images.parquet").to_pandas()
    row = src.iloc[3]
    name, minx, miny, maxx, maxy, cs, _ = imagetile.parse_caption(row["caption"])
    dem_in = png16_to_dem(row["bytes"], imagetile.Z_MIN, imagetile.Z_MAX)
    x, y, z, cls = imagetile.sample_points_from_tile(name, dem_in, minx, miny, cs)
    bounds = RasterBounds(64, 64, minx, miny, maxx, maxy)
    oracle = Tin(x, y, z, cls).rasterize_dem(bounds)

    got = png16_to_dem(bytes(out[name]["bytes"]), imagetile.Z_MIN, imagetile.Z_MAX)
    both = ~np.isnan(oracle) & ~np.isnan(got)
    assert both.mean() > 0.9
    # PSNR >= 40 dB gate (BASELINE input_hint)
    mse = float(np.mean((got[both] - oracle[both]) ** 2))
    psnr = 10 * np.log10(500.0**2 / max(mse, 1e-12))
    assert psnr >= 40, psnr
    assert out[name]["caption"] == row["caption"].replace(";7.8125;", ";15.625;")
    assert out[name]["n_points"] == len(x)
    assert out[name]["n_triangles"] > 0


def test_tin_partition_invariance(spark, images_dir):
    """Same output regardless of parallelism (the north-rule determinism
    requirement: local[8] vs local[32] equality)."""
    images = pts.read_images(spark, images_dir)
    p = pts.decode_points(images)
    a = tin_stage.rasterize_tin_tiles(p, px=32, num_partitions=1).collect()
    b = tin_stage.rasterize_tin_tiles(p, px=32, num_partitions=7).collect()
    da = {r["image_id"]: (r["phash"], bytes(r["bytes"])) for r in a}
    db = {r["image_id"]: (r["phash"], bytes(r["bytes"])) for r in b}
    assert da == db  # bit-identical tiles


def test_voxel_relational_ops(spark):
    """A2/A3/A4/A5/S14 semantics on the hand-computed VoxelGrid golden
    (VoxelGrid.Tests.cs:18-135), run through the Spark operators."""
    # grid [0,10)x[100000,200000) 10x10, the reference's edge-case fixture
    rows = [
        # ground points: per-cell max
        (0.0, 100000.0, 100.0, 2),
        (10.0 - 1e-6, 200000.0 - 1e-6, 10.0, 2),
        # three non-ground in one cell -> sorted desc [10, 5, 2.5]
        (5.0, 155000.0, 2.5, 5),
        (5.0, 155000.0, 10.0, 5),
        (5.0, 155000.0, 5.0, 5),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "y", "z", "cls"])
    )
    # manual cell assignment for this custom (non-NLS) grid
    from pyspark.sql import functions as F

    df = (
        df.withColumn("cell_id", F.lit(0))
        .withColumn("row", F.floor((F.col("y") - 100000.0) / 10000.0).cast("int"))
        .withColumn("col", F.floor(F.col("x") / 1.0).cast("int"))
    )
    dem = {(r["row"], r["col"]): r["dem_z"] for r in voxel.ground_dem(df).collect()}
    assert dem[(0, 0)] == 100.0
    assert dem[(9, 9)] == 10.0

    b = voxel.bins(df).collect()
    assert len(b) == 1
    zs = [p["z"] for p in b[0]["points"]]
    assert zs == [10.0, 5.0, 2.5]  # desc by z (Bin.cs:35-39)

    top = voxel.highest_in_class_range(df, 3, 5).collect()
    assert {(r["row"], r["col"]): r["surface_z"] for r in top}[(5, 5)] == 10.0

    surf = {
        (r["row"], r["col"]): r["h"]
        for r in voxel.surface_model(df, 3, 5).collect()
    }
    assert surf[(5, 5)] == 10.0  # veg wins
    assert surf[(0, 0)] == 100.0  # ground fallback
    ext = voxel.extent(df).collect()[0]
    assert (ext["minx"], ext["maxx"]) == (0, 10)


def test_neighborhood_max(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rows = [(0, 1, 1, 5.0), (0, 1, 2, 3.0), (0, 2, 2, 4.0), (0, 5, 5, 2.0)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell_id", "row", "col", "z"])
    ).withColumn("cls", F.lit(5))
    res = {
        (r["row"], r["col"]): r["is_local_max"]
        for r in voxel.neighborhood_max(df, 1, 3, 5).collect()
    }
    assert res[(1, 1)] is True  # 5.0 beats neighbors 3.0, 4.0
    assert res[(1, 2)] is False
    assert res[(5, 5)] is True  # isolated cell (border clamp analog)


def test_pip_cogrouped_matches_oracle(spark, images_dir):
    """V1-V8: the cogrouped rasterizer matches the single-process gridlib
    oracle on every tile."""
    images = pts.read_images(spark, images_dir)
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet").union(
        spark.read.parquet(f"{images_dir}/lines.parquet")
    )
    # build cell ids from captions (tile min corner)
    cap = images.select("caption").toPandas()["caption"]
    from lasutility_spark.gridlib.tilenamer import cell_id

    mins = np.array([imagetile.parse_caption(c)[1:3] for c in cap])
    cells = cell_id(mins[:, 0], mins[:, 1], 1000)
    tile_df = spark.createDataFrame(pd.DataFrame({"cell_id": cells}))

    classmap = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
    got = pip_stage.rasterize_features_cogrouped(
        tile_df, feats, classmap, px=64
    ).collect()
    assert sorted(r["cell_id"] for r in got) == sorted(int(c) for c in cells)

    feat_rows = [
        (r["seq"], r["luokka"], bytes(r["geom_wkb"]))
        for r in feats.select("seq", "luokka", "geom_wkb").collect()
    ]
    for r in got:
        oracle = pip_stage._rasterize_tile(
            r["cell_id"], 64, 1000, feat_rows, classmap
        )
        assert {k: r[k] for k in oracle} == oracle, r["image_id"]
    assert sum(r["painted_cells"] for r in got) > 0  # something got painted


def test_pip_classify_points(spark, images_dir):
    images = pts.read_images(spark, images_dir)
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet")
    import numpy as np
    from pyspark.sql import functions as F

    from lasutility_spark.gridlib.tilenamer import cell_id

    cap = images.select("caption").toPandas()["caption"]
    mins = np.array([imagetile.parse_caption(c)[1:3] for c in cap])
    tile_df = spark.createDataFrame(
        pd.DataFrame({"cell_id": cell_id(mins[:, 0], mins[:, 1], 1000)})
    )
    pip_tiles = pip_stage.rasterize_features_cogrouped(
        tile_df, feats, topodb.ALL_POLYGON, px=64
    )
    p = pts.decode_points(images)
    classified = pip_stage.pip_classify_points(p, pip_tiles)
    vals = classified.groupBy("value").count().collect()
    byval = {r["value"]: r["count"] for r in vals}
    assert 0 in byval  # background
    assert any(v >= 100 for v in byval if v > 0)  # some building/terrain hits
    assert -1 not in byval  # every point found its tile


def test_classify_prebroadcast_matches_point_rows(spark, images_dir):
    """The tile-level PIP classification (production shape: points never
    exist as rows) must agree, per (cell, class value), with the general
    point-rows path, on polygons and lines."""
    from pyspark.sql import functions as F

    images = pts.read_images(spark, images_dir)
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet").union(
        spark.read.parquet(f"{images_dir}/lines.parquet")
    )
    cm = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}

    b_pc = pip_stage.per_cell_broadcast(
        spark, pip_stage.per_cell_feature_lists(feats)
    )
    classified = pip_stage.classify_images_prebroadcast(images, b_pc, cm, px=64)
    a = {
        (r["cell_id"], r["value"]): r["n"]
        for r in classified.groupBy("cell_id", "value")
        .agg(F.sum("n_points").alias("n"))
        .collect()
    }

    tile_df = images.select(tiling.cell_id_from_caption(1000).alias("cell_id"))
    pip_tiles = pip_stage.rasterize_features_cogrouped(tile_df, feats, cm, px=64)
    p = tiling.with_cell_id(pts.decode_points(images))
    rows = pip_stage.pip_classify_points(p, pip_tiles)
    b = {
        (r["cell_id"], r["value"]): r["n"]
        for r in tiling.with_cell_id(rows)
        .groupBy("cell_id", "value")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert a == b
    assert sum(a.values()) > 0


def test_skew_salted_tin_matches_unsalted(spark, images_dir):
    """North rule: dense tiles re-keyed below the grammar (quad split +
    halo).  Mechanism gate: on non-co-circular (jittered) dense points,
    the salted raster must be PSNR>=40dB vs the unsalted kernel — only
    triangles whose circumcircle reaches past the halo may differ.
    (Grid-center points are maximally co-circular, so the sub-TIN's
    different insertion order legally flips tie diagonals everywhere —
    SURVEY §7: never compare triangle lists.)"""
    rng = np.random.RandomState(99)
    minx, miny = 380000, 6666000  # a 1 km tile
    n = 30000
    xs = rng.uniform(minx, minx + 1000, n)
    ys = rng.uniform(miny, miny + 1000, n)
    zs = np.sin(xs / 37.0) * 8 + np.cos(ys / 53.0) * 6 + 100.0
    pdf = pd.DataFrame(
        {"x": xs, "y": ys, "z": zs, "cls": np.full(n, 2, dtype=np.int8)}
    )
    p = spark.createDataFrame(pdf)

    base = tin_stage.rasterize_tin_tiles(p, px=64, num_partitions=4).collect()
    salted = tin_stage.rasterize_tin_tiles_skew(
        p, px=64, dense_threshold=20000, split=2, halo=40.0, num_partitions=4
    ).collect()
    assert len(base) == 1 and len(salted) == 1
    a = png16_to_dem(bytes(base[0]["bytes"]), imagetile.Z_MIN, imagetile.Z_MAX)
    c = png16_to_dem(bytes(salted[0]["bytes"]), imagetile.Z_MIN, imagetile.Z_MAX)
    fa = np.nan_to_num(a, nan=-1.0)
    fc = np.nan_to_num(c, nan=-1.0)
    mse = float(((fa - fc) ** 2).mean())
    psnr = 99.0 if mse == 0 else 10 * np.log10(
        (imagetile.Z_MAX - imagetile.Z_MIN) ** 2 / mse
    )
    assert psnr >= 40.0, f"salted PSNR {psnr:.1f} dB"
    # lineage metrics survive the split+merge: interior points sum back
    assert salted[0]["n_points"] == n
    # sparse tiles bypass salting entirely: byte-identical to normal path
    images = pts.read_images(spark, images_dir)
    pp = pts.decode_points(images)
    b2 = {r["image_id"]: bytes(r["bytes"]) for r in
          tin_stage.rasterize_tin_tiles(pp, px=64, num_partitions=4).collect()}
    s2 = {r["image_id"]: bytes(r["bytes"]) for r in
          tin_stage.rasterize_tin_tiles_skew(
              pp, px=64, dense_threshold=20000, num_partitions=4).collect()}
    assert b2 == s2


def test_fused_images_match_point_tin_tiles(spark, images_dir):
    """The fused image path and the general points path run the same
    pure TIN over the same points, so every TILE_SCHEMA column agrees
    byte for byte on every tile."""
    images = pts.read_images(spark, images_dir)
    cols = tin_stage.TILE_COLUMNS
    fused = tin_stage.rasterize_images_fused(images, px=32).collect()
    general = tin_stage.rasterize_tin_tiles(pts.decode_points(images), px=32).collect()
    a = {r["image_id"]: tuple(r[c] for c in cols) for r in fused}
    b = {r["image_id"]: tuple(r[c] for c in cols) for r in general}
    assert len(a) == 9
    assert a == b


def test_run_pipeline_script_end_to_end(spark, images_dir, tmp_path):
    """``scripts/run_pipeline.py --stage all --resume`` as a subprocess:
    the TIN stage writes one tile per image (the cell ids that
    ``cell_id_from_caption`` derives from the captions) and the PIP
    stage prints the point-class histogram."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "out"
    env = {**os.environ, "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "run_pipeline.py"),
         "--stage", "all", "--sf", "0.001", "--cpus", "2", "--resume",
         "--out", str(out)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "tin_tiles: 9 tiles" in proc.stdout, proc.stdout
    assert "class histogram: " in proc.stdout, proc.stdout
    want = {
        r["cell_id"] for r in pts.read_images(spark, images_dir)
        .select(tiling.cell_id_from_caption(1000).alias("cell_id")).collect()
    }
    got = [r["cell_id"] for r in
           spark.read.parquet(str(out / "tin_tiles")).select("cell_id").collect()]
    assert len(want) == 9 and sorted(got) == sorted(want)
