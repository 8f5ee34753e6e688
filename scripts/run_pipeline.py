#!/usr/bin/env python
"""spark-submit entry point for the full pipeline.

Cluster launch (the north-rule shape; N vs 4N executors):

    python scripts/make_pyfiles.py            # -> dist/lasutility_spark.zip
    spark-submit --py-files dist/lasutility_spark.zip \
        scripts/run_pipeline.py --stage tin --out /data/out \
        [--images-dir DIR] [--px 128] [--resume]

In the sandbox the same script runs on local[N] (set --cpus).  Stages:

- tin:  images -> points -> per-tile Delaunay DEM tiles (checkpointed)
- pip:  features -> per-tile class rasters -> point classification
- all:  both
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", default="all", choices=["tin", "pip", "all"])
    ap.add_argument("--out", default="/root/repo/.cache/pipeline_out")
    ap.add_argument("--images-dir", default=None)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--px", type=int, default=128)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 8)))
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    from lasutility_spark import datagen
    from lasutility_spark.engine import checkpoint, pip_stage, points as epoints, tin_stage
    from lasutility_spark.engine.session import get_spark
    from lasutility_spark.engine.tiling import cell_id_from_caption
    from lasutility_spark.gridlib import topodb

    spark = get_spark(args.cpus, app="lasutility_pipeline")
    images_dir = args.images_dir or datagen.ensure_images_table(args.sf)
    images = epoints.read_images(spark, images_dir)
    tile_df = images.select(cell_id_from_caption(1000).alias("cell_id"))

    if args.stage in ("tin", "all"):
        path = os.path.join(args.out, "tin_tiles")
        params = {"px": args.px, "stage": "tin"}

        def compute(pending):
            from lasutility_spark.engine.tiling import with_cell_id

            # only the pending tiles' points, by a semi-join: the pending
            # key set never reaches the driver
            pts = with_cell_id(epoints.decode_points(images), 1000)
            return tin_stage.rasterize_tin_tiles(
                pts.join(pending, "cell_id", "left_semi"), px=args.px
            )

        if args.resume:
            out = checkpoint.resume_stage(
                spark, tile_df, path, compute, "tin", [images_dir], params
            )
        else:
            out = compute(tile_df)
            checkpoint.write_stage(out, path, "tin", [images_dir], params)
        n = spark.read.parquet(path).count()
        print(f"tin_tiles: {n} tiles -> {path}")

    if args.stage in ("pip", "all"):
        feats = spark.read.parquet(f"{images_dir}/polygons.parquet").union(
            spark.read.parquet(f"{images_dir}/lines.parquet")
        )
        classmap = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
        pip_tiles = pip_stage.rasterize_features_cogrouped(
            tile_df, feats, classmap, px=args.px
        )
        path = os.path.join(args.out, "pip_tiles")
        checkpoint.write_stage(
            pip_tiles, path, "pip", [images_dir], {"px": args.px}
        )
        classified = pip_stage.pip_classify_points(
            epoints.decode_points(images), spark.read.parquet(path)
        )
        hist = classified.groupBy("value").count().orderBy("value").collect()
        print(f"pip_tiles -> {path}; class histogram: "
              + ", ".join(f"{r['value']}:{r['count']}" for r in hist[:10]))

    spark.stop()


if __name__ == "__main__":
    main()
