"""ASCII sink stages + TIN triangle-feature export over Spark."""

import numpy as np
import pytest

from lasutility_spark import datagen
from lasutility_spark.engine import points as pts
from lasutility_spark.engine import sinks, tin_stage
from lasutility_spark.gridlib import wkb
from lasutility_spark.gridlib.imagetile import parse_caption
from lasutility_spark.gridlib.asc import ascii_to_byte_raster


@pytest.fixture(scope="module")
def images_dir():
    return datagen.ensure_images_table(0.001, base_dir="/root/repo/.cache")


def test_tiles_to_ascii_sink(spark, images_dir):
    images = pts.read_images(spark, images_dir)
    out = sinks.tiles_to_ascii(images).collect()
    # png16 DEM tiles produce both (deliberately inconsistent) DEM writers
    kinds = {r["kind"] for r in out}
    assert kinds == {"dem_ground", "dem_topdown"}
    assert len(out) == 2 * 9
    byk = {}
    for r in out:
        byk.setdefault(r["image_id"], {})[r["kind"]] = r
    some = next(iter(byk.values()))
    # 6 header lines + 64 rows each, but different content (S12 vs S13)
    assert some["dem_ground"]["n_lines"] == some["dem_topdown"]["n_lines"]
    assert some["dem_ground"]["sha"] != some["dem_topdown"]["sha"]


def test_window_sink_and_roundtrip(spark, images_dir):
    images = pts.read_images(spark, images_dir)
    tiles = tin_stage.rasterize_images_fused(images, px=32, partitions=2)
    # derive a PIP-style byte tile to test the .asc writer via a real kernel
    from lasutility_spark.engine import pip_stage
    from lasutility_spark.gridlib import topodb
    import pandas as pd

    caps = images.select("caption").toPandas()["caption"]
    mins = np.array([parse_caption(c)[1:3] for c in caps])
    from lasutility_spark.gridlib.tilenamer import cell_id as cid_fn

    tile_df = spark.createDataFrame(
        pd.DataFrame({"cell_id": cid_fn(mins[:, 0], mins[:, 1], 1000)})
    )
    feats = spark.read.parquet(f"{images_dir}/polygons.parquet")
    pip_tiles = pip_stage.rasterize_features_cogrouped(
        tile_df, feats, topodb.ALL_POLYGON, px=32
    )
    asc = sinks.tiles_to_ascii(pip_tiles).collect()
    assert all(r["kind"] == "asc" for r in asc)
    asp = sinks.tiles_to_ascii(pip_tiles, compressed=True).collect()
    assert all(r["kind"] == "asp" for r in asp)
    # RLE is never longer than dense for byte rasters of this kind
    dense = {r["image_id"]: r["n_chars"] for r in asc}
    for r in asp:
        assert r["n_chars"] <= dense[r["image_id"]]

    win = sinks.tiles_to_ascii_window(
        pip_tiles, 380100, 6666100, 380400, 6666400
    ).collect()
    assert len(win) == 1  # window intersects exactly the anchor tile
    assert win[0]["kind"] == "asc_window"


def test_tin_triangle_features(spark, images_dir):
    images = pts.read_images(spark, images_dir)
    p = pts.decode_points(images)
    tris = sinks.tin_to_triangle_features(p).limit(50).collect()
    assert len(tris) == 50
    g = wkb.decode(bytes(tris[0]["geom_wkb"]))
    assert g.kind == "Polygon"
    xs, ys = g.parts[0]
    assert len(xs) == 4 and xs[0] == xs[-1]  # closed triangle ring
    assert {"x0", "z2", "tri_id"} <= set(tris[0].asDict())


GOLDEN_SHP_DIR = (
    "/root/reference/LasUtility.Tests/TestFiles/Triangulation/"
    "AddPointCloudAndTriangulate/Input"
)


def test_write_polygonz_golden_byte_parity(tmp_path):
    """read the reference's committed DEM shapefile, re-write it with our
    writer -> ALL FOUR files byte-identical (NetTopologySuite layout:
    PolygonZ records, M = double.MinValue, CW shells, dBASE III ID
    column, UTF-8 .cpg)."""
    from lasutility_spark.gridlib import shp

    recs = shp.read_polygonz(GOLDEN_SHP_DIR + "/DEM.shp")
    assert len(recs) == 2939
    out = str(tmp_path / "DEM.shp")
    shp.write_polygonz(out, recs)
    for ext in (".shp", ".shx", ".dbf", ".cpg"):
        ours = open(str(tmp_path / "DEM") + ext, "rb").read()
        golden = open(GOLDEN_SHP_DIR + "/DEM" + ext, "rb").read()
        assert ours == golden, f"{ext} differs"


def test_write_triangle_shp_roundtrip(spark, images_dir, tmp_path):
    """S10 end-to-end: points -> TIN -> triangle features -> one PolygonZ
    shapefile per tile -> reader round trip (records in tri_id order,
    vertex sets preserved, ID attribute = tri_id)."""
    from lasutility_spark.gridlib import shp

    images = pts.read_images(spark, images_dir)
    p = pts.decode_points(images)
    tris = sinks.tin_to_triangle_features(p)
    out_dir = str(tmp_path / "shp")
    paths = sinks.write_triangle_shp(tris, out_dir)
    rows = tris.collect()
    by_tile = {}
    for r in rows:
        by_tile.setdefault(r["image_id"], []).append(r)
    assert {p.split("/")[-1][:-4] for p in paths} == set(by_tile)
    name, tile_rows = sorted(by_tile.items())[0]
    tile_rows.sort(key=lambda r: r["tri_id"])
    path = f"{out_dir}/{name}.shp"
    feats = shp.read_shapefile(path, class_column="ID")
    assert len(feats) == len(tile_rows)
    assert list(feats["luokka"]) == [r["tri_id"] for r in tile_rows]
    recs = shp.read_polygonz(path)
    for rec, r in zip(recs, tile_rows):
        (xs, ys, zs) = rec[0]
        want = {(r["x0"], r["y0"], r["z0"]), (r["x1"], r["y1"], r["z1"]),
                (r["x2"], r["y2"], r["z2"])}
        got = set(zip(xs[:-1], ys[:-1], zs[:-1]))
        assert got == want
    # writer enforces the ESRI shell convention: clockwise outer rings
    xs, ys, _ = recs[0][0]
    assert float(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1])) <= 0
