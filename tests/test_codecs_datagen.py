"""PNG/WKB/clip/phash codecs + deterministic datagen."""

import numpy as np
import pytest

from lasutility_spark.datagen import (
    ensure_images_table,
    gen_tile_rows,
    parse_caption,
    sample_points_from_tile,
    terrain_z,
    tile_names,
)
from lasutility_spark.gridlib.bounds import RasterBounds
from lasutility_spark.gridlib.clip import clip_polyline, clip_ring
from lasutility_spark.gridlib.phash import hamming64, phash64
from lasutility_spark.gridlib.png import (
    dem_to_png16,
    png16_to_dem,
    png_decode,
    png_encode,
)
from lasutility_spark.gridlib.raster import crop, get_value
from lasutility_spark.gridlib.wkb import (
    decode,
    encode_linestring,
    encode_multilinestring,
    encode_multipolygon,
    encode_polygon,
)


def test_png8_roundtrip():
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (37, 53), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)


def test_png16_roundtrip():
    rng = np.random.RandomState(1)
    img = rng.randint(0, 65536, (64, 64), dtype=np.uint16)
    out = png_decode(png_encode(img))
    assert out.dtype == np.uint16
    assert np.array_equal(out, img)


def test_dem_png16_psnr():
    # quantized DEM round-trip must beat the 40 dB gate (BASELINE input_hint)
    rng = np.random.RandomState(2)
    dem = (200 + 50 * rng.rand(128, 128)).astype(np.float32)
    dem[0, 0] = np.nan
    back = png16_to_dem(dem_to_png16(dem, 0.0, 500.0), 0.0, 500.0)
    assert np.isnan(back[0, 0])
    ok = ~np.isnan(dem)
    mse = float(np.mean((back[ok] - dem[ok]) ** 2))
    peak = 500.0
    psnr = 10 * np.log10(peak**2 / max(mse, 1e-12))
    assert psnr >= 40, psnr


def test_wkb_roundtrip():
    xs = np.array([0.0, 10.0, 10.0, 0.0, 0.0])
    ys = np.array([0.0, 0.0, 10.0, 10.0, 0.0])
    hole = (xs * 0.2 + 4, ys * 0.2 + 4)
    g = decode(encode_polygon([(xs, ys), hole]))
    assert g.kind == "Polygon" and len(g.parts) == 2
    assert np.allclose(g.parts[0][0], xs)
    mp = decode(encode_multipolygon([[(xs, ys)], [(xs + 20, ys)]]))
    assert mp.kind == "MultiPolygon" and len(mp.polygons()) == 2
    ls = decode(encode_linestring(xs, ys))
    assert ls.kind == "LineString"
    assert ls.envelope() == (0.0, 0.0, 10.0, 10.0)


def test_clip_ring_and_polyline():
    xs = np.array([-5.0, 15.0, 15.0, -5.0])
    ys = np.array([2.0, 2.0, 8.0, 8.0])
    cx, cy = clip_ring(xs, ys, 0, 0, 10, 10)
    assert cx.min() >= 0 and cx.max() <= 10
    assert clip_ring(xs, ys, 100, 100, 110, 110) is None

    lx = np.array([-5.0, 5.0, 5.0, 20.0])
    ly = np.array([5.0, 5.0, 9.0, 9.0])
    parts = clip_polyline(lx, ly, 0, 0, 10, 10)
    allx = np.concatenate([p[0] for p in parts])
    assert allx.min() >= 0 and allx.max() <= 10


def test_phash_properties():
    rng = np.random.RandomState(3)
    img = rng.rand(100, 100)
    h1 = phash64(img)
    assert h1 == phash64(img)  # deterministic
    noisy = img + rng.rand(100, 100) * 0.01
    assert hamming64(h1, phash64(noisy)) <= 6  # near-dup stays close
    other = rng.rand(100, 100)
    assert hamming64(h1, phash64(other)) > 10


def test_raster_crop_and_lookup():
    b = RasterBounds(10, 10, 0, 0, 10, 10)
    r = np.zeros((10, 10), dtype=np.uint8)
    r[3, 4] = 99
    sub, nb = crop(r, b, 2, 2, 6, 6)
    assert sub.shape == (4, 4) and sub[1, 2] == 99
    assert nb.minx == 2 and nb.maxx == 6
    v = get_value(r, b, np.array([4.5, 0.5, 50.0]), np.array([3.5, 0.5, 50.0]))
    assert v[0] == 99 and np.isnan(v[1]) and np.isnan(v[2])


def test_datagen_deterministic_and_decodable(tmp_path):
    names = tile_names(4)
    df1 = gen_tile_rows(names, px=64)
    df2 = gen_tile_rows(names, px=64)
    assert (df1["phash"] == df2["phash"]).all()
    assert (df1["bytes"] == df2["bytes"]).all()  # bit-identical

    row = df1.iloc[0]
    name, minx, miny, maxx, maxy, cs, nodata = parse_caption(row["caption"])
    assert name == row["image_id"]
    assert maxx - minx == 1000 and cs == 1000 / 64
    dem = png16_to_dem(row["bytes"], 0.0, 500.0)
    assert dem.shape == (64, 64)
    # decoded pixels ~= terrain at cell centers (quantization error only)
    cols, rows_ = np.meshgrid(np.arange(64), np.arange(64))
    expect = terrain_z(minx + (cols + 0.5) * cs, miny + (rows_ + 0.5) * cs)
    assert np.abs(dem - expect).max() < 0.01

    x, y, z, cls = sample_points_from_tile(name, dem, minx, miny, cs)
    assert len(x) > 100
    assert set(np.unique(cls)) <= {2, 3, 4, 5}
    assert ((x >= minx) & (x < maxx)).all()


def test_ensure_images_table(tmp_path):
    out = ensure_images_table(0.001, base_dir=str(tmp_path))
    import pyarrow.parquet as pq

    t = pq.read_table(f"{out}/images.parquet")
    assert t.num_rows == 9
    assert t.column_names == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "minx", "miny",
    ]
    p = pq.read_table(f"{out}/polygons.parquet")
    assert p.num_rows >= 40
    g = decode(p.column("geom_wkb")[0].as_py())
    assert g.kind == "Polygon"


def test_png_rgb8_mirrored_sink():
    """S9 WriteAsPng analog: mirrored rows, value on all 3 channels
    (ByteRaster.cs:124-153)."""
    from lasutility_spark.gridlib.png import png_decode, png_encode_rgb8_mirrored

    r = np.zeros((4, 3), dtype=np.uint8)
    r[0, 0] = 7   # southwest corner -> image bottom-left
    r[3, 2] = 99  # northeast corner -> image top-right
    img = png_decode(png_encode_rgb8_mirrored(r))
    assert img.shape == (4, 3, 3)
    assert tuple(img[3, 0]) == (7, 7, 7)
    assert tuple(img[0, 2]) == (99, 99, 99)
    assert img.sum() == 3 * (7 + 99)



def test_ensure_images_table_reuses_v8_cache(tmp_path):
    """A cache carrying the ``_SUCCESS_v8`` marker — including one written
    before the media side tables were dropped — is returned as is, with
    nothing regenerated."""
    out = tmp_path / "images_n9"
    out.mkdir()
    (out / "_SUCCESS_v8").touch()
    (out / "audio.parquet").write_bytes(b"stale")
    assert ensure_images_table(0.001, base_dir=str(tmp_path)) == str(out)
    assert sorted(p.name for p in out.iterdir()) == ["_SUCCESS_v8", "audio.parquet"]


def test_wkb_decode_refuses_corrupt_input():
    """Every truncation of a WKB value, and trailing bytes, raise
    ValueError; a random bit flip either decodes or raises ValueError —
    never struct.error, IndexError or a recursion blow-up."""
    xs = np.array([0.0, 10.0, 10.0, 0.0, 0.0])
    ys = np.array([0.0, 0.0, 10.0, 10.0, 0.0])
    hole = (xs * 0.2 + 4, ys * 0.2 + 4)
    geoms = [
        encode_linestring(xs, ys),
        encode_polygon([(xs, ys), hole]),
        encode_multipolygon([[(xs, ys), hole], [(xs + 20, ys)]]),
        encode_multilinestring([(xs, ys), (xs[:3], ys[:3] + 5)]),
    ]
    rng = np.random.RandomState(7)
    for g in geoms:
        decode(g)
        for cut in range(len(g)):
            with pytest.raises(ValueError):
                decode(g[:cut])
        with pytest.raises(ValueError):
            decode(g + b"\x00")
        for bit in rng.randint(0, 8 * len(g), 300):
            flipped = bytearray(g)
            flipped[bit // 8] ^= 1 << (bit % 8)
            try:
                decode(bytes(flipped))
            except ValueError:
                pass
