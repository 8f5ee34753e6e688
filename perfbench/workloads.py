"""The four benchmark workloads and their output checks.

Each workload calls the engine's public entry points only.  A workload
has three phases:

- ``setup``: register (and where the engine expects it, cache) the
  inputs, build prepared dimensions; ``warmup`` then runs the kernels on
  part of the input.  The runner times both into ``setup_s``.
- ``job``: one complete pass over the inputs; the runner times it and
  counts its points and tiles.
- ``check``: compare the job's outputs with the input totals, with the
  digest of the first job of this seed, and with a sample of tiles
  re-derived in the driver through the public gridlib calls.

``replay`` times the public gridlib calls of the workload on a sample of
its tiles in the driver; the traced run reports those times per tile.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from functools import reduce

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lasutility_spark import datagen
from inputs import covered_cells
from lasutility_spark.engine import (
    checkpoint,
    pip_stage,
    sources,
    tiling,
    tin_stage,
    voxel,
)
from lasutility_spark.gridlib import tilenamer as tn
from lasutility_spark.gridlib import topodb, wkb
from lasutility_spark.gridlib.bounds import EPSILON, RasterBounds
from lasutility_spark.gridlib.clip import clip_polyline, clip_ring
from lasutility_spark.gridlib.las import read_las_file
from lasutility_spark.gridlib.laz import decode_laz_chunk, laz_chunk_plan
from lasutility_spark.gridlib.phash import phash64
from lasutility_spark.gridlib.png import dem_to_png16, png16_to_dem
from lasutility_spark.gridlib.scanline import (
    rasterize_linestring,
    rasterize_polygon_with_holes,
)
from lasutility_spark.gridlib.tilenamer import cell_id, cell_id_envelope, tile_decode
from lasutility_spark.gridlib.tin import Tin

PX = 128
SIZE_N = 1000
CLASSMAP = {**topodb.ALL_POLYGON, **topodb.ALL_LINE}
SAMPLE_TILES = 3


def digest(rows) -> str:
    """Order-independent digest of output rows (tuples of plain values)."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


class JobResult:
    """One job's outputs: counted points and tiles plus the rows the
    checks read."""

    def __init__(self, points: int, tiles: int, rows: list, extra: dict | None = None):
        self.points = points
        self.tiles = tiles
        self.rows = rows
        self.extra = extra or {}


def _timed(out: dict, key: str, fn, *args):
    t = time.perf_counter()
    r = fn(*args)
    out[key] = out.get(key, 0.0) + time.perf_counter() - t
    return r


def _tin_tile_row(x, y, z, cls, minx, miny, maxx, maxy, ground_max_first, times=None):
    """Driver-side DEM tile from points, through the public gridlib
    calls: optional ground max-z plane, then TIN fill of the remaining
    cells.  Returns (png16 bytes, phash, n_triangles, filled cells)."""
    times = {} if times is None else times
    bounds = RasterBounds(PX, PX, minx, miny, maxx, maxy)
    dem = np.full((PX, PX), np.nan, dtype=np.float32)
    pts = slice(None)
    if ground_max_first:
        pts = cls == topodb.CLS_GROUND
        row, col = bounds.proj_to_cell(x[pts], y[pts])
        ok = (row >= 0) & (col >= 0)
        acc = np.full(PX * PX, -np.inf)
        np.maximum.at(acc, row[ok].astype(np.int64) * PX + col[ok], z[pts][ok])
        dem.ravel()[acc > -np.inf] = acc[acc > -np.inf].astype(np.float32)
    n_tri = 0
    if len(x[pts]) >= 3:
        tin = _timed(times, "delaunay", Tin, x[pts], y[pts], z[pts], cls[pts])
        n_tri = tin.triangle_count
        locked = ~np.isnan(dem) if ground_max_first else None
        _timed(times, "tin_rasterize", tin.rasterize_dem, bounds, dem, locked)
    png = _timed(times, "png_encode", dem_to_png16, dem, datagen.Z_MIN, datagen.Z_MAX)
    ph = _timed(times, "phash", phash64, np.nan_to_num(dem))
    return png, ph, n_tri, int((~np.isnan(dem)).sum())


def _image_tile_points(cap: str, data: bytes, times=None):
    times = {} if times is None else times
    name, minx, miny, maxx, maxy, cs, _ = datagen.parse_caption(cap)
    dem = _timed(times, "png_decode", png16_to_dem, bytes(data), datagen.Z_MIN, datagen.Z_MAX)
    x, y, z, cls = _timed(
        times, "sample_points", datagen.sample_points_from_tile, name, dem, minx, miny, cs
    )
    return (name, minx, miny, maxx, maxy), (x, y, z, cls)


def _sample(rng_seed: int, items: list, k: int) -> list:
    rng = np.random.RandomState(rng_seed)
    return [items[i] for i in sorted(rng.choice(len(items), min(k, len(items)), replace=False))]


class Workload:
    name = ""
    min_jobs = 3  # the median needs three; the first job is often the slowest

    def __init__(self, root: str, manifest: dict, scratch: str, cpus: int):
        self.root = root
        self.m = manifest
        self.scratch = scratch
        self.cpus = cpus
        self.seed = manifest["seed"]
        self.setup_parts: dict[str, float] = {}

    def setup(self, spark) -> None:
        pass

    def warmup(self, spark) -> None:
        pass

    def teardown(self, spark) -> None:
        pass

    def job(self, spark, tracer, job_no: int) -> JobResult:
        raise NotImplementedError

    def check(self, r: JobResult, first: bool) -> list[str]:
        """Failures of the outputs against the inputs and the re-derived
        sample (the digest check is the runner's)."""
        raise NotImplementedError

    def replay(self) -> dict[str, float]:
        """Per-tile driver-side times (ms) of this workload's gridlib calls."""
        return {}


# -- dem_tiles -----------------------------------------------------------


class _ImageTiles(Workload):
    """Shared set-up of the two image-table workloads: the tile table
    is read, spread over the cores and cached, as a deployment keeps
    its hot tile table."""

    def _images_path(self) -> str:
        return os.path.join(self.root, "images.parquet")

    def setup(self, spark) -> None:
        t = time.perf_counter()
        self.images = (
            spark.read.parquet(self._images_path())
            .repartition(4 * self.cpus)
            .cache()
        )
        self.images.count()
        self.setup_parts["sources.cache_build_s"] = time.perf_counter() - t

    def teardown(self, spark) -> None:
        self.images.unpersist(blocking=True)

    def _warm_images(self):
        """An eighth of every cached partition: starts the Python workers
        on all cores and warms the JIT without a full job."""
        return self.images.sample(fraction=0.125, seed=0)

    def _sample_rows(self, k: int = SAMPLE_TILES) -> list[tuple[str, bytes]]:
        t = pq.read_table(self._images_path(), columns=["caption", "bytes"]).to_pydict()
        rows = list(zip(t["caption"], t["bytes"]))
        dense = [r for r in rows if datagen.is_dense_tile(r[0].split(";")[0])]
        # always one dense tile: the dense kernels are the expensive ones
        return _sample(self.seed, rows, k - 1) + _sample(self.seed, dense, 1)


class DemTiles(_ImageTiles):
    name = "dem_tiles"

    def _rows(self, images, tracer) -> list[tuple]:
        with tracer.span("tin_stage.rasterize_images_fused"):
            tiles = tin_stage.rasterize_images_fused(images, px=PX)
        with tracer.span("collect"):
            rows = tiles.select(
                "cell_id", "image_id", "n_points", "n_triangles", "filled_cells",
                "phash", F.sha2("bytes", 256).alias("sha"),
            ).collect()
        return [tuple(r) for r in rows]

    def warmup(self, spark) -> None:
        self._rows(self._warm_images(), _NO_TRACE)

    def job(self, spark, tracer, job_no):
        rows = self._rows(self.images, tracer)
        return JobResult(sum(r[2] for r in rows), len(rows), rows)

    def check(self, r, first):
        bad = []
        if r.tiles != self.m["tiles"] or len({x[0] for x in r.rows}) != self.m["tiles"]:
            bad.append(f"tiles {r.tiles} != {self.m['tiles']}")
        if r.points != self.m["points"]:
            bad.append(f"points {r.points} != {self.m['points']}")
        if first:
            by_name = {x[1]: x for x in r.rows}
            for cap, data in self._sample_rows():
                (name, minx, miny, maxx, maxy), (x, y, z, cls) = _image_tile_points(cap, data)
                png, ph, n_tri, filled = _tin_tile_row(
                    x, y, z, cls, minx, miny, maxx, maxy, False
                )
                want = (len(x), n_tri, filled, ph, hashlib.sha256(png).hexdigest())
                got = by_name.get(name)
                if got is None or tuple(got[2:]) != want:
                    bad.append(f"tile {name} differs from the driver re-derivation")
        return bad

    def replay(self):
        times, npts, ntri = {}, [], []
        for cap, data in self._sample_rows(8):
            (_n, minx, miny, maxx, maxy), (x, y, z, cls) = _image_tile_points(cap, data, times)
            _png, _ph, n_tri, _f = _tin_tile_row(
                x, y, z, cls, minx, miny, maxx, maxy, False, times
            )
            npts.append(len(x))
            ntri.append(n_tri)
        out = {f"gridlib.{k}_ms": 1e3 * v / len(npts) for k, v in times.items()}
        out["gridlib.points_per_tile"] = float(np.mean(npts))
        out["gridlib.triangles_per_tile"] = float(np.mean(ntri))
        return out


# -- pip_classify --------------------------------------------------------


def _pip_raster(cell: int, feats: list, times: dict) -> np.ndarray:
    """Driver-side class raster of one tile through the public gridlib
    calls: features in seq order, clipped to the tile, polygons filled
    even-odd with holes, lines drawn."""
    minx, miny, maxx, maxy = (
        int(v) for v in np.array(cell_id_envelope(np.array([cell]), SIZE_N)).ravel()
    )
    bounds = RasterBounds(PX, PX, minx, miny, maxx, maxy)
    raster = np.zeros((PX, PX), np.uint8)
    temp = np.zeros((PX, PX), np.uint8)
    box = (minx, miny, maxx - EPSILON, maxy - EPSILON)
    for _seq, luokka, g in sorted(feats, key=lambda t: t[0]):
        value = CLASSMAP.get(int(luokka))
        if value is None:
            continue
        geom = _timed(times, "wkb_decode", wkb.decode, g)
        for rings in geom.polygons():
            ext = _timed(times, "clip", clip_ring, rings[0][0], rings[0][1], *box)
            if ext is None:
                continue
            holes = [h for h in (_timed(times, "clip", clip_ring, hx, hy, *box)
                                 for hx, hy in rings[1:]) if h is not None]
            rmin, cmin = bounds.proj_to_cell_scalar(float(ext[0].min()), float(ext[1].min()))
            rmax, cmax = bounds.proj_to_cell_scalar(float(ext[0].max()), float(ext[1].max()))
            _timed(times, "scanline", rasterize_polygon_with_holes, bounds, raster,
                   int(value), ext, holes, rmin, rmax, cmin, cmax, temp)
        for lx, ly in geom.linestrings():
            for sx, sy in _timed(times, "clip", clip_polyline, lx, ly, *box):
                _timed(times, "scanline", rasterize_linestring, bounds, raster, int(value), sx, sy)
    return raster


def _caption_cell(cap: str) -> int:
    _n, minx, miny = datagen.parse_caption(cap)[:3]
    return int(cell_id(np.array([minx]), np.array([miny]), SIZE_N)[0])


class PipClassify(_ImageTiles):
    name = "pip_classify"
    min_jobs = 2  # the warm-up reaches every partition: the first job is close to the rest

    def setup(self, spark) -> None:
        super().setup(spark)
        t = time.perf_counter()
        self.features = spark.read.parquet(
            os.path.join(self.root, "features.parquet")
        ).cache()
        self.features.count()
        self.setup_parts["sources.cache_build_s"] += time.perf_counter() - t

    def teardown(self, spark) -> None:
        super().teardown(spark)
        self.features.unpersist(blocking=True)

    def _classify(self, spark, images, tracer):
        with tracer.span("pip_stage.prep"):
            with tracer.span("pip_stage.per_cell_feature_lists"):
                per_cell = pip_stage.per_cell_feature_lists(self.features, SIZE_N)
            with tracer.span("pip_stage.per_cell_broadcast"):
                b = pip_stage.per_cell_broadcast(spark, per_cell)
        try:
            with tracer.span("pip_stage.classify_images_prebroadcast"):
                out = pip_stage.classify_images_prebroadcast(images, b, CLASSMAP, px=PX)
            with tracer.span("collect"):
                rows = [tuple(r) for r in out.collect()]
            lists = b.value
            extra = {
                "cover_rows": sum(len(v) for v in lists.values()),
                "broadcast_bytes": sum(
                    len(g) + 16 for v in lists.values() for _s, _l, g in v
                ),
            }
        finally:
            b.destroy()
        return rows, extra

    def warmup(self, spark) -> None:
        self._classify(spark, self._warm_images(), _NO_TRACE)

    def job(self, spark, tracer, job_no):
        rows, extra = self._classify(spark, self.images, tracer)
        return JobResult(
            sum(r[3] for r in rows), len({r[0] for r in rows}), rows, extra
        )

    def _features_of(self, cells: set[int]) -> dict[int, list]:
        """cell -> [(seq, luokka, wkb)] from the features file and its
        stored envelopes (independent of the engine's cover explode)."""
        t = pq.read_table(os.path.join(self.root, "features.parquet")).to_pydict()
        out = {c: [] for c in cells}
        for i in range(len(t["seq"])):
            env = (t["minx"][i], t["miny"][i], t["maxx"][i], t["maxy"][i])
            for c in set(covered_cells(*env)) & cells:
                out[c].append((t["seq"][i], t["luokka"][i], t["geom_wkb"][i]))
        return out

    def check(self, r, first):
        bad = []
        if r.tiles != self.m["tiles"]:
            bad.append(f"tiles {r.tiles} != {self.m['tiles']}")
        if r.points != self.m["points"]:
            bad.append(f"points {r.points} != {self.m['points']}")
        if first:
            cells = {_caption_cell(cap): (cap, data) for cap, data in self._sample_rows()}
            feats = self._features_of(set(cells))
            for cell, (cap, data) in cells.items():
                raster = _pip_raster(cell, feats[cell], {})
                (name, minx, miny, maxx, _my), (x, y, _z, _c) = _image_tile_points(cap, data)
                rcs = (maxx - minx) / PX
                vals = raster[((y - miny) / rcs).astype(np.int64), ((x - minx) / rcs).astype(np.int64)]
                uv, cnt = np.unique(vals, return_counts=True)
                want = sorted((cell, name, int(v), int(n)) for v, n in zip(uv, cnt))
                if sorted(x for x in r.rows if x[0] == cell) != want:
                    bad.append(f"tile {name} differs from the driver re-derivation")
        return bad

    def replay(self):
        rows = self._sample_rows(8)
        cells = [_caption_cell(cap) for cap, _d in rows]
        feats = self._features_of(set(cells))
        times = {}
        for (cap, data), c in zip(rows, cells):
            _image_tile_points(cap, data, times)  # the kernel's point sampling
            _pip_raster(c, feats[c], times)
        out = {f"gridlib.{k}_ms": 1e3 * v / len(cells) for k, v in times.items()}
        out["gridlib.features_per_tile"] = float(np.mean([len(feats[c]) for c in cells]))
        out["gridlib.covers_per_feature"] = float(self.m["covers_per_feature"])
        return out


# -- strips_dem ----------------------------------------------------------


class StripsDem(Workload):
    name = "strips_dem"
    PARAMS = {"px": PX, "ground_max_first": True}
    # one job, as a batch run of the production path makes it: the first
    # full job after set-up (~40 Spark jobs, most of them the checkpoint
    # protocol, whose plans are compiled in this job)
    min_jobs = 1

    def _paths(self) -> list[str]:
        return [os.path.join(self.root, f) for f in self.m["files"]]

    def _cells(self) -> list[int]:
        return [
            int(cell_id(np.array([tile_decode(t)[0]]), np.array([tile_decode(t)[1]]), SIZE_N)[0])
            for t in self.m["tile_names"]
        ]

    def setup(self, spark) -> None:
        cells = self._cells()
        cols = sorted({c & 0xFFFFFFFF for c in cells})
        self.west_max_col = cols[self.m["west_cols"] - 1]
        self.wanted = spark.createDataFrame([(c,) for c in cells], "cell_id long").cache()
        self.wanted.count()

    def teardown(self, spark) -> None:
        self.wanted.unpersist(blocking=True)

    def _run(self, spark, paths, path, tracer):
        with tracer.span("sources.read_las_points"):
            points = sources.read_las_points(spark, paths)
        with tracer.span("tin_stage.rasterize_tin_tiles"):
            tiles = tin_stage.rasterize_tin_tiles(points, px=PX, ground_max_first=True)
        west = tiles.filter(F.col("cell_id").bitwiseAND(0xFFFFFFFF) <= self.west_max_col)
        with tracer.span("checkpoint.write_stage"):
            checkpoint.write_stage(west, path, "dem", paths, self.PARAMS)
        with tracer.span("checkpoint.resume_stage"):
            out = checkpoint.resume_stage(
                spark, self.wanted, path,
                lambda todo: tiles.join(todo, "cell_id", "left_semi"),
                "dem", paths, self.PARAMS,
            )
        with tracer.span("collect"):
            rows = out.select(
                "cell_id", "image_id", "n_points", "n_triangles", "filled_cells",
                "a2_filled_cells", "phash", F.sha2("bytes", 256).alias("sha"),
            ).collect()
        return [tuple(r) for r in rows]

    def warmup(self, spark) -> None:
        """Read and TIN on one file per core (one task per file), so that
        every core has its Python worker before the measured job."""
        points = sources.read_las_points(spark, self._paths()[: self.cpus])
        tin_stage.rasterize_tin_tiles(points, px=PX, ground_max_first=True).select(
            "cell_id"
        ).collect()

    def job(self, spark, tracer, job_no):
        path = os.path.join(self.scratch, f"ckpt-{job_no}")
        shutil.rmtree(path, ignore_errors=True)
        rows = self._run(spark, self._paths(), path, tracer)
        m = checkpoint.load_manifest(path) or {}
        snaps = m.get("snapshots", [])
        n_files, n_bytes = 0, 0
        for d, _s, fs in os.walk(path):
            n_files += len(fs)
            n_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
        pending = self.m["tiles"] - sum(1 for r in rows if (r[0] & 0xFFFFFFFF) <= self.west_max_col)
        extra = {
            "files_written": n_files,
            "bytes_written": n_bytes,
            "recompute_ratio": (snaps[-1]["n_keys"] / pending) if len(snaps) > 1 and pending else 0.0,
            "tile_points": [r[2] for r in rows],
        }
        shutil.rmtree(path, ignore_errors=True)
        return JobResult(sum(r[2] for r in rows), len(rows), rows, extra)

    def _points(self):
        xs, ys, zs, cs = [], [], [], []
        for p in self._paths():
            _h, x, y, z, c = read_las_file(p)
            xs.append(x), ys.append(y), zs.append(z), cs.append(c)
        return (np.concatenate(xs), np.concatenate(ys), np.concatenate(zs),
                np.concatenate(cs).astype(np.uint8))

    def _sample_tiles(self, k: int) -> list[str]:
        names = [t for t in self.m["tile_names"] if t != self.m["city_tile"]]
        return _sample(self.seed, names, k - 1) + [self.m["city_tile"]]

    def _tile_points(self, pts, name):
        minx, miny, maxx, maxy = tile_decode(name)
        x, y, z, c = pts
        sel = (x >= minx) & (x < maxx) & (y >= miny) & (y < maxy)
        return (x[sel], y[sel], z[sel], c[sel]), (minx, miny, maxx, maxy)

    def check(self, r, first):
        bad = []
        cells = [x[0] for x in r.rows]
        if sorted(cells) != sorted(self._cells()):
            bad.append(f"tiles {sorted(cells)} != the strip block")
        if r.points != self.m["points"]:
            bad.append(f"points {r.points} != {self.m['points']}")
        if first:
            pts = self._points()
            by_name = {x[1]: x for x in r.rows}
            for name in self._sample_tiles(SAMPLE_TILES):
                (x, y, z, c), env = self._tile_points(pts, name)
                png, ph, n_tri, filled = _tin_tile_row(x, y, z, c, *env, True)
                got = by_name.get(name)
                want = (len(x), n_tri, filled, ph, hashlib.sha256(png).hexdigest())
                if got is None or (got[2], got[3], got[4], got[6], got[7]) != want:
                    bad.append(f"tile {name} differs from the driver re-derivation")
        return bad

    def replay(self):
        t = time.perf_counter()
        pts = self._points()
        las_s = time.perf_counter() - t
        times, npts, ntri = {}, [], []
        for name in self._sample_tiles(4):
            (x, y, z, c), env = self._tile_points(pts, name)
            _png, _ph, n_tri, _f = _tin_tile_row(x, y, z, c, *env, True, times)
            npts.append(len(x))
            ntri.append(n_tri)
        out = {f"gridlib.{k}_ms": 1e3 * v / len(npts) for k, v in times.items()}
        out["gridlib.points_per_tile"] = float(np.mean(npts))
        out["gridlib.triangles_per_tile"] = float(np.mean(ntri))
        out["las.read_s_per_mpoint"] = las_s / (len(pts[0]) / 1e6)
        return out


# -- laz_dsm -------------------------------------------------------------


class LazDsm(Workload):
    name = "laz_dsm"
    LO, HI = topodb.CLS_LOW_VEGETATION, topodb.CLS_HIGH_VEGETATION

    def _paths(self) -> list[str]:
        return [os.path.join(self.root, f) for f in self.m["files"]]

    def _run(self, spark, paths, tracer):
        with tracer.span("sources.read_laz_points_chunked"):
            points = reduce(
                lambda a, b: a.unionByName(b),
                [sources.read_laz_points_chunked(spark, p) for p in paths],
            )
        with tracer.span("tiling.local_cell_cols"):
            points = tiling.with_cell_id(points, SIZE_N)
            row, col = tiling.local_cell_cols(
                F.col("x"), F.col("y"), F.col("cell_id"), SIZE_N, PX
            )
            points = points.select("cell_id", row, col, "z", "cls")
        with tracer.span("voxel.surface_model"):
            dsm = voxel.surface_model(points, self.LO, self.HI)
        with tracer.span("collect"):
            pdf = dsm.toPandas()
        return list(zip(pdf["cell_id"].tolist(), pdf["row"].tolist(),
                        pdf["col"].tolist(), pdf["h"].tolist()))

    def warmup(self, spark) -> None:
        """The whole path on enough strips for one chunk (one task) per
        core, so that every core has its Python worker before the jobs."""
        per_file = -(-self.m["chunks"] // len(self.m["files"]))
        self._run(spark, self._paths()[: -(-self.cpus // per_file)], _NO_TRACE)

    def job(self, spark, tracer, job_no):
        rows = self._run(spark, self._paths(), tracer)
        return JobResult(self.m["points"], len({r[0] for r in rows}), rows)

    def _first_chunk(self, times=None):
        """Points of the first chunk of the first strip, decoded in the
        driver, with header scale and offset applied as the engine does."""
        times = {} if times is None else times
        with open(self._paths()[0], "rb") as f:
            data = f.read()
        header, vlr, chunks = laz_chunk_plan(data)
        (sx, sy, sz), (ox, oy, oz) = header["scale"], header["offset"]
        s, c = chunks[0]
        xs, ys, zs, cls, *_ = _timed(times, "decode", decode_laz_chunk, data, vlr, int(s), int(c))
        return xs * sx + ox, ys * sy + oy, zs * sz + oz, cls.astype(np.int64)

    def check(self, r, first):
        bad = []
        if len(r.rows) != len({x[:3] for x in r.rows}):
            bad.append("duplicate cells in the surface model")
        if first:
            # cells west of the second strip and south of the first
            # chunk's last point hold points of that chunk only
            x, y, z, cls = self._first_chunk()
            strip0_x0 = float(x.min())
            x_limit, y_limit = strip0_x0 + 340.0, float(y.max()) - 1.0
            cid = cell_id(x, y, SIZE_N)
            minx = (cid & 0xFFFFFFFF) * 1000.0 + tn.ORIGIN_EAST
            miny = (cid >> 32) * 1000.0 + tn.ORIGIN_NORTH
            cw = 1000.0 / PX
            col = np.floor((x - minx) / cw).astype(np.int64)
            row = np.floor((y - miny) / cw).astype(np.int64)
            cx1 = minx + (col + 1) * cw
            cy1 = miny + (row + 1) * cw
            keep = (minx + col * cw >= strip0_x0 + cw) & (cx1 < x_limit) & (cy1 < y_limit)
            want = {}
            for k in zip(cid[keep], row[keep], col[keep], z[keep], cls[keep]):
                key = (int(k[0]), int(k[1]), int(k[2]))
                veg, gnd = want.get(key, (None, None))
                if self.LO <= k[4] <= self.HI:
                    veg = k[3] if veg is None else max(veg, k[3])
                elif k[4] == topodb.CLS_GROUND:
                    gnd = k[3] if gnd is None else max(gnd, k[3])
                want[key] = (veg, gnd)
            got = {x[:3]: x[3] for x in r.rows}
            for key, (veg, gnd) in want.items():
                h = veg if veg is not None else (gnd if gnd is not None else -9999.0)
                if got.get(key) != h:
                    bad.append(f"cell {key} differs from the driver re-derivation")
                    break
            if not want:
                bad.append("no cells to re-derive")
        return bad

    def replay(self):
        times = {}
        x = self._first_chunk(times)[0]
        return {"laz.decode_s_per_mpoint": times["decode"] / (len(x) / 1e6)}


class _NoTrace:
    def span(self, name):
        return _NullSpan()


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_TRACE = _NoTrace()

WORKLOADS = {w.name: w for w in (DemTiles, StripsDem, PipClassify, LazDsm)}
