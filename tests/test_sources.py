"""The header-planned point source (engine/sources.py): what the driver
reads, how files split, and how a task refuses bytes that do not match
its plan."""

import os
import struct

import numpy as np
import pandas as pd
import pytest

from lasutility_spark.engine import sources
from lasutility_spark.gridlib import laz
from lasutility_spark.gridlib.las import read_header, read_las, write_las


def _xyzc(seed: int, n: int):
    rng = np.random.RandomState(seed)
    return (380000 + rng.rand(n) * 800, 6666000 + rng.rand(n) * 800,
            rng.rand(n) * 40, rng.choice([2, 3, 5], n).astype(np.uint8))


def _las(path, seed: int, n: int):
    path.write_bytes(write_las(*_xyzc(seed, n)))
    return str(path)


def _laz(path, seed: int, n: int, chunk_size: int):
    x, y, z, cls = _xyzc(seed, n)
    gps = np.sort(np.random.RandomState(seed).rand(n) * 3600) + 3e5
    path.write_bytes(laz.write_laz(x, y, z, cls, gps_time=gps,
                                   chunk_size=chunk_size))
    return str(path)


def _point_bytes(data: bytes) -> tuple[int, int]:
    """[start, end) of a file's point bytes: LAS records, or the LAZ
    chunks between the chunk-table offset and the chunk table."""
    h = read_header(data)
    start = h["offset_to_points"]
    if not h["point_format"] & 0x80:
        return start, start + h["point_count"] * h["record_len"]
    return start + 8, struct.unpack_from("<q", data, start)[0]


def _sorted_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    keys = ["x", "y", "z", "cls"]
    return pdf[keys].sort_values(keys).reset_index(drop=True)


def _want(x, y, z, cls) -> pd.DataFrame:
    return _sorted_rows(pd.DataFrame({"x": x, "y": y, "z": z,
                                      "cls": cls.astype("int16")}))


@pytest.mark.parametrize("max_bytes", [4096, 1 << 22])
def test_planning_reads_only_headers(tmp_path, monkeypatch, max_bytes):
    """The driver reads at most header + VLRs + 8 bytes + chunk table per
    file; a copy with every point byte set to 0xFF plans the same split
    rows; and the splits' byte ranges tile the point bytes exactly, so
    each task reads only its own range."""
    paths = [_las(tmp_path / "a.las", 1, 3000),
             _laz(tmp_path / "b.laz", 2, 5000, 700)]
    real_pread = os.pread
    for p in paths:
        data = open(p, "rb").read()
        start, end = _point_bytes(data)
        budget = len(data) - (end - start)  # header, VLRs, 8 B, table
        got = [0]

        def counting(fd, n, off):
            b = real_pread(fd, n, off)
            got[0] += len(b)
            return b

        monkeypatch.setattr(os, "pread", counting)
        rows = sources.plan_splits([p], max_bytes)
        monkeypatch.setattr(os, "pread", real_pread)
        assert got[0] <= budget, (p, got[0], budget)

        spans = sorted((s["start"], s["start"] + s["length"]) for _p, _w, s in rows)
        assert spans[0][0] == start and spans[-1][1] == end
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
        assert sum(w for _p, w, _s in rows) == len(data)
        if max_bytes == 4096:
            assert len(rows) > 1

        ff = tmp_path / ("ff-" + os.path.basename(p))
        ff.write_bytes(data[:start] + b"\xff" * (end - start) + data[end:])
        assert [r[1:] for r in sources.plan_splits([str(ff)], max_bytes)] == [
            r[1:] for r in rows
        ]


def test_large_files_split_into_several_tasks(spark, tmp_path):
    """Under a lowered spark.sql.files.maxPartitionBytes/openCostInBytes
    one LAS file and one multi-chunk LAZ file each scan as several tasks
    and give exactly read_las/read_laz's rows."""
    las_p = _las(tmp_path / "big.las", 3, 20_000)  # 400 KB of records
    laz_p = _laz(tmp_path / "big.laz", 4, 12_000, 500)  # 24 chunks
    confs = {"spark.sql.files.maxPartitionBytes": "65536",
             "spark.sql.files.openCostInBytes": "1"}
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for p, read in ((las_p, read_las), (laz_p, laz.read_laz)):
            n_splits = len(sources.plan_splits(
                [p], sources.split_bytes(spark, os.path.getsize(p))))
            assert n_splits > 1, p
            df = sources.read_las_points(spark, [p])
            want_parts = min(n_splits, spark.sparkContext.defaultParallelism)
            assert df.rdd.getNumPartitions() == want_parts > 1
            _h, x, y, z, cls = read(open(p, "rb").read())
            pd.testing.assert_frame_equal(_sorted_rows(df.toPandas()),
                                          _want(x, y, z, cls))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_laz_chunk_overrun_is_refused(spark, tmp_path):
    """A chunk table that moves 64 bytes from chunk 0 to chunk 1 keeps
    its sum, so the plan accepts it; chunk 0's decoder then reads past
    its buffer, and the scan raises ValueError instead of decoding the
    next chunk's bytes."""
    data = open(_laz(tmp_path / "ok.laz", 5, 3000, 1000), "rb").read()
    h, _vlr, chunks = laz.laz_chunk_plan(data)
    table_off = struct.unpack_from("<q", data, h["offset_to_points"])[0]
    starts = [s for s, _c in chunks] + [table_off]
    sizes = [b - a for a, b in zip(starts, starts[1:])]
    sizes[0] -= 64
    sizes[1] += 64
    # the moved boundary as a version-0 table, coded as write_laz codes it
    enc = laz.ArithmeticEncoder()
    ic = laz.IntegerCompressorEnc(enc, 32, 2)
    prev = 0
    for size in sizes:
        ic.compress(prev, size, 1)
        prev = size
    bad = data[:table_off] + struct.pack("<2I", 0, len(sizes)) + enc.done()
    assert len(laz.laz_chunk_plan(bad)[2]) == 3
    with pytest.raises(ValueError, match="past the end of its"):
        laz.read_laz(bad)
    p = tmp_path / "moved.laz"
    p.write_bytes(bad)
    with pytest.raises(Exception, match="ValueError: .*moved.laz, chunk at byte"):
        sources.read_las_points(spark, [str(p)]).count()


@pytest.mark.parametrize("items", [
    {}, {"gps"}, {"rgb"}, {"gps", "rgb"}, {"gps", "wave"},
    {"gps", "rgb", "wave"}, {"extra"}, {"gps", "rgb", "wave", "extra"},
])
def test_laz_chunk_lookahead_every_item_kind(items):
    """Each chunk decodes from exactly its own bytes, sized from the
    chunk table, for every item kind and chunk sizes 1-777: the
    decoder's legitimate lookahead past a chunk's end stays within the
    margin past which decode_laz_chunk refuses an overrun."""
    rng = np.random.RandomState(37)
    for chunk_size in (1, 2, 100, 777):
        n = 2000 if chunk_size > 2 else 30
        x, y, z, cls = _xyzc(len(items) + chunk_size, n)
        kw = {}
        if "gps" in items:
            kw["gps_time"] = np.sort(rng.rand(n) * 3600) + 3e5
        if "rgb" in items:
            kw["rgb"] = rng.randint(0, 1 << 16, (n, 3)).astype(np.uint16)
        if "wave" in items:
            kw["wavepacket"] = rng.randint(0, 256, (n, 29)).astype(np.uint8)
        if "extra" in items:
            kw["extra_bytes"] = rng.randint(0, 256, (n, 2)).astype(np.uint8)
        data = laz.write_laz(x, y, z, cls, chunk_size=chunk_size, **kw)
        h, vlr, chunks = laz.laz_plan(
            lambda off, k: data[off : off + k], len(data), read_header(data)
        )
        got = [laz.decode_laz_chunk(data[s:e], vlr, 0, c) for s, c, e in chunks]
        assert np.array_equal(np.concatenate([g[3] for g in got]), cls)
        sx, ox = h["scale"][0], h["offset"][0]
        assert np.allclose(np.concatenate([g[0] for g in got]) * sx + ox, x,
                           atol=0.0051)


def test_las_point_block_past_file_end_is_refused_on_the_driver(spark, tmp_path):
    """A LAS header whose point block runs past the file size is refused
    by read_las_points itself, naming the file, before any task runs."""
    p = tmp_path / "short.las"
    p.write_bytes(write_las(*_xyzc(6, 100))[:-1])
    with pytest.raises(ValueError, match="short.las: .*past the end"):
        sources.read_las_points(spark, [str(p)])


def test_las_task_refuses_a_short_read(spark, tmp_path):
    """A file cut short between planning and the action: the task's pread
    returns fewer bytes than planned, and it raises ValueError naming
    the path, the offset and both lengths."""
    p = _las(tmp_path / "cut.las", 7, 100)
    df = sources.read_las_points(spark, [p])
    os.truncate(p, os.path.getsize(p) - 40)
    with pytest.raises(Exception) as e:
        df.count()
    msg = str(e.value)
    assert "ValueError" in msg and p in msg, msg
    assert "read 1960 bytes at offset 227, the plan has 2000" in msg, msg

