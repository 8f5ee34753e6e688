"""The native LASzip decoder (``gridlib/_laszip.c``) against the Python
oracle (``tests/laz_oracle.py``): identical arrays on every
``write_laz`` item mix and chunk size, and the same verdict on mutated
chunks — the same arrays, or ``ValueError`` from both.  The chunk-table
kernel is held to the oracle's table loop the same way, directly and
through ``laz_chunk_plan``.  The last test runs the mutated corpora
through an AddressSanitizer build of the kernel, on exactly sized heap
buffers."""

import os
import pickle
import signal
import struct
import subprocess
import sys
from contextlib import contextmanager

import numpy as np
import pytest

import laz_oracle
from lasutility_spark.gridlib import _native, laz
from lasutility_spark.gridlib.las import read_header

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the item mixes of test_sources.test_laz_chunk_lookahead_every_item_kind
ITEM_MIXES = [
    (), ("gps",), ("rgb",), ("gps", "rgb"), ("gps", "wave"),
    ("gps", "rgb", "wave"), ("extra",), ("gps", "rgb", "wave", "extra"),
]


def write_mix(items, chunk_size: int, n: int, seed: int) -> bytes:
    """Seeded ``write_laz`` bytes carrying the items named in ``items``."""
    rng = np.random.RandomState(seed)
    x = 380000 + rng.rand(n) * 800
    y = 6666000 + rng.rand(n) * 800
    z = rng.rand(n) * 40
    cls = rng.choice([2, 3, 5], n).astype(np.uint8)
    kw = {}
    if "gps" in items:
        kw["gps_time"] = np.sort(rng.rand(n) * 3600) + 3e5
    if "rgb" in items:
        kw["rgb"] = rng.randint(0, 1 << 16, (n, 3)).astype(np.uint16)
    if "wave" in items:
        kw["wavepacket"] = rng.randint(0, 256, (n, 29)).astype(np.uint8)
    if "extra" in items:
        kw["extra_bytes"] = rng.randint(0, 256, (n, 2)).astype(np.uint8)
    return laz.write_laz(x, y, z, cls, chunk_size=chunk_size, **kw)


def plan(data: bytes):
    """-> (vlr, [(start, count, end)]) of a LAZ file in memory."""
    _h, vlr, chunks = laz.laz_plan(
        lambda off, k: data[off : off + k], len(data), read_header(data)
    )
    return vlr, chunks


def mutated_chunks(seed: int = 41):
    """(vlr, chunk bytes, count) for the first chunk of a 100-point-chunk
    file of every item mix, cut at every byte of its first 64 and at 16
    seeded lengths, and with 24 seeded single-byte flips."""
    rng = np.random.RandomState(seed)
    for k, items in enumerate(ITEM_MIXES):
        data = write_mix(items, 100, 300, seed + k)
        vlr, chunks = plan(data)
        s, c, e = chunks[0]
        chunk = data[s:e]
        cuts = list(range(64)) + sorted(rng.randint(64, len(chunk), 16))
        for cut in cuts:
            yield vlr, chunk[:cut], c
        for _ in range(24):
            b = bytearray(chunk)
            b[rng.randint(len(b))] ^= int(rng.randint(1, 256))
            yield vlr, bytes(b), c


# (chunk_size, points) -> 1, 2, 10, 13 and 25 chunks
TABLE_SHAPES = [(777, 500), (777, 1000), (100, 1000), (2, 25), (1, 25)]


def table_of(data: bytes) -> tuple[int, bytes]:
    """-> (chunk table offset, table bytes) of a LAZ file in memory."""
    (off,) = struct.unpack_from("<q", data, read_header(data)["offset_to_points"])
    return off, data[off:]


def table_files(seed: int = 43):
    """``write_laz`` bytes of every item mix in every TABLE_SHAPES shape."""
    for k, items in enumerate(ITEM_MIXES):
        for chunk_size, n in TABLE_SHAPES:
            yield write_mix(items, chunk_size, n, seed + k)


def mutated_tables(seed: int = 47):
    """(coded table bytes, count) of every ``table_files`` table: whole,
    cut at every byte, asked for 5 sizes more than it codes, and with 8
    seeded single-byte flips."""
    rng = np.random.RandomState(seed)
    for data in table_files():
        _off, table = table_of(data)
        count = struct.unpack_from("<I", table, 4)[0]
        coded = table[8:]
        for cut in range(len(coded) + 1):
            yield coded[:cut], count
        yield coded, count + 5
        for _ in range(8):
            b = bytearray(coded)
            b[rng.randint(len(b))] ^= int(rng.randint(1, 256))
            yield bytes(b), count


@contextmanager
def alarm(seconds: int):
    def hang(_signum, _frame):
        raise TimeoutError("LAZ chunk decode did not return")

    old = signal.signal(signal.SIGALRM, hang)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def _decode(fn, *args):
    """-> the nine results, or the ValueError, of one decode under a
    2 s alarm."""
    with alarm(2):
        try:
            return fn(*args)
        except ValueError as e:
            return e


def _same(a, b) -> bool:
    if isinstance(a, ValueError) or isinstance(b, ValueError):
        return isinstance(a, ValueError) and isinstance(b, ValueError)
    return len(a) == len(b) and all(
        (u is None and v is None)
        or (u is not None and v is not None and u.dtype == v.dtype
            and np.array_equal(u, v))
        for u, v in zip(a, b)
    )


@pytest.mark.parametrize("items", ITEM_MIXES, ids="-".join)
def test_native_decoder_matches_oracle(items):
    """Every chunk of seeded multi-chunk files, chunk sizes 1, 2, 100 and
    777, decodes to identical arrays (dtype included) through the kernel
    and the oracle, handed exactly its bytes or read out of the whole
    file; the points are the ones written."""
    for chunk_size in (1, 2, 100, 777):
        n = 1600 if chunk_size > 2 else 25
        data = write_mix(items, chunk_size, n, 7 + chunk_size)
        vlr, chunks = plan(data)
        assert len(chunks) == -(-n // chunk_size) > 1
        got = []
        for s, c, e in chunks:
            for buf, start in ((data[s:e], 0), (data, s)):
                native = laz.decode_laz_chunk(buf, vlr, start, c)
                assert _same(native, laz_oracle.decode_laz_chunk(buf, vlr, start, c))
            got.append(native)
        h, x, _y, _z, cls = laz.read_laz(data)
        assert np.array_equal(np.concatenate([g[3] for g in got]), cls)
        xs = np.concatenate([g[0] for g in got]) * h["scale"][0] + h["offset"][0]
        assert np.array_equal(xs, x)


def test_native_decoder_matches_oracle_on_a_long_regular_chunk():
    """One 12,000-point chunk of an evenly spaced scan line: nearly every
    correction is 0 or 1, so the integer compressors' bit models pass
    their count limit and halve, which short chunks never reach."""
    n = 12000
    x = 380000 + np.arange(n) * 0.25
    y = np.full(n, 6666000.0)
    z = np.full(n, 10.0)
    cls = np.full(n, 2, np.uint8)
    data = laz.write_laz(x, y, z, cls, gps_time=3e5 + np.arange(n) * 1e-5,
                         chunk_size=n)
    vlr, [(s, c, e)] = plan(data)
    native = laz.decode_laz_chunk(data[s:e], vlr, 0, c)
    assert _same(native, laz_oracle.decode_laz_chunk(data[s:e], vlr, 0, c))
    assert np.array_equal(native[0], np.arange(n) * 25)


def test_native_decoder_matches_oracle_on_mutated_chunks():
    """Truncated and byte-flipped chunks: the kernel and the oracle give
    the same arrays or both raise ValueError, each call under a 2 s
    alarm; cuts inside the raw first point and far short of the end
    must raise."""
    n = refused = 0
    for vlr, chunk, count in mutated_chunks():
        native = _decode(laz.decode_laz_chunk, chunk, vlr, 0, count)
        oracle = _decode(laz_oracle.decode_laz_chunk, chunk, vlr, 0, count)
        assert _same(native, oracle), (len(chunk), native, oracle)
        if len(chunk) < 20:
            assert isinstance(native, ValueError)
        n += 1
        refused += isinstance(native, ValueError)
    assert n == 8 * (64 + 16 + 24)
    assert refused >= 8 * 64


def test_chunk_handed_bytes_of_the_next_is_refused():
    """A chunk handed 64 bytes of the next chunk as well (the chunk table
    says it starts late) stops decoding far short of its buffer's end:
    ValueError from the kernel and the oracle alike.  The exact chunk
    decodes."""
    data = write_mix(("gps",), 100, 300, 3)
    vlr, chunks = plan(data)
    s, c, e = chunks[0]
    laz.decode_laz_chunk(data[s:e], vlr, 0, c)
    for decode in (laz.decode_laz_chunk, laz_oracle.decode_laz_chunk):
        with pytest.raises(ValueError, match="short of the end of its"):
            decode(data[s : e + 64], vlr, 0, c)


def test_native_decoder_refusal_messages():
    """The wrapper's messages name the chunk's byte and the lengths."""
    data = write_mix((), 100, 300, 5)
    vlr, chunks = plan(data)
    s, c, e = chunks[0]
    with pytest.raises(ValueError, match="at byte 0 ends inside its 20-byte raw first point"):
        laz.decode_laz_chunk(data[s : s + 19], vlr, 0, c)
    with pytest.raises(ValueError, match=r"bytes past the end of its \d+-byte buffer"):
        laz.decode_laz_chunk(data[s : e - 40], vlr, 0, c)
    with pytest.raises(ValueError, match="with 0 points cannot be decoded"):
        laz.decode_laz_chunk(data[s:e], vlr, 0, 0)


def test_table_kernel_matches_oracle():
    """Every table of 1, 2, 10, 13 and 25 chunks, for every item mix,
    decodes to identical int64 sizes through the kernel and the oracle,
    and the sizes are the chunks' byte lengths in the plan."""
    for data in table_files():
        off, table = table_of(data)
        count = struct.unpack_from("<I", table, 4)[0]
        coded = np.frombuffer(table, np.uint8, offset=8)
        native = _native.laz_decode_table(coded, count)
        oracle = laz_oracle.decode_table(table[8:], count)
        assert native.dtype == oracle.dtype == np.int64
        assert np.array_equal(native, oracle)
        _vlr, chunks = plan(data)
        assert len(chunks) == count
        assert native.tolist() == [e - s for s, _c, e in chunks]
        assert chunks[-1][2] == off


def test_table_kernel_matches_oracle_on_mutated_tables():
    """Truncated, over-asked and byte-flipped tables: the kernel reads
    zeros past the end exactly as the oracle does, so both give the same
    sizes."""
    n = 0
    for coded, count in mutated_tables():
        native = _native.laz_decode_table(np.frombuffer(coded, np.uint8), count)
        assert np.array_equal(native, laz_oracle.decode_table(coded, count)), (
            coded, count)
        n += 1
    assert n > 8 * len(TABLE_SHAPES) * 10


def _plan_or_error(data: bytes):
    with alarm(2):
        try:
            return laz.laz_chunk_plan(data)[2]
        except ValueError as e:
            return e


def test_plan_of_mutated_file_matches_oracle_plan(monkeypatch):
    """A file whose chunk table is cut short or has a byte flipped in its
    version, count or coded sizes plans to exactly the plan built on the
    oracle's table loop, or both raise ValueError."""
    rng = np.random.RandomState(53)
    files = []
    for items in (("gps",), ("gps", "rgb", "wave", "extra")):
        for chunk_size, n in TABLE_SHAPES:
            data = write_mix(items, chunk_size, n, 59)
            off, table = table_of(data)
            files += [data[: off + cut] for cut in range(len(table))]
            for lo, hi in ((0, 4), (4, 8), (8, len(table))):
                for _ in range(6):
                    b = bytearray(data)
                    b[off + rng.randint(lo, hi)] ^= int(rng.randint(1, 256))
                    files.append(bytes(b))
    native = [_plan_or_error(f) for f in files]
    monkeypatch.setattr(
        _native, "laz_decode_table",
        lambda buf, count: laz_oracle.decode_table(buf.tobytes(), count),
    )
    oracle = [_plan_or_error(f) for f in files]
    planned = 0
    for f, a, b in zip(files, native, oracle):
        if isinstance(a, ValueError) or isinstance(b, ValueError):
            assert isinstance(a, ValueError) and isinstance(b, ValueError), (
                len(f), a, b)
        else:
            assert a == b, len(f)
            planned += 1
    assert planned > 0 and planned < len(files)


def test_chunk_table_count_is_bounded_before_decoding():
    """A table that claims 2^32 - 1 chunks (header point count
    0xFFFFFFFF, VLR chunk_size 1) is refused at once, naming the count
    and the span, instead of decoding 4.3e9 sizes; a size shorter than
    one raw point is refused too.  Each plan runs under a 2 s alarm."""
    data = write_mix((), 100, 300, 61)
    h = read_header(data)
    off, table = table_of(data)
    span = off - h["offset_to_points"] - 8
    d = bytearray(data)
    struct.pack_into("<I", d, 107, 0xFFFFFFFF)
    vlr_body = h["header_size"] + 54
    struct.pack_into("<I", d, vlr_body + 12, 1)  # chunk_size
    struct.pack_into("<I", d, off + 4, 0xFFFFFFFF)
    with alarm(2), pytest.raises(
        ValueError, match=f"chunk table count 4294967295 cannot fit: .* the {span} bytes"
    ):
        laz.laz_chunk_plan(bytes(d))

    # 3 chunks re-coded as sizes 19, 20 + the rest: the sum holds, the
    # first chunk cannot hold its 20-byte raw point
    enc = laz.ArithmeticEncoder()
    ic = laz.IntegerCompressorEnc(enc, 32, 2)
    prev = 0
    for size in (19, 20, span - 39):
        ic.compress(prev, size, 1)
        prev = size
    short = data[:off] + struct.pack("<2I", 0, 3) + enc.done()
    with alarm(2), pytest.raises(
        ValueError, match="lists a 19-byte chunk, shorter than one 20-byte raw point"
    ):
        laz.laz_chunk_plan(short)


@pytest.mark.parametrize("mutate, cause", [
    ("offset", "the chunk table offset is -1"),
    ("version", "the chunk table version is 1, not 0"),
    ("count0", r"the chunk table count 0 lies outside 1\.\.4"),
    ("count9", r"the chunk table count 9 lies outside 1\.\.4"),
])
def test_chunked_stream_without_table_is_refused(mutate, cause):
    """A 3-chunk stream whose table cannot be used names why: no table
    offset, a version other than 0, or a count out of range."""
    x = np.arange(300.0)
    data = bytearray(laz.write_laz(x, x, x, np.full(300, 2, np.uint8),
                                   chunk_size=100))
    pos = read_header(bytes(data))["offset_to_points"]
    off, _table = table_of(bytes(data))
    if mutate == "offset":
        struct.pack_into("<q", data, pos, -1)
    elif mutate == "version":
        struct.pack_into("<I", data, off, 1)
    else:
        struct.pack_into("<I", data, off + 4, int(mutate[5:]))
    with pytest.raises(ValueError, match="multi-chunk LAZ without a chunk "
                       f"table: {cause}; sequential decode cannot locate"):
        laz.laz_chunk_plan(bytes(data))


_ASAN_RUN = """
import ctypes, pickle, sys
import numpy as np
sys.path.insert(0, {tests!r})
from test_laz_native import mutated_chunks
from lasutility_spark.gridlib import laz

lib = ctypes.CDLL({so!r})
fn = lib.lsu_laz_decode_chunk
fn.restype = ctypes.c_int64
fn.argtypes = [ctypes.c_void_p] + [ctypes.c_int64] * 8 + [ctypes.c_void_p] * 10
libc = ctypes.CDLL(None)
libc.malloc.restype = ctypes.c_void_p
libc.malloc.argtypes = [ctypes.c_size_t]
libc.free.argtypes = [ctypes.c_void_p]
n = 0
for vlr, chunk, count in mutated_chunks():
    items = [t for t, _s, _v in vlr["items"]]
    has_gps, has_rgb, has_wave = (laz.ITEM_GPSTIME11 in items,
                                  laz.ITEM_RGB12 in items,
                                  laz.ITEM_WAVEPACKET13 in items)
    n_extra = next((s for t, s, _v in vlr["items"] if t == laz.ITEM_BYTE), 0)
    # every buffer exactly sized on the heap, so a 1-byte overread or
    # overwrite lands in ASan's redzone
    sizes = [len(chunk)] + [8 * count] * 3 + [count] * 2 + [
        8 * count if has_gps else 0, 6 * count if has_rgb else 0,
        n_extra * count, 29 * count if has_wave else 0, 8]
    ptrs = [libc.malloc(k) if k else None for k in sizes]
    ctypes.memmove(ptrs[0], chunk, len(chunk))
    fn(ptrs[0], len(chunk), 0, count, has_gps, has_rgb, has_wave, n_extra,
       laz._LOOKAHEAD, *ptrs[1:])
    for p in ptrs:
        if p:
            libc.free(p)
    n += 1
print("decoded", n)
tfn = lib.lsu_laz_decode_table
tfn.restype = ctypes.c_int64
tfn.argtypes = [ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64, ctypes.c_void_p]
n = 0
with open("tables.pkl", "rb") as f:
    tables = pickle.load(f)
for coded, count in tables:
    data, sizes = libc.malloc(len(coded)), libc.malloc(8 * count)
    ctypes.memmove(data, coded, len(coded))
    assert tfn(data, len(coded), count, sizes) == 0
    libc.free(data)
    libc.free(sizes)
    n += 1
print("tables", n)
"""


def test_laszip_kernel_memory_safe_under_asan(tmp_path):
    """The mutated chunk and table corpora through ``_laszip.c`` built
    with ``-fsanitize=address,undefined``: no out-of-bounds access, no
    undefined behaviour, on buffers malloc'd to their exact size."""
    so = str(tmp_path / "laszip_asan.so")
    src = os.path.join(REPO, "lasutility_spark", "gridlib", "_laszip.c")
    subprocess.run(
        ["cc", "-O1", "-g", "-fsanitize=address,undefined",
         "-fno-omit-frame-pointer", "-shared", "-fPIC", "-o", so, src],
        check=True, capture_output=True, timeout=120,
    )
    libasan = subprocess.run(
        ["cc", "-print-file-name=libasan.so"], check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    env = dict(os.environ)
    env.update(
        LD_PRELOAD=libasan, PYTHONMALLOC="malloc",
        ASAN_OPTIONS="detect_leaks=0",
        UBSAN_OPTIONS="halt_on_error=1:print_stacktrace=1",
        PYTHONPATH=REPO,
    )
    # the table corpus is written here: write_laz under ASan is slow
    tables = list(mutated_tables())
    with open(tmp_path / "tables.pkl", "wb") as f:
        pickle.dump(tables, f)
    code = _ASAN_RUN.format(tests=os.path.dirname(os.path.abspath(__file__)), so=so)
    r = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stdout + r.stderr[-4000:]
    assert "runtime error" not in r.stderr, r.stderr[-4000:]
    assert f"decoded {8 * (64 + 16 + 24)}" in r.stdout, r.stdout + r.stderr[-4000:]
    assert f"tables {len(tables)}" in r.stdout, r.stdout + r.stderr[-4000:]
