"""Plain (uncompressed) LAS point-cloud file reader/writer, numpy only.

Implements the public ASPRS LAS 1.2-1.4 specification for ALL
uncompressed point data record formats 0-10 — the reference's primary
input path (LAS/LasZipNetReader.cs:54-89 via laszip; interface
LAS/ILasFileReader.cs:6-18 exposes header min/max + a point stream of
(x, y, z, classification)).  Formats 4/5/9/10 carry a fixed 29-byte
wave-packet descriptor block per point (spec: index u1, byte offset
u8, packet size u4, return-point location f4, Xt/Yt/Zt f4) — the
descriptor metadata is surfaced; the external waveform payload itself
(EVLR / .wdp) is not interpreted.  LAZ decompression lives in
laz.py; the .las layout is the same minus compression.

Semantics pinned from the reference:

- point count = max(legacy 32-bit count, extended 64-bit count)
  (LasZipNetReader.cs:73) — LAS 1.4 files with >2^32-1 points zero the
  legacy field,
- coordinates = raw int32 * scale + offset (the spec's quantization),
- classification is the raw classification byte.
"""

from __future__ import annotations

import struct

import numpy as np

_SIG = b"LASF"
_MIN_HEADER = 227  # LAS 1.0-1.2 public header block

# point record core layout (formats 0-3): X/Y/Z int32, intensity u2,
# flags u1, classification u1, scan angle i1, user data u1, source u2
_CORE = np.dtype(
    [
        ("X", "<i4"), ("Y", "<i4"), ("Z", "<i4"),
        ("intensity", "<u2"), ("flags", "u1"), ("classification", "u1"),
        ("scan_angle", "i1"), ("user_data", "u1"), ("point_source", "<u2"),
    ]
)
# gps time +8, rgb +6, wave-packet descriptor +29 (formats 4 = 1+wave,
# 5 = 3+wave)
_FORMAT_SIZES = {0: 20, 1: 28, 2: 26, 3: 34, 4: 57, 5: 63}

# LAS 1.4 POINT14 core (formats 6-10): X/Y/Z int32, intensity u2,
# returns u1 (ret | nret<<4), flags u1 (class_flags | channel<<4 |
# scandir<<6 | edge<<7), classification u1, user data u1, scan angle
# i2, source u2, gps time f8 — classification moves to byte 16 and
# widens to the full 0-255 range
_CORE14 = np.dtype(
    [
        ("X", "<i4"), ("Y", "<i4"), ("Z", "<i4"),
        ("intensity", "<u2"), ("returns", "u1"), ("flags", "u1"),
        ("classification", "u1"), ("user_data", "u1"),
        ("scan_angle", "<i2"), ("point_source", "<u2"),
        ("gps_time", "<f8"),
    ]
)
# formats 7/8 append RGB (+6) / RGB+NIR (+8); 9 = 6+wave (+29),
# 10 = 8+wave
_FORMAT14_SIZES = {6: 30, 7: 36, 8: 38, 9: 59, 10: 67}

# wave-packet descriptor block, last 29 bytes of a format-4/5/9/10
# record (LAS 1.4 spec §2.5.5)
_WAVE = np.dtype(
    [
        ("desc", "u1"), ("offset", "<u8"), ("size", "<u4"),
        ("return_loc", "<f4"), ("xt", "<f4"), ("yt", "<f4"), ("zt", "<f4"),
    ]
)


def read_header(data: bytes) -> dict:
    """LAS header bytes -> dict (the ILasFileReader surface + layout)."""
    if data[:4] != _SIG:
        raise ValueError("not a LAS file (bad signature)")
    if len(data) < _MIN_HEADER:
        raise ValueError(
            f"truncated LAS header: {len(data)} bytes, need {_MIN_HEADER}"
        )
    ver_major, ver_minor = data[24], data[25]
    header_size, offset_to_points = struct.unpack_from("<HI", data, 94)
    # a point block that starts inside the header would decode header
    # bytes as points, with no error
    if header_size < _MIN_HEADER:
        raise ValueError(f"LAS header_size {header_size} < {_MIN_HEADER}")
    if offset_to_points < header_size:
        raise ValueError(
            f"LAS offset_to_points {offset_to_points} lies inside the "
            f"{header_size}-byte header"
        )
    n_vlrs, point_format, record_len = struct.unpack_from("<IBH", data, 100)
    legacy_count = struct.unpack_from("<I", data, 107)[0]
    sx, sy, sz, ox, oy, oz = struct.unpack_from("<6d", data, 131)
    maxx, minx, maxy, miny, maxz, minz = struct.unpack_from("<6d", data, 179)
    extended_count = 0
    if (ver_major, ver_minor) >= (1, 4) and header_size >= 247 + 8:
        extended_count = struct.unpack_from("<Q", data, 247)[0]
    return {
        "version": (ver_major, ver_minor),
        "header_size": header_size,
        "offset_to_points": offset_to_points,
        "n_vlrs": n_vlrs,
        "point_format": point_format,
        "record_len": record_len,
        "legacy_count": legacy_count,
        "extended_count": extended_count,
        # the reference's count rule (LasZipNetReader.cs:73)
        "point_count": max(legacy_count, extended_count),
        "scale": (sx, sy, sz),
        "offset": (ox, oy, oz),
        "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy,
        "minz": minz, "maxz": maxz,
    }


def read_header_at(read_at) -> dict:
    """:func:`read_header` by ranged reads: ``read_at(offset, n)`` returns
    up to ``n`` bytes of the file at ``offset`` (fewer only at its end).
    Reads the public header block and nothing past it."""
    head = read_at(0, _MIN_HEADER)
    if len(head) == _MIN_HEADER and head[:4] == _SIG:
        (header_size,) = struct.unpack_from("<H", head, 94)
        if header_size > _MIN_HEADER:  # LAS 1.3/1.4 extend the block
            head += read_at(_MIN_HEADER, header_size - _MIN_HEADER)
    return read_header(head)


def check_point_block(h: dict, size: int) -> None:
    """Check an uncompressed header against its ``size``-byte file: a LAZ
    header, an unsupported format, a record shorter than its format and
    a point block that runs past the end of the file raise ValueError."""
    if h["point_format"] & 0x80:
        # bit 7 of the format byte marks LAZ compression; parsing the
        # compressed chunk table as raw records would yield garbage
        # coordinates with no error.
        raise ValueError(
            "compressed LAZ points (format bit 7 set) — use laz.read_laz"
        )
    fmt = h["point_format"] & 0x3F
    if fmt not in _FORMAT_SIZES and fmt not in _FORMAT14_SIZES:
        raise ValueError(f"unsupported point format {fmt} (0-10 supported)")
    canon = _FORMAT14_SIZES[fmt] if fmt >= 6 else _FORMAT_SIZES[fmt]
    rec = h["record_len"]
    if rec < canon:
        raise ValueError(
            f"record length {rec} shorter than format {fmt}'s {canon}"
        )
    start, length = h["offset_to_points"], h["point_count"] * rec
    if start + length > size:
        raise ValueError(
            f"{h['point_count']} points of {rec} bytes at offset {start} "
            f"run past the end of the {size}-byte file"
        )


def las_records(buf, h: dict, n: int, offset: int = 0):
    """``n`` whole point records of ``h``'s (checked) format at ``offset``
    of ``buf`` -> (block, core, x, y, z): the (n, record_len) bytes, the
    core fields and the scaled coordinates."""
    fmt = h["point_format"] & 0x3F
    core_dt = _CORE14 if fmt >= 6 else _CORE
    rec = h["record_len"]
    block = np.frombuffer(
        buf, dtype=np.uint8, count=n * rec, offset=offset
    ).reshape(n, rec)
    core = np.ascontiguousarray(block[:, : core_dt.itemsize]).view(core_dt).reshape(n)
    sx, sy, sz = h["scale"]
    ox, oy, oz = h["offset"]
    return block, core, core["X"] * sx + ox, core["Y"] * sy + oy, core["Z"] * sz + oz


def read_las(data: bytes):
    """LAS bytes -> (header, x, y, z, classification) numpy arrays.

    Vectorized: the point block is one strided frombuffer view; scaling
    is three fused array ops.
    """
    h = read_header(data)
    check_point_block(h, len(data))
    fmt = h["point_format"] & 0x3F
    n = h["point_count"]
    block, core, x, y, z = las_records(data, h, n, h["offset_to_points"])
    if fmt >= 6:
        h["_gps_time"] = core["gps_time"].copy()
        h["_returns"] = (core["returns"] & 0x0F).astype(np.uint8)
        h["_channel"] = ((core["flags"] >> 4) & 0x03).astype(np.uint8)
    elif fmt in (1, 3, 4, 5):  # legacy formats with GPS time at byte 20
        h["_gps_time"] = (
            np.ascontiguousarray(block[:, 20:28]).view("<f8").reshape(n)
        )
    if fmt in (4, 5, 9, 10):
        canon = _FORMAT14_SIZES[fmt] if fmt >= 6 else _FORMAT_SIZES[fmt]
        woff = canon - _WAVE.itemsize
        wav = (
            np.ascontiguousarray(block[:, woff:canon]).view(_WAVE).reshape(n)
        )
        h["_wave_desc"] = wav["desc"].copy()
        h["_wave_size"] = wav["size"].copy()
        h["_wave_return_loc"] = wav["return_loc"].copy()
    return h, x, y, z, core["classification"].copy()


def read_las_file(path: str):
    with open(path, "rb") as f:
        return read_las(f.read())


def write_las(
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    classification: np.ndarray,
    scale: tuple[float, float, float] = (0.001, 0.001, 0.001),
) -> bytes:
    """Arrays -> minimal LAS 1.2 format-0 bytes (round-trips read_las)."""
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    z = np.asarray(z, np.float64)
    n = len(x)
    ox = float(np.floor(x.min())) if n else 0.0
    oy = float(np.floor(y.min())) if n else 0.0
    oz = float(np.floor(z.min())) if n else 0.0
    sx, sy, sz = scale
    core = np.zeros(n, dtype=_CORE)
    qx = np.round((x - ox) / sx).astype(np.int64)
    qy = np.round((y - oy) / sy).astype(np.int64)
    qz = np.round((z - oz) / sz).astype(np.int64)
    for name, q in (("X", qx), ("Y", qy), ("Z", qz)):
        if n and np.abs(q).max() >= 2**31:
            # int64 -> int32 would wrap silently and corrupt coordinates
            # (e.g. an extent over ~2147 km at the default 1 mm scale)
            raise ValueError(
                f"{name} extent exceeds int32 at scale {scale}; "
                "widen the scale for this extent"
            )
        core[name] = q
    core["classification"] = np.asarray(classification, np.uint8)
    core["flags"] = 0x11  # return 1 of 1

    header_size = 227  # LAS 1.2
    hdr = bytearray(header_size)
    hdr[0:4] = _SIG
    hdr[24] = 1  # version 1.2
    hdr[25] = 2
    hdr[26 : 26 + 10] = b"lasutility"  # system identifier
    struct.pack_into("<HI", hdr, 94, header_size, header_size)
    struct.pack_into("<IBH", hdr, 100, 0, 0, _CORE.itemsize)
    struct.pack_into("<I", hdr, 107, n)  # legacy count
    struct.pack_into("<6d", hdr, 131, sx, sy, sz, ox, oy, oz)
    if n:
        struct.pack_into(
            "<6d", hdr, 179,
            float(x.max()), float(x.min()), float(y.max()), float(y.min()),
            float(z.max()), float(z.min()),
        )
    return bytes(hdr) + core.tobytes()
