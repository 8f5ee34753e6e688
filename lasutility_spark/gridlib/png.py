"""Minimal deterministic PNG codec (grayscale 8/16-bit), stdlib-only.

PIL is not available in this environment, so tile images are encoded with
a small implementation of the public PNG spec (RFC 2083): IHDR/IDAT/IEND
chunks, zlib-compressed scanlines, filter type 0 on write (decode supports
filters 0-4).  Color type 0 (grayscale); 8-bit for class rasters
(ByteRaster analog, S9 ByteRaster.cs:124-153) and 16-bit for quantized
DEM tiles.  Deterministic: fixed zlib level, no ancillary chunks.
"""

from __future__ import annotations

import struct
import sys
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(img: np.ndarray) -> bytes:
    """2-D uint8 or uint16 array -> grayscale PNG bytes (deterministic)."""
    img = np.asarray(img)
    if img.ndim != 2:
        raise ValueError("expected 2-D grayscale array")
    if img.dtype == np.uint8:
        depth = 8
        rawb = np.ascontiguousarray(img)
    elif img.dtype == np.uint16:
        depth = 16
        rawb = img.astype(">u2").view(np.uint8)
    else:
        raise ValueError(f"unsupported dtype {img.dtype}")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    # filter byte 0 per scanline, built as one strided plane (no row loop)
    body_arr = np.zeros((h, 1 + rawb.shape[1]), dtype=np.uint8)
    body_arr[:, 1:] = rawb
    idat = zlib.compress(body_arr.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_encode_rgb8_mirrored(raster: np.ndarray) -> bytes:
    """S9 ByteRaster.WriteAsPng analog (Common/ByteRaster.cs:124-153):
    the byte raster's rows are MIRRORED (row 0 = southernmost goes to
    the image bottom) and the value is replicated onto all 3 channels
    (the reference writes an OpenCV 8UC3 BGR Mat).  Decoded pixels are
    identical to the reference's output; the container is this codec's
    deterministic encoder (filter 0, fixed zlib level) since byte-stream
    equality would require OpenCV's exact zlib/filter choices."""
    raster = np.asarray(raster, dtype=np.uint8)
    if raster.ndim != 2:
        raise ValueError("expected 2-D byte raster")
    rgb = np.repeat(np.flipud(raster)[:, :, None], 3, axis=2)
    h, w = raster.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # color type 2 (RGB)
    body_arr = np.zeros((h, 1 + 3 * w), dtype=np.uint8)
    body_arr[:, 1:] = rgb.reshape(h, 3 * w)
    idat = zlib.compress(body_arr.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes -> array: grayscale 8/16-bit -> (h, w); RGB 8-bit ->
    (h, w, 3) (filters 0-4, non-interlaced).

    Corrupt input raises ``ValueError``: a chunk that runs past the end
    or fails its CRC, an IHDR that is not 13 bytes or has a zero size, a
    missing IEND, or image data that does not inflate to exactly the
    size IHDR declares — checked before any plane is allocated."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = []
    while True:
        if pos + 12 > len(data):
            raise ValueError("PNG truncated before IEND")
        length, tag = struct.unpack_from(">I4s", data, pos)
        end = pos + 12 + length
        if end > len(data):
            raise ValueError(f"PNG chunk {tag!r} runs past the end")
        body = data[pos + 4 : end - 4]  # tag + payload, what the CRC covers
        if zlib.crc32(body) != struct.unpack_from(">I", data, end - 4)[0]:
            raise ValueError(f"PNG chunk {tag!r} fails its CRC")
        pos = end
        if tag == b"IHDR":
            if length != 13:
                raise ValueError("bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body[4:])
        elif tag == b"IDAT":
            idat.append(body[4:])
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, comp, filt, inter = ihdr
    if w == 0 or h == 0:
        raise ValueError("empty PNG")
    if ctype not in (0, 2) or comp != 0 or filt != 0 or inter != 0:
        raise ValueError("only non-interlaced grayscale/RGB supported")
    if depth not in (8, 16) or (ctype == 2 and depth != 8):
        raise ValueError(f"unsupported bit depth {depth}")
    channels = 3 if ctype == 2 else 1
    bpp = channels * depth // 8
    stride = w * bpp
    want = h * (1 + stride)
    inflate = zlib.decompressobj()
    try:
        raw = inflate.decompress(b"".join(idat), min(want + 1, sys.maxsize))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG image data: {e}") from None
    if len(raw) != want or not inflate.eof:
        raise ValueError("PNG image data does not match the IHDR size")
    # fast path: every scanline filter byte is 0 (all PNGs this codec
    # writes) -> the whole plane is one strided slice, no per-row loop
    grid = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    if not grid[:, 0].any():
        out = np.ascontiguousarray(grid[:, 1:])
        return _assemble(out, h, w, depth, ctype)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for r in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).copy()
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            line = (line.astype(np.int32) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((int(a) + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter {ftype}")
        out[r] = line
        prev = line
    return _assemble(out, h, w, depth, ctype)


def _assemble(out: np.ndarray, h: int, w: int, depth: int, ctype: int) -> np.ndarray:
    if ctype == 2:
        return out.reshape(h, w, 3)
    if depth == 8:
        return out.reshape(h, w)
    # 16-bit: network byte order -> native in ONE byteswap pass (the
    # two-plane astype+mul+add form cost ~10x this)
    return out.reshape(h, 2 * w).view(">u2").astype(np.uint16)


def quantize_dem(dem: np.ndarray, z_min: float, z_max: float) -> np.ndarray:
    """Float DEM (NaN = missing) -> uint16 plane: 0 reserved for NaN,
    1..65535 linear over [z_min, z_max].  Shared by the encoder and the
    datagen oracle tables so both sides quantize identically."""
    scale = 65534.0 / max(z_max - z_min, 1e-9)
    return np.where(
        np.isnan(dem),
        0,
        (np.clip(dem, z_min, z_max) - z_min) * scale + 1.0,
    ).astype(np.uint16)


def dem_to_png16(dem: np.ndarray, z_min: float, z_max: float) -> bytes:
    """Quantize a float DEM to 16-bit PNG (see :func:`quantize_dem`)."""
    return png_encode(quantize_dem(dem, z_min, z_max))


def png16_to_dem(data: bytes, z_min: float, z_max: float) -> np.ndarray:
    """16-bit grayscale PNG -> float32 DEM (NaN where the value is 0);
    any other PNG raises ``ValueError``."""
    q = png_decode(data)
    if q.ndim != 2 or q.dtype != np.uint16:
        raise ValueError(f"not a 16-bit grayscale DEM tile: {q.dtype} {q.shape}")
    q = q.astype(np.float64)
    scale = (z_max - z_min) / 65534.0
    dem = (q - 1.0) * scale + z_min
    dem[q == 0] = np.nan
    return dem.astype(np.float32)
