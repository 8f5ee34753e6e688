"""LAZ (LASzip) point codec: a native chunk decoder and a Python encoder.

Implements the publicly specified LASzip compression scheme (Isenburg,
"LASzip: lossless compression of LiDAR data", PE&RS 2013; format spec at
laszip.org) for the record layout the reference's own fixture uses
(LasUtility.Tests `Q5232E1_cropped.laz`, read through
LAS/LasZipNetReader.cs:54-89 via the laszip P/Invoke):

- compressor 2 (pointwise-chunked), record version 2
- item POINT10 (the 20-byte LAS point-format-0 core)
- item GPSTIME11 (point format 1's 8-byte GPS time)

Components, all from the public spec:

- the FastAC-style adaptive arithmetic coder (32-bit interval,
  renormalization at 2^24) with adaptive symbol models and bit models,
- the "integer compressor" (k-bit corrector scheme: an adaptive model
  picks k, the corrector is coded in a k-bit model or model+raw-bits
  split, then folded into [-2^(k-1)-..., 2^(k-1)+1] style intervals),
- POINT10 v2 prediction contexts (changed-values mask, streaming
  median-of-5 dx/dy predictors keyed by the return-number map, per-level
  height contexts),
- GPSTIME11 v2 multi-sequence delta prediction.

Points decode in C: :func:`decode_laz_chunk` runs the chunk decoder of
``_laszip.c``, built on first use with the Delaunay kernel
(:mod:`_native`), and there is no Python point decoder in the package.
The Python arithmetic decoder and integer compressor here decode only
the chunk table while a scan is planned (:func:`laz_plan`).  The writer side
(:func:`write_laz`) stays Python: it is the compressed point sink and
the round-trip source the decoder is tested on.

Each chunk starts with one RAW point and re-initialized models, so
chunks are independently decodable — at scale, Spark tasks decode splits
of whole chunks (the chunk table, found through the 8-byte offset at the
start of the point data, gives the offsets; engine/sources.py); the
reference fixture holds a single chunk.

The chunk table is handled in the laszip-native version-0 layout both
directions (sizes arithmetic-coded with the 32-bit/2-context integer
compressor, previous-size prediction — validated against the reference
fixture's own table), so real multi-chunk laszip files locate their
chunk boundaries correctly.

Round 4 added the RGB12 v2 item both directions (point formats 2/3);
round 5 added the BYTE v2 (extra-bytes) item, the WAVEPACKET13 v1
item (point formats 4/5 — both directions, following the public
laszip v1 scheme; round-trip-pinned since the reference tree has no
wavepacket fixture).  Scope boundary: the LAS 1.4 layered items
(POINT14 and later, point formats 6+) and record-version-1 variants
of the classic items raise ValueError with a clear message.
"""

from __future__ import annotations

import struct

import numpy as np

from . import _native
from .las import read_header

_U32 = 0xFFFFFFFF
AC_MIN_LENGTH = 0x01000000
AC_MAX_LENGTH = 0xFFFFFFFF
BM_LENGTH_SHIFT = 13
BM_MAX_COUNT = 1 << BM_LENGTH_SHIFT
DM_LENGTH_SHIFT = 15
DM_MAX_COUNT = 1 << DM_LENGTH_SHIFT
# bytes a chunk's arithmetic decoder may end past or short of the
# chunk's end (its renormalization lookahead: 2-3 bytes past on write_laz
# chunks of every item kind and chunk size; laszip pads 2-3 zero bytes,
# so its chunks end at their length)
_LOOKAHEAD = 4
# lsu_laz_decode_chunk return codes (_laszip.c)
_LAZ_RAW_SHORT, _LAZ_OVERRUN, _LAZ_EARLY, _LAZ_NOMEM, _LAZ_OFFSET64 = range(-1, -6, -1)


class ArithmeticBitModel:
    __slots__ = ("bit_0_count", "bit_count", "bit_0_prob", "update_cycle",
                 "bits_until_update")

    def __init__(self) -> None:
        self.bit_0_count = 1
        self.bit_count = 2
        self.bit_0_prob = 1 << (BM_LENGTH_SHIFT - 1)
        self.update_cycle = self.bits_until_update = 4

    def update(self) -> None:
        self.bit_count += self.update_cycle
        if self.bit_count > BM_MAX_COUNT:
            self.bit_count = (self.bit_count + 1) >> 1
            self.bit_0_count = (self.bit_0_count + 1) >> 1
            if self.bit_0_count == self.bit_count:
                self.bit_count += 1
        # exact spec arithmetic: scaled probability via the 2^31 quotient
        # (NOT (count << shift) // total — different integer rounding)
        scale = 0x80000000 // self.bit_count
        self.bit_0_prob = (self.bit_0_count * scale) >> (31 - BM_LENGTH_SHIFT)
        self.update_cycle = min((5 * self.update_cycle) >> 2, 64)
        self.bits_until_update = self.update_cycle


class ArithmeticModel:
    """Adaptive multi-symbol model (decode side; binary-search variant —
    the optional decoder lookup table is a pure speedup, not needed for
    correctness)."""

    __slots__ = ("symbols", "distribution", "symbol_count", "total_count",
                 "update_cycle", "symbols_until_update")

    def __init__(self, symbols: int) -> None:
        self.symbols = symbols
        self.distribution = [0] * symbols
        self.symbol_count = [1] * symbols
        self.total_count = 0
        self.update_cycle = symbols
        self.update()
        self.symbols_until_update = self.update_cycle = (symbols + 6) >> 1

    def update(self) -> None:
        self.total_count += self.update_cycle
        if self.total_count > DM_MAX_COUNT:
            self.total_count = 0
            for i in range(self.symbols):
                self.symbol_count[i] = (self.symbol_count[i] + 1) >> 1
                self.total_count += self.symbol_count[i]
        scale = 0x80000000 // self.total_count
        s = 0
        shift = 31 - DM_LENGTH_SHIFT
        dist = self.distribution
        cnt = self.symbol_count
        for i in range(self.symbols):
            dist[i] = (scale * s) >> shift
            s += cnt[i]
        self.update_cycle = (5 * self.update_cycle) >> 2
        max_cycle = (self.symbols + 6) << 3
        if self.update_cycle > max_cycle:
            self.update_cycle = max_cycle
        self.symbols_until_update = self.update_cycle


class ArithmeticDecoder:
    """FastAC-style range decoder over a byte stream."""

    __slots__ = ("data", "pos", "value", "length")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.value = 0
        self.length = 0

    def init(self) -> None:
        d = self.data
        p = self.pos
        # EOF-tolerant like _renorm: a tiny stream (e.g. a 1-entry chunk
        # table) can end within the decoder's 4-byte prime read
        b = [d[p + i] if p + i < len(d) else 0 for i in range(4)]
        self.value = (b[0] << 24) | (b[1] << 16) | (b[2] << 8) | b[3]
        self.pos = p + 4
        self.length = AC_MAX_LENGTH

    def _renorm(self) -> None:
        d = self.data
        while self.length < AC_MIN_LENGTH:
            b = d[self.pos] if self.pos < len(d) else 0
            self.pos += 1
            self.value = ((self.value << 8) | b) & _U32
            self.length = (self.length << 8) & _U32

    def decode_bit(self, m: ArithmeticBitModel) -> int:
        x = m.bit_0_prob * (self.length >> BM_LENGTH_SHIFT)
        if self.value >= x:
            sym = 1
            self.value -= x
            self.length -= x
        else:
            sym = 0
            self.length = x
        if self.length < AC_MIN_LENGTH:
            self._renorm()
        if sym == 0:
            m.bit_0_count += 1
        m.bits_until_update -= 1
        if m.bits_until_update == 0:
            m.update()
        return sym

    def decode_symbol(self, m: ArithmeticModel) -> int:
        y = self.length
        self.length >>= DM_LENGTH_SHIFT
        length = self.length
        value = self.value
        dist = m.distribution
        sym = 0
        x = 0
        n = m.symbols
        k = n >> 1
        while True:
            z = length * dist[k]
            if z > value:
                n = k
                y = z
            else:
                sym = k
                x = z
            k = (sym + n) >> 1
            if k == sym:
                break
        self.value = value - x
        self.length = y - x
        if self.length < AC_MIN_LENGTH:
            self._renorm()
        m.symbol_count[sym] += 1
        m.symbols_until_update -= 1
        if m.symbols_until_update == 0:
            m.update()
        return sym

    def read_bits(self, bits: int) -> int:
        if bits > 19:
            low = self.read_short()
            high = self.read_bits(bits - 16)
            return (high << 16) | low
        self.length >>= bits
        sym = self.value // self.length
        self.value -= self.length * sym
        if self.length < AC_MIN_LENGTH:
            self._renorm()
        return sym

    def read_short(self) -> int:
        self.length >>= 16
        sym = self.value // self.length
        self.value -= self.length * sym
        if self.length < AC_MIN_LENGTH:
            self._renorm()
        return sym


class IntegerCompressor:
    """k-bit corrector integer decompression (LASzip integercompressor)."""

    def __init__(self, dec: ArithmeticDecoder, bits: int = 32,
                 contexts: int = 1, bits_high: int = 8) -> None:
        self.dec = dec
        self.bits_high = bits_high
        if bits and bits < 32:
            self.corr_bits = bits
            self.corr_range = 1 << bits
            self.corr_min = -(self.corr_range >> 1)
        else:
            self.corr_bits = 32
            self.corr_range = 0
            self.corr_min = -0x80000000
        self.k = 0
        self.m_bits = [ArithmeticModel(self.corr_bits + 1) for _ in range(contexts)]
        self.m_corrector0 = ArithmeticBitModel()
        self.m_corrector = [None] + [
            ArithmeticModel(1 << min(k, bits_high))
            for k in range(1, self.corr_bits + 1)
        ]

    def _read_corrector(self, context: int) -> int:
        dec = self.dec
        k = dec.decode_symbol(self.m_bits[context])
        self.k = k
        if k:
            if k < 32:
                if k <= self.bits_high:
                    c = dec.decode_symbol(self.m_corrector[k])
                else:
                    k1 = k - self.bits_high
                    c = dec.decode_symbol(self.m_corrector[k])
                    c1 = dec.read_bits(k1)
                    c = (c << k1) | c1
                # fold back into the signed corrector interval
                if c >= (1 << (k - 1)):
                    c += 1
                else:
                    c -= (1 << k) - 1
            else:
                c = self.corr_min
        else:
            c = dec.decode_bit(self.m_corrector0)
        return c

    def decompress(self, pred: int, context: int = 0) -> int:
        real = pred + self._read_corrector(context)
        if self.corr_range:
            if real < 0:
                real += self.corr_range
            elif real >= self.corr_range:
                real -= self.corr_range
        else:  # 32-bit: wrap to int32
            real &= _U32
            if real >= 0x80000000:
                real -= 1 << 32
        return real


class StreamingMedian5:
    __slots__ = ("v", "high")

    def __init__(self) -> None:
        self.v = [0, 0, 0, 0, 0]
        self.high = True

    def add(self, x: int) -> None:
        v = self.v
        if self.high:
            if x < v[2]:
                v[4] = v[3]
                v[3] = v[2]
                if x < v[0]:
                    v[2] = v[1]
                    v[1] = v[0]
                    v[0] = x
                elif x < v[1]:
                    v[2] = v[1]
                    v[1] = x
                else:
                    v[2] = x
            else:
                if x < v[3]:
                    v[4] = v[3]
                    v[3] = x
                else:
                    v[4] = x
                self.high = False
        else:
            if v[2] < x:
                v[0] = v[1]
                v[1] = v[2]
                if v[4] < x:
                    v[2] = v[3]
                    v[3] = v[4]
                    v[4] = x
                elif v[3] < x:
                    v[2] = v[3]
                    v[3] = x
                else:
                    v[2] = x
            else:
                if v[1] < x:
                    v[0] = v[1]
                    v[1] = x
                else:
                    v[0] = x
                self.high = True

    def get(self) -> int:
        return self.v[2]


# return-number context tables (LASzip common v2)
NUMBER_RETURN_MAP = (
    (15, 14, 13, 12, 11, 10, 9, 8),
    (14, 0, 1, 3, 6, 10, 10, 9),
    (13, 1, 2, 4, 7, 11, 11, 10),
    (12, 3, 4, 5, 8, 12, 12, 11),
    (11, 6, 7, 8, 9, 13, 13, 12),
    (10, 10, 11, 12, 13, 14, 14, 13),
    (9, 10, 11, 12, 13, 14, 15, 14),
    (8, 9, 10, 11, 12, 13, 14, 15),
)
NUMBER_RETURN_LEVEL = (
    (0, 1, 2, 3, 4, 5, 6, 7),
    (1, 0, 1, 2, 3, 4, 5, 6),
    (2, 1, 0, 1, 2, 3, 4, 5),
    (3, 2, 1, 0, 1, 2, 3, 4),
    (4, 3, 2, 1, 0, 1, 2, 3),
    (5, 4, 3, 2, 1, 0, 1, 2),
    (6, 5, 4, 3, 2, 1, 0, 1),
    (7, 6, 5, 4, 3, 2, 1, 0),
)


GPSTIME_MULTI = 500
GPSTIME_MULTI_MINUS = -10
GPSTIME_MULTI_UNCHANGED = GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 1  # 511
GPSTIME_MULTI_CODE_FULL = GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 2  # 512
GPSTIME_MULTI_TOTAL = GPSTIME_MULTI - GPSTIME_MULTI_MINUS + 6  # 516


def _i32(v: int) -> int:
    v &= _U32
    return v - (1 << 32) if v >= 0x80000000 else v


def _u8_clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _div2_trunc(v: int) -> int:
    """C-style truncating division by 2 (toward zero, negatives too)."""
    return v // 2 if v >= 0 else -((-v) // 2)


class Rgb12V2Writer:
    """RGB12 item, record version 2 (the 6-byte r/g/b uint16 triple of
    point formats 2/3) — byte-wise diff model per channel with a 7-bit
    changed-bytes symbol; g/b predicted from the r diff (public LASzip
    layout: lasreaditemcompressed_rgb12_v2), in the decoder's symbol
    order (byte-used mask; r-low, r-high, then g-low, b-low, g-high,
    b-high corrections, each predicted from the running diff)."""

    def __init__(self, enc: "ArithmeticEncoder", first: bytes) -> None:
        self.enc = enc
        self.r, self.g, self.b = struct.unpack("<3H", first)
        self.m_byte_used = ArithmeticModel(128)
        self.m_diff = [ArithmeticModel(256) for _ in range(6)]

    def write(self, rgb: tuple[int, int, int]) -> None:
        enc = self.enc
        r, g, b = rgb
        lr, lg, lb = self.r, self.g, self.b
        sym = 0
        if (r & 0xFF) != (lr & 0xFF):
            sym |= 1
        if (r >> 8) != (lr >> 8):
            sym |= 2
        if (g & 0xFF) != (lg & 0xFF):
            sym |= 4
        if (g >> 8) != (lg >> 8):
            sym |= 8
        if (b & 0xFF) != (lb & 0xFF):
            sym |= 16
        if (b >> 8) != (lb >> 8):
            sym |= 32
        if (
            (r & 0xFF) != (g & 0xFF) or (r & 0xFF) != (b & 0xFF)
            or (r >> 8) != (g >> 8) or (r >> 8) != (b >> 8)
        ):
            sym |= 64
        enc.encode_symbol(self.m_byte_used, sym)
        if sym & 1:
            enc.encode_symbol(self.m_diff[0], ((r & 0xFF) - (lr & 0xFF)) & 0xFF)
        if sym & 2:
            enc.encode_symbol(self.m_diff[1], ((r >> 8) - (lr >> 8)) & 0xFF)
        if sym & 64:
            diff = (r & 0xFF) - (lr & 0xFF)
            if sym & 4:
                enc.encode_symbol(
                    self.m_diff[2],
                    ((g & 0xFF) - _u8_clamp(diff + (lg & 0xFF))) & 0xFF,
                )
            if sym & 16:
                diff = _div2_trunc(diff + (g & 0xFF) - (lg & 0xFF))
                enc.encode_symbol(
                    self.m_diff[4],
                    ((b & 0xFF) - _u8_clamp(diff + (lb & 0xFF))) & 0xFF,
                )
            diff = (r >> 8) - (lr >> 8)
            if sym & 8:
                enc.encode_symbol(
                    self.m_diff[3],
                    ((g >> 8) - _u8_clamp(diff + (lg >> 8))) & 0xFF,
                )
            if sym & 32:
                diff = _div2_trunc(diff + (g >> 8) - (lg >> 8))
                enc.encode_symbol(
                    self.m_diff[5],
                    ((b >> 8) - _u8_clamp(diff + (lb >> 8))) & 0xFF,
                )
        self.r, self.g, self.b = r, g, b


class Byte2Writer:
    """BYTE item (extra bytes), record version 2: each of the k extra
    bytes is coded as its (value - last) difference, folded mod 256, in
    its OWN adaptive 256-symbol model — the laszip BYTE v2 scheme."""

    def __init__(self, enc: "ArithmeticEncoder", first: bytes) -> None:
        self.enc = enc
        self.last = list(first)
        self.models = [ArithmeticModel(256) for _ in first]

    def write(self, cur: bytes) -> None:
        for i, m in enumerate(self.models):
            self.enc.encode_symbol(m, (cur[i] - self.last[i]) & 0xFF)
            self.last[i] = cur[i]


# --- container level -------------------------------------------------------

LASZIP_VLR_RECORD_ID = 22204
_U64 = 0xFFFFFFFFFFFFFFFF


ITEM_BYTE = 0
ITEM_POINT14 = 10  # layered family (LAS 1.4, compressor 3) — refused
ITEM_POINT10 = 6
ITEM_GPSTIME11 = 7
ITEM_RGB12 = 8
ITEM_WAVEPACKET13 = 9
_ITEM_NAMES = {0: "BYTE", 1: "SHORT", 2: "INT", 3: "LONG", 4: "FLOAT",
               5: "DOUBLE", 6: "POINT10", 7: "GPSTIME11", 8: "RGB12",
               9: "WAVEPACKET13", 10: "POINT14", 11: "RGB14",
               12: "RGBNIR14", 13: "WAVEPACKET14", 14: "BYTE14"}


def _bytes_reader(data: bytes):
    """``read_at(offset, n)`` over bytes already in memory."""
    return lambda off, n: data[off : off + n]


def _laszip_vlr(read_at, size: int, header: dict) -> dict:
    """Locate + parse the laszip VLR (record id 22204) by ranged reads of
    the VLR headers and the laszip VLR's body.  A VLR that runs past the
    end of the ``size``-byte file raises ValueError."""
    pos = header["header_size"]
    for _ in range(header["n_vlrs"]):
        vh = read_at(pos, 54)
        if len(vh) < 54:
            raise ValueError("VLR header runs past the end of the file")
        _res, _uid, rid, rlen = struct.unpack_from("<H16sHH", vh, 0)
        if pos + 54 + rlen > size:
            raise ValueError("VLR body runs past the end of the file")
        pos += 54 + rlen
        if rid != LASZIP_VLR_RECORD_ID:
            continue
        if rlen < 34:
            raise ValueError(f"laszip VLR is {rlen} bytes, fixed fields need 34")
        body = read_at(pos - rlen, rlen)
        (compressor, coder, vmaj, vmin, vrev, options, chunk_size,
         n_special, off_special, num_items) = struct.unpack_from(
            "<HHBBHIIqqH", body, 0
        )
        if 34 + 6 * num_items > rlen:
            raise ValueError(
                f"laszip VLR lists {num_items} items in {rlen} bytes"
            )
        items = [
            struct.unpack_from("<3H", body, 34 + 6 * i) for i in range(num_items)
        ]
        return {
            "compressor": compressor,
            "coder": coder,
            "version": (vmaj, vmin, vrev),
            "chunk_size": chunk_size,
            "items": items,  # (type, size, version)
        }
    raise ValueError("no laszip VLR found — not a LAZ file?")


def laz_chunk_plan(data: bytes, header: dict | None = None,
                   vlr: dict | None = None):
    """LAZ bytes -> (header, vlr, chunks) where chunks is a list of
    ``(byte_start, point_count)`` — the per-chunk scan plan.  Each chunk
    is independently decodable (raw first point + fresh models), so this
    IS the split list for a distributed scan (the analog of a parquet
    row group).

    ``byte_start`` is always a concrete offset: single-chunk streams use
    the point-data start, multi-chunk streams require a parsable chunk
    table and raise otherwise (the arithmetic decoder's byte lookahead
    makes sequential chunk-boundary recovery impossible)."""
    if header is None:
        header = read_header(data)
    header, vlr, chunks = laz_plan(_bytes_reader(data), len(data), header, vlr)
    return header, vlr, [(s, c) for s, c, _e in chunks]


def laz_plan(read_at, size: int, header: dict, vlr: dict | None = None):
    """:func:`laz_chunk_plan` by ranged reads of a ``size``-byte file ->
    (header, vlr, chunks) with chunks ``(byte_start, point_count,
    byte_end)``.  ``read_at(offset, n)`` returns up to ``n`` bytes at
    ``offset``.  Reads the VLRs, the 8-byte chunk-table offset and the
    chunk table (from its offset to the end of the file), never point
    bytes.  A chunk ends where the next one starts; the last one at the
    chunk table, or at the end of the file when there is none."""
    if not (header["point_format"] & 0x80):
        raise ValueError("not LAZ (compression bit clear) — use las.read_las")
    if vlr is None:
        vlr = _laszip_vlr(read_at, size, header)
    if vlr["compressor"] not in (1, 2):
        raise ValueError(f"unsupported laszip compressor {vlr['compressor']}")
    if vlr["compressor"] == 2 and vlr["chunk_size"] == 0:
        # a zero chunk would never advance the chunk walk below
        raise ValueError("laszip VLR declares chunk_size 0 for a chunked stream")
    for itype, _isize, iver in vlr["items"]:
        if itype == ITEM_POINT14:
            raise ValueError(
                "POINT14 streams are layered (compressor 3, LAS 1.4 point "
                "formats 6+) — not supported"
            )
        if (itype, iver) not in (
            (ITEM_POINT10, 2), (ITEM_GPSTIME11, 2), (ITEM_RGB12, 2),
            (ITEM_WAVEPACKET13, 1), (ITEM_BYTE, 2),
        ):
            raise ValueError(
                "unsupported laszip item "
                f"{_ITEM_NAMES.get(itype, itype)} v{iver} (POINT10/GPSTIME11/"
                "RGB12 v2, WAVEPACKET13 v1, BYTE v2 supported — point "
                "formats 0-5)"
            )
        # fixed item sizes: a corrupt VLR size would shift every later
        # item's raw first-point bytes and silently decode garbage
        # (BYTE's size IS the extra-bytes width, any positive value)
        fixed = {ITEM_POINT10: 20, ITEM_GPSTIME11: 8, ITEM_RGB12: 6,
                 ITEM_WAVEPACKET13: 29}
        if itype in fixed and _isize != fixed[itype]:
            raise ValueError(
                f"laszip item {_ITEM_NAMES.get(itype, itype)} declares "
                f"size {_isize}, spec size is {fixed[itype]}"
            )
        if itype == ITEM_BYTE and _isize <= 0:
            raise ValueError("laszip BYTE item declares non-positive size")
    # decode_laz_chunk interleaves items in the CANONICAL order
    # (POINT10, GPSTIME11, RGB12, WAVEPACKET13, BYTE); a VLR listing
    # them in any other order would silently decode garbage, so refuse
    # it here
    canon = [ITEM_POINT10, ITEM_GPSTIME11, ITEM_RGB12, ITEM_WAVEPACKET13,
             ITEM_BYTE]
    types = [t for t, _s, _v in vlr["items"]]
    if types != [t for t in canon if t in types]:
        raise ValueError(
            f"laszip items out of canonical order {types} — the "
            "interleaved decoder assumes POINT10, GPSTIME11, RGB12, "
            "WAVEPACKET13, BYTE"
        )
    n = header["point_count"]
    pos = header["offset_to_points"]
    end = size
    chunk_starts: list[int] | None = None
    if vlr["compressor"] == 2:  # chunked: chunk table offset precedes data
        if pos + 8 > size:
            raise ValueError("point data cannot hold the chunk table offset")
        (table_off,) = struct.unpack_from("<q", read_at(pos, 8), 0)
        pos += 8
        # a positive offset past the end means the file was cut short;
        # -1 (an interrupted writer) still reads as one chunk below
        if table_off > size - 8:
            raise ValueError(
                f"chunk table offset {table_off} lies past the end of the "
                f"{size}-byte file (truncated?)"
            )
        if 0 < table_off < pos:
            raise ValueError(
                f"chunk table offset {table_off} lies before the point "
                f"data at {pos}"
            )
        # chunk table: version 0 = the laszip-native layout (chunk sizes
        # arithmetic-coded with the 32-bit/2-context integer compressor,
        # each size predicted by the previous one — validated against the
        # reference fixture's own table); version 1 = this module's
        # legacy raw u32 layout (older written files)
        if table_off > 0:
            end = table_off
            table = read_at(table_off, size - table_off)
            ver, cnt = struct.unpack_from("<2I", table, 0)
            max_chunks = 1 + n // max(vlr["chunk_size"], 1)
            sizes = None
            if ver == 0 and 0 < cnt <= max_chunks:
                tdec = ArithmeticDecoder(table, 8)
                tdec.init()
                ic = IntegerCompressor(tdec, 32, 2)
                sizes = []
                prev = 0
                for _ in range(cnt):
                    prev = ic.decompress(prev, 1)
                    sizes.append(prev)
            elif ver == 1 and 0 < cnt <= max_chunks:
                if 8 + 4 * cnt > len(table):
                    raise ValueError("chunk table runs past the end of the file")
                sizes = struct.unpack_from(f"<{cnt}I", table, 8)
            if sizes is not None:
                if min(sizes) < 0:
                    raise ValueError("chunk table lists a negative chunk size")
                # the chunks fill the bytes between the offset and the table
                if sum(sizes) != table_off - pos:
                    raise ValueError(
                        f"chunk table sizes sum to {sum(sizes)} bytes, the "
                        f"chunks span {table_off - pos}"
                    )
                chunk_starts = [pos]
                for s in sizes[:-1]:
                    chunk_starts.append(chunk_starts[-1] + s)
    chunk_size = vlr["chunk_size"] if vlr["compressor"] == 2 else n

    chunks = []
    i = 0
    k = 0
    while i < n:
        count = min(chunk_size, n - i)
        if chunk_starts is not None:
            if k >= len(chunk_starts):
                raise ValueError("chunk table shorter than point count implies")
            nxt = chunk_starts[k + 1] if k + 1 < len(chunk_starts) else end
            chunks.append((chunk_starts[k], count, nxt))
        elif i == 0:
            chunks.append((pos, count, end))
        else:
            raise ValueError(
                "multi-chunk LAZ without a parsable chunk table: sequential "
                "decode cannot locate chunk boundaries (the arithmetic "
                "decoder's byte lookahead makes dec.pos inexact) — "
                "laszip-native arithmetic-coded chunk tables are out of scope"
            )
        i += count
        k += 1
    return header, vlr, chunks


def decode_laz_chunk(data: bytes, vlr: dict, start: int, count: int):
    """One chunk -> (X, Y, Z int64 raw-quantized, cls, returns, gps, rgb,
    extra, wave), decoded by the C kernel in ``_laszip.c``.

    ``rgb`` is an (n, 3) uint16 array for point formats 2/3 (RGB12 item
    present), else None; ``extra`` is an (n, k) uint8 array when a BYTE
    (extra-bytes) item of width k is present, else None; ``wave`` is an
    (n, 29) uint8 array of raw wave-packet descriptor blocks for point
    formats 4/5 (WAVEPACKET13 item present), else None.  Items decode
    interleaved per point, sharing one arithmetic decoder — the laszip
    stream layout.

    ``data[start:]`` holds the chunk.  The decoder reads zeros past the
    end of ``data``, and a read position that ends more than
    ``_LOOKAHEAD`` bytes past it raises ValueError: the chunk table gave
    this chunk fewer bytes than its points were coded in.  With
    ``start == 0`` the buffer is taken to be exactly the chunk (no LAZ
    chunk starts at byte 0 of a file), and a decoder that stops more
    than ``_LOOKAHEAD`` bytes before its end raises too: the chunk table
    gave it more bytes.  A caller that decodes a chunk out of a whole
    file (``start`` > 0) gets only the first check.  A build failure of
    the native unit raises RuntimeError; there is no Python fallback."""
    items = vlr["items"]
    has_gps = any(t == ITEM_GPSTIME11 for t, _s, _v in items)
    has_rgb = any(t == ITEM_RGB12 for t, _s, _v in items)
    has_wave = any(t == ITEM_WAVEPACKET13 for t, _s, _v in items)
    n_extra = next((s for t, s, _v in items if t == ITEM_BYTE), 0)
    n = max(count, 0)
    out = (
        np.empty(n, np.int64), np.empty(n, np.int64), np.empty(n, np.int64),
        np.empty(n, np.uint8), np.empty(n, np.uint8), np.zeros(n, np.float64),
        np.zeros((n, 3), np.uint16) if has_rgb else None,
        np.zeros((n, n_extra), np.uint8) if n_extra else None,
        np.zeros((n, 29), np.uint8) if has_wave else None,
    )
    buf = np.frombuffer(data, np.uint8)
    rc, end = _native.laz_decode_chunk(
        buf, start, count, has_gps, has_rgb, has_wave, n_extra, _LOOKAHEAD, out
    )
    if rc == 0:
        return out
    size = len(buf)
    if rc == _LAZ_RAW_SHORT:
        msg = f"ends inside its {end - start}-byte raw first point"
    elif rc == _LAZ_OVERRUN:
        msg = (f"decoded {end - size} bytes past the end of its "
               f"{size - start}-byte buffer")
    elif rc == _LAZ_EARLY:
        msg = (f"decoded {size - end} bytes short of the end of its "
               f"{size - start}-byte buffer")
    elif rc == _LAZ_OFFSET64:
        msg = "decodes a wave-packet offset wider than 64 bits"
    elif rc == _LAZ_NOMEM:
        raise MemoryError(f"LAZ chunk at byte {start}: decoder allocation failed")
    else:
        msg = f"with {count} points cannot be decoded"
    raise ValueError(f"LAZ chunk at byte {start} {msg}")



def read_laz(data: bytes):
    """LAZ bytes -> (header, x, y, z, classification) float64/uint8 arrays
    — the same surface as :func:`las.read_las`, via full LASzip
    decompression.  Also attaches per-point return numbers and gps times
    on the header dict (``_returns``, ``_gps_time``) for validation.
    LAS 1.4 POINT14 streams (point formats 6+) raise ValueError."""
    header, vlr, chunks = laz_plan(_bytes_reader(data), len(data),
                                   read_header(data))
    if not chunks:  # 0-point file: no chunks to decode
        e = np.array([], np.float64)
        header["_returns"] = np.array([], np.uint8)
        header["_gps_time"] = e.copy()
        return header, e, e.copy(), e.copy(), np.array([], np.uint8)
    parts = [decode_laz_chunk(data[s:e], vlr, 0, c) for s, c, e in chunks]
    xs = np.concatenate([p[0] for p in parts])
    ys = np.concatenate([p[1] for p in parts])
    zs = np.concatenate([p[2] for p in parts])
    cls = np.concatenate([p[3] for p in parts])
    sx, sy, sz = header["scale"]
    ox, oy, oz = header["offset"]
    header["_returns"] = np.concatenate([p[4] for p in parts])
    header["_gps_time"] = np.concatenate([p[5] for p in parts])
    if parts[0][6] is not None:
        header["_rgb"] = np.concatenate([p[6] for p in parts])
    if parts[0][7] is not None:
        header["_extra"] = np.concatenate([p[7] for p in parts])
    if parts[0][8] is not None:
        # same surface as las.read_las on uncompressed formats 4/5/9/10
        wave = np.ascontiguousarray(np.concatenate([p[8] for p in parts]))
        header["_wave_desc"] = wave[:, 0].copy()
        header["_wave_size"] = (
            np.ascontiguousarray(wave[:, 9:13]).view("<u4").reshape(-1)
        )
        header["_wave_return_loc"] = (
            np.ascontiguousarray(wave[:, 13:17]).view("<f4").reshape(-1)
        )
    return header, xs * sx + ox, ys * sy + oy, zs * sz + oz, cls


def read_laz_file(path: str):
    with open(path, "rb") as f:
        return read_laz(f.read())


# --- encoder side (LAZ writer) --------------------------------------------
#
# Mirror of the decoder: FastAC-style arithmetic encoder with carry
# propagation, the k-bit corrector compress path, POINT10/GPSTIME11 v2
# write logic.  The reference's own writer is an empty stub
# (LAS/LasZipNetWriter.cs), so this exceeds reference parity; its value
# here is (a) a compressed point sink and (b) pinning the decoder's
# multi-chunk path via round trips (the only real fixture is one chunk).


class ArithmeticEncoder:
    __slots__ = ("out", "base", "length")

    def __init__(self) -> None:
        self.out = bytearray()
        self.base = 0
        self.length = AC_MAX_LENGTH

    def _propagate_carry(self) -> None:
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 0xFF:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1

    def _renorm(self) -> None:
        while True:
            self.out.append((self.base >> 24) & 0xFF)
            self.base = (self.base << 8) & _U32
            self.length = (self.length << 8) & _U32
            if self.length >= AC_MIN_LENGTH:
                break

    def encode_bit(self, m: ArithmeticBitModel, bit: int) -> None:
        x = m.bit_0_prob * (self.length >> BM_LENGTH_SHIFT)
        if bit == 0:
            self.length = x
            m.bit_0_count += 1
        else:
            init_base = self.base
            self.base = (self.base + x) & _U32
            self.length -= x
            if init_base > self.base:
                self._propagate_carry()
        if self.length < AC_MIN_LENGTH:
            self._renorm()
        m.bits_until_update -= 1
        if m.bits_until_update == 0:
            m.update()

    def encode_symbol(self, m: ArithmeticModel, sym: int) -> None:
        init_base = self.base
        if sym == m.symbols - 1:
            x = m.distribution[sym] * (self.length >> DM_LENGTH_SHIFT)
            self.base = (self.base + x) & _U32
            self.length -= x
        else:
            self.length >>= DM_LENGTH_SHIFT
            x = m.distribution[sym] * self.length
            self.base = (self.base + x) & _U32
            self.length = m.distribution[sym + 1] * self.length - x
        if init_base > self.base:
            self._propagate_carry()
        if self.length < AC_MIN_LENGTH:
            self._renorm()
        m.symbol_count[sym] += 1
        m.symbols_until_update -= 1
        if m.symbols_until_update == 0:
            m.update()

    def write_bits(self, bits: int, sym: int) -> None:
        if bits > 19:
            self.write_short(sym & 0xFFFF)
            sym >>= 16
            bits -= 16
        init_base = self.base
        self.length >>= bits
        self.base = (self.base + sym * self.length) & _U32
        if init_base > self.base:
            self._propagate_carry()
        if self.length < AC_MIN_LENGTH:
            self._renorm()

    def write_short(self, sym: int) -> None:
        init_base = self.base
        self.length >>= 16
        self.base = (self.base + sym * self.length) & _U32
        if init_base > self.base:
            self._propagate_carry()
        if self.length < AC_MIN_LENGTH:
            self._renorm()

    def write_int(self, v: int) -> None:
        self.write_short(v & 0xFFFF)
        self.write_short((v >> 16) & 0xFFFF)

    def write_int64(self, v: int) -> None:
        self.write_int(v & _U32)
        self.write_int((v >> 32) & _U32)

    def done(self) -> bytes:
        init_base = self.base
        if self.length > 2 * AC_MIN_LENGTH:
            self.base = (self.base + AC_MIN_LENGTH) & _U32
            self.length = AC_MIN_LENGTH >> 1
        else:
            self.base = (self.base + (AC_MIN_LENGTH >> 1)) & _U32
            self.length = AC_MIN_LENGTH >> 9
        if init_base > self.base:
            self._propagate_carry()
        self._renorm()
        return bytes(self.out)


class IntegerCompressorEnc(IntegerCompressor):
    """Compress side sharing the decoder's model layout (the adaptive
    models must evolve identically on both sides)."""

    def __init__(self, enc: "ArithmeticEncoder", bits: int = 32,
                 contexts: int = 1, bits_high: int = 8) -> None:
        super().__init__(None, bits, contexts, bits_high)
        self.enc = enc

    def compress(self, pred: int, real: int, context: int = 0) -> None:
        corr = real - pred
        if self.corr_range:
            corr_max = self.corr_min + self.corr_range - 1
            if corr < self.corr_min:
                corr += self.corr_range
            elif corr > corr_max:
                corr -= self.corr_range
        else:  # 32-bit int wraparound
            corr &= _U32
            if corr >= 0x80000000:
                corr -= 1 << 32
        self._write_corrector(corr, context)

    def _write_corrector(self, c: int, context: int) -> None:
        enc = self.enc
        # tightest interval [-(2^k - 1), 2^k] containing c
        k = 0
        c1 = -c if c <= 0 else c - 1
        while c1:
            c1 >>= 1
            k += 1
        self.k = k
        enc.encode_symbol(self.m_bits[context], k)
        if k:
            if k < 32:
                if c >= 0:  # c in [2^(k-1)+1 .. 2^k] -> [2^(k-1) .. 2^k-1]
                    c -= 1
                else:  # c in [-(2^k-1) .. -2^(k-1)] -> [0 .. 2^(k-1)-1]
                    c += (1 << k) - 1
                if k <= self.bits_high:
                    enc.encode_symbol(self.m_corrector[k], c)
                else:
                    k1 = k - self.bits_high
                    enc.encode_symbol(self.m_corrector[k], c >> k1)
                    enc.write_bits(k1, c & ((1 << k1) - 1))
        else:
            enc.encode_bit(self.m_corrector0, c)


class Point10V2Writer:
    def __init__(self, enc: ArithmeticEncoder, first: bytes) -> None:
        self.enc = enc
        (x, y, z, _inten, flags, classification, scan_angle, user_data,
         psid) = struct.unpack("<3iHBBbBH", first)
        self.x, self.y, self.z = x, y, z
        self.intensity = 0  # same v2 quirk as the reader
        self.flags = flags
        self.classification = classification
        self.scan_angle = scan_angle & 0xFF
        self.user_data = user_data
        self.psid = psid
        self.m_changed_values = ArithmeticModel(64)
        self.m_scan_angle_rank = [ArithmeticModel(256), ArithmeticModel(256)]
        self.m_bit_byte: list[ArithmeticModel | None] = [None] * 256
        self.m_classification: list[ArithmeticModel | None] = [None] * 256
        self.m_user_data: list[ArithmeticModel | None] = [None] * 256
        self.ic_intensity = IntegerCompressorEnc(enc, 16, 4)
        self.ic_psid = IntegerCompressorEnc(enc, 16)
        self.ic_dx = IntegerCompressorEnc(enc, 32, 2)
        self.ic_dy = IntegerCompressorEnc(enc, 32, 22)
        self.ic_z = IntegerCompressorEnc(enc, 32, 20)
        self.last_x_diff_median5 = [StreamingMedian5() for _ in range(16)]
        self.last_y_diff_median5 = [StreamingMedian5() for _ in range(16)]
        self.last_intensity = [0] * 16
        self.last_height = [0] * 8

    def write(self, item: tuple) -> None:
        (x, y, z, intensity, flags, classification, scan_angle, user_data,
         psid) = item
        scan_angle &= 0xFF
        enc = self.enc
        r = flags & 0x07
        n = (flags >> 3) & 0x07
        m = NUMBER_RETURN_MAP[n][r]
        level = NUMBER_RETURN_LEVEL[n][r]
        changed = 0
        if self.flags != flags:
            changed |= 32
        if self.last_intensity[m] != intensity:
            changed |= 16
        if self.classification != classification:
            changed |= 8
        if self.scan_angle != scan_angle:
            changed |= 4
        if self.user_data != user_data:
            changed |= 2
        if self.psid != psid:
            changed |= 1
        enc.encode_symbol(self.m_changed_values, changed)
        if changed & 32:
            if self.m_bit_byte[self.flags] is None:
                self.m_bit_byte[self.flags] = ArithmeticModel(256)
            enc.encode_symbol(self.m_bit_byte[self.flags], flags)
            self.flags = flags
        if changed & 16:
            self.ic_intensity.compress(
                self.last_intensity[m], intensity, m if m < 3 else 3
            )
            self.last_intensity[m] = intensity
        if changed & 8:
            if self.m_classification[self.classification] is None:
                self.m_classification[self.classification] = ArithmeticModel(256)
            enc.encode_symbol(
                self.m_classification[self.classification], classification
            )
            self.classification = classification
        if changed & 4:
            scan_dir = (flags >> 6) & 1
            enc.encode_symbol(
                self.m_scan_angle_rank[scan_dir],
                (scan_angle - self.scan_angle) & 0xFF,
            )
            self.scan_angle = scan_angle
        if changed & 2:
            if self.m_user_data[self.user_data] is None:
                self.m_user_data[self.user_data] = ArithmeticModel(256)
            enc.encode_symbol(self.m_user_data[self.user_data], user_data)
            self.user_data = user_data
        if changed & 1:
            self.ic_psid.compress(self.psid, psid)
            self.psid = psid

        median = self.last_x_diff_median5[m].get()
        diff = x - self.x
        self.ic_dx.compress(median, diff, 1 if n == 1 else 0)
        self.last_x_diff_median5[m].add(diff)
        self.x = x

        median = self.last_y_diff_median5[m].get()
        diff = y - self.y
        k_bits = self.ic_dx.k
        ctx = (1 if n == 1 else 0) + ((k_bits & 0xFE) if k_bits < 20 else 20)
        self.ic_dy.compress(median, diff, ctx)
        self.last_y_diff_median5[m].add(diff)
        self.y = y

        k_bits = (self.ic_dx.k + self.ic_dy.k) // 2
        ctx = (1 if n == 1 else 0) + ((k_bits & 0xFE) if k_bits < 18 else 18)
        self.ic_z.compress(self.last_height[level], z, ctx)
        self.last_height[level] = z
        self.z = z


class Wavepacket13V1Writer:
    """WAVEPACKET13 item, record version 1: the 29-byte wave-packet
    descriptor block of point formats 4/5 (index u1, byte offset u64,
    packet size u4, return-point location f4, Xt/Yt/Zt f4).  Follows
    the public laszip v1 item scheme (lasreaditemcompressed_v1.cpp):
    descriptor index through a 256-symbol model; byte offset through a
    4-symbol difference classifier whose context is the PREVIOUS
    point's symbol (0 = same offset, 1 = last offset + last size,
    2 = i32 delta via an integer compressor, 3 = raw 64-bit); packet
    size and the four floats (compressed as raw i32 bit patterns)
    through 32-bit integer compressors.  The writer's offset
    classifier picks the cheapest representation the decoder can
    reconstruct.  The reference tree has no wavepacket fixture, so this
    item is pinned by round-trip rather than native byte parity."""

    def __init__(self, enc: "ArithmeticEncoder", first: bytes) -> None:
        self.enc = enc
        self.desc, self.offset, self.size = struct.unpack("<BQI", first[:13])
        self.ret, self.xt, self.yt, self.zt = struct.unpack(
            "<4i", first[13:29]
        )
        self.last_diff_32 = 0
        self.sym_last = 0
        self.m_index = ArithmeticModel(256)
        self.m_offset_diff = [ArithmeticModel(4) for _ in range(4)]
        self.ic_offset = IntegerCompressorEnc(enc, 32)
        self.ic_size = IntegerCompressorEnc(enc, 32)
        self.ic_ret = IntegerCompressorEnc(enc, 32)
        self.ic_xyz = IntegerCompressorEnc(enc, 32, 3)

    def write(self, cur: bytes) -> None:
        desc, offset, size = struct.unpack("<BQI", cur[:13])
        ret, xt, yt, zt = struct.unpack("<4i", cur[13:29])
        enc = self.enc
        enc.encode_symbol(self.m_index, desc)
        diff = offset - self.offset
        if offset == self.offset:
            sym = 0
        elif offset == (self.offset + self.size) & _U64:
            sym = 1
        elif -0x80000000 <= diff <= 0x7FFFFFFF:
            sym = 2
        else:
            sym = 3
        enc.encode_symbol(self.m_offset_diff[self.sym_last], sym)
        self.sym_last = sym
        if sym == 2:
            self.ic_offset.compress(self.last_diff_32, diff)
            self.last_diff_32 = diff
        elif sym == 3:
            enc.write_int64(offset)
        self.ic_size.compress(_i32(self.size), _i32(size))
        self.ic_ret.compress(self.ret, ret)
        self.ic_xyz.compress(self.xt, xt, 0)
        self.ic_xyz.compress(self.yt, yt, 1)
        self.ic_xyz.compress(self.zt, zt, 2)
        self.desc, self.offset, self.size = desc, offset, size
        self.ret, self.xt, self.yt, self.zt = ret, xt, yt, zt


class GpsTime11V2Writer:
    def __init__(self, enc: ArithmeticEncoder, first: bytes) -> None:
        self.enc = enc
        self.m_gpstime_multi = ArithmeticModel(GPSTIME_MULTI_TOTAL)
        self.m_gpstime_0diff = ArithmeticModel(6)
        self.ic_gpstime = IntegerCompressorEnc(enc, 32, 9)
        self.last = 0
        self.next = 0
        self.last_gpstime = [0, 0, 0, 0]
        self.last_gpstime_diff = [0, 0, 0, 0]
        self.multi_extreme_counter = [0, 0, 0, 0]
        self.last_gpstime[0] = struct.unpack("<Q", first)[0]

    @staticmethod
    def _i64(u: int) -> int:
        u &= (1 << 64) - 1
        return u - (1 << 64) if u >= (1 << 63) else u

    def write(self, gps: float) -> None:
        enc = self.enc
        u64 = struct.unpack("<Q", struct.pack("<d", gps))[0]
        lg = self.last_gpstime
        lgd = self.last_gpstime_diff
        mec = self.multi_extreme_counter
        if lgd[self.last] == 0:
            if u64 == lg[self.last]:
                enc.encode_symbol(self.m_gpstime_0diff, 0)
                return
            d64 = self._i64(u64) - self._i64(lg[self.last])
            d32 = _i32(d64)
            if d64 == d32:
                enc.encode_symbol(self.m_gpstime_0diff, 1)
                self.ic_gpstime.compress(0, d32, 0)
                lgd[self.last] = d32
                mec[self.last] = 0
                lg[self.last] = u64
            else:
                for i in range(1, 4):
                    od = self._i64(u64) - self._i64(lg[(self.last + i) & 3])
                    if od == _i32(od):
                        enc.encode_symbol(self.m_gpstime_0diff, i + 2)
                        self.last = (self.last + i) & 3
                        self.write(gps)
                        return
                enc.encode_symbol(self.m_gpstime_0diff, 2)
                self.ic_gpstime.compress(
                    _i32(lg[self.last] >> 32), _i32(u64 >> 32), 8
                )
                enc.write_int(u64 & _U32)
                self.next = (self.next + 1) & 3
                self.last = self.next
                lg[self.last] = u64
                lgd[self.last] = 0
                mec[self.last] = 0
        else:
            if u64 == lg[self.last]:
                enc.encode_symbol(
                    self.m_gpstime_multi, GPSTIME_MULTI_UNCHANGED
                )
                return
            d64 = self._i64(u64) - self._i64(lg[self.last])
            d32 = _i32(d64)
            if d64 == d32:
                mf = np.float32(d32) / np.float32(lgd[self.last])
                multi = int(mf + np.float32(0.5)) if mf >= 0 else int(
                    mf - np.float32(0.5)
                )
                if multi == 1:
                    enc.encode_symbol(self.m_gpstime_multi, 1)
                    self.ic_gpstime.compress(lgd[self.last], d32, 1)
                    mec[self.last] = 0
                elif multi > 0:
                    if multi < GPSTIME_MULTI:
                        enc.encode_symbol(self.m_gpstime_multi, multi)
                        self.ic_gpstime.compress(
                            _i32(multi * lgd[self.last]), d32,
                            2 if multi < 10 else 3,
                        )
                    else:
                        enc.encode_symbol(self.m_gpstime_multi, GPSTIME_MULTI)
                        self.ic_gpstime.compress(
                            _i32(GPSTIME_MULTI * lgd[self.last]), d32, 4
                        )
                        mec[self.last] += 1
                        if mec[self.last] > 3:
                            lgd[self.last] = d32
                            mec[self.last] = 0
                elif multi < 0:
                    if multi > GPSTIME_MULTI_MINUS:
                        enc.encode_symbol(
                            self.m_gpstime_multi, GPSTIME_MULTI - multi
                        )
                        self.ic_gpstime.compress(
                            _i32(multi * lgd[self.last]), d32, 5
                        )
                    else:
                        enc.encode_symbol(
                            self.m_gpstime_multi,
                            GPSTIME_MULTI - GPSTIME_MULTI_MINUS,
                        )
                        self.ic_gpstime.compress(
                            _i32(GPSTIME_MULTI_MINUS * lgd[self.last]), d32, 6
                        )
                        mec[self.last] += 1
                        if mec[self.last] > 3:
                            lgd[self.last] = d32
                            mec[self.last] = 0
                else:
                    enc.encode_symbol(self.m_gpstime_multi, 0)
                    self.ic_gpstime.compress(0, d32, 7)
                    mec[self.last] += 1
                    if mec[self.last] > 3:
                        lgd[self.last] = d32
                        mec[self.last] = 0
                lg[self.last] = (lg[self.last] + d64) & ((1 << 64) - 1)
            else:
                for i in range(1, 4):
                    od = self._i64(u64) - self._i64(lg[(self.last + i) & 3])
                    if od == _i32(od):
                        enc.encode_symbol(
                            self.m_gpstime_multi, GPSTIME_MULTI_CODE_FULL + i
                        )
                        self.last = (self.last + i) & 3
                        self.write(gps)
                        return
                enc.encode_symbol(
                    self.m_gpstime_multi, GPSTIME_MULTI_CODE_FULL
                )
                self.ic_gpstime.compress(
                    _i32(lg[self.last] >> 32), _i32(u64 >> 32), 8
                )
                enc.write_int(u64 & _U32)
                self.next = (self.next + 1) & 3
                self.last = self.next
                lg[self.last] = u64
                lgd[self.last] = 0
                mec[self.last] = 0


def write_laz(
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    classification: np.ndarray,
    gps_time: np.ndarray | None = None,
    scale: tuple[float, float, float] = (0.01, 0.01, 0.01),
    chunk_size: int = 50000,
    rgb: np.ndarray | None = None,
    extra_bytes: np.ndarray | None = None,
    wavepacket: np.ndarray | None = None,
) -> bytes:
    """Arrays -> compressed LAZ bytes (LAS 1.2 header, point format 0-5
    with the compression bit, laszip VLR, compressor-2 chunked stream).
    ``rgb`` is an (n, 3) uint16 array -> point format 2 (or 3 with
    ``gps_time``) carrying the RGB12 v2 item.  ``extra_bytes`` is an
    (n, k) uint8 array -> a BYTE v2 item of width k appended to every
    record (the LAS extra-bytes mechanism).  ``wavepacket`` is an
    (n, 29) uint8 array of raw wave-packet descriptor blocks -> point
    format 4 (or 5 with ``rgb``) carrying the WAVEPACKET13 v1 item;
    requires ``gps_time`` (formats 4/5 both include GPS time).

    Round-trips :func:`read_laz` exactly (quantized int coordinates,
    classes, gps times).  The trailing chunk table uses the
    laszip-native version-0 layout (sizes arithmetic-coded with the
    32-bit/2-context integer compressor, previous-size prediction) —
    the same layout decoded from the reference fixture's own table.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    x = np.asarray(x, np.float64)
    y = np.asarray(y, np.float64)
    z = np.asarray(z, np.float64)
    n = len(x)
    has_gps = gps_time is not None
    has_rgb = rgb is not None
    n_extra = 0
    if extra_bytes is not None:
        extra_bytes = np.asarray(extra_bytes, np.uint8).reshape(n, -1)
        n_extra = extra_bytes.shape[1]
    has_wave = wavepacket is not None
    if has_wave:
        if not has_gps:
            raise ValueError(
                "wavepacket requires gps_time (point formats 4/5 both "
                "carry GPS time)"
            )
        wavepacket = np.asarray(wavepacket, np.uint8).reshape(n, 29)
        fmt = 5 if has_rgb else 4
    else:
        fmt = (1 if has_gps else 0) | (2 if has_rgb else 0)
    rec_len = (20 + (8 if has_gps else 0) + (6 if has_rgb else 0)
               + (29 if has_wave else 0) + n_extra)
    if has_rgb:
        rgb = np.asarray(rgb, np.uint16).reshape(n, 3)
    sx, sy, sz = scale
    ox = float(np.floor(x.min())) if n else 0.0
    oy = float(np.floor(y.min())) if n else 0.0
    oz = float(np.floor(z.min())) if n else 0.0
    qx = np.round((x - ox) / sx).astype(np.int64)
    qy = np.round((y - oy) / sy).astype(np.int64)
    qz = np.round((z - oz) / sz).astype(np.int64)
    for q in (qx, qy, qz):
        if n and np.abs(q).max() >= 2**31:
            raise ValueError("extent exceeds int32 at this scale")
    cls = np.asarray(classification, np.uint8)

    def raw10(i: int) -> bytes:
        return struct.pack(
            "<3iHBBbBH", int(qx[i]), int(qy[i]), int(qz[i]), 0, 0x11,
            int(cls[i]), 0, 0, 0
        )

    chunks = bytearray()
    sizes = []
    i = 0
    while i < n:
        count = min(chunk_size, n - i)
        start = len(chunks)
        chunks += raw10(i)
        if has_gps:
            g0 = struct.pack("<d", float(gps_time[i]))
            chunks += g0
        if has_rgb:
            c0 = struct.pack("<3H", *(int(v) for v in rgb[i]))
            chunks += c0
        if has_wave:
            w0 = wavepacket[i].tobytes()
            chunks += w0
        if n_extra:
            e0 = extra_bytes[i].tobytes()
            chunks += e0
        enc = ArithmeticEncoder()
        p10 = Point10V2Writer(enc, raw10(i))
        gpsw = GpsTime11V2Writer(enc, g0) if has_gps else None
        rgbw = Rgb12V2Writer(enc, c0) if has_rgb else None
        wavw = Wavepacket13V1Writer(enc, w0) if has_wave else None
        extw = Byte2Writer(enc, e0) if n_extra else None
        for j in range(i + 1, i + count):
            p10.write(
                (int(qx[j]), int(qy[j]), int(qz[j]), 0, 0x11, int(cls[j]),
                 0, 0, 0)
            )
            if gpsw is not None:
                gpsw.write(float(gps_time[j]))
            if rgbw is not None:
                rgbw.write(
                    (int(rgb[j, 0]), int(rgb[j, 1]), int(rgb[j, 2]))
                )
            if wavw is not None:
                wavw.write(wavepacket[j].tobytes())
            if extw is not None:
                extw.write(extra_bytes[j].tobytes())
        chunks += enc.done()
        sizes.append(len(chunks) - start)
        i += count

    # laszip VLR
    items = [(ITEM_POINT10, 20, 2)]
    if has_gps:
        items.append((ITEM_GPSTIME11, 8, 2))
    if has_rgb:
        items.append((ITEM_RGB12, 6, 2))
    if has_wave:
        items.append((ITEM_WAVEPACKET13, 29, 1))
    if n_extra:
        items.append((ITEM_BYTE, n_extra, 2))
    vlr_body = struct.pack(
        "<HHBBHIIqqH", 2, 0, 2, 2, 0, 0, chunk_size, 0, -1, len(items)
    )
    for it in items:
        vlr_body += struct.pack("<3H", *it)
    vlr = struct.pack("<H16sHH", 0, b"laszip encoded\0\0", 22204,
                      len(vlr_body)) + b"\0" * 32 + vlr_body

    # formats 4/5 are defined from LAS 1.3 (235-byte header whose last
    # field is the u64 start-of-waveform-data-packet-record; 0 = no
    # internal waveform payload) — a 1.2 header declaring format 4/5
    # would fail spec-validating tools
    header_size = 235 if has_wave else 227
    minor = 3 if has_wave else 2
    offset_to_points = header_size + len(vlr)
    hdr = bytearray(header_size)
    hdr[0:4] = b"LASF"
    hdr[24] = 1
    hdr[25] = minor
    if has_wave:
        # global encoding bit 2: waveform packets external (none stored)
        struct.pack_into("<H", hdr, 6, 0x0004)
    hdr[26:36] = b"lasutility"
    struct.pack_into("<HI", hdr, 94, header_size, offset_to_points)
    struct.pack_into("<IBH", hdr, 100, 1, fmt | 0x80, rec_len)
    struct.pack_into("<I", hdr, 107, n)
    struct.pack_into("<6d", hdr, 131, sx, sy, sz, ox, oy, oz)
    if n:
        struct.pack_into(
            "<6d", hdr, 179,
            float(x.max()), float(x.min()), float(y.max()), float(y.min()),
            float(z.max()), float(z.min()),
        )
    # point data: chunk-table offset (i64) -> chunks -> laszip-native
    # chunk table (version 0: sizes arithmetic-coded, each predicted by
    # the previous — the same layout the reference fixture carries)
    table_off = offset_to_points + 8 + len(chunks)
    out = bytes(hdr) + vlr + struct.pack("<q", table_off) + bytes(chunks)
    tenc = ArithmeticEncoder()
    tic = IntegerCompressorEnc(tenc, 32, 2)
    prev = 0
    for s in sizes:
        tic.compress(prev, s, 1)
        prev = s
    out += struct.pack("<2I", 0, len(sizes)) + tenc.done()
    return out
