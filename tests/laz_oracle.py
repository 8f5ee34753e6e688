"""Differential oracle for the native LASzip chunk decoder.

The pure-Python item readers (POINT10 v2, GPSTIME11 v2, RGB12 v2, BYTE
v2, WAVEPACKET13 v1) and the per-point loop that ``gridlib/laz.py`` ran
before the decoder moved into ``gridlib/_laszip.c``.  The package keeps
one decoder, the C kernel; this module exists only so the tests can hold
the kernel to the same arrays and the same refusals on every input.

Two changes against the package's last Python decoder, both on corrupt
streams only: the GPSTIME11 sequence switch loops instead of recursing
(no ``RecursionError``), and a wave-packet offset wider than 64 bits
raises ``ValueError`` instead of ``struct.error``.
"""

from __future__ import annotations

import struct

import numpy as np

from lasutility_spark.gridlib.laz import (
    _LOOKAHEAD,
    _U32,
    _U64,
    GPSTIME_MULTI,
    GPSTIME_MULTI_CODE_FULL,
    GPSTIME_MULTI_MINUS,
    GPSTIME_MULTI_TOTAL,
    GPSTIME_MULTI_UNCHANGED,
    ITEM_BYTE,
    ITEM_GPSTIME11,
    ITEM_RGB12,
    ITEM_WAVEPACKET13,
    NUMBER_RETURN_LEVEL,
    NUMBER_RETURN_MAP,
    ArithmeticDecoder,
    ArithmeticModel,
    IntegerCompressor,
    StreamingMedian5,
    _div2_trunc,
    _i32,
    _u8_clamp,
)


class Decoder(ArithmeticDecoder):
    """The package's decoder plus the 32-bit raw read the items use."""

    __slots__ = ()

    def read_int(self) -> int:
        low = self.read_short()
        high = self.read_short()
        return (high << 16) | low


class Point10V2Reader:
    """POINT10 item, record version 2 (the 20-byte format-0 core)."""

    def __init__(self, dec: Decoder, first: bytes) -> None:
        self.dec = dec
        (x, y, z, intensity, flags, classification, scan_angle, user_data,
         psid) = struct.unpack("<3iHBBbBH", first)
        self.x, self.y, self.z = x, y, z
        self.intensity = 0  # v2 quirk: last intensity starts at 0
        self.flags = flags
        self.classification = classification
        self.scan_angle = scan_angle
        self.user_data = user_data
        self.psid = psid

        self.m_changed_values = ArithmeticModel(64)
        self.m_scan_angle_rank = [ArithmeticModel(256), ArithmeticModel(256)]
        self.m_bit_byte: list[ArithmeticModel | None] = [None] * 256
        self.m_classification: list[ArithmeticModel | None] = [None] * 256
        self.m_user_data: list[ArithmeticModel | None] = [None] * 256
        self.ic_intensity = IntegerCompressor(dec, 16, 4)
        self.ic_psid = IntegerCompressor(dec, 16)
        self.ic_dx = IntegerCompressor(dec, 32, 2)
        self.ic_dy = IntegerCompressor(dec, 32, 22)
        self.ic_z = IntegerCompressor(dec, 32, 20)
        self.last_x_diff_median5 = [StreamingMedian5() for _ in range(16)]
        self.last_y_diff_median5 = [StreamingMedian5() for _ in range(16)]
        self.last_intensity = [0] * 16
        self.last_height = [0] * 8

    def read(self) -> tuple:
        dec = self.dec
        changed = dec.decode_symbol(self.m_changed_values)
        if changed:
            if changed & 32:
                if self.m_bit_byte[self.flags] is None:
                    self.m_bit_byte[self.flags] = ArithmeticModel(256)
                self.flags = dec.decode_symbol(self.m_bit_byte[self.flags])
            r = self.flags & 0x07
            n = (self.flags >> 3) & 0x07
            m = NUMBER_RETURN_MAP[n][r]
            level = NUMBER_RETURN_LEVEL[n][r]
            if changed & 16:
                self.intensity = self.ic_intensity.decompress(
                    self.last_intensity[m], m if m < 3 else 3
                )
                self.last_intensity[m] = self.intensity
            else:
                self.intensity = self.last_intensity[m]
            if changed & 8:
                if self.m_classification[self.classification] is None:
                    self.m_classification[self.classification] = ArithmeticModel(256)
                self.classification = dec.decode_symbol(
                    self.m_classification[self.classification]
                )
            if changed & 4:
                scan_dir = (self.flags >> 6) & 1
                val = dec.decode_symbol(self.m_scan_angle_rank[scan_dir])
                self.scan_angle = (val + self.scan_angle) & 0xFF
            if changed & 2:
                if self.m_user_data[self.user_data] is None:
                    self.m_user_data[self.user_data] = ArithmeticModel(256)
                self.user_data = dec.decode_symbol(self.m_user_data[self.user_data])
            if changed & 1:
                self.psid = self.ic_psid.decompress(self.psid)
        else:
            r = self.flags & 0x07
            n = (self.flags >> 3) & 0x07
            m = NUMBER_RETURN_MAP[n][r]
            level = NUMBER_RETURN_LEVEL[n][r]

        # positions: median-predicted dx, k-correlated dy/z contexts
        median = self.last_x_diff_median5[m].get()
        diff = self.ic_dx.decompress(median, 1 if n == 1 else 0)
        self.x += diff
        self.last_x_diff_median5[m].add(diff)

        median = self.last_y_diff_median5[m].get()
        k_bits = self.ic_dx.k
        ctx = (1 if n == 1 else 0) + ((k_bits & 0xFE) if k_bits < 20 else 20)
        diff = self.ic_dy.decompress(median, ctx)
        self.y += diff
        self.last_y_diff_median5[m].add(diff)

        k_bits = (self.ic_dx.k + self.ic_dy.k) // 2
        ctx = (1 if n == 1 else 0) + ((k_bits & 0xFE) if k_bits < 18 else 18)
        self.z = self.ic_z.decompress(self.last_height[level], ctx)
        self.last_height[level] = self.z

        return (self.x, self.y, self.z, self.intensity, self.flags,
                self.classification, self.scan_angle, self.user_data, self.psid)


class GpsTime11V2Reader:
    """GPSTIME11 item, record version 2 (multi-sequence delta coding)."""

    def __init__(self, dec: Decoder, first: bytes) -> None:
        self.dec = dec
        self.m_gpstime_multi = ArithmeticModel(GPSTIME_MULTI_TOTAL)
        self.m_gpstime_0diff = ArithmeticModel(6)
        self.ic_gpstime = IntegerCompressor(dec, 32, 9)
        self.last = 0
        self.next = 0
        self.last_gpstime = [0, 0, 0, 0]  # u64 bit patterns of the double
        self.last_gpstime_diff = [0, 0, 0, 0]
        self.multi_extreme_counter = [0, 0, 0, 0]
        self.last_gpstime[0] = struct.unpack("<Q", first)[0]

    def read(self) -> float:
        while self._read():  # a sequence switch decodes one more symbol
            pass
        return struct.unpack("<d", struct.pack("<Q", self.last_gpstime[self.last]))[0]

    def _read(self) -> bool:
        """One symbol's step; True when it switched sequence."""
        dec = self.dec
        lg = self.last_gpstime
        lgd = self.last_gpstime_diff
        mec = self.multi_extreme_counter
        if lgd[self.last] == 0:
            multi = dec.decode_symbol(self.m_gpstime_0diff)
            if multi == 1:  # 32-bit difference
                lgd[self.last] = self.ic_gpstime.decompress(0, 0)
                lg[self.last] = (lg[self.last] + lgd[self.last]) & ((1 << 64) - 1)
                mec[self.last] = 0
            elif multi == 2:  # full 64-bit retake
                self.next = (self.next + 1) & 3
                hi = self.ic_gpstime.decompress(_i32(lg[self.last] >> 32), 8)
                v = (hi & _U32) << 32
                v |= dec.read_int()
                lg[self.next] = v
                self.last = self.next
                lgd[self.last] = 0
                mec[self.last] = 0
            elif multi > 2:  # switch sequence
                self.last = (self.last + multi - 2) & 3
                return True
        else:
            multi = dec.decode_symbol(self.m_gpstime_multi)
            if multi == 1:
                d = self.ic_gpstime.decompress(lgd[self.last], 1)
                lg[self.last] = (lg[self.last] + d) & ((1 << 64) - 1)
                mec[self.last] = 0
            elif multi < GPSTIME_MULTI_UNCHANGED:
                if multi == 0:
                    d = self.ic_gpstime.decompress(0, 7)
                    mec[self.last] += 1
                    if mec[self.last] > 3:
                        lgd[self.last] = d
                        mec[self.last] = 0
                elif multi < GPSTIME_MULTI:
                    ctx = 2 if multi < 10 else 3
                    d = self.ic_gpstime.decompress(
                        _i32(multi * lgd[self.last]), ctx
                    )
                elif multi == GPSTIME_MULTI:
                    d = self.ic_gpstime.decompress(
                        _i32(GPSTIME_MULTI * lgd[self.last]), 4
                    )
                    mec[self.last] += 1
                    if mec[self.last] > 3:
                        lgd[self.last] = d
                        mec[self.last] = 0
                else:
                    mneg = GPSTIME_MULTI - multi  # negative multiplier
                    if mneg > GPSTIME_MULTI_MINUS:
                        d = self.ic_gpstime.decompress(
                            _i32(mneg * lgd[self.last]), 5
                        )
                    else:
                        d = self.ic_gpstime.decompress(
                            _i32(GPSTIME_MULTI_MINUS * lgd[self.last]), 6
                        )
                        mec[self.last] += 1
                        if mec[self.last] > 3:
                            lgd[self.last] = d
                            mec[self.last] = 0
                lg[self.last] = (lg[self.last] + d) & ((1 << 64) - 1)
            elif multi == GPSTIME_MULTI_CODE_FULL:
                self.next = (self.next + 1) & 3
                hi = self.ic_gpstime.decompress(_i32(lg[self.last] >> 32), 8)
                v = (hi & _U32) << 32
                v |= dec.read_int()
                lg[self.next] = v
                self.last = self.next
                lgd[self.last] = 0
                mec[self.last] = 0
            elif multi > GPSTIME_MULTI_CODE_FULL:
                self.last = (self.last + multi - GPSTIME_MULTI_CODE_FULL) & 3
                return True
        return False


class Rgb12V2Reader:
    """RGB12 item, record version 2 (the 6-byte r/g/b uint16 triple of
    point formats 2/3) — byte-wise diff model per channel with a 7-bit
    changed-bytes symbol; g/b predicted from the r diff (public LASzip
    layout: lasreaditemcompressed_rgb12_v2).  The reference reads these
    through the native laszip library (LAS/LasZipNetReader.cs:63-89)."""

    def __init__(self, dec: Decoder, first: bytes) -> None:
        self.dec = dec
        self.r, self.g, self.b = struct.unpack("<3H", first)
        self.m_byte_used = ArithmeticModel(128)
        self.m_diff = [ArithmeticModel(256) for _ in range(6)]

    def read(self) -> tuple[int, int, int]:
        dec = self.dec
        lr, lg, lb = self.r, self.g, self.b
        sym = dec.decode_symbol(self.m_byte_used)
        if sym & 1:
            corr = dec.decode_symbol(self.m_diff[0])
            r = (corr + (lr & 0xFF)) & 0xFF
        else:
            r = lr & 0xFF
        if sym & 2:
            corr = dec.decode_symbol(self.m_diff[1])
            r |= ((corr + (lr >> 8)) & 0xFF) << 8
        else:
            r |= lr & 0xFF00
        if sym & 64:
            diff = (r & 0xFF) - (lr & 0xFF)
            if sym & 4:
                corr = dec.decode_symbol(self.m_diff[2])
                g = (corr + _u8_clamp(diff + (lg & 0xFF))) & 0xFF
            else:
                g = lg & 0xFF
            if sym & 16:
                corr = dec.decode_symbol(self.m_diff[4])
                diff = _div2_trunc(diff + (g & 0xFF) - (lg & 0xFF))
                b = (corr + _u8_clamp(diff + (lb & 0xFF))) & 0xFF
            else:
                b = lb & 0xFF
            diff = (r >> 8) - (lr >> 8)
            if sym & 8:
                corr = dec.decode_symbol(self.m_diff[3])
                g |= ((corr + _u8_clamp(diff + (lg >> 8))) & 0xFF) << 8
            else:
                g |= lg & 0xFF00
            if sym & 32:
                corr = dec.decode_symbol(self.m_diff[5])
                diff = _div2_trunc(diff + (g >> 8) - (lg >> 8))
                b |= ((corr + _u8_clamp(diff + (lb >> 8))) & 0xFF) << 8
            else:
                b |= lb & 0xFF00
        else:
            g = r
            b = r
        self.r, self.g, self.b = r, g, b
        return r, g, b


class Byte2Reader:
    """BYTE item (extra bytes), record version 2: each of the k extra
    bytes is coded as its (value - last) difference, folded mod 256, in
    its OWN adaptive 256-symbol model — the laszip BYTE v2 scheme."""

    def __init__(self, dec: Decoder, first: bytes) -> None:
        self.dec = dec
        self.last = list(first)
        self.models = [ArithmeticModel(256) for _ in first]

    def read(self) -> bytes:
        for i, m in enumerate(self.models):
            self.last[i] = (self.last[i] + self.dec.decode_symbol(m)) & 0xFF
        return bytes(self.last)


class Wavepacket13V1Reader:
    """WAVEPACKET13 item, record version 1."""

    def __init__(self, dec: Decoder, first: bytes) -> None:
        self.dec = dec
        self.desc, self.offset, self.size = struct.unpack("<BQI", first[:13])
        self.ret, self.xt, self.yt, self.zt = struct.unpack(
            "<4i", first[13:29]
        )
        self.last_diff_32 = 0
        self.sym_last = 0
        self.m_index = ArithmeticModel(256)
        self.m_offset_diff = [ArithmeticModel(4) for _ in range(4)]
        self.ic_offset = IntegerCompressor(dec, 32)
        self.ic_size = IntegerCompressor(dec, 32)
        self.ic_ret = IntegerCompressor(dec, 32)
        self.ic_xyz = IntegerCompressor(dec, 32, 3)

    def read(self) -> bytes:
        dec = self.dec
        desc = dec.decode_symbol(self.m_index)
        sym = dec.decode_symbol(self.m_offset_diff[self.sym_last])
        self.sym_last = sym
        if sym == 0:
            offset = self.offset
        elif sym == 1:
            offset = (self.offset + self.size) & _U64
        elif sym == 2:
            self.last_diff_32 = self.ic_offset.decompress(self.last_diff_32)
            offset = (self.offset + self.last_diff_32) & _U64
        else:
            low = dec.read_int()
            high = dec.read_int()
            if high >> 32:  # only when the decoder's interval broke
                raise ValueError("wave-packet offset wider than 64 bits")
            offset = (high << 32) | low
        size = self.ic_size.decompress(_i32(self.size)) & _U32
        ret = self.ic_ret.decompress(self.ret)
        xt = self.ic_xyz.decompress(self.xt, 0)
        yt = self.ic_xyz.decompress(self.yt, 1)
        zt = self.ic_xyz.decompress(self.zt, 2)
        self.desc, self.offset, self.size = desc, offset, size
        self.ret, self.xt, self.yt, self.zt = ret, xt, yt, zt
        return struct.pack("<BQI4i", desc, offset, size, ret, xt, yt, zt)


def decode_laz_chunk(data: bytes, vlr: dict, start: int, count: int):
    """The Python decoder that ``laz.decode_laz_chunk`` replaces: same
    arguments, same nine results, same ``ValueError`` refusals."""
    if count < 1 or start < 0:
        raise ValueError(
            f"LAZ chunk at byte {start} with {count} points cannot be decoded"
        )
    has_gps = any(t == ITEM_GPSTIME11 for t, _s, _v in vlr["items"])
    has_rgb = any(t == ITEM_RGB12 for t, _s, _v in vlr["items"])
    has_wave = any(t == ITEM_WAVEPACKET13 for t, _s, _v in vlr["items"])
    n_extra = next(
        (s for t, s, _v in vlr["items"] if t == ITEM_BYTE), 0
    )
    xs = np.empty(count, np.int64)
    ys = np.empty(count, np.int64)
    zs = np.empty(count, np.int64)
    cls = np.empty(count, np.uint8)
    rets = np.empty(count, np.uint8)
    gps = np.zeros(count, np.float64)
    rgb = np.zeros((count, 3), np.uint16) if has_rgb else None
    wave = np.zeros((count, 29), np.uint8) if has_wave else None
    extra = np.zeros((count, n_extra), np.uint8) if n_extra else None
    pos = start
    raw10 = data[pos : pos + 20]
    pos += 20
    rawgps = b""
    if has_gps:
        rawgps = data[pos : pos + 8]
        pos += 8
    rawrgb = b""
    if has_rgb:
        rawrgb = data[pos : pos + 6]
        pos += 6
    rawwave = b""
    if has_wave:
        rawwave = data[pos : pos + 29]
        pos += 29
    rawextra = b""
    if n_extra:
        rawextra = data[pos : pos + n_extra]
        pos += n_extra
    if pos > len(data):
        raise ValueError(
            f"LAZ chunk at byte {start} ends inside its {pos - start}-byte "
            "raw first point"
        )
    dec = Decoder(data, pos)
    p10 = Point10V2Reader(dec, raw10)
    gpsr = GpsTime11V2Reader(dec, rawgps) if has_gps else None
    rgbr = Rgb12V2Reader(dec, rawrgb) if has_rgb else None
    wavr = Wavepacket13V1Reader(dec, rawwave) if has_wave else None
    extr = Byte2Reader(dec, rawextra) if n_extra else None
    xs[0], ys[0], zs[0] = p10.x, p10.y, p10.z
    cls[0] = p10.classification
    rets[0] = p10.flags & 0x07
    if has_gps:
        gps[0] = struct.unpack("<d", rawgps)[0]
    if rgb is not None:
        rgb[0] = struct.unpack("<3H", rawrgb)
    if wave is not None:
        wave[0] = np.frombuffer(rawwave, np.uint8)
    if extra is not None:
        extra[0] = np.frombuffer(rawextra, np.uint8)
    dec.init()
    for j in range(1, count):
        x, y, z, _inten, flags, c, _sa, _ud, _psid = p10.read()
        xs[j], ys[j], zs[j] = x, y, z
        cls[j] = c
        rets[j] = flags & 0x07
        if gpsr is not None:
            gps[j] = gpsr.read()
        if rgbr is not None:
            rgb[j] = rgbr.read()
        if wavr is not None:
            wave[j] = np.frombuffer(wavr.read(), np.uint8)
        if extr is not None:
            extra[j] = np.frombuffer(extr.read(), np.uint8)
    if dec.pos - len(data) > _LOOKAHEAD:
        raise ValueError(
            f"LAZ chunk at byte {start} decoded {dec.pos - len(data)} bytes "
            f"past the end of its {len(data) - start}-byte buffer"
        )
    if start == 0 and len(data) - dec.pos > _LOOKAHEAD:
        raise ValueError(
            f"LAZ chunk at byte {start} decoded {len(data) - dec.pos} bytes "
            f"short of the end of its {len(data) - start}-byte buffer"
        )
    return xs, ys, zs, cls, rets, gps, rgb, extra, wave
