"""Minimal WKB (Well-Known Binary) geometry codec, stdlib+numpy only.

shapely is not available in this environment; vector features travel as
WKB binary columns (SURVEY.md §1.1 "Vector features") and are decoded
inside kernels with this module.  Supports the geometry types the
reference consumes (Shapefile/RasteriserEvenOdd.cs:56-80): Point,
LineString, Polygon (with interior rings), MultiLineString, MultiPolygon.
Little-endian, 2-D, per the OGC SFA spec.
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6

_GEOM_NAMES = {
    POINT: "Point",
    LINESTRING: "LineString",
    POLYGON: "Polygon",
    MULTILINESTRING: "MultiLineString",
    MULTIPOLYGON: "MultiPolygon",
}


def _ring_bytes(xs, ys) -> bytes:
    n = len(xs)
    arr = np.empty((n, 2), dtype="<f8")
    arr[:, 0] = xs
    arr[:, 1] = ys
    return struct.pack("<I", n) + arr.tobytes()


def encode_linestring(xs, ys) -> bytes:
    return b"\x01" + struct.pack("<I", LINESTRING) + _ring_bytes(xs, ys)


def encode_polygon(rings: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    """rings[0] = exterior, rest = holes; each ring must be closed."""
    body = struct.pack("<I", len(rings)) + b"".join(
        _ring_bytes(xs, ys) for xs, ys in rings
    )
    return b"\x01" + struct.pack("<I", POLYGON) + body


def encode_multipolygon(polys: list[list[tuple[np.ndarray, np.ndarray]]]) -> bytes:
    body = struct.pack("<I", len(polys)) + b"".join(encode_polygon(p) for p in polys)
    return b"\x01" + struct.pack("<I", MULTIPOLYGON) + body


def encode_multilinestring(lines: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    body = struct.pack("<I", len(lines)) + b"".join(
        encode_linestring(xs, ys) for xs, ys in lines
    )
    return b"\x01" + struct.pack("<I", MULTILINESTRING) + body


class Geometry:
    """Decoded geometry: ``kind`` + list of parts.

    - LineString: parts = [(xs, ys)]
    - Polygon: parts = [rings] where rings = [(xs, ys), ...] (ext first)
    - Multi*: parts = list of the above
    """

    __slots__ = ("kind", "parts")

    def __init__(self, kind: str, parts):
        self.kind = kind
        self.parts = parts

    def envelope(self):
        xs = np.concatenate([r[0] for r in self._all_rings()])
        ys = np.concatenate([r[1] for r in self._all_rings()])
        return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())

    def _all_rings(self):
        if self.kind in ("LineString",):
            return self.parts
        if self.kind == "Polygon":
            return self.parts
        out = []
        for sub in self.parts:
            out.extend(sub)
        return out

    def polygons(self):
        """-> list of ring-lists (for Polygon/MultiPolygon dispatch, V4)."""
        if self.kind == "Polygon":
            return [self.parts]
        if self.kind == "MultiPolygon":
            return self.parts
        return []

    def linestrings(self):
        if self.kind == "LineString":
            return self.parts
        if self.kind == "MultiLineString":
            return [p[0] for p in self.parts] if self.parts and isinstance(self.parts[0], list) else self.parts
        return []


def _need(buf: memoryview, pos: int, n: int) -> int:
    """End offset of ``n`` bytes at ``pos``; ValueError if they are not
    all there (a corrupt count or a cut buffer)."""
    if n > len(buf) - pos:
        raise ValueError(
            f"truncated WKB: {n} bytes needed at offset {pos}, {len(buf) - pos} left"
        )
    return pos + n


def _count(buf: memoryview, pos: int, min_item: int) -> tuple[int, int]:
    """A uint32 count at ``pos`` whose items take ``min_item`` bytes or
    more each, checked against the bytes that remain after it."""
    end = _need(buf, pos, 4)
    (n,) = struct.unpack_from("<I", buf, pos)
    _need(buf, end, n * min_item)
    return n, end


def _read_ring(buf: memoryview, pos: int):
    n, pos = _count(buf, pos, 16)
    arr = np.frombuffer(buf[pos : pos + 16 * n], dtype="<f8").reshape(n, 2)
    return (arr[:, 0].copy(), arr[:, 1].copy()), pos + 16 * n


def _decode_at(buf: memoryview, pos: int):
    _need(buf, pos, 5)
    endian = buf[pos]
    if endian != 1:
        raise ValueError("only little-endian WKB supported")
    (gtype,) = struct.unpack_from("<I", buf, pos + 1)
    gtype &= 0xFF  # strip SRID/Z flags if present in high bytes
    pos += 5
    if gtype == POINT:
        arr = np.frombuffer(buf[pos : _need(buf, pos, 16)], dtype="<f8")
        return Geometry("Point", [(arr[0:1].copy(), arr[1:2].copy())]), pos + 16
    if gtype == LINESTRING:
        ring, pos = _read_ring(buf, pos)
        return Geometry("LineString", [ring]), pos
    if gtype == POLYGON:
        nrings, pos = _count(buf, pos, 4)
        rings = []
        for _ in range(nrings):
            ring, pos = _read_ring(buf, pos)
            rings.append(ring)
        return Geometry("Polygon", rings), pos
    if gtype in (MULTILINESTRING, MULTIPOLYGON):
        nparts, pos = _count(buf, pos, 9)
        part_kind = "LineString" if gtype == MULTILINESTRING else "Polygon"
        parts = []
        for _ in range(nparts):
            sub, pos = _decode_at(buf, pos)
            if sub.kind != part_kind:  # also bounds the recursion depth
                raise ValueError(f"{_GEOM_NAMES[gtype]} holds a {sub.kind}")
            parts.append(sub.parts)
        return Geometry(_GEOM_NAMES[gtype], parts), pos
    raise ValueError(f"Unsupported geometry type {gtype}")


def decode(data: bytes) -> Geometry:
    """Geometry of one WKB value; ValueError on a cut, corrupt or
    over-long buffer."""
    buf = memoryview(data)
    geom, end = _decode_at(buf, 0)
    if end != len(buf):
        raise ValueError(f"{len(buf) - end} trailing bytes after the WKB geometry")
    return geom
