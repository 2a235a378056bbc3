"""Minimal WKB encode/decode (little-endian) — SURVEY.md G7.

Reference analog: imposm2 shipped geometries to PostGIS as WKB via Shapely/GEOS
(imposm/geom.py + psycopg2 adapters). This is a from-scratch NumPy writer/reader
for the OGC well-known-binary spec (public standard), covering exactly the types
the engine materializes: Point(1), LineString(2), Polygon(3), MultiPolygon(6).

Used only at materialization boundaries; kernels operate on (N,2) float64 arrays,
which coords_rows reads out of the Arrow coordinate columns.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6

_LE = b"\x01"


def point_wkb(x: float, y: float) -> bytes:
    return _LE + struct.pack("<Idd", WKB_POINT, x, y)


def linestring_wkb(coords: np.ndarray) -> bytes:
    c = np.ascontiguousarray(np.asarray(coords, dtype="<f8"))
    return _LE + struct.pack("<II", WKB_LINESTRING, len(c)) + c.tobytes()


def _polygon_body(rings: list[np.ndarray]) -> bytes:
    parts = [struct.pack("<I", len(rings))]
    for r in rings:
        c = np.ascontiguousarray(np.asarray(r, dtype="<f8"))
        parts.append(struct.pack("<I", len(c)))
        parts.append(c.tobytes())
    return b"".join(parts)


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """rings = [shell, hole, ...], each (N,2) closed."""
    return _LE + struct.pack("<I", WKB_POLYGON) + _polygon_body(rings)


def multipolygon_wkb(polygons: list[list[np.ndarray]]) -> bytes:
    parts = [_LE, struct.pack("<II", WKB_MULTIPOLYGON, len(polygons))]
    for rings in polygons:
        parts.append(_LE + struct.pack("<I", WKB_POLYGON) + _polygon_body(rings))
    return b"".join(parts)


def parse_wkb(buf: bytes) -> tuple[int, object]:
    """-> (geom_type, payload). Point -> (x, y); LineString -> (N,2) array;
    Polygon -> [rings]; MultiPolygon -> [[rings], ...]."""
    geom_type, payload, off = _parse_one(buf, 0)
    if off != len(buf):
        raise ValueError(f"trailing {len(buf) - off} bytes after WKB geometry")
    return geom_type, payload


def _parse_one(buf: bytes, off: int) -> tuple[int, object, int]:
    if buf[off : off + 1] != _LE:
        raise ValueError("only little-endian WKB supported")
    (geom_type,) = struct.unpack_from("<I", buf, off + 1)
    off += 5
    if geom_type == WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return geom_type, (x, y), off + 16
    if geom_type == WKB_LINESTRING:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
        return geom_type, arr.copy(), off + 16 * n
    if geom_type == WKB_POLYGON:
        rings, off = _parse_rings(buf, off)
        return geom_type, rings, off
    if geom_type == WKB_MULTIPOLYGON:
        (np_,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(np_):
            t, rings, off = _parse_one(buf, off)
            if t != WKB_POLYGON:
                raise ValueError("MultiPolygon member is not a Polygon")
            polys.append(rings)
        return geom_type, polys, off
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


def _parse_rings(buf: bytes, off: int) -> tuple[list[np.ndarray], int]:
    (nr,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nr):
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
        rings.append(arr.copy())
        off += 16 * n
    return rings, off


def coords_rows(col: pa.Array | pa.ChunkedArray) -> list:
    """Per row of an Arrow list<list<double>> column (a point list): its
    (N,2) float64 view over the column's flat values buffer; per row of a
    list<list<list<double>>> column (rings): the list of its rings' views;
    one more list level per deeper nesting. A NULL row reads as [] (no
    point, no ring), a NULL double as NaN. The views are read-only."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy()
    start, end = off[:-1], off[1:]
    if col.null_count:
        end = np.where(col.is_null().to_numpy(zero_copy_only=False), start, end)
    child = col.values
    if pa.types.is_list(child.type.value_type):
        items = coords_rows(child)
        return [items[a:b] for a, b in zip(start.tolist(), end.tolist())]
    pts = child.offsets.to_numpy()
    flat = child.values.to_numpy(zero_copy_only=False)
    return [flat[pts[a] : pts[b]].reshape(-1, 2) for a, b in zip(start.tolist(), end.tolist())]
