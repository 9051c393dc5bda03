"""WKB (Well-Known Binary) geometry codec — the engine's wire format.

Re-derivation of the OGC WKB layout the reference reads/writes
(ogr/ogrgeometry.cpp:1515 importFromWkb / :1610 exportToWkb; byte-order
flag semantics ogr/ogr_core.h:614-618; GeoParquet stores geometry
columns in exactly this encoding). Layout:

  byte    0      : byte order (1 = little-endian NDR, 0 = big-endian XDR)
  uint32  1-4    : geometry type (1 Point, 2 LineString, 3 Polygon,
                   6 MultiPolygon; we implement the reference's 2-D core)
  Point          : float64 x, float64 y
  LineString     : uint32 n, then n (x, y) pairs
  Polygon        : uint32 n_rings, then per ring uint32 n + n (x, y)
  MultiPolygon   : uint32 n_polys, then n_polys full WKB polygons
                   (each with its own byte-order byte)

Decode is numpy `frombuffer` per geometry (vectorized over the
coordinate payload — the loop is per-geometry, exactly the granularity
of the reference's importFromWkb); fixed-size point WKB additionally
has a fully batch-vectorized fast path used by the hot join input.
"""
from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON, MULTIPOLYGON = 1, 2, 3, 6
_LE = 1


# ------------------------------------------------------------------ encode

def encode_points(xs, ys) -> list[bytes]:
    """Vectorized batch point encode: one (n, 21)-byte buffer built with
    numpy, split per row."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = xs.shape[0]
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = _LE
    buf[:, 1:5] = np.array([POINT, 0, 0, 0], dtype=np.uint8)  # uint32 LE
    buf[:, 5:13] = xs.view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = ys.view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    return [raw[i * 21:(i + 1) * 21] for i in range(n)]


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", _LE, POLYGON, len(rings))]
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        out.append(struct.pack("<I", r.shape[0]))
        out.append(r.tobytes())
    return b"".join(out)


def encode_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BII", _LE, MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(encode_polygon(rings))
    return b"".join(out)


# ------------------------------------------------------------------ decode

def decode_points_batch(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Batch-vectorized decode of fixed-21-byte 2-D point WKB (the hot
    path: a billion-point geometry column decodes as one frombuffer).
    Falls back to the generic parser when any row deviates."""
    n = len(bufs)
    if n == 0:
        return np.empty(0), np.empty(0)
    joined = b"".join(bufs)
    if len(joined) == 21 * n:
        arr = np.frombuffer(joined, dtype=np.uint8).reshape(n, 21)
        if (arr[:, 0] == _LE).all() and (arr[:, 1] == POINT).all() \
                and (arr[:, 2:5] == 0).all():
            xs = arr[:, 5:13].copy().view(np.float64).ravel()
            ys = arr[:, 13:21].copy().view(np.float64).ravel()
            return xs, ys
    xs = np.empty(n)
    ys = np.empty(n)
    for i, b in enumerate(bufs):
        g = decode(b)
        if g["type"] != POINT:
            raise ValueError(f"expected point WKB, got type {g['type']}")
        xs[i], ys[i] = g["xy"][0]
    return xs, ys


def _u32(buf: bytes, off: int, bo: str) -> int:
    return struct.unpack_from(bo + "I", buf, off)[0]


def _base_type_and_dims(gtype: int) -> tuple[int, int]:
    """Resolve Z/M variants to (base 2-D type, coords per vertex).
    Supports BOTH conventions the reference reads
    (ogr/ogrgeometry.cpp importFromWkb / ogr_core.h:543-573):
    - ISO WKB: +1000 Z, +2000 M, +3000 ZM;
    - legacy 99-402 ("EWKB-style"): 0x80000000 flag = Z."""
    dims = 2
    if gtype & 0x80000000:
        gtype &= 0x7FFFFFFF
        dims = 3
    block = gtype // 1000
    if block == 1:          # Z
        dims = 3
    elif block == 2:        # M
        dims = 3
    elif block == 3:        # ZM
        dims = 4
    return gtype % 1000, dims


def decode(buf: bytes, off: int = 0):
    """Parse one WKB geometry -> dict {type, dims, ...}, supporting
    both byte orders (flag 0/1, ogr_core.h:614-618) and Z/M/ZM
    variants (coords beyond XY are parsed and returned in the
    trailing columns of the coordinate arrays). Rings/coords come
    back as (n, dims) float64 arrays, one frombuffer each."""
    order = buf[off]
    bo = "<" if order == _LE else ">"
    dt = np.dtype(np.float64).newbyteorder(bo)
    raw_type = _u32(buf, off + 1, bo)
    gtype, d = _base_type_and_dims(raw_type)
    p = off + 5
    if gtype == POINT:
        xy = np.frombuffer(buf, dtype=dt, count=d, offset=p).reshape(1, d)
        return {"type": POINT, "dims": d, "xy": xy.astype(np.float64),
                "end": p + 8 * d}
    if gtype == LINESTRING:
        n = _u32(buf, p, bo)
        xy = np.frombuffer(buf, dtype=dt, count=d * n, offset=p + 4).reshape(n, d)
        return {"type": LINESTRING, "dims": d, "xy": xy.astype(np.float64),
                "end": p + 4 + 8 * d * n}
    if gtype == POLYGON:
        nr = _u32(buf, p, bo)
        p += 4
        rings = []
        for _ in range(nr):
            n = _u32(buf, p, bo)
            xy = np.frombuffer(buf, dtype=dt, count=d * n, offset=p + 4).reshape(n, d)
            rings.append(xy.astype(np.float64))
            p += 4 + 8 * d * n
        return {"type": POLYGON, "dims": d, "rings": rings, "end": p}
    if gtype == MULTIPOLYGON:
        np_ = _u32(buf, p, bo)
        p += 4
        polys = []
        for _ in range(np_):
            g = decode(buf, p)
            if g["type"] != POLYGON:
                raise ValueError("multipolygon member is not a polygon")
            polys.append(g["rings"])
            p = g["end"]
        return {"type": MULTIPOLYGON, "dims": d, "polys": polys, "end": p}
    raise ValueError(f"unsupported WKB geometry type {raw_type}")


def encode_point_z(x: float, y: float, z: float, iso: bool = True) -> bytes:
    """3-D point: ISO (+1000) or legacy 0x80000000-flag encoding."""
    t = POINT + 1000 if iso else POINT | 0x80000000
    return struct.pack("<BIddd", _LE, t, x, y, z)


def decode_multipolygon(buf: bytes) -> list[list[np.ndarray]]:
    """-> list of polygons, each a list of XY rings (outer first; Z/M
    coords dropped — the planar-operation convention). A plain Polygon
    promotes to a 1-element MultiPolygon (the reference's
    OGRGeometryFactory::forceToMultiPolygon convention)."""
    g = decode(buf)
    if g["type"] == MULTIPOLYGON:
        polys = g["polys"]
    elif g["type"] == POLYGON:
        polys = [g["rings"]]
    else:
        raise ValueError(f"expected (multi)polygon, got type {g['type']}")
    return [[r[:, :2] for r in rings] for rings in polys]
