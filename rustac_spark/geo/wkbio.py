"""Minimal pure-Python/numpy WKB codec — all 7 basic geometry types.

shapely is not installed in this environment (SURVEY.md §7 "offline
deps"), so geometry travels as WKB BinaryType columns encoded/decoded
here — mirroring the reference's WKB-first discipline
(crates/duckdb/src/client.rs:299-300, crates/core/src/geoarrow/mod.rs:388-403).
The reference accepts every GeoJSON geometry type in `intersects`
(crates/core/src/api/search.rs:236-251) and decodes all of them from
GeoArrow (crates/core/src/geoarrow/json.rs:460-499); this codec covers
the same surface: Point, LineString, Polygon (with interior rings),
MultiPoint, MultiLineString, MultiPolygon, GeometryCollection.
Installing shapely later is a drop-in: the column format is standard
little-endian ISO WKB.

Parsed representation
---------------------
``parse_wkb`` returns ``(kind, data)``:

    ("point", (x, y))
    ("linestring", ndarray[n,2])
    ("polygon", [ring, ...])            # ring 0 = exterior, rest holes
    ("multipoint", [(x, y), ...])
    ("multilinestring", [ndarray, ...])
    ("multipolygon", [[ring, ...], ...])
    ("geometrycollection", [(kind, data), ...])

``geometry_pieces`` flattens any parsed geometry into primitive pieces
for the intersects kernels: ("point", (x,y)) | ("line", ndarray) |
("poly", [rings]).
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7


# ------------------------------------------------------------- encoders

def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, WKB_POINT, x, y)


def linestring_wkb(pts) -> bytes:
    head = struct.pack("<BII", 1, WKB_LINESTRING, len(pts))
    return head + b"".join(struct.pack("<dd", x, y) for x, y in pts)


def polygon_wkb(*rings) -> bytes:
    """rings: one or more sequences of (x, y); first is the exterior,
    the rest interior rings (holes). Caller closes each ring."""
    out = [struct.pack("<BII", 1, WKB_POLYGON, len(rings))]
    for ring in rings:
        out.append(struct.pack("<I", len(ring)))
        out.append(b"".join(struct.pack("<dd", x, y) for x, y in ring))
    return b"".join(out)


def multipoint_wkb(pts) -> bytes:
    head = struct.pack("<BII", 1, WKB_MULTIPOINT, len(pts))
    return head + b"".join(point_wkb(x, y) for x, y in pts)


def multilinestring_wkb(lines) -> bytes:
    head = struct.pack("<BII", 1, WKB_MULTILINESTRING, len(lines))
    return head + b"".join(linestring_wkb(pts) for pts in lines)


def multipolygon_wkb(polys) -> bytes:
    """polys: list of ring-lists (each ring-list = exterior + holes)."""
    head = struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(polys))
    return head + b"".join(polygon_wkb(*rings) for rings in polys)


def geometrycollection_wkb(wkbs) -> bytes:
    head = struct.pack("<BII", 1, WKB_GEOMETRYCOLLECTION, len(wkbs))
    return head + b"".join(wkbs)


def bbox_polygon_wkb(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    """5-point closed ring, CCW from SW — mirrors Bbox::to_geometry
    (reference crates/core/src/bbox.rs:164-187)."""
    return polygon_wkb([
        (xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin),
    ])


def geojson_to_wkb(g: dict) -> bytes:
    """Any GeoJSON geometry dict → WKB. Mirrors the reference's
    accept-everything intersects input (search.rs:236-251)."""
    t = g.get("type")
    c = g.get("coordinates")
    if t == "Point":
        return point_wkb(float(c[0]), float(c[1]))
    if t == "LineString":
        return linestring_wkb([(float(x), float(y)) for x, y in c])
    if t == "Polygon":
        return polygon_wkb(*[[(float(x), float(y)) for x, y in ring]
                             for ring in c])
    if t == "MultiPoint":
        return multipoint_wkb([(float(x), float(y)) for x, y in c])
    if t == "MultiLineString":
        return multilinestring_wkb(
            [[(float(x), float(y)) for x, y in line] for line in c])
    if t == "MultiPolygon":
        return multipolygon_wkb(
            [[[(float(x), float(y)) for x, y in ring] for ring in poly]
             for poly in c])
    if t == "GeometryCollection":
        return geometrycollection_wkb(
            [geojson_to_wkb(sub) for sub in g.get("geometries", [])])
    raise ValueError(f"unsupported GeoJSON geometry type: {t!r}")


# -------------------------------------------------------------- decoder

def _read_ring(buf, bo, off):
    (npts,) = struct.unpack_from(f"{bo}I", buf, off)
    arr = np.frombuffer(buf, dtype=f"{bo}f8", count=2 * npts, offset=off + 4)
    return arr.reshape(npts, 2).copy(), off + 4 + 16 * npts


def _parse_at(buf: bytes, off: int):
    """Parse one geometry at byte offset `off` → ((kind, data), next_off)."""
    bo = "<" if buf[off] == 1 else ">"
    (gtype,) = struct.unpack_from(f"{bo}I", buf, off + 1)
    off += 5
    if gtype == WKB_POINT:
        x, y = struct.unpack_from(f"{bo}dd", buf, off)
        return ("point", (x, y)), off + 16
    if gtype == WKB_LINESTRING:
        pts, off = _read_ring(buf, bo, off)
        return ("linestring", pts), off
    if gtype == WKB_POLYGON:
        (nrings,) = struct.unpack_from(f"{bo}I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            ring, off = _read_ring(buf, bo, off)
            rings.append(ring)
        if not rings:
            rings = [np.zeros((0, 2))]
        return ("polygon", rings), off
    if gtype in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON,
                 WKB_GEOMETRYCOLLECTION):
        (n,) = struct.unpack_from(f"{bo}I", buf, off)
        off += 4
        subs = []
        for _ in range(n):
            sub, off = _parse_at(buf, off)
            subs.append(sub)
        if gtype == WKB_MULTIPOINT:
            return ("multipoint", [d for _, d in subs]), off
        if gtype == WKB_MULTILINESTRING:
            return ("multilinestring", [d for _, d in subs]), off
        if gtype == WKB_MULTIPOLYGON:
            return ("multipolygon", [d for _, d in subs]), off
        return ("geometrycollection", subs), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def parse_wkb(buf: bytes):
    if buf is None:
        return None
    parsed, _ = _parse_at(bytes(buf), 0)
    return parsed


def geometry_pieces(parsed):
    """Flatten a parsed geometry into primitive pieces:
    ("point",(x,y)) | ("line", ndarray[n,2]) | ("poly", [rings]).

    Zero-vertex pieces (empty rings/linestrings, WKB EMPTY variants)
    are dropped: a degenerate piece covers no area, so callers get the
    constant-false fast path instead of a crash downstream (round-2
    ADVICE — wkb_bounds raised on an s_intersects filter containing a
    polygon with an empty exterior ring)."""
    kind, data = parsed
    if kind == "point":
        return [("point", data)]
    if kind == "linestring":
        return [("line", data)] if len(data) else []
    if kind == "polygon":
        # an empty EXTERIOR ring voids the whole polygon (holes alone
        # cover nothing); empty holes are simply dropped
        if not len(data) or not len(data[0]):
            return []
        return [("poly", [r for r in data if len(r)])]
    if kind == "multipoint":
        return [("point", p) for p in data]
    if kind == "multilinestring":
        return [("line", line) for line in data if len(line)]
    if kind == "multipolygon":
        out = []
        for rings in data:
            if len(rings) and len(rings[0]):
                out.append(("poly", [r for r in rings if len(r)]))
        return out
    if kind == "geometrycollection":
        out = []
        for sub in data:
            out.extend(geometry_pieces(sub))
        return out
    raise ValueError(f"unknown parsed geometry kind {kind!r}")


def wkb_bounds(buf: bytes):
    """(xmin, ymin, xmax, ymax) of any supported WKB geometry."""
    return pieces_bounds(geometry_pieces(parse_wkb(buf)))


def pieces_bounds(pieces):
    """(xmin, ymin, xmax, ymax) of geometry_pieces output."""
    if not pieces:
        raise ValueError("empty geometry has no bounds")
    xs0, ys0, xs1, ys1 = [], [], [], []
    for kind, data in pieces:
        if kind == "point":
            x, y = float(data[0]), float(data[1])
            xs0.append(x), ys0.append(y), xs1.append(x), ys1.append(y)
        elif kind == "line":
            xs0.append(float(data[:, 0].min()))
            ys0.append(float(data[:, 1].min()))
            xs1.append(float(data[:, 0].max()))
            ys1.append(float(data[:, 1].max()))
        else:  # poly — exterior ring bounds
            ext = data[0]
            xs0.append(float(ext[:, 0].min()))
            ys0.append(float(ext[:, 1].min()))
            xs1.append(float(ext[:, 0].max()))
            ys1.append(float(ext[:, 1].max()))
    return (min(xs0), min(ys0), max(xs1), max(ys1))
