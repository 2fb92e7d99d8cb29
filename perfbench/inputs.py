"""Seeded inputs: the pages table, the probe sets and the STAC request mix.

Everything here is a pure function of ``seed`` (sha256-based hashing, no
global random state), so the same seed gives byte-identical parquet files
and identical request lists.  The engine only ever sees the files and the
requests these functions produce.

Seed 0 reproduces ``bench.py``'s inputs: page ids start at 0 and the
pipeline probes are the committed probe set with ``query_id < 68``.  Other
seeds shift the page-id range and redraw probe shapes and offsets while
keeping the zipf domain draw and the probe-family mix.

The pages generator follows FIXTURES.md section 1 and is written here rather
than imported, so a change to the engine's own generator cannot change what
the benchmark measures.
"""

from __future__ import annotations

import hashlib
import math
import os
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = 1704067200
YEAR_SECONDS = 31536000
N_DOMAINS = 1000
ZIPF_S = 1.2
LANGS = ["en", "de", "fr", "es", "pt", "zh", "ru", "ja"]
PAGE_FILES = 16

# the probe datetime strings of the committed probe set, in order
QUERY_DATETIMES = [
    None,
    "2024-03-01T00:00:00Z/2024-09-01T00:00:00Z",
    "2024-06-15T00:00:00Z",
    "2024-06-01T00:00:00Z/..",
    "../2024-07-01T00:00:00Z",
    "2024",
    "2024-02",
    "2023-02",
    "2024-06-15",
    "2024-01-01T00:00:00Z/2024-12-31T23:59:59Z",
]


# ------------------------------------------------------------------ hashing

def stable_hash(s: str) -> int:
    """First 8 bytes of sha256, big-endian (FIXTURES.md section 1)."""
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8],
                          "big")


def hash_batch(strings) -> np.ndarray:
    sha = hashlib.sha256
    return np.fromiter(
        (int.from_bytes(sha(s.encode("utf-8")).digest()[:8], "big")
         for s in strings), dtype=np.uint64, count=len(strings))


def unit(key: str) -> float:
    """Deterministic draw in [0, 1) keyed by a string."""
    return stable_hash(key) / 2.0 ** 64


# -------------------------------------------------------------------- pages

def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, N_DOMAINS + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w / w.sum())


_ZIPF_CDF = _zipf_cdf()
DOMAINS = np.array([f"d{k:03d}.example.com" for k in range(N_DOMAINS)])


# the page-id range repeats every PAGE_ID_SEEDS seeds, so any seed (negative
# or many digits long) keeps page ids, and the item properties the stac_api
# server derives from them by multiplication, well inside 64-bit integers
PAGE_ID_SEEDS = 10_000


def first_page_id(seed: int, n_pages: int) -> int:
    return (seed % PAGE_ID_SEEDS) * n_pages


def pages_frame(ids: np.ndarray) -> pd.DataFrame:
    """Page ids -> rows of (url, warc_ts, html, text, lang)."""
    ids = np.asarray(ids, dtype=np.int64)
    u = hash_batch([f"zipf:{i}" for i in ids]).astype(np.float64) / 2.0 ** 64
    dom = np.clip(np.searchsorted(_ZIPF_CDF, u, side="left"), 0,
                  N_DOMAINS - 1)
    domains = DOMAINS[dom]
    urls = [f"https://{d}/p{i}" for d, i in zip(domains, ids)]
    hu = hash_batch(urls)
    dom_lang = {d: LANGS[stable_hash(d) % 8] for d in set(domains.tolist())}
    lang = [dom_lang[d] for d in domains]
    secs = EPOCH_2024 + (hu % np.uint64(YEAR_SECONDS)).astype(np.int64)
    texts, htmls = [], []
    for h, lg in zip(hu.tolist(), lang):
        words = " ".join(f"w{(h >> i) % 9973}" for i in range(0, 64, 8))
        text = f"doc {h} lang={lg} {words}"
        texts.append(text)
        htmls.append((f"<html><head><title>T{h}</title></head>"
                      f"<body>{text}</body></html>").encode("utf-8"))
    return pd.DataFrame({
        "url": urls,
        "warc_ts": pd.to_datetime(secs, unit="s", utc=True),
        "html": htmls,
        "text": texts,
        "lang": lang,
    })


PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


def write_pages(path: str, seed: int, n_pages: int) -> pd.DataFrame:
    """Write the seeded pages table as PAGE_FILES parquet files under
    ``path`` and return its (url, warc_ts, lang) columns."""
    os.makedirs(path, exist_ok=True)
    ids = np.arange(n_pages, dtype=np.int64) + first_page_id(seed, n_pages)
    keep = []
    for k, chunk in enumerate(np.array_split(ids, PAGE_FILES)):
        df = pages_frame(chunk)
        pq.write_table(pa.Table.from_pandas(df, PAGES_ARROW_SCHEMA,
                                            preserve_index=False),
                       f"{path}/part-{k:05d}.parquet",
                       compression="snappy")
        keep.append(df[["url", "warc_ts", "lang"]])
    return pd.concat(keep, ignore_index=True)


def domain_anchor(domain: str) -> tuple[float, float]:
    """(lon, lat) a domain's pages cluster around."""
    lat = (stable_hash(domain) % 170_000) / 1000.0 - 85.0
    lon = (stable_hash(domain + "x") % 360_000) / 1000.0 - 180.0
    return lon, lat


def probe_anchor(rank: int) -> tuple[float, float]:
    lon, lat = domain_anchor(f"d{rank:03d}.example.com")
    return min(max(lon, -179.0), 179.0), min(max(lat, -84.0), 84.0)


# ---------------------------------------------------------------------- WKB

def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def polygon_wkb(ring) -> bytes:
    """Single closed exterior ring -> little-endian WKB polygon."""
    out = struct.pack("<BIII", 1, 3, 1, len(ring))
    return out + b"".join(struct.pack("<dd", x, y) for x, y in ring)


def rect_ring(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


# ------------------------------------------------------ pipeline probe set

def _salt(seed: int) -> str:
    # seed 0 keeps the committed keys, so its probes are bench.py's
    return "" if seed == 0 else f"s{seed}:"


def star_ring(key: str, lon: float, lat: float, nv: int,
              r_lo: float, r_hi: float) -> list[tuple[float, float]]:
    """Closed star-shaped ring: nv vertices at equal angle steps, radii
    drawn in [r_lo, r_hi) from ``key``.  The committed 7-gon probes use
    r_lo=0.08, r_hi=0.43 with two-decimal radius steps."""
    pts = []
    for v in range(nv):
        ang = 2 * math.pi * v / nv
        r = r_lo + (stable_hash(f"{key}r{v}") % 100) / 100.0 * (r_hi - r_lo)
        pts.append((lon + r * math.cos(ang), lat + r * math.sin(ang)))
    pts.append(pts[0])
    return pts


def _probe_row(q, kind, box, geom, dt):
    return {"query_id": q, "kind": kind, "qxmin": box[0], "qymin": box[1],
            "qxmax": box[2], "qymax": box[3], "geometry": geom,
            "datetime": dt}


def _ring_box(ring):
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


def pipeline_probes(seed: int) -> pd.DataFrame:
    """The 68 pipeline probes: 24 bbox, 27 point (3 polar) and 17
    polygons (12 star 7-gons, 5 L-shapes), anchored at the top-20 domains.
    Seed 0 equals the committed probe set with query_id < 68."""
    s = _salt(seed)
    rows = []
    for q in range(60):
        m = q % 5
        lon, lat = probe_anchor(q % 20)
        dt = QUERY_DATETIMES[q % 10]
        if m in (0, 1):
            w = 0.02 + (stable_hash(f"{s}q{q}w") % 200) / 200.0 * 0.5
            box = (lon - w, lat - w, lon + w, lat + w)
            rows.append(_probe_row(q, "bbox", box,
                                   polygon_wkb(rect_ring(*box)), dt))
        elif m in (2, 3):
            dx = ((stable_hash(f"{s}q{q}x") % 601) / 600.0 - 0.5) * 0.06
            dy = ((stable_hash(f"{s}q{q}y") % 601) / 600.0 - 0.5) * 0.06
            x, y = lon + dx, lat + dy
            rows.append(_probe_row(q, "point", (x, y, x, y),
                                   point_wkb(x, y), dt))
        else:
            ring = star_ring(f"{s}q{q}", lon, lat, 7, 0.08, 0.43)
            rows.append(_probe_row(q, "polygon", _ring_box(ring),
                                   polygon_wkb(ring), dt))
    for j, (plat, plon) in enumerate([(84.3, 17.25), (-83.7, -151.4),
                                      (82.9, 139.0)]):
        q = 60 + j
        if seed:
            plon += (unit(f"{s}polar{j}") - 0.5) * 2.0
        rows.append(_probe_row(q, "point", (plon, plat, plon, plat),
                               point_wkb(plon, plat), QUERY_DATETIMES[q % 10]))
    for j in range(5):
        q = 63 + j
        lon, lat = domain_anchor(f"d{(j * 4) % 20:03d}.example.com")
        lat = min(max(lat, -84.0), 84.0)
        lon = min(max(lon, -179.0), 179.0)
        w = 0.3 + (stable_hash(f"{s}rl{j}w") % 100) / 100.0 * 0.5
        h = 0.3 + (stable_hash(f"{s}rl{j}h") % 100) / 100.0 * 0.5
        x0, y0 = lon - 0.5 * w, lat - 0.5 * h
        x2, y2 = x0 + w, y0 + h
        xm = x0 + 0.6 * (x2 - x0)
        ym = y0 + 0.5 * (y2 - y0)
        ring = [(x0, y0), (x2, y0), (x2, ym), (xm, ym), (xm, y2),
                (x0, y2), (x0, y0)]
        rows.append(_probe_row(q, "polygon", (x0, y0, x2, y2),
                               polygon_wkb(ring), None))
    return pd.DataFrame(rows)


PROBE_ARROW_SCHEMA = pa.schema([
    ("query_id", pa.int64()), ("kind", pa.string()),
    ("qxmin", pa.float64()), ("qymin", pa.float64()),
    ("qxmax", pa.float64()), ("qymax", pa.float64()),
    ("geometry", pa.binary()), ("datetime", pa.string())])


def write_probes(path: str, probes: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(probes, PROBE_ARROW_SCHEMA,
                                        preserve_index=False), path)


def ring_of(wkb: bytes) -> np.ndarray:
    """Exterior ring of a single-ring WKB polygon written by polygon_wkb."""
    n = struct.unpack_from("<I", wkb, 9)[0]
    return np.frombuffer(wkb, dtype="<f8", count=2 * n,
                         offset=13).reshape(n, 2)


# -------------------------------------------------- polygon_join batches

VERTEX_BUDGET = 96  # colgeom.DEFAULT_VERTEX_BUDGET at the time of writing
BATCH_SIZE = 4


def _polygon_probe(key: str, family: str) -> list[tuple[float, float]]:
    """One polygon of a family, anchored at a zipf-hot domain cluster.

    - ``cells``: radius 0.45-0.9 deg, contains whole res-10 cells and the
      cluster;
    - ``edge``: radius 0.15-0.35 deg, centred one radius away from the
      cluster so an edge cuts through it;
    - ``small``: radius 0.02-0.06 deg, inside the cluster;
    - ``big``: a ``cells``-sized star with more vertices than the compile
      budget, so the batch takes the memo fallback.
    """
    rank = int(unit(key + "rank") * 20)
    lon, lat = probe_anchor(rank)
    ang = unit(key + "ang") * 2 * math.pi
    if family == "cells":
        return star_ring(key, lon, lat, 7 + int(unit(key + "nv") * 6),
                         0.45, 0.9)
    if family == "edge":
        r = 0.15 + unit(key + "rad") * 0.2
        cx, cy = lon + r * math.cos(ang), lat + r * math.sin(ang)
        return star_ring(key, cx, cy, 6 + int(unit(key + "nv") * 10),
                         0.85 * r, 1.15 * r)
    if family == "small":
        return star_ring(key, lon, lat, 5 + int(unit(key + "nv") * 5),
                         0.02, 0.06)
    return star_ring(key, lon, lat, VERTEX_BUDGET + 24 +
                     int(unit(key + "nv") * 40), 0.45, 0.9)


def polygon_batch(seed: int, b: int) -> list[tuple[int, list]]:
    """Fresh batch ``b``: BATCH_SIZE (query_id, ring) polygons.  Every
    batch mixes the cells/edge/small families; every second batch (odd
    ``b``) also carries one over-budget polygon."""
    fams = ["cells", "edge", "small", "edge"]
    if b % 2 == 1:
        fams[-1] = "big"
    out = []
    for i, fam in enumerate(fams):
        qid = b * 100 + i
        out.append((qid, _polygon_probe(f"pj{seed}:{b}:{i}", fam)))
    return out


def batch_frame(batch: list[tuple[int, list]]) -> pd.DataFrame:
    return pd.DataFrame([
        _probe_row(qid, "polygon", _ring_box(ring), polygon_wkb(ring), None)
        for qid, ring in batch])


# ------------------------------------------------------------ STAC items

WRITE_COLLECTION = "bench-writes"


def write_region(seed: int) -> tuple[float, float]:
    """(lon, lat) of the region that writes land in: at least 10 degrees
    from every top-20 anchor, so no read's bbox or geometry reaches it."""
    anchors = [probe_anchor(r) for r in range(20)]
    for k in range(1000):
        lon = -170.0 + unit(f"wr{seed}:{k}x") * 340.0
        lat = -70.0 + unit(f"wr{seed}:{k}y") * 140.0
        if all(math.hypot(lon - a, lat - b) > 10.0 for a, b in anchors):
            return lon, lat
    raise RuntimeError("no free write region")


# read kinds per 100 requests.  These weights are an assumption, not
# measured traffic: no STAC API request log was available to derive them
# from.  They only keep to the workload's stated constraints: every read
# kind is present, rectangle and CQL2 reads are the bulk (so they set the
# median) and polygon reads are a small share (so they set the tail).
READ_MIX = [("bbox", 22), ("bbox_dt", 18), ("cql2", 18), ("point", 12),
            ("polygon", 4), ("skip_pages", 10), ("keyset_pages", 8),
            ("item_get", 8)]


def kind_schedule(n: int) -> list[str]:
    """Smooth weighted round robin over READ_MIX."""
    total = sum(c for _, c in READ_MIX)
    credit = {k: 0 for k, _ in READ_MIX}
    out = []
    for _ in range(n):
        for k, c in READ_MIX:
            credit[k] += c
        pick = max(credit, key=credit.get)
        credit[pick] -= total
        out.append(pick)
    return out


def read_requests(seed: int, n: int, langs: list[str]) -> list[dict]:
    """``n`` read requests, each {"kind", "body"}: the POST /search body,
    or for ``item_get`` a number that picks the item.  CQL2 requests also
    carry their filter's parameters for the check.

    The kinds follow READ_MIX in a fixed smooth round robin, so every
    prefix of the list holds each kind within one request of its share and
    runs of any seed see the same mix; the seed draws the parameters.
    Rectangle and CQL2 reads set the median; polygon reads, which take the
    exact-refine path, set the tail."""
    out = []
    for i, kind in enumerate(kind_schedule(n)):
        key = f"rd{seed}:{i}"
        lon, lat = probe_anchor(int(unit(key + "a") * 20))
        lon += (unit(key + "dx") - 0.5) * 0.1
        lat += (unit(key + "dy") - 0.5) * 0.1
        w = 0.03 + unit(key + "w") * 0.3
        bbox = [lon - w, lat - w, lon + w, lat + w]
        limit = 5 + int(unit(key + "lim") * 11)
        if kind == "bbox":
            body = {"bbox": bbox, "limit": limit}
        elif kind == "bbox_dt":
            m0 = 1 + int(unit(key + "m") * 9)
            body = {"bbox": bbox, "limit": limit,
                    "datetime": f"2024-{m0:02d}-01T00:00:00Z/"
                                f"2024-{m0 + 3:02d}-01T00:00:00Z"}
        elif kind == "cql2":
            lang = langs[int(unit(key + "l") * len(langs))]
            cc = 10 + int(unit(key + "cc") * 60)
            body = {"filter-lang": "cql2-text",
                    "filter": (f"collection = 'pages-{lang}' AND "
                               f"eo:cloud_cover < {cc} AND rank >= 500"),
                    "sortby": "-eo:cloud_cover", "limit": limit}
            out.append({"kind": kind, "body": body, "lang": lang, "cc": cc,
                        "rank": 500})
            continue
        elif kind == "point":
            body = {"intersects": {"type": "Point", "coordinates": [lon, lat]},
                    "limit": limit}
        elif kind == "polygon":
            ring = star_ring(key, lon, lat, 6 + int(unit(key + "nv") * 6),
                             0.5 * w, 1.2 * w)
            body = {"intersects": {"type": "Polygon",
                                   "coordinates": [[list(p) for p in ring]]},
                    "limit": limit}
        elif kind == "skip_pages":
            body = {"bbox": bbox, "limit": 5 + int(unit(key + "lim") * 6)}
        elif kind == "keyset_pages":
            body = {"bbox": bbox, "limit": 5 + int(unit(key + "lim") * 6),
                    "paging": "keyset", "sortby": "-datetime"}
        else:
            body = {"pick": int(unit(key + "pg") * (1 << 30))}
        out.append({"kind": kind, "body": body})
    return out
