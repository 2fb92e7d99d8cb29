"""Expected answers, computed without the code under test.

- footprints: the geocode rule of FIXTURES.md section 1 in numpy/hashlib;
- rectangle, point, datetime and tile answers: DuckDB SQL over the
  reference footprints;
- polygon answers: an exact closed-set rect x polygon test written here
  (vertex-in-rect, edge clipping, corner-in-polygon).  Each pair is decided
  twice, with the rect grown and shrunk by ``EPS``; a pair on which the two
  disagree lies within EPS of the boundary and is accepted either way.
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import numpy as np
import pandas as pd

from inputs import hash_batch, ring_of

EPS = 1e-9
LAT_LIMIT = 84.9
LON_LIMIT = 179.9
MERCATOR_LAT_LIMIT = 85.05112878

# normalized inclusive bounds of the probe datetime strings (STAC
# interval semantics: a date or a month spans whole seconds to its end)
INTERVALS = {
    "2024-03-01T00:00:00Z/2024-09-01T00:00:00Z":
        ("2024-03-01 00:00:00", "2024-09-01 00:00:00"),
    "2024-06-15T00:00:00Z": ("2024-06-15 00:00:00", "2024-06-15 00:00:00"),
    "2024-06-01T00:00:00Z/..": ("2024-06-01 00:00:00", None),
    "../2024-07-01T00:00:00Z": (None, "2024-07-01 00:00:00"),
    "2024": ("2024-01-01 00:00:00", "2024-12-31 23:59:59"),
    "2024-02": ("2024-02-01 00:00:00", "2024-02-29 23:59:59"),
    "2023-02": ("2023-02-01 00:00:00", "2023-02-28 23:59:59"),
    "2024-06-15": ("2024-06-15 00:00:00", "2024-06-15 23:59:59"),
    "2024-01-01T00:00:00Z/2024-12-31T23:59:59Z":
        ("2024-01-01 00:00:00", "2024-12-31 23:59:59"),
}


def page_ids(urls) -> np.ndarray:
    return np.array([int(u.rsplit("/p", 1)[1]) for u in urls], dtype=np.int64)


def footprints(urls: list[str]) -> dict[str, np.ndarray]:
    """url -> lat, lon and square footprint, as the geocode rule defines."""
    domains = [u.split("/", 3)[2] for u in urls]
    uniq = sorted(set(domains))
    hd = dict(zip(uniq, hash_batch(uniq)))
    hdx = dict(zip(uniq, hash_batch([d + "x" for d in uniq])))
    hd_a = np.array([hd[d] for d in domains], dtype=np.uint64)
    hdx_a = np.array([hdx[d] for d in domains], dtype=np.uint64)
    hu = hash_batch(urls)
    hlat = hash_batch([u + ":lat" for u in urls])
    hlon = hash_batch([u + ":lon" for u in urls])
    lat = ((hd_a % np.uint64(170_000)).astype(np.float64) / 1000.0 - 85.0
           + ((hlat % np.uint64(100_001)).astype(np.float64) / 100_000.0
              - 0.5) * 0.1)
    lon = ((hdx_a % np.uint64(360_000)).astype(np.float64) / 1000.0 - 180.0
           + ((hlon % np.uint64(100_001)).astype(np.float64) / 100_000.0
              - 0.5) * 0.1)
    lat = np.clip(lat, -LAT_LIMIT, LAT_LIMIT)
    lon = np.clip(lon, -LON_LIMIT, LON_LIMIT)
    delta = 0.001 + (hu % np.uint64(100)).astype(np.float64) / 10000.0
    return {"lat": lat, "lon": lon, "xmin": lon - delta, "ymin": lat - delta,
            "xmax": lon + delta, "ymax": lat + delta}


# ----------------------------------------------------- rect x polygon test

def _rects_meet_ring(x0, y0, x1, y1, ring: np.ndarray) -> np.ndarray:
    """Closed rects [x0,x1]x[y0,y1] meeting the closed simple polygon
    ``ring`` (first vertex repeated last)."""
    px, py = ring[:-1, 0], ring[:-1, 1]
    hit = np.zeros(len(x0), dtype=bool)
    # a polygon vertex inside the rect
    for vx, vy in zip(px, py):
        hit |= (x0 <= vx) & (vx <= x1) & (y0 <= vy) & (vy <= y1)
    # a polygon edge crossing the rect (Liang-Barsky clip of the edge)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        dx, dy = bx - ax, by - ay
        t0 = np.zeros(len(x0))
        t1 = np.ones(len(x0))
        ok = np.ones(len(x0), dtype=bool)
        for p, q in ((-dx, ax - x0), (dx, x1 - ax),
                     (-dy, ay - y0), (dy, y1 - ay)):
            if p == 0:
                ok &= q >= 0
                continue
            r = q / p
            if p < 0:
                t0 = np.maximum(t0, r)
            else:
                t1 = np.minimum(t1, r)
        hit |= ok & (t0 <= t1)
    # the rect inside the polygon: its corner is, by even-odd crossings
    inside = np.zeros(len(x0), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if ay == by:
            continue
        straddle = (ay > y0) != (by > y0)
        xc = ax + (y0 - ay) * (bx - ax) / (by - ay)
        inside ^= straddle & (x0 < xc)
    return hit | inside


def polygon_pairs(fp: dict, wkb: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Indices of pages whose footprint surely meets the polygon, and of
    pages within EPS of its boundary (either answer accepted)."""
    ring = np.asarray(ring_of(wkb), dtype=np.float64)
    bx0, by0 = ring[:, 0].min(), ring[:, 1].min()
    bx1, by1 = ring[:, 0].max(), ring[:, 1].max()
    cand = np.nonzero((fp["xmin"] <= bx1 + EPS) & (fp["xmax"] >= bx0 - EPS)
                      & (fp["ymin"] <= by1 + EPS)
                      & (fp["ymax"] >= by0 - EPS))[0]
    x0, y0 = fp["xmin"][cand], fp["ymin"][cand]
    x1, y1 = fp["xmax"][cand], fp["ymax"][cand]
    grown = _rects_meet_ring(x0 - EPS, y0 - EPS, x1 + EPS, y1 + EPS, ring)
    shrunk = _rects_meet_ring(x0 + EPS, y0 + EPS, x1 - EPS, y1 - EPS, ring)
    return cand[shrunk], cand[grown & ~shrunk]


def rect_pairs(fp: dict, box) -> tuple[np.ndarray, np.ndarray]:
    qx0, qy0, qx1, qy1 = box
    sure = ((fp["xmin"] <= qx1 - EPS) & (fp["xmax"] >= qx0 + EPS)
            & (fp["ymin"] <= qy1 - EPS) & (fp["ymax"] >= qy0 + EPS))
    grown = ((fp["xmin"] <= qx1 + EPS) & (fp["xmax"] >= qx0 - EPS)
             & (fp["ymin"] <= qy1 + EPS) & (fp["ymax"] >= qy0 - EPS))
    return np.nonzero(sure)[0], np.nonzero(grown & ~sure)[0]


class Expect:
    """Expected pair set of one probe: sure pages plus boundary pages."""

    def __init__(self, ids: np.ndarray, sure: np.ndarray, amb: np.ndarray):
        self.sure = set(ids[sure].tolist())
        self.amb = set(ids[amb].tolist())

    def accepts(self, got: set[int]) -> bool:
        return self.sure <= got <= (self.sure | self.amb)

    def accepts_summary(self, count: int, idsum: int) -> bool:
        """Check a (count, sum of page ids) summary of a pair set."""
        if not self.amb:
            return count == len(self.sure) and idsum == sum(self.sure)
        return len(self.sure) <= count <= len(self.sure) + len(self.amb)


def probe_expectations(fp: dict, ids: np.ndarray,
                       probes: pd.DataFrame) -> dict[int, Expect]:
    out = {}
    for r in probes.itertuples():
        if r.kind == "polygon":
            sure, amb = polygon_pairs(fp, r.geometry)
        else:
            sure, amb = rect_pairs(fp, (r.qxmin, r.qymin, r.qxmax, r.qymax))
        out[r.query_id] = Expect(ids, sure, amb)
    return out


# --------------------------------------------------------------- DuckDB

def _tile_sql(z: int, col: str, axis: str) -> str:
    n = float(1 << z)
    if axis == "x":
        v = f"(({col} + 180.0) / 360.0 * {n})"
    else:
        lat = (f"radians(greatest(-{MERCATOR_LAT_LIMIT}, "
               f"least({MERCATOR_LAT_LIMIT}, {col})))")
        v = f"((1.0 - ln(tan({lat}) + 1.0 / cos({lat})) / pi()) / 2.0 * {n})"
    return v


def tile_counts(fp: dict) -> tuple[dict, set]:
    """Expected output of the pipeline's tiles stage: for each z10 tile,
    the number of (page, covering z6 tile, covering z10 tile) triples.
    Also returns the z10 tiles touched by a page whose tile edge lies
    within 1e-7 tile widths of a tile boundary (checked loosely)."""
    con = duckdb.connect()
    con.register("fp", pd.DataFrame({k: fp[k] for k in
                                     ("xmin", "ymin", "xmax", "ymax")}))

    def clamp(v, z):
        return f"greatest(0, least({(1 << z) - 1}, floor({v})::BIGINT))"

    def near(v):
        return f"abs({v} - round({v})) < 1e-7"

    cols = []
    flags = []
    for z in (6, 10):
        vx0, vx1 = _tile_sql(z, "xmin", "x"), _tile_sql(z, "xmax", "x")
        vy0, vy1 = _tile_sql(z, "ymax", "y"), _tile_sql(z, "ymin", "y")
        cols += [f"{clamp(vx0, z)} AS x0_{z}", f"{clamp(vx1, z)} AS x1_{z}",
                 f"{clamp(vy0, z)} AS y0_{z}", f"{clamp(vy1, z)} AS y1_{z}"]
        flags += [near(v) for v in (vx0, vx1, vy0, vy1)]
    sql = f"""
        WITH t AS (SELECT {", ".join(cols)}, ({" OR ".join(flags)}) AS edge
                   FROM fp),
        tx AS (SELECT *, unnest(range(x0_10, x1_10 + 1)) AS x FROM t),
        txy AS (SELECT *, unnest(range(y0_10, y1_10 + 1)) AS y FROM tx)
        SELECT x, y,
               sum((x1_6 - x0_6 + 1) * (y1_6 - y0_6 + 1))::BIGINT AS n,
               bool_or(edge) AS edge
        FROM txy GROUP BY x, y"""
    rows = con.execute(sql).fetchall()
    con.close()
    return ({(x, y): n for x, y, n, _ in rows},
            {(x, y) for x, y, _, e in rows if e})


def st_join_counts(expect: dict[int, Expect], ts_by_id: dict[int, datetime],
                   probes: pd.DataFrame) -> dict[int, tuple[int, int]]:
    """Expected st_join output (bbox probes with a datetime): per probe,
    the (min, max) count of pairs inside the probe's interval."""
    out = {}
    for r in probes.itertuples():
        if r.kind != "bbox" or r.datetime is None:
            continue
        lo, hi = INTERVALS[r.datetime]
        lo = datetime.fromisoformat(lo) if lo else datetime.min
        hi = datetime.fromisoformat(hi) if hi else datetime.max
        e = expect[r.query_id]
        n_sure = sum(lo <= ts_by_id[i] <= hi for i in e.sure)
        n_amb = sum(lo <= ts_by_id[i] <= hi for i in e.amb)
        if n_sure + n_amb:
            out[r.query_id] = (n_sure, n_sure + n_amb)
    return out


def item_properties(pid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(eo:cloud_cover, rank) of the item derived from page ``pid``."""
    return (pid * 7919) % 10001 / 100.0, (pid * 104729) % 1000


class ItemsOracle:
    """DuckDB over the items the server derives from the pages: one item
    per page with the reference footprint, collection ``pages-<lang>``,
    datetime = crawl time."""

    def __init__(self, pages: pd.DataFrame, fp: dict):
        pid = page_ids(pages["url"])
        cc, rank = item_properties(pid)
        self.frame = pd.DataFrame({
            "id": [f"p{i}" for i in pid],
            "collection": ["pages-" + lg for lg in pages["lang"]],
            "x0": fp["xmin"], "y0": fp["ymin"],
            "x1": fp["xmax"], "y1": fp["ymax"],
            "datetime": pages["warc_ts"].dt.tz_localize(None),
            "cc": cc, "rank": rank})
        self.con = duckdb.connect()
        self.con.register("items_df", self.frame)
        self.con.execute("CREATE TABLE items AS SELECT * FROM items_df")

    def _where(self, body: dict) -> tuple[str, list]:
        conds, args = [], []
        if "bbox" in body:
            x0, y0, x1, y1 = body["bbox"]
            conds.append("x0 <= ? AND x1 >= ? AND y0 <= ? AND y1 >= ?")
            args += [x1, x0, y1, y0]
        g = body.get("intersects")
        if g is not None and g["type"] == "Point":
            x, y = g["coordinates"]
            conds.append("x0 <= ? AND x1 >= ? AND y0 <= ? AND y1 >= ?")
            args += [x, x, y, y]
        if "datetime" in body:
            lo, hi = body["datetime"].split("/")
            conds.append("datetime >= ? AND datetime <= ?")
            args += [lo.rstrip("Z").replace("T", " "),
                     hi.rstrip("Z").replace("T", " ")]
        return " AND ".join(conds) or "TRUE", args

    def rect_search(self, body: dict, order: str) -> tuple[list, int]:
        """(ids in order, numberMatched) of a bbox/point/datetime search."""
        where, args = self._where(body)
        rows = self.con.execute(
            f"SELECT id FROM items WHERE {where} ORDER BY {order}",
            args).fetchall()
        return [r[0] for r in rows], len(rows)

    def cql2_search(self, lang: str, cc_max: float, rank_min: int
                    ) -> tuple[list[float], int]:
        """Sort-key sequence (cloud cover, descending) and match count."""
        rows = self.con.execute(
            "SELECT cc FROM items WHERE collection = ? AND cc < ? "
            "AND rank >= ? ORDER BY cc DESC", [f"pages-{lang}", cc_max,
                                               rank_min]).fetchall()
        return [r[0] for r in rows], len(rows)

    def cql2_ok(self, ids: list[str], lang: str, cc_max: float,
                rank_min: int) -> bool:
        if not ids:
            return True
        q = ",".join("?" * len(ids))
        n = self.con.execute(
            f"SELECT count(*) FROM items WHERE id IN ({q}) AND "
            f"collection = ? AND cc < ? AND rank >= ?",
            ids + [f"pages-{lang}", cc_max, rank_min]).fetchone()[0]
        return n == len(set(ids))


def polygon_item_ids(fp: dict, ids: list[str], ring) -> tuple[set, set]:
    """Items (sure, boundary) meeting a GeoJSON polygon ring."""
    from inputs import polygon_wkb
    sure, amb = polygon_pairs(fp, polygon_wkb([tuple(p) for p in ring]))
    return {ids[i] for i in sure}, {ids[i] for i in amb}


EARTH_RADIUS_KM = 6371.0088


def haversine_km(lat, lon, qlat: float, qlon: float):
    """Great-circle km between (lat, lon) and (qlat, qlon), in degrees."""
    lat, lon = np.radians(lat), np.radians(lon)
    qlat, qlon = np.radians(qlat), np.radians(qlon)
    a = (np.sin((lat - qlat) / 2) ** 2
         + np.cos(qlat) * np.cos(lat) * np.sin((lon - qlon) / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def knn_expected(fp: dict, urls: list[str], probes: pd.DataFrame,
                 k: int = 5) -> dict[int, tuple[float, float, list]]:
    """Brute-force k nearest pages of every point probe:
    {query_id: (lat, lon, [(dist_km, url)] nearest first)}."""
    out = {}
    for r in probes[probes["kind"] == "point"].itertuples():
        d = haversine_km(fp["lat"], fp["lon"], r.qymin, r.qxmin)
        near = np.argpartition(d, k + 8)[:k + 8]
        best = sorted((d[i], urls[i]) for i in near)[:k]
        out[r.query_id] = (r.qymin, r.qxmin,
                           [(float(x), u) for x, u in best])
    return out


def knn_matches(got: list[tuple], want: list[tuple], true_km,
                tol_km: float = 1e-6) -> bool:
    """A kNN answer [(dist_km, url)] is right when its urls are distinct,
    each reported distance is that url's true distance (``true_km(url)``)
    and the distances equal the brute-force top-k distances; a tie may
    then pick either url."""
    if len(got) != len(want) or len({u for _, u in got}) != len(got):
        return False
    if any(abs(d - true_km(u)) > tol_km for d, u in got):
        return False
    return all(abs(a - b) <= tol_km for a, b in zip(
        sorted(d for d, _ in got), sorted(d for d, _ in want)))


def utc_naive(ts: pd.Series) -> list[datetime]:
    return [t.to_pydatetime().replace(tzinfo=None) for t in ts]

