"""``stac_api``: a writable STAC API server under a closed-loop client load.

The server (stac_server.py) runs in its own process over one item per
seeded page.  This process is the load: CLIENTS client threads, each
sending its next request only after the previous reply (closed loop) and
following ``next`` links the way ``api_client.fetch_search_features`` does
(the link body merged over the search body).  Client 0 also writes: every
WRITE_EVERY-th of its operations is an ``add_item`` or ``upsert_item`` into
a collection and region no read touches, followed by a read-your-write GET.
Replies are checked after the timed section against DuckDB (rectangle,
point, datetime and CQL2 reads) and the benchmark's own polygon test.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import urllib.parse

import inputs
import reference
from common import HERE, ROOT, WORK, median, percentile, tail_percentile
from layers import UNITS
from tracing import print_self_times

N_PAGES = 50_000
PAGE_CAP = 3          # next links followed by a paging read
# One client: every request is Spark jobs on the server's local[nproc]
# session.  On a 4-vCPU host, four concurrent clients made the run-to-run
# spread of latency and throughput 0.15-0.21 (IQR / median over seeds), one
# client 0.06-0.18, with repeats of one seed within a few percent, so the
# gated figures follow the engine more than the scheduler.
CLIENTS = 1
# client 0 writes on every eighth of its operations, a write and its GET
# against about nine read requests, so writes are near a tenth of all
# requests; like inputs.READ_MIX this rate is an assumption, not measured
# traffic
WRITE_EVERY = 8
MIN_READS = 30        # enough for ten samples beyond the median
MIN_WRITES = 2
MAX_FACTOR = 3        # a timed phase stops at MAX_FACTOR x --seconds regardless
N_REQUESTS = 20_000
READ_KINDS = [k for k, _ in inputs.READ_MIX]


class Server:
    """The server process and its command pipe."""

    def __init__(self, log_path: str):
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stac_server.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=ROOT, text=True)

    def send(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.wait() if cmd["cmd"] != "quit" else {}

    def wait(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("server exited; see .bench_work/stac_api/"
                               "server.log")
        return json.loads(line)

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.send(cmd="quit")
                self.proc.wait(timeout=90)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.log.close()


class Conn:
    """One HTTP request per call (the server closes each connection)."""

    def __init__(self, base: str):
        u = urllib.parse.urlparse(base)
        self.host, self.port = u.hostname, u.port

    def request(self, method: str, path: str, body=None, headers=None):
        c = http.client.HTTPConnection(self.host, self.port, timeout=120)
        try:
            data = json.dumps(body).encode() if body is not None else None
            h = {"Content-Type": "application/json", **(headers or {})}
            c.request(method, path, body=data, headers=h)
            r = c.getresponse()
            payload = r.read()
            return r.status, (json.loads(payload) if payload else None)
        finally:
            c.close()


class Load:
    """Closed-loop clients; records every request and keeps replies for the
    check after the timed section."""

    def __init__(self, base: str, reads: list[dict],
                 collection_of: dict[str, str], seed: int):
        self.conn = Conn(base)
        self.reads = reads
        self.collection_of = collection_of
        self.item_ids = list(collection_of)
        self.seed = seed
        self.region = inputs.write_region(seed)
        self.lock = threading.Lock()
        self.next_read = 0
        self.op_seq = 0
        self.n_writes = 0
        self.reset()

    def reset(self) -> None:
        self.read_ms: list[float] = []
        self.write_ms: list[float] = []
        self.latency_by_op: dict[str, float] = {}
        self.results: list[tuple] = []
        self.errors: list[str] = []
        self.requests = 0
        self.kinds_read: set[str] = set()

    def _http(self, kind: str, method: str, path: str, body=None):
        with self.lock:
            self.op_seq += 1
            op = str(self.op_seq)
        headers = {"X-Bench-Kind": kind, "X-Bench-Op": op}
        t0 = time.perf_counter()
        status, doc = self.conn.request(method, path, body, headers)
        ms = 1e3 * (time.perf_counter() - t0)
        with self.lock:
            self.requests += 1
            self.latency_by_op[op] = ms
        return status, doc, ms

    def read(self, req: dict) -> None:
        kind, body = req["kind"], req["body"]
        with self.lock:
            self.kinds_read.add(kind)
        if kind == "item_get":
            iid = self.item_ids[body["pick"] % len(self.item_ids)]
            status, doc, ms = self._http(kind, "GET", self._item_path(iid))
            with self.lock:
                self.read_ms.append(ms)
                self.results.append(("item_get", iid, status, doc))
            return
        pages = []
        page_body = dict(body)
        cap = PAGE_CAP if kind.endswith("_pages") else 1
        for _ in range(cap):
            status, doc, ms = self._http(kind, "POST", "/search", page_body)
            with self.lock:
                self.read_ms.append(ms)
            pages.append((status, doc))
            nxt = next((ln for ln in (doc or {}).get("links", [])
                        if ln.get("rel") == "next"), None)
            if status != 200 or nxt is None:
                break
            page_body = dict(nxt.get("body") or {})
            if nxt.get("merge"):
                page_body = {**body, **page_body}
        with self.lock:
            self.results.append(("search", req, pages))

    def _item_path(self, iid: str) -> str:
        cid = ("bench-writes" if iid.startswith("w")
               else self.collection_of[iid])
        return f"/collections/{cid}/items/{iid}"

    def write(self) -> None:
        lon, lat = self.region
        with self.lock:
            n = self.n_writes
            self.n_writes += 1
        upsert = n % 2 == 1
        iid = f"w{self.seed}-{n - 1 if upsert else n}"
        cloud = round(inputs.unit(f"wc{self.seed}:{n}") * 100, 2)
        x0 = lon + (n % 50) * 0.01
        y0 = lat + (n // 50) * 0.01
        item = {"type": "Feature", "stac_version": "1.1.0", "id": iid,
                "collection": inputs.WRITE_COLLECTION,
                "geometry": {"type": "Polygon", "coordinates": [[
                    list(p) for p in inputs.rect_ring(x0, y0, x0 + 0.005,
                                                      y0 + 0.005)]]},
                "bbox": [x0, y0, x0 + 0.005, y0 + 0.005],
                "properties": {"datetime": "2024-05-05T00:00:00Z",
                               "eo:cloud_cover": cloud, "rank": 1,
                               "lang": "xx"}}
        path = f"/collections/{inputs.WRITE_COLLECTION}/items"
        if upsert:
            status, doc, ms = self._http("write", "PUT", f"{path}/{iid}",
                                         item)
        else:
            status, doc, ms = self._http("write", "POST", path, item)
        with self.lock:
            self.write_ms.append(ms)
        g_status, g_doc, g_ms = self._http("item_get", "GET",
                                           f"{path}/{iid}")
        with self.lock:
            self.read_ms.append(g_ms)
            self.results.append(("write", iid, cloud, status, g_status,
                                 g_doc))

    def client(self, c: int, deadline: float, hard: float,
               every_kind: bool) -> None:
        k = 0
        while True:
            now = time.perf_counter()
            with self.lock:
                enough = (len(self.read_ms) >= MIN_READS
                          and len(self.write_ms) >= MIN_WRITES
                          and (not every_kind
                               or len(self.kinds_read) == len(READ_KINDS)))
            if now >= hard or (now >= deadline and enough):
                return
            try:
                if c == 0 and k % WRITE_EVERY == WRITE_EVERY - 1:
                    self.write()
                else:
                    with self.lock:
                        req = self.reads[self.next_read % len(self.reads)]
                        self.next_read += 1
                    self.read(req)
            except (OSError, http.client.HTTPException, ValueError) as e:
                with self.lock:
                    self.errors.append(f"client {c}: {type(e).__name__}: {e}")
            k += 1

    def run(self, seconds: float, hard_seconds: float,
            every_kind: bool = False) -> float:
        """Run the clients for ``seconds`` and on until the minimum counts
        (and with ``every_kind`` one read of every kind) are reached, but
        never past ``hard_seconds``."""
        t0 = time.perf_counter()
        deadline = t0 + seconds
        hard = t0 + hard_seconds
        threads = [threading.Thread(target=self.client,
                                    args=(c, deadline, hard, every_kind))
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0


class Checker:
    """Checks the recorded replies against DuckDB and the polygon test."""

    def __init__(self, pages, fp):
        self.oracle = reference.ItemsOracle(pages, fp)
        self.fp = fp
        self.ids = self.oracle.frame["id"].tolist()
        self.by_id = self.oracle.frame.set_index("id")

    def search_ok(self, req: dict, pages: list) -> bool:
        kind, body = req["kind"], req["body"]
        limit = body["limit"]
        if any(st != 200 for st, _ in pages):
            return False
        got = [[f["id"] for f in doc["features"]] for _, doc in pages]
        if kind == "cql2":
            want_cc, n = self.oracle.cql2_search(req["lang"], req["cc"],
                                                 req["rank"])
            doc = pages[0][1]
            ccs = [f["properties"]["eo:cloud_cover"] for f in doc["features"]]
            return (doc["numberMatched"] == n and ccs == want_cc[:limit]
                    and self.oracle.cql2_ok(got[0], req["lang"], req["cc"],
                                            req["rank"]))
        if kind == "polygon":
            ring = body["intersects"]["coordinates"][0]
            sure, amb = reference.polygon_item_ids(self.fp, self.ids, ring)
            doc = pages[0][1]
            if not amb:
                return (doc["numberMatched"] == len(sure)
                        and got[0] == sorted(sure)[:limit])
            ok_n = len(sure) <= doc["numberMatched"] <= len(sure) + len(amb)
            return ok_n and set(got[0]) <= sure | amb
        order = ("datetime DESC NULLS LAST, id" if kind == "keyset_pages"
                 else "id")
        want, n = self.oracle.rect_search(body, order)
        for i, ids in enumerate(got):
            if ids != want[i * limit:(i + 1) * limit]:
                return False
            if kind != "keyset_pages" and pages[i][1]["numberMatched"] != n:
                return False
        cap = PAGE_CAP if kind.endswith("_pages") else 1
        return len(got) == min(cap, max(1, -(-n // limit)))

    def item_ok(self, iid: str, status: int, doc) -> bool:
        if status != 200 or doc is None or doc.get("id") != iid:
            return False
        r = self.by_id.loc[iid]
        return (doc["collection"] == r["collection"]
                and all(abs(a - b) <= 1e-12 for a, b in zip(
                    doc["bbox"], (r["x0"], r["y0"], r["x1"], r["y1"]))))

    def check(self, load: Load, rep) -> None:
        for e in load.errors:
            rep.op(False, e)
        for res in load.results:
            if res[0] == "search":
                _tag, req, pages = res
                rep.op(self.search_ok(req, pages),
                       f"{req['kind']} read {json.dumps(req['body'])[:120]}")
            elif res[0] == "item_get":
                _tag, iid, status, doc = res
                rep.op(self.item_ok(iid, status, doc), f"GET item {iid}")
            else:
                _tag, iid, cloud, status, g_status, g_doc = res
                ok = (status in (200, 201) and g_status == 200
                      and g_doc["properties"].get("eo:cloud_cover") == cloud)
                rep.op(ok, f"write {iid}: {status}/{g_status}")


def run(args, spark_start, rep) -> None:
    base = os.path.join(WORK, "stac_api")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    pages_path = os.path.join(base, "pages")
    t0 = time.perf_counter()
    pages = inputs.write_pages(pages_path, args.seed, N_PAGES)
    gen_s = time.perf_counter() - t0

    server = Server(os.path.join(base, "server.log"))
    rss = None
    try:
        # the reference is built while the server's JVM starts
        fp = reference.footprints(pages["url"].tolist())
        checker = Checker(pages, fp)
        langs = sorted(set(pages["lang"]))
        reads = inputs.read_requests(args.seed, N_REQUESTS, langs)
        started = server.wait()
        if args.trace:
            from tracing import PeakRss
            rss = PeakRss(started["pid"])
        built = server.send(cmd="build", pages=pages_path,
                            table=os.path.join(base, "table"))
        load = Load(built["url"], reads, dict(zip(
            checker.ids, checker.oracle.frame["collection"])), args.seed)
        t0 = time.perf_counter()
        for r in reads[:3]:  # bbox, bbox+datetime, cql2
            load.read(r)
        load.write()
        warm_s = time.perf_counter() - t0
        load.next_read = 3
        checker.check(load, rep)
        load.reset()
        setup_s = gen_s + started["s"] + built["s"] + warm_s
        print(f"# setup: gen {gen_s:.2f}s, session {started['s']:.2f}s,"
              f" build {built['s']:.2f}s, warm-up {warm_s:.2f}s", flush=True)

        if not args.trace:
            wall = load.run(args.seconds, MAX_FACTOR * args.seconds)
            checker.check(load, rep)
            tail = tail_percentile(len(load.read_ms), 95.0)
            rep.add("setup_s", setup_s, "s")
            rep.add("throughput_per_s", load.requests / wall, "1/s")
            rep.add("primary_p50_ms", median(load.read_ms), "ms")
            rep.add("api_read_p50_ms", median(load.read_ms), "ms")
            if tail is not None:
                rep.add(f"api_read_p{tail:g}_ms",
                        percentile(load.read_ms, tail), "ms")
            if load.write_ms:
                rep.add("api_write_p50_ms", median(load.write_ms), "ms")
            rep.add("api_rps", load.requests / wall, "req/s")
            rep.add("api_reads", len(load.read_ms), "count")
            rep.add("api_writes", len(load.write_ms), "count")
            return

        # untraced, traced, untraced: the untraced reads sit on both sides
        # of the traced ones, so a warm-up trend weighs the same on each.
        # The traced phase runs on until it has read every kind once, so
        # every read group's layer figures are measured
        plain, traced_ms, latency = [], [], {}
        for phase, on in ((0.25, False), (0.5, True), (0.25, False)):
            server.send(cmd="trace" if on else "untrace")
            load.reset()
            load.run(args.seconds * phase, MAX_FACTOR * args.seconds,
                     every_kind=on)
            checker.check(load, rep)
            if on:
                traced_ms, latency = list(load.read_ms), load.latency_by_op
            else:
                plain += load.read_ms
        report_path = os.path.join(base, "trace.json")
        server.send(cmd="report", path=report_path)
        with open(report_path) as f:
            traced = json.load(f)
        for name, v in traced["metrics"].items():
            rep.add(name, v, UNITS[name])
        rep.add("geocode.rows_out", N_PAGES, "count")
        print_self_times(traced["self_s"])
        over = [latency[op] - ms
                for op, ms in traced["handler_ms_by_op"].items()
                if op in latency]
        rep.add("stac.server.overhead_ms", median(over) if over else 0.0,
                "ms")
        rep.add("trace.untraced_primary_p50_ms", median(plain), "ms")
        rep.add("trace.traced_primary_p50_ms", median(traced_ms), "ms")
    finally:
        if rss is not None:
            rep.add("proc.peak_rss_mb", rss.stop(), "MB")
        server.close()
