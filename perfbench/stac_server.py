"""The system under test of ``stac_api``: a writable STAC API server.

Run as its own process by wl_stac_api.py.  It starts a Spark session, then
follows one-line JSON commands on stdin and answers with one-line JSON
events on stdout:

    {"cmd": "build", "pages": dir, "table": dir}  -> {"event": "built", ...}
        prepare the pages (engine geocode), derive one item per page and
        create the snapshot table; then serve it on 127.0.0.1
    {"cmd": "trace"}          -> {"event": "tracing"}
        install (once) and turn on the span wrappers and per-request Spark
        job groups
    {"cmd": "untrace"}        -> {"event": "untraced"}
        turn them off again
    {"cmd": "report", "path": file} -> {"event": "reported"}
        write the traced run's per-layer figures to ``file``
    {"cmd": "quit"}           -> the server stops and the process exits

Requests may carry ``X-Bench-Kind`` (the read kind or ``write``) and
``X-Bench-Op`` (an operation id) headers; the traced run uses them to
attribute spans and Spark jobs.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict

from common import Clock, cpus, prepare_process, start_spark


def _with_wkb(batches):
    from rustac_spark.geocode import footprint_wkb_batch
    for pdf in batches:
        pdf["geometry"] = footprint_wkb_batch(pdf)
        yield pdf


def build_items(spark, pages_path: str):
    """One item per page: the engine's prepare (geocode) gives the
    footprint, collection is the page language, datetime the crawl time,
    and two sortable properties derive from the page id."""
    from pyspark.sql import functions as F

    from rustac_spark.geocode import prepare_pages
    prepared = prepare_pages(spark.read.parquet(pages_path))
    pid = F.substring_index("url", "/p", -1).cast("long")
    geo = prepared.select("url", "warc_ts", "lang", "xmin", "ymin", "xmax",
                          "ymax").mapInPandas(
        _with_wkb, "url string, warc_ts timestamp, lang string, "
        "xmin double, ymin double, xmax double, ymax double, "
        "geometry binary")
    return geo.select(
        F.lit("Feature").alias("type"), F.lit("1.1.0").alias("stac_version"),
        F.concat(F.lit("p"), pid.cast("string")).alias("id"),
        F.concat(F.lit("pages-"), F.col("lang")).alias("collection"),
        "geometry",
        F.struct("xmin", "ymin", "xmax", "ymax").alias("bbox"),
        F.col("warc_ts").cast("timestamp_ntz").alias("datetime"),
        F.lit(None).cast("timestamp_ntz").alias("start_datetime"),
        F.lit(None).cast("timestamp_ntz").alias("end_datetime"),
        ((pid * 7919) % 10001 / 100.0).alias("eo:cloud_cover"),
        ((pid * 104729) % 1000).alias("rank"),
        "lang")


class Traced:
    """Per-request spans and Spark job groups for the traced run."""

    def __init__(self, spark):
        from tracing import SparkMetrics, Tracer
        self.tr = Tracer()
        self.sm = SparkMetrics(spark)
        self.kind_of_op: dict = {}
        self.returned: dict = defaultdict(int)
        self.lock = threading.Lock()

    def install(self) -> None:
        import rustac_spark.stac.api as api
        import rustac_spark.stac.cql2 as cql2
        import rustac_spark.stac.server as server
        import rustac_spark.stac.transactions as txn
        tr, sm, me = self.tr, self.sm, self

        route = server._Handler._route

        def traced_route(handler, method, body):
            if not tr.enabled:
                return route(handler, method, body)
            kind = handler.headers.get("X-Bench-Kind", "other")
            op = handler.headers.get("X-Bench-Op")
            tr.set_op(op)
            with me.lock:
                me.kind_of_op[op] = kind
            sm.group("api." + kind)
            with tr.span("stac.server.handler", kind=kind):
                route(handler, method, body)
            sm.group("other")

        server._Handler._route = traced_route

        def count_rows(t, page):
            with me.lock:
                me.returned[me.kind_of_op.get(t.current_op())] += (
                    page.number_returned)

        def count_item(t, row):
            with me.lock:
                me.returned[me.kind_of_op.get(t.current_op())] += (
                    row is not None)

        tr.wrap(server, "search_page", "stac.api.page", on_result=count_rows)
        tr.wrap(server, "search_page_keyset", "stac.api.page",
                on_result=count_rows)
        tr.wrap(api, "get_item", "stac.api.page", on_result=count_item)
        tr.wrap(api, "build_plan", "stac.search.plan")
        tr.wrap(cql2, "compile_filter", "stac.cql2.compile")
        tr.wrap(server, "row_to_item", "stac.items_io.serialize")
        tr.wrap(txn.TransactionClient, "add_item", "stac.transactions.write")
        tr.wrap(txn.TransactionClient, "upsert_item",
                "stac.transactions.write")

    def report(self, txn_client, build_s: float, spans_path: str) -> dict:
        """Per-layer figures: the table build for the geocode layer, and
        per-request means split by read kind."""
        from layers import API_KIND_GROUP
        spans = self.tr.spans
        groups = self.sm.collect()
        geo = groups.get("geocode", {})
        by: dict = defaultdict(list)
        for s in spans:
            if s["end"] is None:
                continue
            kind = self.kind_of_op.get(s.get("op"), "other")
            by[(s["name"], kind)].append(1e3 * (s["end"] - s["start"]))
            by[(s["name"], "*")].append(1e3 * (s["end"] - s["start"]))
        per_op_handler = {s.get("op"): 1e3 * (s["end"] - s["start"])
                          for s in spans if s["name"] == "stac.server.handler"
                          and s["end"] is not None}

        def mean(v):
            return sum(v) / len(v) if v else 0.0

        out = {
            "geocode.wall_s": build_s,
            "geocode.task_s": geo.get("task_s", 0.0),
            "geocode.gc_s": geo.get("gc_s", 0.0),
            "geocode.output_mb": geo.get("output_mb", 0.0),
            "stac.search.plan_ms": mean(by[("stac.search.plan", "*")]),
            "stac.cql2.compile_ms": mean(by[("stac.cql2.compile", "*")]),
            "stac.api.page_ms": mean(by[("stac.api.page", "*")]),
            "stac.items_io.serialize_ms": mean(
                by[("stac.items_io.serialize", "*")]),
            "stac.server.handler_ms": mean(
                by[("stac.server.handler", "*")]),
            "stac.transactions.write_ms": mean(
                by[("stac.transactions.write", "*")]),
        }
        kinds_in = defaultdict(list)
        for kind, g in API_KIND_GROUP.items():
            kinds_in[g].append(kind)
        for g, kinds in kinds_in.items():
            pages = [v for k in kinds for v in by[("stac.api.page", k)]]
            jobs = sum(groups.get("api." + k, {}).get("jobs", 0)
                       for k in kinds)
            task = sum(groups.get("api." + k, {}).get("task_s", 0.0)
                       for k in kinds)
            ids = set()
            for k in kinds:
                ids |= set(groups.get("api." + k, {}).get("job_ids", []))
            scanned = self.sm.sql_node_rows(ids, "Scan") if ids else 0
            returned = sum(self.returned[k] for k in kinds)
            n_http = sum(len(by[("stac.server.handler", k)]) for k in kinds)
            out[f"stac.api.page_ms.{g}"] = mean(pages)
            out[f"stac.api.jobs_per_req.{g}"] = jobs / n_http if n_http else 0
            out[f"stac.api.task_ms_per_req.{g}"] = (
                1e3 * task / n_http if n_http else 0)
            out[f"stac.api.rows_scanned_per_returned.{g}"] = (
                scanned / returned if returned else 0)
        writes = len(by[("stac.server.handler", "write")])
        out["stac.transactions.jobs_per_write"] = (
            groups.get("api.write", {}).get("jobs", 0) / writes
            if writes else 0)
        out["pipeline.snapshots.data_files"] = len(
            txn_client.table.manifest()["files"])
        return {"metrics": out, "handler_ms_by_op": per_op_handler,
                "self_s": self.tr.finish(spans_path)}


def main() -> int:
    clock = Clock()
    prepare_process()
    spark = start_spark("perfbench-stac-server")
    spark.range(1).count()
    emit({"event": "started", "s": clock(), "pid": os.getpid()})

    from rustac_spark.stac.server import serve
    from rustac_spark.stac.transactions import TransactionClient

    srv = txn_client = traced = None
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "build":
            t0 = time.perf_counter()
            # the traced run attributes the build's jobs to the geocode
            # layer (the build is the engine's prepare plus the table write)
            if os.environ.get("PERFBENCH_TRACE") == "1":
                spark.sparkContext.setJobGroup("geocode", "geocode")
            txn_client = TransactionClient(spark, cmd["table"])
            txn_client.add_items(
                build_items(spark, cmd["pages"]).coalesce(cpus()))
            build_s = time.perf_counter() - t0
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            srv, base = serve(txn=txn_client, background=True)
            emit({"event": "built", "s": build_s, "url": base})
        elif cmd["cmd"] == "trace":
            if traced is None:
                traced = Traced(spark)
                traced.install()
            traced.tr.enabled = True
            emit({"event": "tracing"})
        elif cmd["cmd"] == "untrace":
            if traced is not None:
                traced.tr.enabled = False
            emit({"event": "untraced"})
        elif cmd["cmd"] == "report":
            with open(cmd["path"], "w") as f:
                json.dump(traced.report(txn_client, build_s,
                                        cmd["path"] + ".spans"), f)
            emit({"event": "reported"})
        elif cmd["cmd"] == "quit":
            break
    if srv is not None:
        srv.shutdown()
        srv.server_close()
    from run import stop_spark
    stop_spark(spark)
    return 0


_emit_lock = threading.Lock()


def emit(event: dict) -> None:
    with _emit_lock:
        sys.stdout.write(json.dumps(event) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())
