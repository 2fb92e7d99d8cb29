"""``pipeline``: bench.py's six stages, pass after pass, on seeded pages.

One client runs passes back to back (closed loop).  Each pass runs
``prepare``, ``join_pairs``, ``join_counts``, ``st_join``, ``knn`` and
``tiles`` through ``Pipeline.stage``, exactly as bench.py's
``run_pipeline`` does, and every stage output is checked after the pass.
The probes repeat every pass, so driver-side caches are warm and the
workload measures execution rather than compilation.

After its passes the traced run adds a polygon section: polygon_join's
fresh/repeat batch pairs (wl_polygon_join.Batches) against the warm-up
pass's prepared pages.  It gives the cover and compile layers
(``geo.colgeom.*``, ``geo.predicates.*``), which the passes only hit in
their caches, and is not part of any pass figure.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
import reference
import wl_polygon_join
from common import WORK, Clock, balanced, median, traced_op
from layers import UNITS
from tracing import SparkMetrics, Tracer, print_self_times

N_PAGES = 100_000
MIN_PASSES = 1
STAGE_LAYER = {"prepare": "geocode", "join_pairs": "geo.join",
               "join_counts": "pipeline.join_counts",
               "st_join": "pipeline.st_join", "knn": "geo.knn",
               "tiles": "geo.tiles"}


class Pass:
    """One pipeline pass over the pages at ``pages_path``."""

    def __init__(self, spark, pages_path: str, probes_path: str):
        self.spark = spark
        self.pages_path = pages_path
        self.probes_path = probes_path
        self.tracer: Tracer | None = None
        self.sm: SparkMetrics | None = None
        self.knn_stats: dict = {}

    def _stage(self, pipe, name, build):
        if self.sm is not None:
            self.sm.group(STAGE_LAYER[name])
        if self.tracer is None:
            return pipe.stage(name, build)
        with self.tracer.span("stage." + name):
            return pipe.stage(name, build)

    def run(self, run_dir: str):
        from pyspark.sql import functions as F

        import rustac_spark.geo.join as join_mod
        import rustac_spark.geo.knn as knn_mod
        from rustac_spark.geo.tiles import explode_tiles
        from rustac_spark.geocode import prepare_pages
        from rustac_spark.pipeline.lineage import Pipeline
        from rustac_spark.stac.datetime_parse import parse_interval

        spark = self.spark
        queries = spark.read.parquet(self.probes_path)
        pipe = Pipeline(spark, run_dir)
        prepared = self._stage(pipe, "prepare", lambda: prepare_pages(
            spark.read.parquet(self.pages_path)))
        bad = prepared.where(~F.col("text_ok")).count()
        pairs = self._stage(pipe, "join_pairs", lambda: join_mod.spatial_join(
            prepared, queries, page_cols=["url", "warc_ts"],
            has_polygons=True))
        self._stage(pipe, "join_counts", lambda: (
            pairs.groupBy("query_id", "kind")
            .agg(F.count("*").alias("n_matches"))))

        def st_join():
            qrows = queries.where(
                (F.col("kind") == "bbox") & F.col("datetime").isNotNull()
            ).select("query_id", "datetime").collect()
            bounds = []
            for r in qrows:
                s, e = parse_interval(r["datetime"])
                bounds.append((r["query_id"],
                               s.replace(tzinfo=None) if s else None,
                               e.replace(tzinfo=None) if e else None))
            bdf = F.broadcast(spark.createDataFrame(
                bounds, "query_id long, t_start timestamp, t_end timestamp"))
            return (pairs.join(bdf, "query_id")
                    .where((F.col("t_start").isNull()
                            | (F.col("warc_ts") >= F.col("t_start")))
                           & (F.col("t_end").isNull()
                              | (F.col("warc_ts") <= F.col("t_end"))))
                    .groupBy("query_id")
                    .agg(F.count("*").alias("n_matches")))

        self._stage(pipe, "st_join", st_join)
        points = queries.where(F.col("kind") == "point")
        if self.tracer is None:
            self._stage(pipe, "knn", lambda: knn_mod.knn_cells(
                prepared, points, k=5))
        else:
            self.knn_stats = {}
            self._stage(pipe, "knn", lambda: knn_mod.knn_cells(
                prepared, points, k=5, stats_out=self.knn_stats))
        self._stage(pipe, "tiles", lambda: (
            explode_tiles(explode_tiles(
                prepared.select("url", "xmin", "ymin", "xmax", "ymax"), 6)
                .drop("tile_z", "tile_x", "tile_y"), 10)
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"))))
        if self.sm is not None:
            self.sm.group("other")
        return pipe, bad


class Expected:
    """Everything a pass's outputs are checked against."""

    def __init__(self, pages, probes):
        urls = pages["url"].tolist()
        self.n = len(urls)
        self.fp = reference.footprints(urls)
        self.ids = reference.page_ids(urls)
        order = np.argsort(self.ids)
        self.sorted_ids = self.ids[order]
        self.sorted_fp = {k: v[order] for k, v in self.fp.items()}
        self.pairs = reference.probe_expectations(self.fp, self.ids, probes)
        self.kind = dict(zip(probes["query_id"], probes["kind"]))
        ts = dict(zip(self.ids.tolist(), reference.utc_naive(pages["warc_ts"])))
        self.st = reference.st_join_counts(self.pairs, ts, probes)
        self.tiles, self.edge_tiles = reference.tile_counts(self.fp)
        self.knn = reference.knn_expected(self.fp, urls, probes)
        self.index = {u: i for i, u in enumerate(urls)}

    def check(self, run_dir: str, bad: int) -> list[str]:
        """Problems found in a finished pass's stage outputs."""
        errs = []
        if bad:
            errs.append(f"{bad} rows fail the text invariant")
        prep = pq.read_table(f"{run_dir}/prepare.parquet").to_pandas()
        if len(prep) != self.n or not prep["text_ok"].all():
            errs.append(f"prepare: {len(prep)} rows, want {self.n}")
        else:
            ids = reference.page_ids(prep["url"])
            order = np.argsort(ids)
            if not np.array_equal(ids[order], self.sorted_ids):
                errs.append("prepare: page ids differ")
            for k in ("lat", "lon", "xmin", "ymin", "xmax", "ymax"):
                if not np.allclose(prep[k].to_numpy()[order],
                                   self.sorted_fp[k], rtol=0, atol=1e-12):
                    errs.append(f"prepare: column {k} differs")
        pairs = pq.read_table(f"{run_dir}/join_pairs.parquet",
                              columns=["query_id", "url"]).to_pandas()
        pairs["pid"] = reference.page_ids(pairs["url"])
        got = {q: set(g.tolist()) for q, g in pairs.groupby("query_id")["pid"]}
        for q, e in self.pairs.items():
            if not e.accepts(got.get(q, set())):
                errs.append(f"join_pairs: probe {q} has "
                            f"{len(got.get(q, ()))} pairs, want {len(e.sure)}")
        counts = pq.read_table(f"{run_dir}/join_counts.parquet").to_pandas()
        cmap = {r.query_id: (r.kind, r.n_matches) for r in counts.itertuples()}
        for q, e in self.pairs.items():
            kind, n = cmap.get(q, (self.kind[q], 0))
            if kind != self.kind[q] or not (
                    len(e.sure) <= n <= len(e.sure) + len(e.amb)):
                errs.append(f"join_counts: probe {q} counts {n}")
        st = pq.read_table(f"{run_dir}/st_join.parquet").to_pandas()
        smap = dict(zip(st["query_id"], st["n_matches"]))
        for q in set(smap) | set(self.st):
            lo, hi = self.st.get(q, (0, 0))
            if not lo <= smap.get(q, 0) <= hi:
                errs.append(f"st_join: probe {q} counts {smap.get(q, 0)}")
        knn = pq.read_table(f"{run_dir}/knn.parquet").to_pandas()
        kmap: dict[int, list] = {}
        for r in knn.itertuples():
            kmap.setdefault(r.query_id, []).append((r.dist_km, r.url))
        for q, (qlat, qlon, want) in self.knn.items():
            def true_km(u):
                i = self.index.get(u)
                return (float("nan") if i is None else reference.haversine_km(
                    self.fp["lat"][i], self.fp["lon"][i], qlat, qlon))
            if not reference.knn_matches(kmap.get(q, []), want, true_km):
                errs.append(f"knn: probe {q} differs")
        tiles = pq.read_table(f"{run_dir}/tiles.parquet").to_pandas()
        tmap = {(r.tile_x, r.tile_y): r.n_pages for r in tiles.itertuples()}
        for t in set(tmap) | set(self.tiles):
            if tmap.get(t, 0) != self.tiles.get(t, 0) and not (
                    t in self.edge_tiles or t not in self.tiles):
                errs.append(f"tiles: tile {t} counts {tmap.get(t, 0)}")
        extra = set(tmap) - set(self.tiles)
        if len(extra) > len(self.edge_tiles):
            errs.append(f"tiles: {len(extra)} unexpected tiles")
        return errs


def _wrap_layers(tr: Tracer) -> None:
    import rustac_spark.geo.join as join_mod
    import rustac_spark.geo.knn as knn_mod
    tr.wrap(join_mod, "spatial_join", "geo.join.build")
    tr.wrap(knn_mod, "knn_cells", "geo.knn.build")


def run(args, spark_start, rep) -> None:
    clock = Clock()
    spark = spark_start("perfbench-pipeline")
    session_s = clock()
    base = os.path.join(WORK, "pipeline")
    shutil.rmtree(base, ignore_errors=True)
    pages_path = os.path.join(base, "pages")
    probes_path = os.path.join(base, "probes.parquet")
    t0 = time.perf_counter()
    probes = inputs.pipeline_probes(args.seed)
    pages = inputs.write_pages(pages_path, args.seed, N_PAGES)
    inputs.write_probes(probes_path, probes)
    gen_s = time.perf_counter() - t0

    p = Pass(spark, pages_path, probes_path)
    t0 = time.perf_counter()
    pipe, bad = p.run(os.path.join(base, "warm"))
    warm_s = time.perf_counter() - t0
    setup_s = session_s + gen_s + warm_s

    print(f"# setup: session {session_s:.2f}s, gen {gen_s:.2f}s, "
          f"warm-up pass {warm_s:.2f}s", flush=True)
    want = Expected(pages, probes)
    errs = want.check(os.path.join(base, "warm"), bad)
    rep.op(not errs, "warm-up pass: " + "; ".join(errs[:3]))

    passes: list[dict] = []

    def measure(seconds: float, tr: Tracer | None = None,
                sm: SparkMetrics | None = None) -> dict[bool, list[float]]:
        """Passes until ``seconds`` are up; with a tracer, in blocks of
        untraced and traced passes (common.traced_op).  Returns the pass
        walls by traced-ness."""
        walls: dict[bool, list[float]] = {False: [], True: []}
        t_end = time.perf_counter() + seconds
        i = 0
        while (i < MIN_PASSES or time.perf_counter() < t_end
               or (tr is not None and not balanced(i))):
            on = tr is not None and traced_op(i)
            if tr is not None:
                tr.enabled = on
            p.tracer, p.sm = (tr, sm) if on else (None, None)
            rd = os.path.join(base, f"pass-{i}")
            t0 = time.perf_counter()
            pipe, bad = p.run(rd)
            walls[on].append(time.perf_counter() - t0)
            passes.append({
                "traced": on,
                "wall": dict(pipe.stage_seconds),
                "rows": {s: pipe.committed_info(s)["rows"]
                         for s in STAGE_LAYER},
                "knn_iters": p.knn_stats.get("underflow_iters", 0)})
            errs = want.check(rd, bad)
            rep.op(not errs, f"pass {i}: " + "; ".join(errs[:3]))
            shutil.rmtree(rd, ignore_errors=True)
            i += 1
        return walls

    if not args.trace:
        walls = measure(args.seconds)[False]
        rep.add("setup_s", setup_s, "s")
        rep.add("throughput_per_s", N_PAGES / median(walls), "1/s")
        rep.add("primary_p50_ms", 1e3 * median(walls), "ms")
        rep.add("pipeline_pages_per_s", N_PAGES / median(walls), "pages/s")
        rep.add("pipeline_passes", len(walls), "count")
        for st in STAGE_LAYER:
            rep.add(f"pipeline.{st}_s",
                    median([d["wall"][st] for d in passes]), "s")
        return

    tr = Tracer()
    sm = SparkMetrics(spark)
    _wrap_layers(tr)
    walls = measure(args.seconds, tr, sm)
    tr.enabled = False

    # the polygon section: polygon_join's fresh/repeat batch pairs against
    # the warm-up pass's prepared pages, after the passes so that the pass
    # figures stay execution only.  It has no warm-up batch of its own, so
    # the first over-budget batch also pays the memo path's first use.
    ptr = Tracer()
    wl_polygon_join.wrap_cover_compile(ptr)
    client = wl_polygon_join.Batches(
        spark, spark.read.parquet(os.path.join(base, "warm",
                                               "prepare.parquet")),
        base, args.seed, want.fp, want.ids, rep)
    poly = client.measure(0, ptr)
    client.check()
    wl_polygon_join.rep_cover_compile(
        rep, ptr, len(poly[("fresh", True)]) + len(poly[("repeat", True)]))
    rep.add("polygon_join_fresh_s", median(poly[("fresh", True)]), "s")
    rep.add("polygon_join_repeat_s", median(poly[("repeat", True)]), "s")

    per_layer(rep, sm, tr, [d for d in passes if d["traced"]])
    print_self_times(tr.finish(os.path.join(base, "spans.json")))
    print_self_times(ptr.finish(os.path.join(base, "polygon_spans.json")))
    rep.add("trace.untraced_primary_p50_ms", 1e3 * median(walls[False]),
            "ms")
    rep.add("trace.traced_primary_p50_ms", 1e3 * median(walls[True]), "ms")


def per_layer(rep, sm: SparkMetrics, tr: Tracer, passes: list[dict]) -> None:
    """Per-pass averages of each layer's figures over the traced passes."""
    n = len(passes)
    groups = sm.collect()

    def grp(layer: str, key: str) -> float:
        return groups.get(layer, {}).get(key, 0) / n

    span_s: dict[str, float] = {}
    for s in tr.spans:
        span_s[s["name"]] = span_s.get(s["name"], 0.0) + s["end"] - s["start"]
    wall = {s: median([p["wall"][s] for p in passes]) for s in STAGE_LAYER}
    rows = {s: median([p["rows"][s] for p in passes]) for s in STAGE_LAYER}
    out = {
        "geocode.wall_s": wall["prepare"],
        "geocode.task_s": grp("geocode", "task_s"),
        "geocode.gc_s": grp("geocode", "gc_s"),
        "geocode.rows_out": rows["prepare"],
        "geocode.output_mb": grp("geocode", "output_mb"),
        "geo.join.build_s": span_s.get("geo.join.build", 0.0) / n,
        "geo.join.exec_s": wall["join_pairs"]
        - span_s.get("geo.join.build", 0.0) / n,
        "geo.join.jobs": grp("geo.join", "jobs"),
        "geo.join.candidates": sm.sql_node_rows(
            set(groups.get("geo.join", {}).get("job_ids", [])),
            "BroadcastHashJoin") / n,
        "geo.join.pairs": rows["join_pairs"],
        "geo.join.task_s": grp("geo.join", "task_s"),
        "geo.join.shuffle_mb": grp("geo.join", "shuffle_mb"),
        "geo.join.output_mb": grp("geo.join", "output_mb"),
        "geo.knn.build_s": span_s.get("geo.knn.build", 0.0) / n,
        "geo.knn.exec_s": wall["knn"] - span_s.get("geo.knn.build", 0.0) / n,
        "geo.knn.jobs": grp("geo.knn", "jobs"),
        "geo.knn.underflow_iters": median([p["knn_iters"] for p in passes]),
        "geo.knn.task_s": grp("geo.knn", "task_s"),
        "geo.knn.shuffle_mb": grp("geo.knn", "shuffle_mb"),
        "geo.tiles.wall_s": wall["tiles"],
        "geo.tiles.task_s": grp("geo.tiles", "task_s"),
        "geo.tiles.rows_out": rows["tiles"],
        "geo.tiles.shuffle_mb": grp("geo.tiles", "shuffle_mb"),
        "pipeline.join_counts.wall_s": wall["join_counts"],
        "pipeline.st_join.wall_s": wall["st_join"],
        # time inside Pipeline.stage (the build, the write and the lineage
        # rows) during which no Spark job of the stage ran
        "pipeline.lineage.driver_s": sum(
            span_s.get("stage." + s, 0.0) / n - grp(layer, "job_s")
            for s, layer in STAGE_LAYER.items()),
    }
    cand = out["geo.join.candidates"]
    out["geo.join.accept_ratio"] = out["geo.join.pairs"] / cand if cand else 0
    for name, v in out.items():
        rep.add(name, v, UNITS[name])
