"""``polygon_join``: batches of polygon probes joined against prepared pages.

One client submits ``spatial_join`` batches back to back (closed loop) and
materializes each result as per-probe (pair count, sum of page ids).  The
batches come in pairs: a fresh batch, never seen before, which pays the
driver-side cover and predicate compile, then a re-submit of an earlier
batch, which hits the caches.  Every second fresh batch holds a polygon
over the compile vertex budget, so the memo fallback runs too.
"""

from __future__ import annotations

import os
import shutil
import time

import inputs
import reference
from common import WORK, Clock, balanced, median, traced_op
from layers import UNITS
from tracing import SparkMetrics, Tracer, print_self_times

N_PAGES = 50_000
MIN_PAIRS = 2  # at least this many fresh/repeat pairs per run


class Batches:
    """One client's fresh/repeat polygon batches against prepared pages.

    Each pair submits a fresh batch ``b<j>`` (drawn from the seed) and then
    re-submits a batch picked among the fresh ones so far.  Every reply is
    kept and checked later against the benchmark's own rect x polygon test
    over the pages' footprints ``fp`` and ids ``ids``."""

    def __init__(self, spark, prepared, base: str, seed: int, fp, ids, rep):
        self.spark, self.prepared, self.seed = spark, prepared, seed
        self.fp, self.ids, self.rep = fp, ids, rep
        self.dir = os.path.join(base, "batches")
        os.makedirs(self.dir)
        self.sm: SparkMetrics | None = None
        self.batches: dict[str, list] = {}
        self.fresh_names: list[str] = []
        self.results: list[tuple[str, str, dict, bool]] = []

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")

    def write(self, name: str, seed_key: int, b: int) -> None:
        self.batches[name] = inputs.polygon_batch(seed_key, b)
        inputs.write_probes(self.path(name),
                            inputs.batch_frame(self.batches[name]))

    def submit(self, name: str) -> dict[int, tuple[int, int]]:
        """Join one batch and materialize {query_id: (pairs, sum of ids)}."""
        from pyspark.sql import functions as F

        import rustac_spark.geo.join as join_mod
        if self.sm is not None:
            self.sm.group("geo.join")
        queries = self.spark.read.parquet(self.path(name))
        pairs = join_mod.spatial_join(self.prepared, queries,
                                      page_cols=["url"], has_polygons=True)
        rows = (pairs.groupBy("query_id")
                .agg(F.count("*").alias("n"),
                     F.sum(F.substring_index("url", "/p", -1)
                           .cast("long")).alias("s"))
                .collect())
        if self.sm is not None:
            self.sm.group("other")
        return {r["query_id"]: (r["n"], r["s"]) for r in rows}

    def warm(self) -> float:
        """Submit one batch from a key no measured batch uses; it holds an
        over-budget polygon, so the memo path is warm as well."""
        t0 = time.perf_counter()
        self.write("warm", -1 - self.seed, 1)
        self.submit("warm")
        return time.perf_counter() - t0

    def measure(self, seconds: float, tr: Tracer | None = None,
                sm: SparkMetrics | None = None,
                alternate: bool = False) -> dict:
        """Pairs until ``seconds`` are up (at least MIN_PAIRS).  With a
        tracer every pair is traced, or with ``alternate`` the pairs go in
        blocks of untraced and traced ones (common.traced_op), so each side
        gets as many over-budget batches as the other.  Returns the batch
        times by (kind, traced-ness)."""
        times: dict[tuple[str, bool], list[float]] = {
            (k, on): [] for k in ("fresh", "repeat") for on in (False, True)}
        t_end = time.perf_counter() + seconds
        j = 0
        while (j < MIN_PAIRS or time.perf_counter() < t_end
               or (alternate and not balanced(j))):
            on = tr is not None and (traced_op(j) if alternate else True)
            if tr is not None:
                tr.enabled = on
            self.sm = sm if on else None
            fresh = f"b{j}"
            self.write(fresh, self.seed, j)
            self.fresh_names.append(fresh)
            pick = inputs.unit(f"rep{self.seed}:{j}")
            repeat = self.fresh_names[int(pick * len(self.fresh_names))]
            for kind, name in (("fresh", fresh), ("repeat", repeat)):
                t0 = time.perf_counter()
                try:
                    got = self.submit(name)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    got = None
                    self.rep.op(False, f"{kind} batch {name}: "
                                f"{type(e).__name__}: {e}")
                times[(kind, on)].append(time.perf_counter() - t0)
                if got is not None:
                    self.results.append((kind, name, got, on))
            j += 1
        return times

    def check(self) -> None:
        expect: dict[str, dict] = {}
        for kind, name, got, _on in self.results:
            if name not in expect:
                expect[name] = reference.probe_expectations(
                    self.fp, self.ids, inputs.batch_frame(self.batches[name]))
            bad = [q for q, e in expect[name].items()
                   if not e.accepts_summary(*got.get(q, (0, 0)))]
            bad += [q for q in got if q not in expect[name]]
            self.rep.op(not bad, f"{kind} batch {name}: probes {bad} differ")


def run(args, spark_start, rep) -> None:
    from rustac_spark.geocode import prepare_pages
    from rustac_spark.pipeline.lineage import Pipeline

    clock = Clock()
    spark = spark_start("perfbench-polygon-join")
    session_s = clock()
    base = os.path.join(WORK, "polygon_join")
    shutil.rmtree(base, ignore_errors=True)
    pages_path = os.path.join(base, "pages")
    t0 = time.perf_counter()
    pages = inputs.write_pages(pages_path, args.seed, N_PAGES)
    gen_s = time.perf_counter() - t0

    sm = SparkMetrics(spark) if args.trace else None
    t0 = time.perf_counter()
    if sm is not None:
        sm.group("geocode")
    pipe = Pipeline(spark, os.path.join(base, "run"))
    prepared = pipe.stage("prepare", lambda: prepare_pages(
        spark.read.parquet(pages_path)))
    prepare_s = time.perf_counter() - t0
    if sm is not None:
        sm.group("setup")

    client = Batches(spark, prepared, base, args.seed,
                     reference.footprints(pages["url"].tolist()),
                     reference.page_ids(pages["url"]), rep)
    warm_s = client.warm()
    setup_s = session_s + gen_s + prepare_s + warm_s
    print(f"# setup: session {session_s:.2f}s, gen {gen_s:.2f}s, "
          f"prepare {prepare_s:.2f}s, warm-up batch {warm_s:.2f}s",
          flush=True)

    if not args.trace:
        times = client.measure(args.seconds)
        client.check()
        fresh_t, repeat_t = times[("fresh", False)], times[("repeat", False)]
        n_poly = inputs.BATCH_SIZE * (len(fresh_t) + len(repeat_t))
        rep.add("setup_s", setup_s, "s")
        rep.add("throughput_per_s", n_poly / (sum(fresh_t) + sum(repeat_t)),
                "1/s")
        rep.add("primary_p50_ms", 1e3 * median(fresh_t), "ms")
        rep.add("polygon_join_fresh_s", median(fresh_t), "s")
        rep.add("polygon_join_repeat_s", median(repeat_t), "s")
        rep.add("polygon_join_batches", len(fresh_t) + len(repeat_t), "count")
        return

    tr = Tracer()
    _wrap_layers(tr)
    times = client.measure(args.seconds, tr, sm, alternate=True)
    client.check()
    fresh = times[("fresh", True)]
    walls = fresh + times[("repeat", True)]
    pairs = sum(n for _k, _name, got, on in client.results if on
                for n, _s in got.values())
    per_layer(rep, sm, tr, len(walls), walls, pairs, prepare_s, N_PAGES)
    rep_cover_compile(rep, tr, len(walls))
    print_self_times(tr.finish(os.path.join(base, "spans.json")))
    rep.add("trace.untraced_primary_p50_ms",
            1e3 * median(times[("fresh", False)]), "ms")
    rep.add("trace.traced_primary_p50_ms", 1e3 * median(fresh), "ms")

def _wrap_layers(tr: Tracer) -> None:
    import rustac_spark.geo.join as join_mod
    tr.wrap(join_mod, "spatial_join", "geo.join.build")
    wrap_cover_compile(tr)


def per_layer(rep, sm, tr, n, walls, pairs, prepare_s, n_pages) -> None:
    """Per-batch averages over the traced batches, plus the set-up's
    prepare stage for the geocode layer."""
    groups = sm.collect()
    span_s: dict[str, float] = {}
    for s in tr.spans:
        span_s[s["name"]] = span_s.get(s["name"], 0.0) + s["end"] - s["start"]
    geo = groups.get("geocode", {})
    j = groups.get("geo.join", {})
    build = span_s.get("geo.join.build", 0.0) / n
    cand = sm.sql_node_rows(set(j.get("job_ids", [])),
                            "BroadcastHashJoin") / n
    out = {
        "geocode.wall_s": prepare_s,
        "geocode.task_s": geo.get("task_s", 0.0),
        "geocode.gc_s": geo.get("gc_s", 0.0),
        "geocode.rows_out": n_pages,
        "geocode.output_mb": geo.get("output_mb", 0.0),
        "geo.join.build_s": build,
        "geo.join.exec_s": sum(walls) / n - build,
        "geo.join.jobs": j.get("jobs", 0) / n,
        "geo.join.candidates": cand,
        "geo.join.pairs": pairs / n,
        "geo.join.accept_ratio": pairs / n / cand if cand else 0.0,
        "geo.join.task_s": j.get("task_s", 0.0) / n,
        "geo.join.shuffle_mb": j.get("shuffle_mb", 0.0) / n,
        "geo.join.output_mb": j.get("output_mb", 0.0) / n,
    }
    for name, v in out.items():
        rep.add(name, v, UNITS[name])


def wrap_cover_compile(tr: Tracer) -> None:
    import rustac_spark.geo.colgeom as colgeom
    import rustac_spark.geo.predicates as predicates

    def fallback(t, out):
        if out is None:
            t.count("geo.colgeom.fallbacks")

    tr.wrap(colgeom, "compile_refine_predicate", "geo.colgeom.compile",
            on_result=fallback)
    tr.wrap(predicates, "inscribed_rects", "geo.predicates.cover")


def rep_cover_compile(rep, tr: Tracer, n: int) -> None:
    """The driver-side cover and compile per traced batch, ``n`` of them.
    A repeat batch's calls are cache hits: they count as calls (and a
    cached None as a fallback) but take next to no time."""
    span_s: dict[str, float] = {}
    for s in tr.spans:
        span_s[s["name"]] = span_s.get(s["name"], 0.0) + s["end"] - s["start"]
    out = {
        "geo.colgeom.compile_s": span_s.get("geo.colgeom.compile", 0.0) / n,
        "geo.colgeom.compile_calls":
            tr.counts.get("geo.colgeom.compile.calls", 0) / n,
        "geo.colgeom.fallbacks": tr.counts.get("geo.colgeom.fallbacks", 0) / n,
        "geo.predicates.cover_s": span_s.get("geo.predicates.cover", 0.0) / n,
        "geo.predicates.cover_calls":
            tr.counts.get("geo.predicates.cover.calls", 0) / n,
    }
    for name, v in out.items():
        rep.add(name, v, UNITS[name])
