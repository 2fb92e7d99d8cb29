"""The benchmark's metric names and units, in one place.

Every workload prints every metric of the list its mode asks for; a layer a
workload does not exercise reads 0 there (see README.md for which layer
should move which end-to-end metric on which workload).
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("primary_p50_ms", "ms"),
]

# read kinds of the stac_api mix, grouped the way the per-layer metrics
# split them
API_KIND_GROUP = {"bbox": "rect", "bbox_dt": "rect", "point": "rect",
                  "skip_pages": "rect", "cql2": "cql2",
                  "polygon": "polygon", "keyset_pages": "keyset",
                  "item_get": "item_get"}
API_GROUPS = ["rect", "cql2", "polygon", "keyset", "item_get"]

PER_LAYER = [
    ("geocode.wall_s", "s"), ("geocode.task_s", "s"), ("geocode.gc_s", "s"),
    ("geocode.rows_out", "count"), ("geocode.output_mb", "MB"),
    ("geo.join.build_s", "s"), ("geo.join.exec_s", "s"),
    ("geo.join.jobs", "count"), ("geo.join.candidates", "count"),
    ("geo.join.pairs", "count"), ("geo.join.accept_ratio", "ratio"),
    ("geo.join.task_s", "s"), ("geo.join.shuffle_mb", "MB"),
    ("geo.join.output_mb", "MB"),
    ("geo.colgeom.compile_s", "s"), ("geo.colgeom.compile_calls", "count"),
    ("geo.colgeom.fallbacks", "count"),
    ("geo.predicates.cover_s", "s"), ("geo.predicates.cover_calls", "count"),
    ("geo.knn.build_s", "s"), ("geo.knn.exec_s", "s"),
    ("geo.knn.jobs", "count"), ("geo.knn.underflow_iters", "count"),
    ("geo.knn.task_s", "s"), ("geo.knn.shuffle_mb", "MB"),
    ("geo.tiles.wall_s", "s"), ("geo.tiles.task_s", "s"),
    ("geo.tiles.rows_out", "count"), ("geo.tiles.shuffle_mb", "MB"),
    ("pipeline.join_counts.wall_s", "s"), ("pipeline.st_join.wall_s", "s"),
    ("pipeline.lineage.driver_s", "s"),
    ("stac.search.plan_ms", "ms"), ("stac.cql2.compile_ms", "ms"),
    ("stac.api.page_ms", "ms"),
    *[(f"stac.api.{m}.{g}", u) for g in API_GROUPS for m, u in (
        ("page_ms", "ms"), ("jobs_per_req", "count"),
        ("task_ms_per_req", "ms"), ("rows_scanned_per_returned", "ratio"))],
    ("stac.items_io.serialize_ms", "ms"),
    ("stac.server.handler_ms", "ms"), ("stac.server.overhead_ms", "ms"),
    ("stac.transactions.write_ms", "ms"),
    ("stac.transactions.jobs_per_write", "count"),
    ("pipeline.snapshots.data_files", "count"),
    ("proc.peak_rss_mb", "MB"),
    ("trace.untraced_primary_p50_ms", "ms"),
    ("trace.traced_primary_p50_ms", "ms"),
    ("trace.overhead_pct", "%"),
    ("trace.noise_pct", "%"),
]

UNITS = dict(END_TO_END + PER_LAYER)


def names(trace: int) -> list[str]:
    return [n for n, _ in (PER_LAYER if trace else END_TO_END)]
