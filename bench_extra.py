#!/usr/bin/env python
"""Round-7 isolation bench (guide §1.4): times each bench stage with a
noop sink so computation is measured separately from the parquet sink,
labels jobs (guide §1.5), and breaks join_pairs into the candidate
join and the full join with its compiled polygon refine, timing plan
build (polygon WKB collect, inscribed covers, SQL predicate compile
and parse) apart from execution. Does NOT replace bench.py (frozen);
numbers from here are cited in OPTIMIZATION_r07.md only.

Usage: SPARK_GRAFT_CPUS=32 python bench_extra.py [--plans]
  --plans  also dump explain("formatted") for each stage to
           plans/r07/<stage>_<tag>.txt (tag from RUSTAC_PLAN_TAG,
           default "before").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from rustac_spark import DATA_DIR
from rustac_spark.session import get_spark

REPO = os.path.dirname(os.path.abspath(__file__))
PLAN_DIR = f"{REPO}/plans/r07"
TAG = os.environ.get("RUSTAC_PLAN_TAG", "before")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    dump_plans = "--plans" in sys.argv
    try:
        os.sched_setaffinity(0, set(range(min(cpus, os.cpu_count() or cpus))))
    except (AttributeError, OSError):
        pass

    # mirror bench.py's session exactly
    spark = get_spark(f"bench-extra-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus,
                      extra={
                          "spark.sql.codegen.wholeStage":
                              os.environ.get("RUSTAC_CODEGEN", "true"),
                          "spark.sql.files.maxPartitionBytes":
                              str(1024 * 1024),
                      })
    spark.sparkContext.setLogLevel("ERROR")

    from rustac_spark.geo.join import spatial_join
    from rustac_spark.geo.knn import knn_cells
    from rustac_spark.geo.tiles import explode_tiles
    from rustac_spark.geocode import prepare_pages
    from rustac_spark.stac.datetime_parse import parse_interval

    pages_path = f"{DATA_DIR}/runtime/pages_sf0.1.parquet"
    queries = (spark.read.parquet(f"{DATA_DIR}/queries.parquet")
               .where(F.col("query_id") < 68))

    results: dict[str, list[float]] = {}

    def timed(label, build, n=3, sink=noop):
        ts = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"{label} #{i}")
            t0 = time.time()
            df = build()
            sink(df)
            ts.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[label] = ts
        print(f"{label}: {ts}", file=sys.stderr)
        return ts

    def dump_plan(label, df):
        if not dump_plans:
            return
        os.makedirs(PLAN_DIR, exist_ok=True)
        with open(f"{PLAN_DIR}/{label}_{TAG}.txt", "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")))

    # ---------------- prepare ----------------
    raw = spark.read.parquet(pages_path)
    dump_plan("prepare", prepare_pages(raw))
    timed("prepare_noop", lambda: prepare_pages(raw))

    # materialize prepared once (like bench's prepare stage) for later
    prep_path = f"/dev/shm/rustac_bench/extra_{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobDescription("prepare write")
    t0 = time.time()
    prepare_pages(raw).write.mode("overwrite").parquet(prep_path)
    results["prepare_write_total"] = [round(time.time() - t0, 3)]
    print(f"prepare_write_total: {results['prepare_write_total']}",
          file=sys.stderr)
    prepared = spark.read.parquet(prep_path)

    # ---------------- join_pairs components ----------------
    # candidate join only (rect-exact kinds; polygon refine skipped):
    timed("join_candidates_noop", lambda: spatial_join(
        prepared, queries, page_cols=["url", "warc_ts"],
        has_polygons=False))

    # full join incl. the compiled polygon refine; separate plan build
    # (WKB collect, covers, SQL predicate compile + parse) from
    # execution
    def build_and_time_full(i):
        spark.sparkContext.setJobDescription(f"join_full build #{i}")
        t0 = time.time()
        df = spatial_join(prepared, queries, page_cols=["url", "warc_ts"],
                          has_polygons=True)
        t1 = time.time()
        spark.sparkContext.setJobDescription(f"join_full exec #{i}")
        noop(df)
        t2 = time.time()
        return round(t1 - t0, 3), round(t2 - t1, 3), df

    builds, execs = [], []
    df_full = None
    for i in range(3):
        b, e, df_full = build_and_time_full(i)
        builds.append(b)
        execs.append(e)
    results["join_full_build"] = builds
    results["join_full_exec"] = execs
    print(f"join_full_build: {builds}\njoin_full_exec: {execs}",
          file=sys.stderr)
    dump_plan("join_pairs", df_full)

    # pairs written (bench materializes pairs): write cost
    pairs_path = f"/dev/shm/rustac_bench/extra_pairs_{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobDescription("join write")
    t0 = time.time()
    df_full.write.mode("overwrite").parquet(pairs_path)
    results["join_write_total"] = [round(time.time() - t0, 3)]
    print(f"join_write_total: {results['join_write_total']}", file=sys.stderr)
    pairs = spark.read.parquet(pairs_path)

    # ---------------- join_counts ----------------
    cnt = (pairs.groupBy("query_id", "kind")
           .agg(F.count("*").alias("n_matches")))
    dump_plan("join_counts", cnt)
    timed("join_counts_noop", lambda: (
        pairs.groupBy("query_id", "kind")
        .agg(F.count("*").alias("n_matches"))))

    # ---------------- st_join ----------------
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

    dump_plan("st_join", st_join())
    timed("st_join_noop", st_join)

    # ---------------- knn ----------------
    point_q = queries.where(F.col("kind") == "point")
    dump_plan("knn", knn_cells(prepared, point_q, k=5))
    timed("knn_noop", lambda: knn_cells(prepared, point_q, k=5))

    # ---------------- tiles ----------------
    def tiles():
        return (explode_tiles(explode_tiles(
            prepared.select("url", "xmin", "ymin", "xmax", "ymax"), 6)
            .drop("tile_z", "tile_x", "tile_y"), 10)
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages")))

    dump_plan("tiles", tiles())
    timed("tiles_noop", tiles)

    shutil.rmtree(prep_path, ignore_errors=True)
    shutil.rmtree(pairs_path, ignore_errors=True)
    print(json.dumps({k: v for k, v in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
