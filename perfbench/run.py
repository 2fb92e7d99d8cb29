#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pipeline|polygon_join|stac_api \\
        --seed N --seconds S --trace 0|1

With ``--trace 0`` the last line carries the end-to-end metrics, measured
with no instrumentation installed.  With ``--trace 1`` it carries the
per-layer metrics.  A traced run measures its operations in blocks of
untraced, traced, traced, untraced, so a warm-up trend falls equally on
both sides, and reports the tracing overhead as the difference of
the two sides' ``primary_p50_ms``; an overhead within twice the workload's
run-to-run spread is reported as unresolved.  Every operation's
output is checked against an independent reference (see reference.py);
wrong answers and errors count in ``failed``.  All files go under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

from common import HERE, Report, parse_args, prepare_process, start_spark
import layers


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def noise_pct(workload: str) -> float | None:
    """Run-to-run spread of ``primary_p50_ms`` (IQR / median, in %, the
    mean over the baseline's sets), or None if the baseline has no runs of
    the workload.  The overhead is a difference of two such figures, whose
    spread is about 1.4 times theirs, so only an overhead above twice this
    spread counts as resolved."""
    with open(os.path.join(HERE, "baseline.json")) as f:
        sets = json.load(f)["sets"]
    spreads = [s["workloads"][workload]["summary"]["primary_p50_ms"]
               ["iqr_over_median"] for s in sets if workload in s["workloads"]]
    return 100.0 * sum(spreads) / len(spreads) if spreads else None


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["PERFBENCH_TRACE"] = str(args.trace)
    prepare_process()
    workload = importlib.import_module("wl_" + args.workload)
    rep = Report()
    sessions = []

    def spark_start(app: str):
        sessions.append(start_spark(app))
        return sessions[-1]

    rss = None
    if args.trace and args.workload != "stac_api":
        from tracing import PeakRss
        rss = PeakRss(os.getpid())
    try:
        workload.run(args, spark_start, rep)
    finally:
        if rss is not None:
            rep.add("proc.peak_rss_mb", rss.stop(), "MB")
        for s in sessions:
            stop_spark(s)
    if args.trace:
        plain = rep.metrics["trace.untraced_primary_p50_ms"][0]
        traced = rep.metrics["trace.traced_primary_p50_ms"][0]
        over = 100.0 * (traced - plain) / plain
        noise = noise_pct(args.workload)
        rep.add("trace.overhead_pct", over, "%")
        rep.add("trace.noise_pct", noise or 0.0, "%")
        print(f"# tracing overhead {over:+.1f}% of primary_p50_ms: " + (
            "not judged, the baseline has no run-to-run spread for it"
            if noise is None else
            ("resolved" if abs(over) > 2 * noise else "unresolved")
            + f" against twice the run-to-run spread of {noise:.1f}%"))
    keep = layers.names(args.trace)
    for name in keep:
        if name not in rep.metrics:
            rep.add(name, 0.0, layers.UNITS[name])
    rep.emit(keep)
    return 0


if __name__ == "__main__":
    sys.exit(main())
