"""Shared pieces: arguments, statistics, the Spark session and the report."""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# the tail percentiles we report, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True,
                   choices=["pipeline", "polygon_join", "stac_api"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cpus() -> int:
    """``nproc``: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- statistics

def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n: int, want: float = TAIL_LADDER[0]) -> float | None:
    """The highest percentile, at most ``want``, that leaves at least ten
    of ``n`` samples beyond it; None when even the median does not."""
    for p in TAIL_LADDER:
        if p <= want and n - math.ceil(p / 100.0 * n) >= 10:
            return p
    return None


def median(values) -> float:
    return float(statistics.median(values))


def traced_op(i: int) -> bool:
    """Whether operation ``i`` of a traced run is traced.  Traced runs go in
    blocks of untraced, traced, traced, untraced and stop only after a whole
    block (see ``balanced``), so a steady warm-up trend weighs the same on
    both sides, and so does content that alternates from one operation to
    the next (polygon_join's over-budget batches)."""
    return i % 4 in (1, 2)


def balanced(n: int) -> bool:
    """Whether ``n`` operations make whole blocks (and at least one)."""
    return n >= 4 and n % 4 == 0


# ---------------------------------------------------------------- processes

def _proc_stat(pid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _proc_stat(p)
            if st is not None:
                parent[int(p)] = int(st[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [c for c, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


# ------------------------------------------------------------ Spark session

def package_zip_into_work() -> str:
    """Zip the rustac_spark package into the work directory (the engine's
    own helper writes it to /tmp; the benchmark keeps to its checkout)."""
    pkg = os.path.join(ROOT, "rustac_spark")
    out = os.path.join(WORK, "rustac_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return out


def prepare_process() -> None:
    """Keep temp files in the checkout and make the engine importable.
    Call before importing pyspark.  Spark runs at ``local[nproc]`` on the
    cores the process is given, where bench.py's core pin is a no-op."""
    n = cpus()
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["RUSTAC_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(app: str):
    """local[nproc] session with bench.py's settings and a 4 GB driver heap
    (the host is shared).  The UI stays on, as in bench.py and the engine's
    default session, so traced and untraced runs differ only by the
    benchmark's own wrappers and job groups; the traced run reads the
    per-job-group Spark figures from the UI's REST API."""
    import rustac_spark.session as session
    session.package_zip = package_zip_into_work
    n = cpus()
    spark = session.get_spark(app, master=f"local[{n}]",
                              shuffle_partitions=2 * n, extra={
        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions":
            "-XX:+UseG1GC -XX:ParallelGCThreads=8 -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------------- report

class Report:
    """Collects metrics and operation outcomes; prints the human lines and
    the final JSON line."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def add(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def emit(self, keep: list[str]) -> None:
        for f in self.failures:
            print(f"# FAILED: {f}")
        for name, (v, unit) in self.metrics.items():
            print(f"metric {name} = {v:.6g} {unit}")
        out = {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": self.metrics[k][0],
                            "unit": self.metrics[k][1]} for k in keep},
        }
        sys.stdout.flush()
        print(json.dumps(out), flush=True)


class Clock:
    """Seconds since construction."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0
