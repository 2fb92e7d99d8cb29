"""Traced-run instrumentation: spans, function wrappers, Spark job groups
and process memory.

Nothing here is active in an untraced run: the workloads create a
``Tracer`` only with ``--trace 1``, and every wrapper is installed by that
tracer and passes straight through while the tracer is disabled.  Spans
are held in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

from common import process_tree


class Tracer:
    """In-memory spans: (name, start, end, parent index, operation id)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.enabled = True  # wrappers pass straight through when False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_op(self, op_id) -> None:
        """Operation id stamped on spans opened by this thread."""
        self._local.op = op_id

    def current_op(self):
        return getattr(self._local, "op", None)

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a version that records a span named
        ``name``; ``on_result(tracer, result)`` may count outcomes."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            with tracer.span(name):
                out = fn(*a, **kw)
            tracer.count(name + ".calls")
            if on_result is not None:
                on_result(tracer, out)
            return out

        setattr(owner, attr, traced)

    def finish(self, path: str) -> dict[str, float]:
        """Write the spans and counts to ``path``; return each span name's
        self time in seconds."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)
        return layer_self_seconds(self.spans)


def print_self_times(self_s: dict[str, float]) -> None:
    for name, s in sorted(self_s.items()):
        print(f"# self time {name}: {s:.4f} s")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        st = self.tracer._stack()
        self.rec = {"name": self.name, "start": time.perf_counter(),
                    "end": None, "parent": st[-1] if st else None,
                    "op": self.tracer.current_op(),
                    **self.attrs}
        with self.tracer._lock:
            self.idx = len(self.tracer.spans)
            self.tracer.spans.append(self.rec)
        st.append(self.idx)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._stack().pop()
        return False


# ---------------------------------------------------------------- self time

def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    out = []
    for i, s in enumerate(spans):
        kids = [(max(spans[c]["start"], s["start"]),
                 min(spans[c]["end"], s["end"])) for c in children[i]]
        kids = [(a, b) for a, b in kids if b > a]
        out.append((s["end"] - s["start"]) - union_length(kids))
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time summed per span name."""
    out: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        out[s["name"]] += t
    return dict(out)


# -------------------------------------------------------- Spark job groups

class SparkMetrics:
    """Per job-group task time, GC, shuffle, spill and output bytes, read
    from the driver's REST API after the timed section."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, interruptOnCancel=False)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.loads(r.read().decode())

    def collect(self) -> dict[str, dict]:
        """{group: {jobs, task_s, gc_s, shuffle_mb, spill_mb, output_mb,
        job_s (union of job wall intervals), sql: [execution ids]}}"""
        jobs = self._get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages")}
        by_stage = defaultdict(list)
        for s in stages.values():
            by_stage[s["stageId"]].append(s)
        out: dict[str, dict] = {}
        intervals = defaultdict(list)
        for j in jobs:
            g = j.get("jobGroup")
            if not g:
                continue
            d = out.setdefault(g, {"jobs": 0, "task_s": 0.0, "gc_s": 0.0,
                                   "shuffle_mb": 0.0, "spill_mb": 0.0,
                                   "output_mb": 0.0, "job_ids": []})
            d["jobs"] += 1
            d["job_ids"].append(j["jobId"])
            if j.get("submissionTime") and j.get("completionTime"):
                intervals[g].append((_ts(j["submissionTime"]),
                                     _ts(j["completionTime"])))
            for sid in j.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    d["task_s"] += s.get("executorRunTime", 0) / 1e3
                    d["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    d["shuffle_mb"] += (s.get("shuffleWriteBytes", 0)
                                        + s.get("shuffleReadBytes", 0)) / 1e6
                    d["spill_mb"] += (s.get("diskBytesSpilled", 0)) / 1e6
                    d["output_mb"] += s.get("outputBytes", 0) / 1e6
        for g, iv in intervals.items():
            out[g]["job_s"] = union_length(iv)
        return out

    def sql_node_rows(self, job_ids: set[int], node: str) -> int:
        """Sum of 'number of output rows' of plan nodes whose name starts
        with ``node`` in SQL executions that ran any of ``job_ids``."""
        total = 0
        for ex in self._get("/sql?details=true&planDescription=false"
                            "&length=1000000"):
            ran = set(ex.get("successJobIds", [])) | set(
                ex.get("runningJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for n in ex.get("nodes", []):
                if not n.get("nodeName", "").startswith(node):
                    continue
                for m in n.get("metrics", []):
                    if m.get("name") == "number of output rows":
                        total += _num(m.get("value", "0"))
        return total


def _ts(s: str) -> float:
    from datetime import datetime
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _num(v: str) -> int:
    v = str(v).split("\n")[0].replace(",", "").strip()
    try:
        return int(float(v.split()[0]))
    except (ValueError, IndexError):
        return 0


# ------------------------------------------------------------------ memory

class PeakRss:
    """Samples the resident memory of a process tree every 0.2 s."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _rss_mb(self) -> float:
        total = 0
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
        return total * os.sysconf("SC_PAGE_SIZE") / 1e6

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.peak_mb = max(self.peak_mb, self._rss_mb())

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return max(self.peak_mb, self._rss_mb())
