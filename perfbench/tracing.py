"""Per-layer tracing for the benchmark's traced run.

Spans are taken from outside the package: :meth:`Tracer.wrap` replaces a
public function at the name its caller looks it up under, so the engine
itself is unchanged. Each span of kind ``full`` or ``light`` sets one Spark
job group (its span id) for its duration; full spans also diff Janino's
compile counters over py4j. Spans stay in memory; after the session stops,
:func:`fold` joins them with the uncompressed event log into per-span
numbers:

- ``s``: the span's wall time;
- ``self_s``: ``s`` minus the part of the span its child spans cover;
- ``driver_s``: ``s`` minus the union of the intervals of the Spark jobs
  launched inside the span (Python, Catalyst and AQE re-planning time);
- ``jobs``, ``tasks``, ``exec_run_s``, ``exec_cpu_s``, ``shuffle_write_mb``
  and ``spill_mb``: summed over the jobs launched inside the span.

A job belongs to the innermost span active when it was submitted (its job
group) and to every ancestor of that span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

FULL_FIELDS = (
    "s", "self_s", "driver_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
    "shuffle_write_mb", "spill_mb", "janino_ms", "janino_classes",
)
LIGHT_FIELDS = ("s", "self_s", "jobs", "exec_cpu_s")

FIELD_UNITS = {
    "s": "s", "self_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "janino_ms": "ms", "janino_classes": "count",
}


class Tracer:
    """In-memory span recorder; inactive wrappers cost one attribute check."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.iteration: int | None = None
        self.spark = None
        self._stack: list[dict] = []

    def wrap(self, owner, attr: str, name: str, kind: str) -> None:
        """Trace calls to ``owner.attr`` as spans called ``name``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.active:
                return original(*args, **kwargs)
            with self.span(name, kind):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "full"):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"perfbench-{len(self.spans)}",
            "name": name,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "iter": self.iteration,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        codegen = self._codegen() if sc is not None and kind == "full" else None
        if sc is not None:
            sc.setJobGroup(sp["id"], name)
        sp["t0"] = time.time()
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            if codegen is not None:
                ns, classes = self._codegen()
                sp["janino_ms"] = (ns - codegen[0]) / 1e6
                sp["janino_classes"] = classes - codegen[1]
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent["id"], parent["name"])
                else:
                    sc._jsc.clearJobGroup()

    def _codegen(self) -> tuple[int, int]:
        jvm = self.spark._jvm
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        return ns, n

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the driver JVM, read from /proc."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``, in
    order; handles both the single-file and the rolling (v2) layout."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]

    def order(path: str):
        base = os.path.basename(path)
        # rolling layout: events_<n>_<appid>
        return int(base.split("_")[1]) if base.startswith("events_") else 0

    events = []
    for path in sorted(files, key=order):
        if os.path.basename(path).startswith("appstatus_"):
            continue
        with open(path) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _jobs_from_events(events: list[dict]) -> dict[int, dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "tasks": 0,
                "exec_run_s": 0.0,
                "exec_cpu_s": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
            }
            # a stage listed by several jobs runs in the first; later
            # jobs only list it as skipped
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            m = e.get("Task Metrics") or {}
            job["tasks"] += 1
            job["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            shuffle = m.get("Shuffle Write Metrics") or {}
            job["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 1e6
            job["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    for job in jobs.values():
        if job["end"] is None:  # log cut short: count the job as still running
            job["end"] = float("inf")
    return jobs


def fold(spans: list[dict], events: list[dict]) -> dict[str, dict]:
    """Per-span metrics (see module docstring), keyed by span id."""
    jobs = _jobs_from_events(events)
    children: dict[str | None, list[dict]] = defaultdict(list)
    for sp in spans:
        children[sp["parent"]].append(sp)
    jobs_by_group: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        jobs_by_group[job["group"]].append(job)

    def subtree_jobs(sp: dict) -> list[dict]:
        out = list(jobs_by_group.get(sp["id"], ()))
        for child in children.get(sp["id"], ()):
            out += subtree_jobs(child)
        return out

    out = {}
    for sp in spans:
        lo, hi = sp["t0"], sp["t1"]
        mine = subtree_jobs(sp)
        m = {
            "s": hi - lo,
            "self_s": hi - lo - union_length(
                [(c["t0"], c["t1"]) for c in children.get(sp["id"], ())], lo, hi
            ),
            "driver_s": hi - lo - union_length(
                [(j["start"], j["end"]) for j in mine], lo, hi
            ),
            "jobs": len(mine),
            "janino_ms": sp.get("janino_ms", 0.0),
            "janino_classes": sp.get("janino_classes", 0),
        }
        for key in ("tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_mb", "spill_mb"):
            m[key] = sum(j[key] for j in mine)
        out[sp["id"]] = m
    return out


def per_iteration(spans: list[dict], folded: dict[str, dict]) -> dict[int, dict[str, dict]]:
    """``{iteration: {span name: summed metrics, plus "calls"}}`` over the
    spans recorded inside timed iterations."""
    out: dict[int, dict[str, dict]] = defaultdict(dict)
    for sp in spans:
        if sp["iter"] is None:
            continue
        acc = out[sp["iter"]].setdefault(sp["name"], defaultdict(float))
        acc["calls"] += 1
        for key, value in folded[sp["id"]].items():
            acc[key] += value
    return out
