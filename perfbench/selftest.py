"""Self-tests for the benchmark's own arithmetic (perfbench/tracing.py).

    python3 perfbench/selftest.py            # run the checks
    python3 perfbench/selftest.py --record   # re-record the event-log fixture

The checks fold a hand-built event list with known answers and a small
event log recorded from a real Spark session (perfbench/fixtures/) into
per-span metrics, and check that ``self_s`` is the span minus its children
and ``driver_s`` is the span minus the union of its job intervals.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
sys.path.insert(0, HERE)

import tracing  # noqa: E402


def close(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


def check_union_length() -> None:
    assert close(tracing.union_length([], 0, 10), 0)
    assert close(tracing.union_length([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
    assert close(tracing.union_length([(1, 9), (2, 3)], 0, 10), 8)  # nested
    assert close(tracing.union_length([(-5, 2), (9, 20)], 0, 10), 3)  # clipped
    assert close(tracing.union_length([(11, 12)], 0, 10), 0)  # outside


def _job(jid, group, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start * 1000,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end * 1000},
    ]


def _task(stage, run_ms, cpu_ns, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Disk Bytes Spilled": spill}}


def check_fold_synthetic() -> None:
    spans = [
        {"id": "a", "name": "outer", "parent": None, "iter": 0, "t0": 100.0, "t1": 110.0},
        {"id": "b", "name": "inner", "parent": "a", "iter": 0, "t0": 101.0, "t1": 104.0},
        {"id": "c", "name": "inner", "parent": "a", "iter": 0, "t0": 106.0, "t1": 108.0,
         "janino_ms": 12.5, "janino_classes": 3},
    ]
    events = (
        _job(0, "b", 101.5, 103.0, [0, 1])
        + _job(1, "b", 102.5, 103.5, [1, 2])  # overlaps job 0; stage 1 is job 0's
        + _job(2, "c", 106.5, 107.5, [3])
        + _job(3, "a", 108.5, 109.0, [4])
        + [_task(1, 400, 3e8, shuffle=2e6), _task(2, 600, 5e8, spill=1e6),
           _task(3, 1000, 9e8), _task(4, 200, 1e8)]
    )
    m = tracing.fold(spans, events)
    a, b, c = m["a"], m["b"], m["c"]
    assert close(a["s"], 10) and close(a["self_s"], 10 - 3 - 2)
    # jobs cover [101.5, 103.5] + [106.5, 107.5] + [108.5, 109.0] = 3.5s
    assert close(a["driver_s"], 10 - 3.5), a
    assert close(b["self_s"], 3) and close(b["driver_s"], 3 - 2)
    assert close(c["driver_s"], 2 - 1)
    assert (a["jobs"], b["jobs"], c["jobs"]) == (4, 2, 1)
    assert (a["tasks"], b["tasks"], c["tasks"]) == (4, 2, 1)
    assert close(b["exec_run_s"], 1.0) and close(b["exec_cpu_s"], 0.8)
    assert close(b["shuffle_write_mb"], 2.0) and close(b["spill_mb"], 1.0)
    assert close(a["exec_cpu_s"], 1.8)
    assert close(c["janino_ms"], 12.5) and c["janino_classes"] == 3
    it = tracing.per_iteration(spans, m)[0]
    assert it["inner"]["calls"] == 2 and close(it["inner"]["s"], 5)
    assert close(it["inner"]["driver_s"], 2)


def check_fold_recorded() -> None:
    with open(os.path.join(FIXTURES, "spans.json")) as fh:
        spans = json.load(fh)
    events = tracing.read_event_log(os.path.join(FIXTURES, "eventlog"))
    m = tracing.fold(spans, events)
    by_id = {s["id"]: s for s in spans}
    starts = {e["Job ID"]: e for e in events if e["Event"] == "SparkListenerJobStart"}
    ends = {e["Job ID"]: e for e in events if e["Event"] == "SparkListenerJobEnd"}

    def subtree(sid):
        out = {sid}
        for s in spans:
            if s["parent"] == sid:
                out |= subtree(s["id"])
        return out

    ran_jobs = 0
    for sp in spans:
        got = m[sp["id"]]
        dur = sp["t1"] - sp["t0"]
        kids = [s for s in spans if s["parent"] == sp["id"]]
        assert close(got["self_s"], dur - sum(k["t1"] - k["t0"] for k in kids)), sp
        groups = subtree(sp["id"])
        ivs = sorted(
            (max(starts[j]["Submission Time"] / 1e3, sp["t0"]),
             min(ends[j]["Completion Time"] / 1e3, sp["t1"]))
            for j in starts if starts[j]["Properties"].get("spark.jobGroup.id") in groups
        )
        covered, reach = 0.0, sp["t0"]
        for lo, hi in ivs:
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        assert close(got["driver_s"], dur - covered), (sp["name"], got, covered)
        assert got["jobs"] == len(ivs)
        if got["jobs"]:
            ran_jobs += 1
            assert got["tasks"] > 0 and got["exec_cpu_s"] > 0, sp
    assert ran_jobs >= 2 and all(s["parent"] in by_id for s in spans if s["parent"])


def record() -> None:
    """Record the fixture: two nested spans around a few small jobs."""
    import shutil

    from pyspark.sql import SparkSession

    log_dir = os.path.join(FIXTURES, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    tracer = tracing.Tracer()
    tracer.spark = spark
    tracer.iteration = 0
    with tracer.span("outer"):
        spark.range(20_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tracer.span("inner", "light"):
            spark.range(1_000).repartition(3).count()
        with tracer.span("inner", "light"):
            pass
    spark.stop()
    keep = {
        "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs", "Properties"),
        "SparkListenerJobEnd": ("Event", "Job ID", "Completion Time"),
        "SparkListenerTaskEnd": ("Event", "Stage ID", "Task Metrics"),
    }
    metrics = ("Executor Run Time", "Executor CPU Time", "Shuffle Write Metrics", "Disk Bytes Spilled")
    events = []
    for e in tracing.read_event_log(log_dir):
        fields = keep.get(e["Event"])
        if fields is None:
            continue
        e = {k: e[k] for k in fields}
        if "Properties" in e:
            e["Properties"] = {"spark.jobGroup.id": e["Properties"].get("spark.jobGroup.id")}
        if "Task Metrics" in e:
            e["Task Metrics"] = {k: e["Task Metrics"][k] for k in metrics}
        events.append(e)
    shutil.rmtree(log_dir)
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "events_1_local-fixture"), "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)
    tracer.dump(os.path.join(FIXTURES, "spans.json"))


def main() -> int:
    if sys.argv[1:] == ["--record"]:
        record()
        return 0
    for check in (check_union_length, check_fold_synthetic, check_fold_recorded):
        check()
        print(f"ok  {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
