"""Benchmark of the insights engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload playstore_cli --seed 1 --seconds 15 --trace 0

Each workload is a closed loop with one client: iterations run back to back
in this process against the engine's public entry points, on a
``local[<cores>]`` session. The engine sees only files generated from
``--seed`` (perfbench/gen.py). Every timed iteration's output is digested
outside the timed region and compared with a reference computed per seed;
a mismatch or an exception counts as a failed operation, and any failure
makes the command exit 1.

``--trace 0`` prints the end-to-end metrics (``wall_s``, ``rows_per_s``,
``setup_s``). ``--trace 1`` wraps the engine's layers (perfbench/tracing.py),
runs untraced then traced iterations and prints the per-layer metrics.
The last line of standard output is one JSON object. perfbench/NOTES.md
records the design and the noise findings behind it.
"""

from __future__ import annotations

import argparse
import csv
import dataclasses
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# The engine is imported before any input is made, so outside a checkout
# of the repository the command fails at once without printing a result.
from app_insights_generator_spark import pipeline, session  # noqa: E402
from app_insights_generator_spark.config import PLAYSTORE_CONFIG  # noqa: E402
from app_insights_generator_spark.operators import checkpointing, dedup, insights, sweep  # noqa: E402
from app_insights_generator_spark.sources import readers  # noqa: E402

import gen  # noqa: E402
import tracing  # noqa: E402


def configure_environment() -> None:
    """Point everything Spark and Python write at the checkout, and size the
    session to this machine's cores."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_DRIVER_MEMORY="4g",
        TMPDIR=os.path.join(WORK, "tmp"),
    )
    tempfile.tempdir = os.environ["TMPDIR"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest_lines(lines) -> str:
    """Order-insensitive digest of a multiset of output lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class PlaystoreCli:
    """The reference's own flow: CSV -> cast/filter/bucket -> 105-set
    grouping-sets sweep -> CSV, through ``pipeline.extract_data``."""

    rows = 5_000
    warmup = 1
    # the reference's verbatim knobs, capped at pairs of columns: 14 + 91 sets
    cfg = dataclasses.replace(PLAYSTORE_CONFIG, max_combo_size=2)

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.csv = os.path.join(work, "apps.csv")
        self.out = os.path.join(work, "insights")

    def make_inputs(self) -> None:
        gen.playstore_csv(self.csv, self.rows, self.seed)

    def iterate(self, spark):
        return pipeline.extract_data(spark, self.csv, self.out, self.cfg, mode="native")

    def output_lines(self) -> list[str]:
        lines = []
        for path in sorted(glob.glob(os.path.join(self.out, "part-*"))):
            with open(path, newline="") as fh:
                rows = list(csv.reader(fh))
            lines += [r[0] for r in rows[1:]]  # every part file has a header
        return lines

    def digest(self, spark, result) -> str:
        return digest_lines(self.output_lines())

    def reference(self, spark) -> str:
        """Insight multiset of ``sweep_apriori`` over the same prepared
        input: the cross-mode identity the fidelity tests rely on."""
        raw = readers.read_csv(spark, self.csv, header=True, infer_schema=True)
        prepared = insights.prepare(raw, self.cfg).cache()
        try:
            out = sweep.sweep_apriori(prepared, self.cfg, total_count=prepared.count())
            return digest_lines(r.Insights for r in out.collect())
        finally:
            prepared.unpersist()

    def layer_extras(self, spark, result) -> dict[str, float]:
        size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(self.out, "*")))
        return {
            "sweep.out_rows": len(self.output_lines()),
            "writers.write_csv.out_mb": size / 1e6,
        }


class DedupCorpus:
    """Near-duplicate detection over a corpus with planted clusters:
    ``near_dedup_minhash`` -> ``connected_components``."""

    rows = 5_000
    warmup = 5
    shingle_n, num_hashes, bands, threshold = 3, 64, 16, 0.7

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.truth = os.path.join(work, "clusters.json")

    def make_inputs(self) -> None:
        clusters = gen.dedup_corpus(
            os.path.join(self.work, "documents.parquet"), self.rows, self.seed
        )
        with open(self.truth, "w") as fh:
            json.dump(clusters, fh)

    def iterate(self, spark):
        docs = readers.load_table(spark, self.work, "documents")
        pairs = dedup.near_dedup_minhash(
            docs, "doc_id", "text", self.shingle_n, self.num_hashes, self.bands,
            self.threshold,
        )
        labels = dedup.connected_components(pairs, docs.select("doc_id"), "doc_id")
        return pairs, labels

    def digest(self, spark, result) -> str:
        _pairs, labels = result
        return digest_lines(f"{r.doc_id},{r.component}" for r in labels.collect())

    def reference(self, spark) -> str:
        """Every planted cluster is exactly one component labelled by its
        smallest id, and no two base documents share a component."""
        with open(self.truth) as fh:
            clusters = json.load(fh)
        return digest_lines(f"{d},{min(c)}" for c in clusters for d in c)

    def layer_extras(self, spark, result) -> dict[str, float]:
        pairs, _labels = result
        docs = readers.load_table(spark, self.work, "documents")
        candidates = dedup.minhash_candidates(
            docs, "doc_id", "text", self.shingle_n, self.num_hashes, self.bands
        ).count()
        verified = pairs.count()
        return {
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.pair_precision": verified / candidates if candidates else 0.0,
        }


WORKLOADS = {"playstore_cli": PlaystoreCli, "dedup_corpus": DedupCorpus}

# (owner, attribute the caller looks up, span name, kind)
SPAN_SITES = (
    (session, "get_spark", "session.get_spark", "light"),
    (pipeline, "read_csv", "readers.read_csv", "light"),
    (readers, "load_table", "readers.load_table", "light"),
    (pipeline, "extract_data", "pipeline.extract_data", "full"),
    (pipeline, "sweep_grouping_sets", "sweep.sweep_grouping_sets", "full"),
    (sweep, "sweep_grouping_sets", "sweep.sweep_grouping_sets", "full"),
    (checkpointing, "pin", "checkpointing.pin", "light"),
    (dedup, "_shared_pin", "checkpointing.pin", "light"),
    (pipeline, "write_csv", "writers.write_csv", "light"),
    (dedup, "near_dedup_minhash", "dedup.near_dedup_minhash", "full"),
    (dedup, "connected_components", "dedup.connected_components", "full"),
)
FULL_SPANS = (
    "pipeline.extract_data", "sweep.sweep_grouping_sets",
    "dedup.near_dedup_minhash", "dedup.connected_components",
)
LIGHT_SPANS = ("readers.read_csv", "readers.load_table", "checkpointing.pin", "writers.write_csv")
EXTRAS = {
    "sweep.out_rows": "count",
    "writers.write_csv.out_mb": "MB",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_precision": "ratio",
}


def start_session(event_log: str | None):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return session.get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def attempt(what: str, fn):
    """``fn()``, or None when it raises: a failed operation, counted."""
    try:
        return fn()
    except Exception:  # noqa: BLE001
        log(f"{what} failed:\n{traceback.format_exc()}")
        return None


def timed_loop(w, spark, seconds: float, min_iters: int, tracer=None):
    """Run iterations back to back for ``seconds`` (at least ``min_iters``);
    returns (wall times, digests with None for a failed one, last result)."""
    walls, digests, result = [], [], None
    t_end = time.perf_counter() + seconds
    while len(walls) < min_iters or time.perf_counter() < t_end:
        i = len(walls)
        if tracer is None:
            t0 = time.perf_counter()
            result = attempt(f"iteration {i}", lambda: w.iterate(spark))
        else:
            tracer.iteration, tracer.active = i, True
            t0 = time.perf_counter()
            with tracer.span("iteration"):
                result = attempt(f"iteration {i}", lambda: w.iterate(spark))
            tracer.iteration, tracer.active = None, False
        walls.append(time.perf_counter() - t0)
        log(f"iteration {i}: {walls[-1]:.3f}s")
        digests.append(
            None if result is None else attempt("digest", lambda: w.digest(spark, result))
        )
    return walls, digests, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    configure_environment()

    work = os.path.join(WORK, args.workload, f"seed-{args.seed}")
    w = WORKLOADS[args.workload](args.seed, work)
    if not os.path.exists(os.path.join(work, "inputs.done")):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        w.make_inputs()
        open(os.path.join(work, "inputs.done"), "w").close()

    tracer = None
    event_log = None
    if args.trace:
        tracer = tracing.Tracer()
        for owner, attr, name, kind in SPAN_SITES:
            tracer.wrap(owner, attr, name, kind)
        event_log = tempfile.mkdtemp(prefix="eventlog-", dir=WORK)
        tracer.active = True

    t_setup = time.perf_counter()
    spark = start_session(event_log)
    if tracer is not None:
        tracer.active = False
        tracer.spark = spark
    for i in range(w.warmup):
        t0 = time.perf_counter()
        w.iterate(spark)
        log(f"warm-up {i}: {time.perf_counter() - t0:.3f}s")
    # The reference runs in every run, as the last warm-up step, so set-up
    # costs the same whether or not this seed was seen before.
    t0 = time.perf_counter()
    expected = w.reference(spark)
    log(f"reference: {time.perf_counter() - t0:.3f}s")
    setup_s = time.perf_counter() - t_setup

    if tracer is None:
        walls, digests, result = timed_loop(w, spark, args.seconds, 2)
    else:
        plain, plain_digests, _ = timed_loop(w, spark, args.seconds / 2, 2)
        walls, digests, result = timed_loop(w, spark, args.seconds / 2, 2, tracer)
        digests += plain_digests
        extras = attempt("layer extras", lambda: w.layer_extras(spark, result)) or {}
        peak_rss = tracer.jvm_peak_rss_mb()

    stop_session(spark)
    failed = sum(d != expected for d in digests)

    wall_s = statistics.median(walls)
    if tracer is None:
        metrics = {
            "wall_s": (wall_s, "s"),
            "rows_per_s": (w.rows / wall_s, "1/s"),
            "setup_s": (setup_s, "s"),
        }
    else:
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(tracer, event_log, extras)
        metrics["run.jvm_peak_rss_mb"] = (peak_rss, "MB")
        metrics["trace.overhead_s"] = (wall_s - statistics.median(plain), "s")
        shutil.rmtree(event_log, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(digests),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def layer_metrics(tracer, event_log: str, extras: dict) -> dict[str, tuple]:
    """Per-layer metrics: medians over the traced iterations of each span
    name's per-iteration sums; a layer the workload never enters reads 0."""
    folded = tracing.fold(tracer.spans, tracing.read_event_log(event_log))
    iters = list(tracing.per_iteration(tracer.spans, folded).values())

    def med(name: str, field: str) -> float:
        return statistics.median(it.get(name, {}).get(field, 0.0) for it in iters)

    out = {}
    session_span = next(s for s in tracer.spans if s["name"] == "session.get_spark")
    out["session.get_spark.s"] = (folded[session_span["id"]]["s"], "s")
    for name in FULL_SPANS:
        for field in tracing.FULL_FIELDS:
            out[f"{name}.{field}"] = (med(name, field), tracing.FIELD_UNITS[field])
    for name in LIGHT_SPANS:
        for field in tracing.LIGHT_FIELDS:
            out[f"{name}.{field}"] = (med(name, field), tracing.FIELD_UNITS[field])
    out["pin.calls"] = (med("checkpointing.pin", "calls"), "count")
    for name, unit in EXTRAS.items():
        out[name] = (extras.get(name, 0.0), unit)
    out["run.jobs"] = (med("iteration", "jobs"), "count")
    out["run.driver_s"] = (med("iteration", "driver_s"), "s")
    out["run.exec_cpu_s"] = (med("iteration", "exec_cpu_s"), "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
