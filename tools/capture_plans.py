"""Capture .explain("formatted") for bench HEADLINE queries (and any -k
extras) into plans/r12/<query>_<tag>.txt, followed by the Catalyst cost of
building the query:

- the phase times (analysis / optimization / planning) of the final
  DataFrame, from ``queryExecution().tracker().phases()``;
- the top 5 analyzer/optimizer rules by time, from the JVM-wide
  ``RuleExecutor`` metrics reset before the query is built and dumped
  after its explain;
- the py4j round trips the query build made (tools/roundtrips.py), the
  cost of assembling the plan from Python;
- the HashAggregate, SortAggregate and ObjectHashAggregate counts of the
  executed plans (tools/plan_nodes.py): the final DataFrame's and every
  DataFrame pinned through ``checkpointing.pin`` during the build, cached
  subplans included. A sort-based aggregate (a ``min``/``max`` over a
  string, say) sorts every row it reads on all its keys; this is where
  one shows.

Queries that eagerly pin their result (the sweep family) or run
plan-assertion side effects (bucketed join) execute real work while the
query is built; their final explain shows a Scan ExistingRDD over the
pinned result, so their phase times are those of that scan. The rule
times still cover every plan optimized during the build, the pinned
subtree's included — that is where a planner blow-up in a sweep shows.
test_plans.py guards the upstream subtrees separately.

    python tools/capture_plans.py --tag before [--sf DIR] [-k name,name]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from app_insights_generator_spark.operators import checkpointing
from app_insights_generator_spark.session import get_spark
from app_insights_generator_spark.queries import QUERIES
from plan_nodes import AGGREGATES, aggregate_counts
from roundtrips import round_trips


@contextmanager
def pinned_frames():
    """Yields a list that collects every DataFrame pinned inside the
    block, whatever name a package module imported ``checkpointing.pin``
    under. Their executed plans are read after the block, so the spy adds
    no py4j round trips to it."""
    real = checkpointing.pin
    pinned = []

    def spy(df):
        pinned.append(df)
        return real(df)

    owners = [
        (m, attr)
        for name, m in list(sys.modules.items())
        if name.startswith("app_insights_generator_spark")
        for attr, value in list(vars(m).items())
        if value is real
    ]
    for m, attr in owners:
        setattr(m, attr, spy)
    try:
        yield pinned
    finally:
        for m, attr in owners:
            setattr(m, attr, real)


def aggregate_report(dfs) -> str:
    """Physical aggregate counts summed over the executed plans of
    ``dfs``, as text."""
    counts = [aggregate_counts(df._jdf.queryExecution().executedPlan()) for df in dfs]
    lines = ["== Physical aggregates (executed plans, pinned ones included) =="]
    lines += [f"{a}: {sum(c[a] for c in counts)}" for a in AGGREGATES]
    return "\n".join(lines) + "\n"


def catalyst_report(spark, df) -> str:
    """Phase times of ``df`` and the top 5 rules since the last
    ``RuleExecutor.resetMetrics()``, as text."""
    jvm = spark._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    lines = ["== Catalyst phases (ms) =="]
    lines += [f"{name}: {phases[name].durationMs()}" for name in sorted(phases)]
    # dumpTimeSpent rows: <rule> <effective ns> / <total ns> <effective runs> / <runs>
    rules = []
    dump = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
    for row in dump.splitlines():
        f = row.split()
        if len(f) == 7 and f[2] == "/" and f[3].isdigit():
            rules.append((int(f[3]), f[0], f[6]))
    lines.append("== Top 5 rules by time (ms, runs) ==")
    top = sorted(rules, reverse=True)[:5]
    lines += [f"{name}: {ns / 1e6:.1f} ms, {runs} runs" for ns, name, runs in top]
    return "\n".join(lines) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", required=True)
    ap.add_argument("--out", default=None)
    ap.add_argument("-k", default=None, help="comma-separated query names (default: bench HEADLINE)")
    args = ap.parse_args()

    import bench

    names = args.k.split(",") if args.k else list(bench.HEADLINE)
    outdir = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12"
    )
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="capture-plans")
    rule_executor = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    for name in names:
        fn = QUERIES.get(name) or bench._EXTRA.get(name)
        if fn is None:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"plan: {name}")
        try:
            rule_executor.resetMetrics()
            with pinned_frames() as pinned, round_trips(spark) as n:
                df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue() + "\n" + catalyst_report(spark, df)
            text += f"== py4j round trips (query build) ==\n{n[0]}\n"
            text += aggregate_report([*pinned, df])
        except Exception as e:  # record the failure instead of dying mid-list
            text = f"EXPLAIN FAILED: {e!r}\n"
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
