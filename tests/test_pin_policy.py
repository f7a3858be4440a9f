"""One pin policy: every pin in the package goes through
``operators/checkpointing.pin``, and the session's checkpoint dir
(``spark.checkpoint.dir`` / ``sc.setCheckpointDir``) is the only switch
between local and reliable checkpoints."""

from __future__ import annotations

import ast
import inspect
import pathlib

import pytest

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators import checkpointing, dedup, graph, sweep
from app_insights_generator_spark.operators.insights import prepare
from app_insights_generator_spark.queries import QUERIES
from app_insights_generator_spark.sources import load_table

PKG = pathlib.Path(checkpointing.__file__).resolve().parents[1]


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def test_no_pin_outside_checkpointing():
    """No ``localCheckpoint``/``checkpoint`` method call anywhere in the
    package except inside ``checkpointing.pin`` itself."""
    home = pathlib.Path(checkpointing.__file__).resolve()
    offenders = [
        f"{path.relative_to(PKG)}:{node.lineno}"
        for path, tree in _modules()
        if path != home
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert offenders == []


def test_no_checkpoint_dir_parameter_in_operators():
    offenders = [
        f"{path.name}:{node.name}"
        for path, tree in _modules()
        if path.parent.name == "operators"
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for arg in node.args.args + node.args.kwonlyargs
        if arg.arg == "checkpoint_dir"
    ]
    assert offenders == []
    assert list(inspect.signature(checkpointing.pin).parameters) == ["df"]


def _job_count(sc, group: str, fn) -> int:
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_iterative_operators_job_counts(spark):
    """Pins the "one job per round" claims in the default pin mode: the
    convergence checks ride on each round's pin job as observe() metrics,
    so a refactor that adds an action per round changes these counts. The
    counts include the AQE stage jobs of each pin; they were measured on
    a path 1-2-3-4-5, an edge 10-11 and a singleton 20."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    edges = pairs.toDF("src", "dst")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 10, 11, 20)], "doc_id long")
    srcs = spark.createDataFrame([(1,)], "node long")
    counts = {
        "dedup_cc": _job_count(
            sc, "pin_policy_dedup_cc", lambda: dedup.connected_components(pairs, ids)
        ),
        "star_cc": _job_count(
            sc,
            "pin_policy_star_cc",
            lambda: graph.connected_components_star(edges, ids, "doc_id"),
        ),
        "bfs": _job_count(sc, "pin_policy_bfs", lambda: graph.bfs_depths(edges, srcs)),
    }
    assert counts == {"dedup_cc": 37, "star_cc": 24, "bfs": 36}


def test_sweep_apriori_bailout_job_count(spark, sf_dir):
    """The Apriori sweep's exhaustive bailout reads the raw and tuple counts
    from the one action that materializes its tuple table, then runs one
    pinned job: no separate tuple count. Measured on orders at sf0.001 with
    3 columns capped at pairs (6 sets): 6 jobs, AQE stage jobs included;
    a second count of the table made it 8."""
    cfg = InsightsConfig(
        agg_cols=("o_orderstatus", "o_orderpriority", "o_totalprice"),
        bucket_sizes={"o_totalprice": 100_000},
        threshold_percent=2.0,
        max_combo_size=2,
    )
    df = prepare(load_table(spark, sf_dir, "orders"), cfg).cache()
    df.count()
    try:
        jobs = _job_count(
            spark.sparkContext,
            "pin_policy_sweep_bailout",
            lambda: sweep.sweep_apriori(df, cfg),
        )
    finally:
        df.unpersist()
    assert jobs == 6


# One registered query per query module that pins a fan-out intermediate.
PINNING_QUERIES = [
    "ngram_novelty_documents",
    "fano_burstiness_event_types",
    "kruskal_wallis_orders_priority",
    "apportion_largest_remainder_documents",
    "mann_kendall_daily_revenue_orders",
]


@pytest.mark.parametrize("name", PINNING_QUERIES)
def test_query_reliable_pins_match_default(spark, sf_dir, reliable_pins, name):
    def rows():
        return sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))

    default = rows()
    assert default
    with reliable_pins():
        reliable = rows()
    assert reliable == default
