"""Reference-fidelity test on the reference's OWN workload: the verbatim
Play-Store config (PLAYSTORE_CONFIG — all 14 aggregation columns, the
space-named `len screenshots`, ID->display resolution, range filters, int
casts) run over a seed-deterministic 5,000-row apps table built to
FIXTURES.md §2, in all three sweep modes.

Covers the quirks SURVEY.md §7 lists as golden-check risks: cast-failure ->
NULL -> range-filter drop, bare trailing count, `[lo-(lo+size)]` labels,
boolean rendering, and NULL display values vanishing from the string.
"""

from __future__ import annotations

import dataclasses
import random
import re
import time
from collections import Counter

import pytest

from app_insights_generator_spark.config import PLAYSTORE_CONFIG
from app_insights_generator_spark.operators import checkpointing
from app_insights_generator_spark.operators.insights import prepare
from app_insights_generator_spark.operators.sweep import (
    sweep_apriori,
    sweep_grouping_sets,
    sweep_loop_df,
)

N_ROWS = 5000

# max_combo_size=2 keeps the loop mode testable (14 + 91 = 105 sets) while
# still exercising multi-column sets, ID+value pairs, and the threshold.
CFG = dataclasses.replace(PLAYSTORE_CONFIG, max_combo_size=2)


def _apps_rows():
    rng = random.Random(42)
    genres = [f"g{i}" for i in range(12)]
    rows = []
    for i in range(N_ROWS):
        # dev_null is popular (passes the 2% threshold alone) and has an
        # always-NULL developer -> its developer= field must vanish.
        dev = "dev_null" if rng.random() < 0.05 else f"dev_{rng.randint(0, 24)}"
        developer = None if dev == "dev_null" or rng.random() < 0.02 else f"name {dev}"
        website = None if rng.random() < 0.30 else f"https://{dev}.example"
        genre_id = rng.choice(genres)
        ratings = str(rng.randint(0, 100))
        if rng.random() < 0.01:
            ratings = "166417449"  # out-of-range outlier (ref main.py:209)
        elif rng.random() < 0.01:
            ratings = "not-a-number"  # cast failure -> NULL -> dropped
        year = rng.randint(1971, 2023) if rng.random() > 0.01 else 2037
        rows.append(
            (
                f"app_{i}",
                dev,
                developer,
                website,
                rng.random() < 0.8,
                genre_id,
                f"genre {genre_id}",
                str(int(10 ** (rng.random() * 8))),
                rng.random() < 0.25,
                str(rng.randint(0, 500)) if rng.random() > 0.6 else None,
                str(rng.randint(0, 500)),
                ratings,
                str(rng.randint(0, 30)),
                rng.random() < 0.55,
                rng.random() < 0.5,
                str(int(10 ** (rng.random() * 7))),
                str(rng.randint(0, 5)),
                str(year),
            )
        )
    return rows


SCHEMA = (
    "appId string, developerId string, developer string, developerWebsite string, "
    "free boolean, genreId string, genre string, minInstalls string, "
    "offersIAP boolean, originalPrice string, price string, ratings string, "
    "`len screenshots` string, adSupported boolean, containsAds boolean, "
    "reviews string, score string, releasedYear string"
)


@pytest.fixture(scope="module")
def apps_bucketed(spark):
    df = prepare(spark.createDataFrame(_apps_rows(), SCHEMA), CFG).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def mode_outputs(spark, apps_bucketed):
    total = apps_bucketed.count()
    return {
        mode.__name__: Counter(
            r.Insights for r in mode(apps_bucketed, CFG, total_count=total).collect()
        )
        for mode in (sweep_loop_df, sweep_grouping_sets, sweep_apriori)
    }


def test_playstore_sweep_modes_equivalent(mode_outputs):
    loop = mode_outputs["sweep_loop_df"]
    assert loop == mode_outputs["sweep_grouping_sets"] == mode_outputs["sweep_apriori"]
    assert len(loop) > 50  # the threshold must leave a real result set


def test_playstore_format_quirks(mode_outputs):
    lines = list(mode_outputs["sweep_apriori"])
    # every line ends with the bare count (main.py:296-297 + 312)
    assert all(re.search(r";\d+$|^\d+$", ln) for ln in lines)
    # space-named column formatted with bucket label [lo-(lo+5)]
    assert any(re.search(r"len screenshots=\[\d+-\d+\]", ln) for ln in lines)
    # booleans render lowercase true/false (concat cast semantics)
    assert any("free=true" in ln for ln in lines)
    # ID column groups resolve display values and drop the ID column itself
    dev_lines = [ln for ln in lines if "developer=" in ln]
    assert dev_lines and not any("developerId=" in ln for ln in dev_lines)


def test_playstore_null_display_vanishes(mode_outputs):
    # dev_null passes the threshold alone; its developer is always NULL, so
    # the group's insight has the website field but NO developer= field
    # (concat NULL-propagation + concat_ws NULL-skip, main.py:307, 312).
    lines = list(mode_outputs["sweep_apriori"])
    dev_null_lines = [ln for ln in lines if "dev_null.example" in ln]
    assert dev_null_lines
    assert all(
        "developer=" not in ln.replace("developerWebsite=", "") for ln in dev_null_lines
    )


def _filter_conditions(plan):
    """Condition strings of every Filter node in a JVM logical plan."""
    if plan.nodeName() == "Filter":
        yield plan.condition().toString()
    children = plan.children()
    for i in range(children.size()):
        yield from _filter_conditions(children.apply(i))


def test_native_sweep_filter_is_cheap_to_plan(apps_bucketed, monkeypatch):
    # The 105-set sweep's filters must stay free of per-row arithmetic
    # over the set bits: Catalyst's PruneFilters infers constraints from
    # them, and a sum of CASE WHEN flag terms made optimizing this one
    # plan take 4-9 s on a 4-core box (under 0.2 s without). The sweep
    # resolves checkpointing.pin at call time, so the
    # spy sees the exact DataFrame it pins, before anything optimizes it.
    real_pin = checkpointing.pin
    seen = []

    def spy(df):
        qe = df._jdf.queryExecution()
        t0 = time.perf_counter()
        qe.optimizedPlan()
        seen.append((qe.analyzed(), time.perf_counter() - t0))
        return real_pin(df)

    monkeypatch.setattr(checkpointing, "pin", spy)
    sweep_grouping_sets(apps_bucketed, CFG, total_count=apps_bucketed.count())
    [(analyzed, optimize_s)] = seen
    conditions = list(_filter_conditions(analyzed))
    assert conditions
    assert not any("CASE WHEN" in c for c in conditions), conditions
    assert optimize_s < 2.0, f"optimizing the sweep plan took {optimize_s:.2f}s"


def test_native_sweep_plan_build_round_trip_budget(apps_bucketed, round_trips):
    # The 105-set aggregation and its Insights rendering are built as SQL
    # text, one py4j call per expression: a Column tree per set bit,
    # field and literal cost about 4,200 round trips.
    from app_insights_generator_spark.operators import sweep

    cols = list(CFG.agg_cols)
    table, rows, _ = sweep._tuple_table(apps_bucketed, cols, sweep._display(CFG, cols))
    try:
        sets = [sum(1 << cols.index(c) for c in s) for s in sweep.all_combinations(CFG, cols)]
        assert len(sets) == 105
        with round_trips() as n:
            sweep._render(sweep._sets_agg(table, cols, CFG, sets, rows // 50), cols, CFG)
        assert n[0] <= 150, n[0]
    finally:
        table.unpersist()
