from __future__ import annotations

import contextlib
import os
import sys

import pytest

from app_insights_generator_spark.session import get_spark

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, _TOOLS)
from roundtrips import round_trips as _round_trips  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def round_trips(spark):
    """Context manager counting the py4j round trips of its block
    (tools/roundtrips.py); yields a one-element list holding the count."""
    return lambda: _round_trips(spark)


@pytest.fixture
def reliable_pins(spark, tmp_path):
    """Context manager that runs its block with reliable pins: the session
    checkpoint dir points at ``tmp_path`` inside the block, so every
    ``checkpointing.pin`` writes a reliable checkpoint there. On a normal
    exit it asserts that checkpoint files were written, which proves the
    mode really switched. The dir is unset again on the way out, so later
    tests run in the default local-checkpoint mode whatever the order."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def mode():
        sc.setCheckpointDir(str(tmp_path))
        try:
            yield
        finally:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
        assert any(tmp_path.rglob("rdd-*")), "no reliable checkpoint was written"

    return mode
