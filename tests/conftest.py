from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from firebolt_spark import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # small-input scan parallelization OFF for the suite: the plan pins
    # in test_scale_plans assert the AT-SCALE plan shapes (where inputs
    # exceed the threshold and load_table never repartitions) — running
    # the fixture-sized tests with it on would put a roundrobin
    # Exchange under every scan and make those pins meaningless. The
    # feature itself is covered by its focused test (which flips the
    # conf on) and by the full DuckDB oracle sweep, whose sessions use
    # the default-on path.
    # shuffle_partitions=8 holds for the whole session: tests (such as
    # the salted-join spread bound) rely on it. get_spark re-applies its
    # builder options to this live session, so a test that runs code
    # calling get_spark must restore the confs afterwards, as
    # test_cli.py's autouse fixture does.
    s = get_spark(
        "firebolt-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.firebolt.scan.smallInputMaxBytes": "0"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def wh_table(spark):
    """Mint warehouse table names unique to this process so concurrent
    pytest invocations (sharded CI, a foreground repro racing a
    background full run) never collide over the shared
    ``spark-warehouse/`` directory; drops everything minted on
    teardown."""
    import os
    import uuid

    minted: list[str] = []

    def mint(prefix: str) -> str:
        name = f"{prefix}_{os.getpid()}_{uuid.uuid4().hex[:6]}"
        minted.append(name)
        return name

    yield mint
    for name in minted:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
