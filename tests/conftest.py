from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from banking_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Default subset: the full suite took ~39 minutes when the list was drawn,
# so by DEFAULT it deselects the node ids in tests/driver_slow_skip.txt, the
# slowest tests of a full --durations=0 run, chosen so every test module keeps
# coverage. The full suite is unchanged and remains the release gate — run
# it with SPARK_GRAFT_FULL_TESTS=1. New tests are NOT in the list, so they
# run by default; the list only shrinks.
_SLOW_SKIP_FILE = os.path.join(os.path.dirname(__file__),
                               "driver_slow_skip.txt")
_SLOW_SKIP_KEY = pytest.StashKey[int]()


# tryfirst: the stale check must see the whole collection, before -k, -m or
# another plugin deselects anything
@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    if not os.path.exists(_SLOW_SKIP_FILE):
        return
    with open(_SLOW_SKIP_FILE) as f:
        slow = {line.strip() for line in f
                if line.strip() and not line.startswith("#")}
    if not slow:
        return
    keep, drop = [], []
    for item in items:
        (drop if item.nodeid in slow else keep).append(item)
    # a listed id in a collected file that names no test is stale and fails
    # the run; a run that selects single node ids collects files only in part
    files = {item.nodeid.split("::")[0] for item in items}
    stale = [] if any("::" in a for a in config.args) else sorted(
        n for n in slow - {item.nodeid for item in drop}
        if n.split("::")[0] in files)
    if stale:
        raise pytest.UsageError(
            "tests/driver_slow_skip.txt lists ids that match no collected "
            "test; delete them from the list:\n  " + "\n  ".join(stale))
    config.stash[_SLOW_SKIP_KEY] = len(drop)
    if drop:
        items[:] = keep
        config.hook.pytest_deselected(items=drop)


def pytest_terminal_summary(terminalreporter, config):
    if config.stash.get(_SLOW_SKIP_KEY, 0):
        terminalreporter.write_line(
            f"tests/conftest.py: deselected {config.stash[_SLOW_SKIP_KEY]} "
            "slow tests listed in tests/driver_slow_skip.txt; "
            "SPARK_GRAFT_FULL_TESTS=1 runs them")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def empty_dir(spark, sf_dir, tmp_path_factory):
    """Empty tables with the production schemas, written once per run."""
    from banking_etl_pipeline_spark.catalog import TABLES, table

    path = tmp_path_factory.mktemp("empty_universe")
    for t in TABLES:
        table(spark, sf_dir, t).limit(0).write.parquet(
            str(path / f"{t}.parquet"))
    return str(path)


@pytest.fixture(scope="session")
def skew_dir(spark, sf_dir, tmp_path_factory):
    """The tables with one hot key each, written once per run."""
    from pyspark.sql import functions as F

    from banking_etl_pipeline_spark.catalog import TABLES, table

    path = tmp_path_factory.mktemp("skewed_universe")
    for t in TABLES:
        df = table(spark, sf_dir, t)
        if t == "events":
            df = df.withColumn("user_id", F.lit(1).cast("long"))
        elif t == "orders":
            df = df.withColumn("o_custkey", F.lit(1).cast("long"))
        elif t == "documents":
            df = df.withColumn("lang", F.lit("en"))
        df.write.parquet(str(path / f"{t}.parquet"))
    return str(path)
