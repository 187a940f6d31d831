from __future__ import annotations

import contextlib

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_pekko_streams_example_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
# Parity runs at DRIVER scale by default (the driver's CORRECTNESS gate uses
# sf0.01), so sf-dependent tie-breaks and quantization surface in the suite
# before the driver sees them.  Export PARITY_SF_DIR=/root/testdata/sf0.001
# for a faster smoke iteration loop.
SF_CORRECT = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # TEST_CPUS overrides; otherwise get_spark's default ($SPARK_GRAFT_CPUS,
    # then every local core), so the suite never oversubscribes the box
    s = get_spark(app_name="engine-tests", cpus=os.environ.get("TEST_CPUS"))
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()


@contextlib.contextmanager
def override_confs(spark, pairs: dict[str, str]):
    """Set session confs for a block, restoring (or unsetting) on exit."""
    old = {k: spark.conf.get(k, None) for k in pairs}
    for k, v in pairs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def final_plan_of(df) -> str:
    """The executed physical plan as a string — AFTER an action, this is the
    final adaptive plan (AQE decisions included); before one, the initial
    plan.  tests/test_plans.plan_of gives the formatted explain instead."""
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
