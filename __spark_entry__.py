"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).  Both dicts follow the registry's family-interleaved order
(``registry.interleaved_order``), so a budget cut costs each family a slice.

All real logic lives in ``pulsar_pekko_streams_example_spark`` — this module
only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pulsar_pekko_streams_example_spark.plans.registry import all_oracles, all_queries
from pulsar_pekko_streams_example_spark.session import prepare_session

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Decodes the message envelope from the events table, keeps terminal
    successes, aggregates per (topic, key) — exercising source decode,
    per-record transform, per-key aggregation and the hop counter in one plan
    (SURVEY.md §7 M0).
    """
    prepare_session(spark)
    return all_queries()["envelope_decode_per_key"](spark, SMOKE_SF_DIR)


# Verify-session tuning: the driver checks every query at sf=0.01, where a
# shuffle stage's wall is dominated by task-scheduling overhead, not data.
# These runtime confs are applied once per session the first time a query is
# built against a small-SF directory: few shuffle partitions, and AQE
# coalescing by size rather than parallelism (at sf0.01 everything fits one
# 64 MB advisory partition).  Larger-SF paths (sf0.1+) and sessions that
# never go through this module keep their own posture.
_SMALL_SF_BASENAMES = {"sf0.001", "sf0.01"}

_SMALL_SF_CONFS = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def _tune_for_small_sf(spark: SparkSession, sf_dir: str) -> None:
    if os.path.basename(os.path.normpath(sf_dir)) not in _SMALL_SF_BASENAMES:
        return
    if getattr(spark, "_ppes_small_sf_tuned", False):
        return
    for k, v in _SMALL_SF_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    spark._ppes_small_sf_tuned = True


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        prepare_session(spark)
        _tune_for_small_sf(spark, sf_dir)
        return fn(spark, sf_dir)

    build.__name__ = getattr(fn, "__name__", "query")
    build.__doc__ = fn.__doc__
    return build


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _wrap(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL twin per query (omitted => rows-only check)."""
    return all_oracles()
