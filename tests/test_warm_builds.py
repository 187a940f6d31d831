"""What a warm registry plan build costs, and what a rewritten table changes.

A plan build is paid on every query, so a warm ``REGISTRY[name].build``
must start no Spark job (``load_table`` infers a table's schema once per
table state, not per read) and must stay under a pinned count of py4j
commands.  The queries are perfbench's ``query_mix`` set, read from
``perfbench/wl_query.py`` without importing the benchmark.  Both caches
keyed on table state — the schema cache and ``operators.cache``'s shared
subtrees — must follow a table rewritten under the same directory.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import math
import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries
from pulsar_pekko_streams_example_spark.sources.tables import TABLES, load_table
from pulsar_pekko_streams_example_spark.verify import compare

from tests.conftest import SF_CORRECT, SF_SMOKE

all_queries()  # force registration

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mix_queries() -> tuple[str, ...]:
    with open(os.path.join(REPO, "perfbench", "wl_query.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "QUERIES":
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/wl_query.py defines no QUERIES")


QUERIES = _mix_queries()

#: py4j commands this thread sends during a warm build, measured at
#: ``local[4]`` on the sf0.01 tables (the count repeats exactly from run to
#: run).  Per-build schema inference plus pyspark's per-call origin
#: tracking (4+ commands per DataFrame or Column call) sent 62-1330, 1.7 to
#: 12 times these counts.
MEASURED = {
    "dlq_candidates": 108,
    "payload_json_decode": 86,
    "top3_parts_per_brand": 72,
    "q6_forecast_revenue": 106,
    "token_count_histogram": 37,
    "dedup_jaccard_pairs": 212,
    "events_latest_state": 96,
    "conversion_latency_histogram": 98,
    "quantile_sketch_value": 204,
    "bitmap_weekly_rollup": 133,
    "holdout_sample_manifest": 76,
    "context_chunking_stats": 119,
    "ab_test_report": 152,
    "orders_yoy_growth": 107,
    "mixture_temperature_weights": 102,
    "embedding_dim_profile": 208,
    "join_key_skew_report": 90,
    "zorder_layout_stats": 101,
}
#: the ceiling is 25 % above the measured count: room for a small builder
#: edit, and below what either regression above sends
MARGIN = 1.25


@contextlib.contextmanager
def _job_group(spark, group: str):
    """Tag the jobs this thread starts, so the tracker lists only them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@contextlib.contextmanager
def _py4j_commands(spark):
    """Count the gateway client's ``send_command`` calls from this thread."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    me = threading.get_ident()
    sent = [0]
    orig = client.send_command

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return orig(*args, **kwargs)

    client.send_command = counted
    try:
        yield sent
    finally:
        del client.send_command  # back to the class's method


@pytest.mark.parametrize("name", QUERIES)
def test_warm_build_starts_no_spark_job(name, spark):
    spec = REGISTRY[name]
    spec.build(spark, SF_CORRECT)  # warm: schemas inferred, shared subtrees built
    tracker = spark.sparkContext.statusTracker()
    group = f"warm-build-{name}"
    with _job_group(spark, group):
        spec.build(spark, SF_CORRECT)
    assert list(tracker.getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("name", QUERIES)
def test_warm_build_py4j_ceiling(name, spark):
    spec = REGISTRY[name]
    spec.build(spark, SF_CORRECT)
    with _py4j_commands(spark) as sent:
        spec.build(spark, SF_CORRECT)
    assert 0 < sent[0] <= math.ceil(MEASURED[name] * MARGIN), (name, sent[0])


def _write_dir(spark, table: pa.Table, path: str) -> None:
    """A Spark-written table: a directory of part files."""
    spark.createDataFrame(table.to_pandas()).coalesce(1).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_inferred_again(layout, spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    write = pq.write_table if layout == "file" else functools.partial(_write_dir, spark)
    write(pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]}), path)
    first = load_table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]
    assert load_table(spark, str(tmp_path), "region").schema == first.schema  # cached

    # same path, different schema: inferred again, not read with the old one
    write(pa.table({"r_regionkey": [7], "r_comment": ["x"], "r_size": [1.5]}), path)
    again = load_table(spark, str(tmp_path), "region")
    assert again.columns == ["r_regionkey", "r_comment", "r_size"]
    assert [tuple(r) for r in again.collect()] == [(7, "x", 1.5)]

    # same schema, new rows: only the schema is cached, the data is read fresh
    write(pa.table({"r_regionkey": [8, 9], "r_comment": ["y", "z"], "r_size": [2.5, 3.5]}), path)
    assert sorted(tuple(r) for r in load_table(spark, str(tmp_path), "region").collect()) == [
        (8, "y", 2.5),
        (9, "z", 3.5),
    ]


# (query, the table rewritten under it): each reads a shared subtree
REWRITES = [
    ("neardup_components", "documents"),  # hot set, Jaccard pairs, CC labels
    ("bpe_encode_stats", "documents"),  # the BPE merge chain (shared_obj)
    ("cooccurrence_degree_histogram", "events"),  # co-occurrence edges
]


@pytest.mark.parametrize("name,table", REWRITES, ids=[n for n, _ in REWRITES])
def test_shared_subtrees_follow_a_rewritten_table(name, table, spark, tmp_path):
    """Rewrite one table (sf0.01 -> sf0.001) under the same directory in a
    live session: a query over a shared subtree must answer for the new
    table, not return the subtree built from the old one."""
    import duckdb

    for t in TABLES:
        shutil.copyfile(f"{SF_CORRECT}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    sf = str(tmp_path)
    spec = REGISTRY[name]
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        assert not compare(spec.build(spark, sf), con.sql(spec.oracle))
        before = sorted(map(str, con.sql(spec.oracle).fetchall()))

        shutil.copyfile(f"{SF_SMOKE}/{table}.parquet", f"{sf}/{table}.parquet")
        # anti-vacuity: the rewrite changes the answer
        assert sorted(map(str, con.sql(spec.oracle).fetchall())) != before
        problems = compare(spec.build(spark, sf), con.sql(spec.oracle))
        assert not problems, f"{name} after rewriting {table}: " + "; ".join(problems)
    finally:
        con.close()
