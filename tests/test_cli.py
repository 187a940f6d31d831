"""CLI surface: list/oracle run in-process; check shares the package's
verify.compare with the test suite."""

from __future__ import annotations

import pytest

from pulsar_pekko_streams_example_spark.__main__ import main


def test_list_runs_and_filters(capsys):
    assert main(["list", "--tag", "window"]) == 0
    out = capsys.readouterr().out
    assert "rolling_revenue_7d" in out
    assert "dedup_minhash_lsh" not in out


def test_oracle_prints_sql(capsys):
    assert main(["oracle", "q1_pricing_summary"]) == 0
    assert "SELECT" in capsys.readouterr().out.upper()


def test_every_registry_query_has_an_oracle(capsys):
    """Since r2 the vectorized ANN path shares the fold oracle — zero
    rows-only queries remain, so `oracle NAME` succeeds for every name."""
    assert main(["oracle", "ann_cosine_topk_vectorized"]) == 0
    assert "SELECT" in capsys.readouterr().out.upper()

    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    assert all(spec.oracle is not None for spec in REGISTRY.values())


def test_explain_prints_the_query_doc_above_the_plan(spark, capsys):
    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY

    from tests.conftest import SF_SMOKE

    assert main(["explain", "status_counts", "--sf-dir", SF_SMOKE]) == 0
    out = " ".join(capsys.readouterr().out.split())
    doc = " ".join(REGISTRY["status_counts"].doc.split())
    assert doc and doc in out, out[:500]
    assert out.index(doc) < out.index("== Physical Plan ==")


def test_unknown_query_rejected():
    with pytest.raises(SystemExit):
        main(["run", "no_such_query"])


def test_compare_flags_hugeint_oracle_columns(spark, duck):
    """verify.compare must reproduce the driver's type sensitivity: a
    DuckDB HUGEINT output column hash-diverges in the driver's pandas path
    even when every value matches, so the mirror flags it (round-4 reds)."""
    from pulsar_pekko_streams_example_spark.verify import compare

    sdf = spark.createDataFrame([(242,)], "n_anomalies bigint")
    hug = duck.sql("SELECT SUM(x) AS n_anomalies FROM (VALUES (242)) t(x)")
    problems = compare(sdf, hug)
    assert any("HUGEINT" in p for p in problems), problems

    ok = duck.sql(
        "SELECT CAST(SUM(x) AS BIGINT) AS n_anomalies FROM (VALUES (242)) t(x)"
    )
    assert compare(sdf, ok) == []
