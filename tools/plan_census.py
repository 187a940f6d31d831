"""Registry-wide physical-plan census: per-query operator counts (plan
SHAPE is sf-independent).

Usage: python tools/plan_census.py plans/plan_census.tsv [sf_dir]
(regenerates the census tests/test_plan_census.py pins).
Columns: query, ops, exchanges, bnlj, smj, shj, bhj, windows, scans,
scans_with_pushed_filters.

``census_rows`` is importable: tests/test_plan_census.py pins every query's
row against the committed TSV (VERDICT r16 ask #7 — a restructure that
silently forks a subtree moves these counts and fails the gate).

Determinism contract (round 17, after chasing a ±2-op flake to ground):

- Operators INSIDE ``InMemoryRelation`` are NOT counted.  A cached
  relation's formatted dump embeds its materialization-time ADAPTIVE plan
  — ShuffleQueryStage / AQEShuffleRead / ReusedExchange nodes whose
  arrangement is a RUNTIME race between concurrent stage materializations
  (measured: the same query censused twice in one session differed by one
  ReusedExchange inside a cached subtree).  The census pins the shape of
  OUR dataflow; the snapshot internals of a cache hit are execution state,
  not query shape.  The InMemoryTableScan/InMemoryRelation boundary pair
  itself IS counted (deterministic, and a real shape signal).
- Each row is computed from a COLD shared-subtree cache
  (``cache.reset`` + ``catalog.clearCache`` before the build): a query's
  row must not depend on which OTHER queries ran before it in the session
  (the in-suite flake), only on its own dataflow — which may legitimately
  cache-and-reuse its own shared subtrees.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY  # noqa: E402
from pulsar_pekko_streams_example_spark.session import get_spark  # noqa: E402

COLUMNS = (
    "query",
    "ops",
    "exchanges",
    "bnlj",
    "smj",
    "shj",
    "bhj",
    "windows",
    "scans",
    "scans_with_pushed_filters",
)

_TREE_OP = re.compile(r"([A-Za-z][\w.]*)(?:\s+\S+)*?\s+\((\d+)\)")


def _surviving_ops(plan: str) -> dict[int, str]:
    """(operator id -> op-name first token) for every operator in the main
    tree and any subquery trees, EXCLUDING subtrees under InMemoryRelation
    (see the determinism contract in the module docstring)."""
    ops: dict[int, str] = {}
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        if line.startswith("== Physical Plan ==") or re.match(
            r"^Subquery.*Hosting operator", line
        ):
            i += 1
            skip_indent = None
            while i < len(lines) and lines[i].strip():
                tline = lines[i]
                stripped = tline.lstrip(" :+-*")
                indent = len(tline) - len(stripped)
                if skip_indent is not None and indent > skip_indent:
                    i += 1
                    continue
                skip_indent = None
                m = _TREE_OP.match(stripped)
                if m:
                    name, oid = m.group(1), int(m.group(2))
                    ops[oid] = name
                    if name == "InMemoryRelation":
                        skip_indent = indent
                i += 1
        else:
            i += 1
    return ops


def census_row(df) -> tuple[int, ...]:
    """Operator-count census of one DataFrame's initial physical plan:
    (ops, exchanges, bnlj, smj, shj, bhj, windows, scans, pushed)."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    ops = _surviving_ops(plan)

    def n(op: str) -> int:
        return sum(1 for o in ops.values() if o == op)

    scans = sum(1 for o in ops.values() if o.startswith("Scan"))
    # pushed filters: only in the detail blocks of SURVIVING scan operators
    pushed = 0
    for m in re.finditer(
        r"^\((\d+)\) (\S+).*\n((?:(?!^\().*\n?)*)", plan, flags=re.M
    ):
        oid = int(m.group(1))
        if oid in ops and re.search(r"PushedFilters: \[[^\]]", m.group(3)):
            pushed += 1
    return (
        len(ops),
        n("Exchange"),
        n("BroadcastNestedLoopJoin"),
        n("SortMergeJoin"),
        n("ShuffledHashJoin"),
        n("BroadcastHashJoin"),
        n("Window"),
        scans,
        pushed,
    )


def census_rows(spark, names, sf: str):
    """Yield (name, row) per query, each built from a cold shared-subtree
    cache so rows are session-history-independent (the test and the TSV
    generator MUST use the same discipline or the gate flakes)."""
    from pulsar_pekko_streams_example_spark.operators import cache

    for name in names:
        cache.reset(spark)
        spark.catalog.clearCache()
        yield name, census_row(REGISTRY[name].build(spark, sf))


def main() -> None:
    out = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-census")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, row in census_rows(spark, sorted(REGISTRY), sf):
        rows.append((name,) + row)
        print(name, rows[-1][1:])
    with open(out, "w") as fh:
        fh.write("\t".join(COLUMNS) + "\n")
        for r in rows:
            fh.write("\t".join(str(x) for x in r) + "\n")


if __name__ == "__main__":
    main()
