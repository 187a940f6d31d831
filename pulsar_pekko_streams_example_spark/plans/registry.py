"""Query registry — the engine's verification surface.

Every operator from SURVEY.md §2 is exposed as a named query: a PySpark
DataFrame builder ``(spark, sf_dir) -> DataFrame`` plus (where SQL can express
it) an equivalent DuckDB oracle SQL string.  The driver runs both sides at
sf=0.01 and compares row count + schema + order-insensitive value hash, so:

- every computed column is aliased IDENTICALLY in both representations;
- floating-point aggregates go through exact DECIMAL(38,6) accumulation and
  are cast back to DOUBLE, so both engines produce bit-identical values
  regardless of summation order;
- no engine-specific hash functions appear in oracle-checked queries — all
  pseudo-randomness is plain integer arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: QueryFn
    oracle: str | None  # DuckDB SQL twin; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, build=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return fn

    return deco


# Export order for the driver contract.  The driver's correctness gate walks
# ``queries()`` in dict order under a wall-clock budget.  Exporting whole
# families in sequence let the budget starve whichever family went last, so
# families are INTERLEAVED round-robin — cycle i takes the i-th registered
# query of every family — and a budget cut costs a slice of each family
# instead of entire families.  The §2-attesting core family leads each cycle.
_MODULE_ORDER = [
    "core_queries",
    "tpch_queries",
    "data_queries",
    "temporal_queries",
    "sketch_queries",
    "mldata_queries",
    "analytic_queries",
    "cluster_queries",
]


def interleaved_order() -> list[str]:
    """Family-interleaved registry order: cycle i takes the i-th registered
    query of every family (families in ``_MODULE_ORDER``, then any other
    family in registration order).  Besides spreading a budget cut across
    families, this staggers the heavy corpus-fan-out queries (the
    dedup/similarity family) between light ones when the registry is run
    concurrently."""
    import pulsar_pekko_streams_example_spark.plans  # noqa: F401  (triggers registration)

    families: dict[str, list[str]] = {m: [] for m in _MODULE_ORDER}
    for name, spec in REGISTRY.items():
        families.setdefault(spec.build.__module__.rsplit(".", 1)[-1], []).append(name)

    ordered_families = list(families.values())
    interleaved: list[str] = []
    for cycle in range(max((len(f) for f in ordered_families), default=0)):
        for fam in ordered_families:
            if cycle < len(fam):
                interleaved.append(fam[cycle])
    return interleaved


def all_queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].build for name in interleaved_order()}


def all_oracles() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in interleaved_order()
        if REGISTRY[name].oracle is not None
    }
