"""Registry export-order contract.

The driver walks ``queries()`` in dict order under a wall-clock budget, so
the order IS the coverage policy: families interleave round-robin, so a
budget cut costs each family a slice (see registry.interleaved_order).
"""

from __future__ import annotations

from pulsar_pekko_streams_example_spark.plans.registry import (
    REGISTRY,
    all_oracles,
    all_queries,
    interleaved_order,
)


# the census pin (round-13): bump this number in the SAME commit that adds
# or removes a query.  Together with the now-unguarded family imports in
# plans/__init__.py this makes a silently vanished family (or a surgically
# deleted register() call) a test failure instead of a quiet coverage drop.
EXPECTED_REGISTRY_SIZE = 222


def test_registry_census_is_pinned():
    """A family import that fails, or a register() call that disappears,
    must fail THIS test — the per-query gates below only iterate whatever
    made it into REGISTRY, so without the pin a shrink is invisible."""
    assert len(REGISTRY) == EXPECTED_REGISTRY_SIZE, (
        f"registry census changed: {len(REGISTRY)} != {EXPECTED_REGISTRY_SIZE}. "
        "If you added/removed queries on purpose, bump EXPECTED_REGISTRY_SIZE "
        "in the same commit; otherwise a query family silently vanished."
    )


def _assert_round_robin(order, family_of):
    """Structural interleave invariant: no family contributes its (i+1)-th
    query before every family that still holds queries contributed its
    i-th."""
    emitted: dict[str, int] = {}
    remaining: dict[str, int] = {}
    for n in order:
        remaining[family_of(n)] = remaining.get(family_of(n), 0) + 1
    for n in order:
        fam = family_of(n)
        cycle = emitted.get(fam, 0)
        lagging = [
            f for f, c in remaining.items() if c > 0 and emitted.get(f, 0) < cycle
        ]
        assert not lagging, (
            f"family {fam} reached cycle {cycle + 1} while {lagging} "
            f"still hold queries at cycle {cycle} (at {n})"
        )
        emitted[fam] = cycle + 1
        remaining[fam] -= 1


def test_export_order_interleaves_families_within_partition():
    """The driver contract exports exactly the registry, in the
    family-interleaved order, and that order round-robins the families."""
    import __spark_entry__

    order = interleaved_order()
    assert list(all_queries()) == order
    assert list(all_oracles()) == [n for n in order if REGISTRY[n].oracle is not None]
    assert list(__spark_entry__.queries()) == order
    assert sorted(order) == sorted(REGISTRY)
    _assert_round_robin(order, family_of=lambda n: REGISTRY[n].build.__module__)


def test_hostile_smoke_every_oracle_binds(duck):
    """Every registered oracle must BIND in DuckDB (parse + resolve —
    milliseconds per oracle, nothing executes).  Round 6 shipped three
    oracles with an illegal lateral ``range(...)`` table function in the
    final snapshot commit and they reached the driver as err rows; this
    named gate makes an unparseable oracle an immediate, attributable red
    before any commit.  The full hostile-corpus EXECUTION sweep stays in
    tools/sweep_hostile.py; this is its always-on smoke tier."""
    errors = {}
    for name in sorted(REGISTRY):
        oracle = REGISTRY[name].oracle
        if oracle is None:
            continue
        try:
            duck.sql(oracle)  # binds and types; no fetch
        except Exception as e:  # noqa: BLE001 — collect all offenders
            errors[name] = str(e).splitlines()[0][:160]
    assert not errors, f"oracles that fail to bind: {errors}"


def test_no_hugeint_oracle_output_columns(duck):
    """No oracle may emit a HUGEINT/UHUGEINT output column.

    The driver hashes the DuckDB result through pandas, where HUGEINT
    becomes float64 — so a bare top-level SUM(int) hash-mismatches Spark's
    int64 even when every value is identical (round-4 reds
    mad_robust_anomalies / shingle_df_histogram).  Binding the oracle is
    enough to type it; nothing executes.
    """
    offenders = {}
    for name in sorted(REGISTRY):
        oracle = REGISTRY[name].oracle
        if oracle is None:
            continue
        rel = duck.sql(oracle)
        bad = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, (str(t).upper() for t in rel.types))
            if "HUGEINT" in typ
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles with HUGEINT output columns (CAST them to BIGINT): "
        f"{offenders}"
    )
