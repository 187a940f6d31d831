"""RetryRouter.route_batch: one Spark job per micro-batch, replay-idempotent
landing, crash healing and the ledgers' column sets — on tiny batches in
the shared session, so each test costs a few routing calls."""

from __future__ import annotations

import os
import uuid

import pytest

from pulsar_pekko_streams_example_spark.streaming import retry as retry_mod
from pulsar_pekko_streams_example_spark.streaming.retry import RetryRouter

AS_OF_FUTURE = "2100-01-01 00:00:00"

#: one row per outcome: a first-delivery ack, an acked redelivery (sink +
#: resolved), a failure with budget left (retry), an exhausted one (DLQ)
ROWS = [
    ("m-ack", 1, True, None),
    ("m-redelivered", 2, True, None),
    ("m-fail", 1, False, "boom"),
    ("m-dead", 3, False, "boom"),
]
SCHEMA = "message_id string, attempt long, ok boolean, error string"
#: ledger → ids it holds after routing ROWS once
EXPECTED = {
    "sink": ["m-ack", "m-redelivered"],
    "resolved": ["m-redelivered"],
    "retry": ["m-fail"],
    "dlq": ["m-dead"],
}


def _router(tmpdir, **kw) -> RetryRouter:
    return RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
        **kw,
    )


def _paths(router: RetryRouter) -> dict[str, str]:
    return {
        "sink": router.sink_path,
        "resolved": router._resolved(),
        "retry": router.retry_path,
        "dlq": router.dlq_path,
    }


def _ledgers(spark, router: RetryRouter) -> dict[str, list[str]]:
    return {
        name: sorted(r.message_id for r in spark.read.parquet(path).collect())
        if os.path.exists(path)
        else []
        for name, path in _paths(router).items()
    }


def _batch(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _crash_nth_rename(monkeypatch, nth: int) -> None:
    """Make the n-th ``os.rename`` from now on raise instead of renaming."""
    real, state = os.rename, {"n": 0}

    def boom(src, dst):
        state["n"] += 1
        if state["n"] == nth:
            raise RuntimeError("injected crash while landing")
        return real(src, dst)

    monkeypatch.setattr(retry_mod.os, "rename", boom)


def test_route_batch_runs_one_spark_job(spark, tmpdir):
    """Routing a micro-batch that hits every outcome is ONE Spark job: the
    write partitioned by outcome, with the counters taken from an
    Observation on it — no persist, no count job, no write per ledger."""
    router = _router(tmpdir)
    batch = _batch(spark)
    sc = spark.sparkContext
    group = f"route-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "route_batch job count")
    try:
        router.route_batch(batch, batch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert router.counters == {
        "batches": 1, "acks": 2, "retries": 1, "dlq": 1, "resolved": 1,
    }
    assert _ledgers(spark, router) == EXPECTED
    timings = router.status(spark, as_of=AS_OF_FUTURE)["route_timings"]
    assert timings["calls"] == 1
    assert timings["write_ms"] > 0 and timings["land_ms"] > 0
    assert timings["lease_wait_ms"] >= 0


def test_replayed_batch_id_keeps_one_copy_per_ledger(spark, tmpdir):
    """Routing the same batch id twice (a replay) replaces that batch's
    partition in every ledger: one copy each.  Every call's counters
    account for every input row, so the counters are exactly twice one
    batch's, while the ledgers hold it once."""
    router = _router(tmpdir)
    router.route_batch(_batch(spark), batch_id=5)
    once = dict(router.counters)
    router.route_batch(_batch(spark), batch_id=5)
    assert _ledgers(spark, router) == EXPECTED
    for path in _paths(router).values():
        assert sorted(os.listdir(path)) == ["_batch_id=5"]
    assert router.counters == {k: 2 * v for k, v in once.items()}
    c = router.counters
    assert c["acks"] + c["retries"] + c["dlq"] == 2 * len(ROWS)
    assert not os.path.exists(router._route_staging())


@pytest.mark.parametrize(
    "replay,nth",
    [
        (False, 1),  # after the staging write, before anything landed
        (False, 2),  # the sink landed, the resolved index did not
        (True, 4),   # replaying: sink replaced, old resolved moved out
    ],
)
def test_crash_while_landing_heals_and_replay_converges(
    spark, tmpdir, monkeypatch, replay, nth
):
    """A crash after the staging write or between the landing renames
    leaves only the staging directory as debris.  The next lease holder
    discards it, counters count only landed batches, and the batch's
    replay lands every outcome exactly once."""
    router = _router(tmpdir)
    if replay:
        router.route_batch(_batch(spark), batch_id=1)
    before = dict(router.counters)
    _crash_nth_rename(monkeypatch, nth)
    with pytest.raises(RuntimeError, match="injected crash while landing"):
        router.route_batch(_batch(spark), batch_id=1)
    monkeypatch.undo()
    staging = router._route_staging()
    assert os.path.isdir(staging)
    assert router.counters == before
    if nth == 1:
        assert _ledgers(spark, router) == (
            EXPECTED if replay else {k: [] for k in EXPECTED}
        )

    # the status poll finds and heals the debris under its try-lock
    s = router.status(spark, as_of=AS_OF_FUTURE)
    assert staging in s["swap_debris_found"] and s["debris_heal_errors"] == []
    assert not os.path.exists(staging)

    router.route_batch(_batch(spark), batch_id=1)  # the replay
    assert _ledgers(spark, router) == EXPECTED
    assert router.counters["batches"] == before["batches"] + 1
    assert [(r.message_id, r.attempt) for r in router.due_retries(
        spark, as_of=AS_OF_FUTURE
    ).collect()] == [("m-fail", 2)]


def test_crash_debris_is_discarded_by_the_next_lease(spark, tmpdir, monkeypatch):
    """Without a status poll in between, the replay's own lease discards
    the crashed call's staging before it routes."""
    router = _router(tmpdir)
    _crash_nth_rename(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected crash while landing"):
        router.route_batch(_batch(spark), batch_id=1)
    monkeypatch.undo()
    assert os.path.isdir(router._route_staging())
    router.route_batch(_batch(spark), batch_id=1)
    assert not os.path.exists(router._route_staging())
    assert _ledgers(spark, router) == EXPECTED


def test_ledger_columns_are_pinned(spark, tmpdir):
    """One write has one schema: every ledger carries the batch's columns,
    ``available_at`` (NULL outside the retry ledger when the input had
    none) and ``_batch_id`` — a partition directory."""
    router = _router(tmpdir)
    router.route_batch(_batch(spark), batch_id=1)
    want = [
        ("message_id", "string"),
        ("attempt", "bigint"),
        ("ok", "boolean"),
        ("error", "string"),
        ("available_at", "timestamp"),
        ("_batch_id", "int"),
    ]
    for name, path in _paths(router).items():
        df = spark.read.parquet(path)
        assert df.dtypes == want, name
        rows = df.collect()
        assert sorted(r.message_id for r in rows) == EXPECTED[name]
        assert {r._batch_id for r in rows} == {1}
        if name == "retry":
            assert all(r.available_at is not None and r.attempt == 2 for r in rows)
        else:
            assert all(r.available_at is None for r in rows)
