"""K2 — per-key ordered serial processing (the Key_Shared contract).

Reference: ZIO ``groupByKey(msg.getKey, buffer=1){ mapZIOPar(1) }`` — at most
one in-flight message per key, per-key arrival order preserved
(``part5/OrderedStreamGenerator.scala:137-161``; Key_Shared subscription
``:190-196``).

Spark-first: ``applyInPandasWithState`` over ``groupBy(key)``.  Within a
micro-batch Spark hands each key's rows to exactly one state function call —
that *is* per-key serialization; we sort the group by ``seq`` and carry
``last_seq``/``processed`` in GroupState so order and continuity hold across
micro-batches (checkpointed state = the consumer's per-key cursor).

Redelivered messages (attempt > 1) re-enter their key's queue: rows with
seq ≤ last_seq are processed again (at-least-once) but flagged, so downstream
can distinguish first-pass order from redelivery — the exact semantics the
reference gets from broker redelivery on a Key_Shared subscription.

Hostile-input contract (round-8 streaming sweep):

- NULL ``seq`` (a message that claims no position): processed serially like
  any other row — it consumes a ``processing_index`` — but emitted with
  ``seq`` NULL, ``is_redelivery`` False, ``in_order`` False, and it never
  advances the key's cursor.  (Arrow hands a null-bearing long column to
  pandas as float64 + NaN; without the explicit guard ``int(NaN)`` raises
  and KILLS the whole streaming query — one poisoned message must not take
  down the consumer.)  Positionless rows sort after positioned ones within
  a batch.
- NULL ``key``: forms its own serial group (Spark groups NULL keys
  together), so ordering among the keyless messages is still serial —
  mirroring a broker routing empty-keyed messages to one consumer.
- NULL ``attempt`` sorts last among same-seq duplicates and is otherwise
  inert (only ``seq`` drives the cursor).

The per-row cursor pass is VECTORIZED in plain numpy: the group is sorted
by (seq, attempt) with ``np.lexsort``, so the cursor before each row is a
shifted running max and redelivery/in-order reduce to array comparisons —
no per-row Python loop and no pandas sort or nullable-integer arithmetic in
the per-key call, whose fixed cost is paid once per key per micro-batch.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("message_id", StringType()),
        StructField("seq", LongType()),
        StructField("processing_index", LongType()),  # per-key total order of processing
        StructField("is_redelivery", BooleanType()),
        StructField("in_order", BooleanType()),
        # cursor created THIS batch: after an idle-TTL lapse a redelivery is
        # otherwise indistinguishable from a genuine first delivery — the
        # flag makes the lapse observable downstream instead of silent
        StructField("fresh_cursor", BooleanType()),
    ]
)

_OUT_COLUMNS = [f.name for f in OUTPUT_SCHEMA.fields]

STATE_SCHEMA = "last_seq LONG, processed LONG"
#: TTL variant carries the key's RUNNING max event time so a later
#: in-watermark batch with older timestamps can never pull the idle
#: timeout backwards (round-9 advice)
STATE_SCHEMA_TTL = "last_seq LONG, processed LONG, max_event_ms LONG"


def _nullable_int64(col: pd.Series) -> Tuple[np.ndarray, np.ndarray]:
    """(int64 values with NULLs as 0, NULL mask) of a nullable long column.

    Arrow hands a null-free long column over as int64, used as is, so seq
    arithmetic stays EXACT over the full long range (a float64 round-trip
    collapses distinct seqs above 2^53); a null-bearing one arrives as
    float64 + NaN."""
    values = col.to_numpy()
    if values.dtype.kind in "iu":
        return values.astype(np.int64, copy=False), np.zeros(len(values), dtype=bool)
    null = pd.isna(values)
    return np.where(null, 0, values).astype(np.int64), null


def _advance(
    key_val: Any,
    rows: pd.DataFrame,
    last_seq: int,
    processed: int,
    fresh: bool,
) -> Tuple[pd.DataFrame, int, int]:
    """One serial, ordered pass over a key's backlog — the mapZIOPar(1)
    analog, in plain numpy.

    Rows are processed in (seq, attempt) order, NULLs last in each key and
    ties in arrival order (``np.lexsort`` is stable).  The cursor in effect
    before row i is then the running max of ``last_seq`` and the seqs
    before it: any earlier non-redelivery advanced the cursor to its seq.
    Hence ``redelivery = seq <= cursor_before`` and the in-order test are
    plain shifted-array arithmetic; the final cursor is ``max(last_seq,
    max positioned seq)``.  NULL seqs never move the cursor and never read
    in order or as redeliveries.  Semantics are pinned identical to the
    original per-row loop by the hypothesis property
    ``tests/test_properties.py::test_ordered_cursor_invariants_under_arbitrary_batches``.
    """
    n = len(rows)
    seq, seq_null = _nullable_int64(rows["seq"])
    attempt, attempt_null = _nullable_int64(rows["attempt"])
    order = np.lexsort((attempt, attempt_null, seq, seq_null))
    seq, positioned = seq[order], ~seq_null[order]
    # the cursor before each row: running max over the positioned seqs
    # processed before it, floored at the carried cursor
    prev = np.full(n, last_seq, dtype=np.int64)
    prev[1:] = np.where(positioned[:-1], seq[:-1], last_seq)
    cursor_before = np.maximum.accumulate(prev)
    redelivery = positioned & (seq <= cursor_before)
    in_order = positioned & (
        redelivery | (seq == cursor_before + 1) | (cursor_before == -1)
    )
    out = pd.DataFrame(
        {
            "key": np.full(n, key_val, dtype=object),
            "message_id": rows["message_id"].to_numpy()[order],
            "seq": pd.arrays.IntegerArray(seq, ~positioned),
            "processing_index": np.arange(processed, processed + n, dtype=np.int64),
            "is_redelivery": redelivery,
            "in_order": in_order,
            "fresh_cursor": np.full(n, bool(fresh)),
        }
    )
    if positioned.any():
        last_seq = max(last_seq, int(seq[positioned].max()))
    return out, last_seq, processed + n


def _process_key(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        (last_seq, processed), fresh = state.get, False
    else:
        last_seq, processed, fresh = -1, 0, True
    rows = pd.concat(list(pdfs), ignore_index=True)
    out, last_seq, processed = _advance(key[0], rows, last_seq, processed, fresh)
    state.update((last_seq, processed))
    yield out


def _ttl_expiry_ms(max_event_ms: int | None, idle_timeout_ms: int, wm: int) -> int:
    """The idle cursor's expiry point: running max event time + TTL, with
    the engine's floor (a timeout must sit strictly past the current
    watermark; also the fallback when the key has never carried an event
    time)."""
    base = wm if max_event_ms is None else max_event_ms
    return max(base + idle_timeout_ms, wm + 1)


def _make_ttl_fn(idle_timeout_ms: int, ts_col: str):
    """Build the EventTimeTimeout state function for ``ordered_per_key``.

    Module-level (not a closure buried in the front door) so the TTL
    semantics are unit-drivable with a fake GroupState (see
    ``tests/test_streaming.py``)."""

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            # idle cursor lapses; emit nothing.  This drops the key's
            # processing_index too — a post-lapse arrival restarts at 0
            # with fresh_cursor=true (see ordered_per_key's docstring for
            # the uniqueness contract; pinned by test)
            state.remove()
            return
        if state.exists:
            (last_seq, processed, max_event_ms), fresh = state.get, False
        else:
            last_seq, processed, max_event_ms, fresh = -1, 0, None, True
        rows = pd.concat(list(pdfs), ignore_index=True)
        out, last_seq, processed = _advance(
            key[0], rows, last_seq, processed, fresh
        )
        # expire when the watermark passes this key's newest event time
        # ever seen + TTL — the RUNNING max, so an in-watermark batch
        # carrying older timestamps never moves the timeout backwards
        ts = rows[ts_col].max()
        if not pd.isna(ts):
            batch_ms = int(pd.Timestamp(ts).value // 1_000_000)
            max_event_ms = (
                batch_ms if max_event_ms is None else max(max_event_ms, batch_ms)
            )
        state.update((last_seq, processed, max_event_ms))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(_ttl_expiry_ms(max_event_ms, idle_timeout_ms, wm))
        yield out

    return fn


def ordered_per_key(
    stream_df: DataFrame,
    idle_timeout_ms: int | None = None,
    ts_col: str = "publish_time",
) -> DataFrame:
    """Apply the per-key ordered stateful processor.

    ``stream_df`` must carry (key, message_id, seq, attempt).  Each key's
    state is its consumer cursor; the shuffle on key is the Key_Shared
    routing — at 1000 executors every key still lands on exactly one task
    per micro-batch.

    State sizing at 100 TB (``idle_timeout_ms``): each cursor is 16 bytes
    but the DEFAULT NoTimeout keeps one forever per key ever seen — on an
    unbounded key space (session ids, request ids) the state store grows
    without bound and eventually dominates checkpoint/recovery time.  Pass
    ``idle_timeout_ms`` to expire a key's cursor once the WATERMARK passes
    its last event time plus the TTL (the broker analog: an idle Key_Shared
    consumer's ownership lapses).  Event-time expiry is deliberate:

    - it is DETERMINISTIC under replay — a 100 TB backfill reprocessed from
      a checkpoint expires exactly the same cursors at exactly the same
      points, where a processing-time TTL would expire different keys on
      every run;
    - Spark runs extra no-data micro-batches unconditionally under
      ProcessingTimeTimeout (FlatMapGroupsWithStateExec.shouldRunAnotherBatch
      is constant-true there), so Trigger.AvailableNow backfills would
      NEVER terminate — event-time timeouts only re-batch while the
      watermark still advances.

    The expiry point is ``running max event time + TTL``: the max is carried
    in state, so a later in-watermark batch whose timestamps are OLDER than
    an earlier one cannot pull the timeout backwards and expire the cursor
    early (round-9 advice — with a per-batch max, a cursor could lapse
    before "newest event + TTL" and misread subsequent redeliveries).

    Requires a watermarked input — compose with the library front door,
    ``ordered_per_key(watermarked(stream, delay), idle_timeout_ms=...)``;
    the engine rejects the query otherwise.  Trade-off, documented and
    pinned by test: a message arriving AFTER its key's cursor expired
    starts a fresh cursor — a late redelivery is then read as a first
    delivery (in_order, not flagged as redelivery) — but the lapse is
    OBSERVABLE: every row processed under a cursor created this batch
    carries ``fresh_cursor = true``, so downstream can tell a post-expiry
    redelivery from a first delivery on a long-lived cursor.  Keep the
    default for bounded key spaces where exact redelivery flagging matters
    more than state size.

    ``processing_index`` RESTARTS AT 0 after a lapse (pinned by test): the
    counter lives in the very state the TTL exists to drop, so carrying it
    across an expiry would defeat the state bound.  (key,
    processing_index) is therefore unique only WITHIN a cursor epoch —
    a downstream needing a globally unique per-key position must delimit
    epochs with ``fresh_cursor`` (e.g. count fresh_cursor rows seen per
    key as an epoch number); under the default NoTimeout the index never
    resets and (key, processing_index) is globally unique.
    """
    if idle_timeout_ms is None:
        fn, conf, state_schema = _process_key, GroupStateTimeout.NoTimeout, STATE_SCHEMA
    else:
        if ts_col not in stream_df.columns:
            # fail at PLAN time: a missing event-time column inside the
            # state function would kill the whole streaming query at runtime
            raise ValueError(
                f"idle_timeout_ms requires event-time column {ts_col!r} "
                f"(watermarked upstream); stream has {stream_df.columns}"
            )
        fn = _make_ttl_fn(idle_timeout_ms, ts_col)
        conf, state_schema = GroupStateTimeout.EventTimeTimeout, STATE_SCHEMA_TTL
    return (
        stream_df.groupBy("key")
        .applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=conf,
        )
    )

