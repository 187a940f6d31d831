"""Observable metrics: the reference's MetricsCollector on Spark's observe API.

Reference: ``util/StandardTestTools.scala:36-44`` (MetricsCollector trait),
``:49-75`` (SingleStreamCollector — success/error/retry counters + latency),
in-progress gauges logged on fixed schedules
(``part2/MessageProcessor.scala:33-40``).

Spark-first: ``df.observe(name, exprs...)`` attaches aggregates that are
computed INSIDE the existing job (zero extra passes — the metrics ride the
micro-batch), and a ``StreamingQueryListener`` receives them per batch.
Batch queries use the same ``observe`` + a collected-metrics accessor.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

OBSERVATION_NAME = "engine_metrics"
#: the event-time guard's observation (``watermarked(guard_metrics=...)``
#: / ``bounded_event_time(metrics_name=...)``): scanned / in_bounds per
#: micro-batch, so the guard's drops RECONCILE instead of vanishing
GUARD_OBSERVATION_NAME = "event_time_guard"


def with_engine_metrics(df: DataFrame) -> DataFrame:
    """Attach the SingleStreamCollector counter set to any DataFrame carrying
    an ``ok`` column: processed / successes / failures per batch.

    NULL verdicts count as failures (same contract as RetryRouter's routing:
    a processor that never decided did not succeed) — a bare
    ``count(when(ok))`` + ``count(when(~ok))`` pair would count a NULL-ok
    row in ``processed`` but in NEITHER outcome, so the books would not
    balance (round-8 streaming sweep).  Invariant: successes + failures ==
    processed, every batch."""
    ok = F.coalesce(F.col("ok"), F.lit(False))
    return df.observe(
        OBSERVATION_NAME,
        F.count(F.lit(1)).alias("processed"),
        F.count(F.when(ok, 1)).alias("successes"),
        F.count(F.when(~ok, 1)).alias("failures"),
    )


@dataclass
class MetricsListener(StreamingQueryListener):
    """Collects per-micro-batch observed metrics (the logging collector
    analog; swap the list for a metrics backend in production)."""

    rows: list = field(default_factory=list, init=False)
    guard_rows: list = field(default_factory=list, init=False)
    malformed: list = field(default_factory=list, init=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, init=False)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        # Each observation is collected INDEPENDENTLY: a malformed
        # engine_metrics row must not short-circuit the guard observation
        # for the same batch (round-10 advice — the shared early return
        # silently undercounted guard_totals() even when the guard row
        # itself was valid, the exact unbalanced accounting the guard
        # metering exists to prevent).
        observed = event.progress.observedMetrics or {}
        batch_id = event.progress.batchId
        self._collect(
            batch_id,
            observed.get(OBSERVATION_NAME),
            ("processed", "successes", "failures"),
            self.rows,
        )
        self._collect(
            batch_id,
            observed.get(GUARD_OBSERVATION_NAME),
            ("scanned", "in_bounds"),
            self.guard_rows,
        )

    def _collect(self, batch_id, m, fields, dest) -> None:
        """Defensive read of one observation row: a FOREIGN observation that
        reuses our name but not our columns must not raise here — listener
        exceptions are swallowed by the event bus, so a KeyError would
        silently drop the batch's row from the ledger and the books would
        stop balancing with no error anywhere.  Malformed rows are recorded
        (errors-as-data) so totals() can surface them."""
        if m is None:
            return
        try:
            row = {"batch_id": batch_id, **{f: m[f] for f in fields}}
        except Exception:
            with self._lock:
                self.malformed.append({"batch_id": batch_id, "observed": repr(m)})
            return
        # names matching is not enough: a foreign observation can carry our
        # field NAMES with NULL or non-numeric VALUES (Row access returns
        # None without raising), and a None here would make totals() raise
        # at REPORT time in the caller, far from the offending batch —
        # value-check too, and record the row as malformed instead
        if any(
            not isinstance(row[f], (int, float)) or isinstance(row[f], bool)
            for f in fields
        ):
            with self._lock:
                self.malformed.append({"batch_id": batch_id, "observed": repr(m)})
            return
        with self._lock:
            dest.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def totals(self) -> dict:
        with self._lock:
            return {
                "processed": sum(r["processed"] for r in self.rows),
                "successes": sum(r["successes"] for r in self.rows),
                "failures": sum(r["failures"] for r in self.rows),
                "batches": len(self.rows),
                # distinct BATCHES (the field's name is the contract): one
                # batch whose engine AND guard observations are both foreign
                # records two malformed entries but is one affected batch
                "malformed_batches": len({m["batch_id"] for m in self.malformed}),
            }

    def guard_totals(self) -> dict:
        """Close the books on the event-time guard: ``dropped`` is exactly
        ``scanned - in_bounds`` summed over every micro-batch — reconcile
        it against the seeded/known poison count to prove no legitimate
        message was silently dropped as late."""
        with self._lock:
            scanned = sum(r["scanned"] for r in self.guard_rows)
            in_bounds = sum(r["in_bounds"] for r in self.guard_rows)
            return {
                "scanned": scanned,
                "in_bounds": in_bounds,
                "dropped": scanned - in_bounds,
                "batches": len(self.guard_rows),
            }


def install(spark: SparkSession) -> MetricsListener:
    listener = MetricsListener()
    spark.streams.addListener(listener)
    return listener


def uninstall(spark: SparkSession, listener: MetricsListener) -> None:
    spark.streams.removeListener(listener)
