"""A1–A4: global admission control across workloads.

Reference: ``PermittedTaskExecutor`` (``part3/PermittedTaskExecutor.scala:41-167``)
— a queue-backed stream executing submitted thunks with a global concurrency
cap (``globalPermitLimit``), queue depth ``maxTasksQueued``, and bounded
concurrent offers; per-stream caps compose on top
(``part3/PermittedPekkoStreamGenerator.scala:58-79``).

Spark-first: concurrency is the scheduler's job, so the permit system becomes
configuration + admission, not a custom executor:

- the GLOBAL cap is the executor core budget, fixed when the session is
  built (``get_spark(cpus=N)`` → ``local[N]``, or the cluster's cores):
  Spark never runs more than that many tasks — exactly the permit invariant,
  so it is a session setting, not a field here;
- FAIR scheduler pools give per-workload weights/minShares (a busy workload
  queues instead of starving others) — the reference's queue smoothing;
- per-source admission (``maxOffsetsPerTrigger``/``maxFilesPerTrigger``
  analogs) bounds in-flight rows per micro-batch — ``maxTasksQueued``;
- the *accounting* invariant (running ≤ limit at every instant) is checked as
  data by the ``permit_running_max`` ledger query (plans/core_queries.py).

``PermitSystem.ledger_conf`` below returns the conf set; ``admit`` applies
per-stream read limits.
"""

from __future__ import annotations

import atexit
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import SparkSession

@dataclass(frozen=True)
class PermitConfig:
    """BASELINE.md envelope: globalPermitLimit 5/20, queue 20.

    The reference's ``globalPermitLimit`` has no field here: the global cap
    is the session's core count, fixed when the session is built
    (``get_spark(cpus=N)``, ``local[N]``).  Its third knob —
    ``maxTasksWaiting``, the bound on offers BLOCKED awaiting queue space
    (``part3/PermittedTaskExecutor.scala``'s bounded concurrent offers) —
    has none BY CONSTRUCTION: a pull-based micro-batch source never offers,
    so there is nothing to block.  The backlog stays in the broker/files
    (L11 admission), and the two bounds that exist in this model are the
    core budget and per-trigger admission (``max_tasks_queued``).  A config
    field that no code reads would be a silently ignored knob, which is
    worse than an honest absence.

    ``pools`` gives per-workload FAIR pools real weights/minShares
    (name, weight, minShare): a pool named in ``use_pool`` but not listed
    here gets Spark's built-ins (weight 1, minShare 0, FIFO internally),
    which protects nothing — list the workloads that must not starve."""

    max_tasks_queued: int = 20
    pools: tuple[tuple[str, int, int], ...] = ()


def _fair_scheduler_xml(config: PermitConfig) -> str:
    pool_xml = "".join(
        f"""
  <pool name="{name}">
    <schedulingMode>FAIR</schedulingMode>
    <weight>{weight}</weight>
    <minShare>{min_share}</minShare>
  </pool>"""
        for name, weight, min_share in (("default", 1, 1), *config.pools)
    )
    return f'<?xml version="1.0"?>\n<allocations>{pool_xml}\n</allocations>\n'


def fair_scheduler_confs(config: PermitConfig) -> dict[str, str]:
    """Builder-time confs for fair sharing under the global cap.

    The permit limit is the core budget the session was built with: tasks
    beyond it queue in the scheduler exactly like the reference's
    Source.queue backlog.  Each ``config.pools`` entry is rendered into the
    allocation file, so ``use_pool(spark, name)`` routes to a pool with the
    declared weight/minShare instead of Spark's protect-nothing defaults.
    """
    xml = tempfile.NamedTemporaryFile(
        "w", suffix=".xml", prefix="fairscheduler", delete=False
    )
    xml.write(_fair_scheduler_xml(config))
    xml.close()
    # the JVM reads the file once at session build; reclaim it at interpreter
    # exit so repeated session builds don't accrete temp files
    atexit.register(lambda p=xml.name: os.path.exists(p) and os.unlink(p))
    return {
        "spark.scheduler.mode": "FAIR",
        "spark.scheduler.allocation.file": xml.name,
        # the permit cap is the session's core count (local[N]), fixed
        # when the session is built
    }


def admission_options(config: PermitConfig) -> dict[str, str]:
    """Per-stream reader options bounding in-flight work per micro-batch
    (receiver-queue / maxTasksQueued analog)."""
    return {"maxFilesPerTrigger": str(max(1, config.max_tasks_queued // 10))}


def use_pool(spark: SparkSession, pool: str | None) -> None:
    """Route subsequently-submitted jobs on this thread to a scheduler pool."""
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
