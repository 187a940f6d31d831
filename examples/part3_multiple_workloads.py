"""Part 3 — multiple workloads under a global permit limit.

Reference: ``MultipleWorkloadsExample`` (part3/MultipleWorkloadsExample.scala:173)
— three workloads share a ``PermittedTaskExecutor`` capped at 5 concurrent
tasks (:111-113); 19 seeded messages visibly queue behind the permits.

Spark twin: permits = the session's task slots + per-source admission
(streaming/permits.py).  The reference's 5 permits become the session's task
slots — its core count, fixed when the session is built (``local[N]``), so
Spark never runs more than N tasks at once.  Per-workload FAIR pools keep one
workload from starving another only in a session BUILT with
``fair_scheduler_confs`` (scheduler confs are read at session build, so pass
them as ``get_spark(extra_conf=...)``, as ``perfbench/wl_tenants.py`` does);
this example runs in the caller's session, which keeps its FIFO scheduler.
The permit *ledger* remains queryable — the `permit_running_max` registry
query proves the running count never exceeds the cap, which is this
example's log-asserted invariant made SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from examples._common import main, seed_messages, subdir
from pulsar_pekko_streams_example_spark.sources.streams import envelope_file_stream
from pulsar_pekko_streams_example_spark.streaming.permits import (
    PermitConfig,
    admission_options,
)
from pulsar_pekko_streams_example_spark.streaming.workload import (
    Workload,
    WorkloadManager,
)

WORKLOADS = ("informational", "transactional", "billing")  # :171-173


def run(spark: SparkSession, base: str) -> dict:
    admission = admission_options(PermitConfig(max_tasks_queued=20))

    sinks: dict[str, str] = {}

    def factory(w: Workload):
        src = subdir(base, f"src-{w.workload_name}")
        seed_messages(
            spark, 19, topic=f"persistent://testing/part3/{w.workload_name}"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "seed"))
        sinks[w.workload_name] = subdir(base, f"out-{w.workload_name}")
        stream = envelope_file_stream(
            spark, src + "/*", max_files_per_trigger=int(admission["maxFilesPerTrigger"])
        )
        return (
            stream.withColumn("attempt", F.col("attempt") + 1)
            .writeStream.format("parquet")
            .option("path", sinks[w.workload_name])
            .option("checkpointLocation", subdir(base, f"ckpt-{w.workload_name}"))
            .trigger(availableNow=True)
            .start()
        )

    mgr = WorkloadManager(spark=spark, stream_factory=factory)
    for name in WORKLOADS:
        mgr.start(Workload(name, f"persistent://testing/part3/{name}"))
    assert mgr.running() == set(WORKLOADS)
    for q in list(mgr.registry.values()):
        q.awaitTermination(120)
    mgr.shutdown_all()

    counts = {name: spark.read.parquet(sinks[name]).count() for name in WORKLOADS}
    assert all(c == 19 for c in counts.values()), counts
    return {"workloads": len(WORKLOADS), "messages_per_workload": 19}


if __name__ == "__main__":
    main(run)
