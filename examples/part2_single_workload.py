"""Part 2 — single workload: process + ack/nack routing.

Reference: ``SingleWorkloadExample`` (part2/SingleWorkloadExample.scala:47) —
one stream applies a user processor with bounded parallelism
(PekkoStreamGenerator.scala:40-56), then routes `ProcessSuccess` → ack and
`ProcessFailure` → nack (:57-89); the simulated processor fails 1-in-10
(part2/MessageProcessor.scala:58 — random there, deterministic here so the
outcome is assertable).

Spark twin: Arrow-batched processor UDF returning struct(ok, error) — errors
become data, never stream failure — and ``RetryRouter.route_batch`` routes
the outcome in one write: acks to the sink ledger, nacks to the retry
ledger (or the DLQ once the attempt budget is spent).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from examples._common import main, seed_messages
from pulsar_pekko_streams_example_spark.sources.sinks import republish
from pulsar_pekko_streams_example_spark.streaming import (
    RetryRouter,
    apply_processor,
    simulated_processor,
)

N_MESSAGES = 200
FAILURE_MOD = 10


def run(spark: SparkSession, base: str) -> dict:
    messages = seed_messages(spark, N_MESSAGES)
    processed = apply_processor(messages, simulated_processor(FAILURE_MOD))
    router = RetryRouter(
        sink_path=os.path.join(base, "sink"),
        retry_path=os.path.join(base, "retry"),
        dlq_path=os.path.join(base, "dlq"),
    )
    router.route_batch(processed, batch_id=0)

    n_ack = router.counters["acks"]
    n_nack = router.counters["retries"] + router.counters["dlq"]
    assert n_nack == N_MESSAGES // FAILURE_MOD
    assert n_ack + n_nack == N_MESSAGES
    # the ack stage increments the hop counter on republish
    # (util/PulsarClientSetup.scala:17)
    republished = republish(spark.read.parquet(router.sink_path))
    assert republished.agg(F.min("attempt")).collect()[0][0] == 2
    return {"acked": n_ack, "nacked": n_nack}


if __name__ == "__main__":
    main(run)
