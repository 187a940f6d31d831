"""Shared helpers for the example scenarios."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

def seed_messages(
    spark: SparkSession, n: int, keys: int = 4, topic: str = "persistent://testing/examples/topic-0"
) -> DataFrame:
    """Deterministic seed messages in the canonical envelope (the analog of
    the examples' seeded publishes, e.g. part2/SingleWorkloadExample.scala:116-127)."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
        F.lit(topic).alias("topic"),
        F.concat(F.lit("key-"), (F.col("id") % keys)).alias("key"),
        (F.col("id") / keys + 1).cast("long").alias("seq"),
        F.lit(1).cast("long").alias("attempt"),
        F.lit("pending").alias("status"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id"))
        ).alias("publish_time"),
    )


def workdir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"spark-graft-{prefix}-")


def main(run_fn) -> None:
    from pulsar_pekko_streams_example_spark.session import get_spark

    spark = get_spark(app_name=run_fn.__module__)
    spark.sparkContext.setLogLevel("ERROR")
    summary = run_fn(spark, workdir(run_fn.__module__.rsplit(".", 1)[-1]))
    print({k: v for k, v in summary.items()})


def subdir(base: str, name: str) -> str:
    p = os.path.join(base, name)
    os.makedirs(p, exist_ok=True)
    return p
