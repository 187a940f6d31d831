"""Canonical message envelope + deterministic attempt-ledger derivation.

The reference's unit of data is a Pulsar ``Message[T]`` envelope —
message id, key, topic name, publish time, JSON payload
(consumed at ``part1/PulsarPekkoSource.scala:54-61``; fields used at
``part2/PekkoStreamGenerator.scala:47``, ``part2/MessageProcessor.scala:50``,
``part5/OrderedStreamGenerator.scala:140``,
``part3/LimitedMessageProcessor.scala:75``) — paired with a processing
outcome ``ProcessedMessage(result, original)``
(``util/StandardTestTools.scala:28-31``) and broker redelivery on nack
(``util/PulsarClientWrapper.scala:171``, 10 s delay).

Here that becomes ONE flat row per processing attempt (FIXTURES.md F1),
derived deterministically from the driver's ``events`` table so the DuckDB
oracle can reproduce it bit-for-bit:

- ``message_id``   — unique per original publish (= event_id as string)
- ``topic_raw``    — ``persistent://testing/events/topic-<user_id%4>``; every
                     7th message carries a ``-partition-0`` suffix to exercise
                     normalization (``part3/LimitedMessageProcessor.scala:75``)
- ``topic``        — normalized (suffix stripped)
- ``key``          — ordering key, ``key-<user_id>`` (Key_Shared domain)
- ``seq``          — per-key publish sequence (the order Key_Shared preserves,
                     ``part5/OrderedStreamGenerator.scala:137-161``)
- ``attempt``      — 1 = first delivery; 2 = redelivery after nack
- ``attempt_time`` — publish_time (+10 s for the redelivery, the nack
                     redelivery delay of ``util/PulsarClientWrapper.scala:171``)
- ``status``       — 'failure' iff first attempt and ``event_id % 10 = 0``:
                     the deterministic replacement for the reference's 10%
                     ``Random.nextInt(10) == 0`` failure injection
                     (``part2/MessageProcessor.scala:58``); every message's
                     final attempt succeeds (at-least-once terminal)
- ``processing_ms``/``ack_ms`` — simulated latency bands (BASELINE.md)
- ``name``         — payload name from the reference's animal pools
                     (``part3/MultipleWorkloadsExample.scala:220-227``,
                     ``part5/OrderedWorkloadsExample.scala:126-140``)
- ``num_publishes``— the TestPayload hop counter: count of prior publishes of
                     this (key, name) (``util/PulsarClientSetup.scala:17``)

Both representations below MUST stay in lockstep — the DataFrame builder is
the engine, the CTE is the oracle.  All derivations use plain arithmetic
(no engine hash functions) precisely so the two engines agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pulsar_pekko_streams_example_spark.sources.tables import load_table

# Name pools from the reference examples (cats/dogs/birds):
# part3/MultipleWorkloadsExample.scala:220-227, part5/OrderedWorkloadsExample.scala:126-140
NAME_POOL: tuple[str, ...] = (
    "lion", "tiger", "panther", "leopard", "lynx", "jaguar",
    "wolf", "coyote", "jackal", "dingo", "fox", "dhole",
    "falcon", "eagle", "hawk", "vulture", "osprey", "kite", "owl",
)

FAILURE_MOD = 10          # 1-in-10 failures (part2/MessageProcessor.scala:58)
PARTITION_SUFFIX_MOD = 7  # every 7th message gets a -partition-0 suffix
TOPIC_DOMAIN = 4          # topics per namespace
REDELIVERY_DELAY_S = 10   # nack redelivery delay (PulsarClientWrapper.scala:171)
PROCESSING_MS_BAND = 4001  # 1000..5000 ms simulated latency (BASELINE.md)

TOPIC_PREFIX = "persistent://testing/events/topic-"


# the name pool as SQL literals, shared by both twins
_NAMES = ", ".join(f"'{n}'" for n in NAME_POOL)


_TOPIC_RAW = (
    f"concat('{TOPIC_PREFIX}', CAST(user_id % {TOPIC_DOMAIN} AS STRING), "
    f"CASE WHEN event_id % {PARTITION_SUFFIX_MOD} = 0 THEN '-partition-0' ELSE '' END)"
)


def _attempt(n: int, status: str, t: str) -> str:
    return f"named_struct('attempt', CAST({n} AS BIGINT), 'status', '{status}', 'attempt_time', {t})"


def attempts_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The message-attempt ledger (one row per delivery attempt).

    Executed fully JVM-side: projection + two window functions + explode,
    each a ``selectExpr`` that mirrors the matching step of its
    ``ENVELOPE_CTE`` twin (SQL strings cost one py4j call per projection;
    the Column API costs one per sub-expression).  At scale the windows
    shuffle once on `key` — the same partitioning the Key_Shared
    subscription implies, and reusable by every downstream per-key
    operator.
    """
    base = load_table(spark, sf_dir, "events").selectExpr(
        "event_id",
        "CAST(event_id AS STRING) AS message_id",
        f"{_TOPIC_RAW} AS topic_raw",
        # T5: strip the partition suffix (part3/LimitedMessageProcessor.scala:75)
        rf"regexp_replace({_TOPIC_RAW}, '-partition-\\d+$', '') AS topic",
        "concat('key-', CAST(user_id AS STRING)) AS key",
        "ts AS publish_time",
        f"event_id % {FAILURE_MOD} = 0 AS failed",
        f"1000 + event_id % {PROCESSING_MS_BAND} AS processing_ms",
        "event_id % 100 AS ack_ms",
        f"element_at(array({_NAMES}), CAST(event_id % {len(NAME_POOL)} AS INT) + 1) AS name",
        "event_type",
        "value",
        "user_id",
    )
    # Cast window outputs to long: DuckDB's ROW_NUMBER is BIGINT and the
    # driver's oracle compare includes the schema.  One projection per
    # window keeps the physical plan (and tests/test_plan_census.py) as it
    # was when these were two withColumn calls.
    seqd = base.selectExpr(
        "*",
        "CAST(row_number() OVER (PARTITION BY key ORDER BY publish_time, event_id) AS BIGINT) AS seq",
    ).selectExpr(
        "*",
        "CAST(row_number() OVER (PARTITION BY key, name ORDER BY publish_time, event_id) - 1 "
        "AS BIGINT) AS num_publishes",
    )
    # Expand failures into (failed attempt 1, redelivered success attempt 2):
    # the nack → broker-redelivery loop of part2/PekkoStreamGenerator.scala:77-87.
    attempts = seqd.selectExpr(
        "*",
        f"explode(CASE WHEN failed THEN array({_attempt(1, 'failure', 'publish_time')}, "
        f"{_attempt(2, 'success', f'publish_time + INTERVAL {REDELIVERY_DELAY_S} SECONDS')}) "
        f"ELSE array({_attempt(1, 'success', 'publish_time')}) END) AS a",
    )
    return attempts.selectExpr(
        "message_id", "event_id", "topic_raw", "topic", "key", "seq", "publish_time",
        "a.attempt AS attempt", "a.status AS status", "a.attempt_time AS attempt_time",
        "processing_ms", "ack_ms", "name", "num_publishes", "event_type", "value", "user_id",
    )


# DuckDB CTE — the oracle twin of attempts_ledger().  Append after "WITH ":
#   WITH {ENVELOPE_CTE} SELECT ... FROM attempts
ENVELOPE_CTE = f"""
base AS (
  SELECT
    event_id,
    CAST(event_id AS VARCHAR) AS message_id,
    '{TOPIC_PREFIX}' || CAST(user_id % {TOPIC_DOMAIN} AS VARCHAR)
      || CASE WHEN event_id % {PARTITION_SUFFIX_MOD} = 0 THEN '-partition-0' ELSE '' END AS topic_raw,
    regexp_replace(
      '{TOPIC_PREFIX}' || CAST(user_id % {TOPIC_DOMAIN} AS VARCHAR)
        || CASE WHEN event_id % {PARTITION_SUFFIX_MOD} = 0 THEN '-partition-0' ELSE '' END,
      '-partition-\\d+$', '') AS topic,
    'key-' || CAST(user_id AS VARCHAR) AS key,
    ts AS publish_time,
    event_id % {FAILURE_MOD} = 0 AS failed,
    1000 + (event_id % {PROCESSING_MS_BAND}) AS processing_ms,
    event_id % 100 AS ack_ms,
    list_extract([{_NAMES}], CAST(event_id % {len(NAME_POOL)} AS INT) + 1) AS name,
    event_type,
    value,
    user_id
  FROM events
),
seqd AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY key ORDER BY publish_time, event_id) AS seq,
    ROW_NUMBER() OVER (PARTITION BY key, name ORDER BY publish_time, event_id) - 1 AS num_publishes
  FROM base
),
attempts AS (
  SELECT message_id, event_id, topic_raw, topic, key, seq, publish_time,
         CAST(1 AS BIGINT) AS attempt,
         CASE WHEN failed THEN 'failure' ELSE 'success' END AS status,
         publish_time AS attempt_time,
         processing_ms, ack_ms, name, num_publishes, event_type, value, user_id
  FROM seqd
  UNION ALL
  SELECT message_id, event_id, topic_raw, topic, key, seq, publish_time,
         CAST(2 AS BIGINT) AS attempt,
         'success' AS status,
         publish_time + INTERVAL {REDELIVERY_DELAY_S} SECOND AS attempt_time,
         processing_ms, ack_ms, name, num_publishes, event_type, value, user_id
  FROM seqd WHERE failed
)
"""
