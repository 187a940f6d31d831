"""Batch table loaders for the driver's parquet test tables.

Reference analog: topic subscription (``util/PulsarClientWrapper.scala:203-226``)
— a named durable stream becomes, in batch-analytic form, a named parquet
table.  At 100 TB these would be partitioned/bucketed table locations; the
loader stays a thin `spark.read.parquet` so Catalyst owns pushdown/pruning.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from pulsar_pekko_streams_example_spark.session import prepare_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# the reader confs that change what parquet schema inference returns
# (both pinned by prepare_session; see session._RUNTIME_CONFS)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: table path -> (key, inferred schema); one entry per path, replaced when
#: the key changes (a lookup and a store are each one atomic dict operation)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _path_state(path: str) -> tuple | None:
    """``(st_ino, st_size, st_mtime_ns)`` of a file table, or
    ``(relative path, st_ino, st_size, st_mtime_ns)`` of every file under a
    directory table (Spark writes a table as a directory of part files).
    None when the path cannot be read locally — a remote URI, or a missing
    table, which the reader then reports."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                s = os.stat(f)
                files.append((os.path.relpath(f, path), s.st_ino, s.st_size, s.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_state(sf_dir: str, *names: str) -> tuple:
    """A token that changes whenever one of the named tables is rewritten:
    the schema cache's file-state key, for callers that memoize results
    derived from these tables (``operators.cache`` keys)."""
    return tuple(_path_state(_table_path(sf_dir, n)) for n in names)


def _schema(spark: SparkSession, path: str) -> StructType | None:
    """The table's inferred schema, inferred once per table state and
    inference confs; None (infer on read) when the state is unknown."""
    state = _path_state(path)
    if state is None:
        return None
    key = (state,) + tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    if hit is not None:
        # Spark's cache manager matches a persisted plan by its table path,
        # not by its files: without a refresh, a plan over the rewritten
        # table would be answered from data cached from the old files
        spark.catalog.refreshByPath(path)
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (key, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table.  Keeps the scan bare so filter pushdown and
    column pruning reach the parquet reader (verify with .explain: the scan
    should show PushedFilters / a narrow ReadSchema).

    The schema is inferred once per table state and read with
    ``.schema(s)`` after that: inference runs a Spark job, and a plan build
    should run none.  The cache keeps one entry per table path, keyed on the
    file state — ``(st_ino, st_size, st_mtime_ns)`` of the file, or of each
    file of a directory table — plus the inference confs
    (``spark.sql.legacy.parquet.nanosAsLong``,
    ``spark.sql.parquet.inferTimestampNTZ.enabled``).  A rewritten table or a
    changed conf is inferred again and replaces the entry.  Only the schema
    is cached: every call reads the data fresh.

    Deliberately NOT wrapped in ``operators.partitioning.spread``: scan-then-
    aggregate queries are fine at the scan's natural parallelism, and blanket
    repartitioning taxed every light query with an extra exchange (measured:
    bench total 24 s → 42 s).  Fan-out operators that DO need pre-shuffle
    parallelism (shingle explode, signature hashing) call spread themselves.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    prepare_session(spark)
    path = _table_path(sf_dir, name)
    schema = _schema(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives as long
        # nanos.  Integer `div` (not `/`) — int64 nanos exceed double's 53-bit
        # mantissa — then truncate to µs exactly like DuckDB's ns→µs read.
        schema = schema or df.schema
        if "ts" in schema.names and schema["ts"].dataType == LongType():
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)
