"""SparkSession factory and session preparation.

Reference analog: the ActorSystem + Materializer + fixed thread-pool setup in
``part2/SingleWorkloadExample.scala:50-53``.  In Spark the session IS the
engine; everything else (admission control, parallelism caps) is config.

Scale posture (100 TB target):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting replace
  the reference's hand-tuned ``StreamParallelism`` knobs.
- Arrow on: every Python-side exchange is vectorized.
- UTC session timezone: deterministic timestamp semantics across engines
  (the DuckDB oracle reads parquet timestamps as naive/UTC).
- shuffle.partitions defaults to the core count locally; on a real cluster
  AQE coalesces from a high initial number, so the default is a floor, not a
  ceiling.
- Python workers come from the engine's daemon (``worker_daemon``): pyspark's
  worker drops every zip importer's cache at the start of each task, which
  re-reads ``pyspark.zip`` 14-18 times a task; the daemon re-reads an archive
  only when it has changed.  The daemon is the package's own module, so every
  Python UDF's worker must be able to import the package: ``get_spark`` puts
  the package's parent directory on the workers' ``PYTHONPATH``.
- Local files go through the engine's Hadoop file system (``jvm/``, a jar
  shipped with the package).  Without libhadoop, which this Spark build's
  JVM does not load, Hadoop's stock local file system forks ``chmod`` for
  every file, checksum file and directory it creates and ``readlink`` on
  every ``FileContext`` rename: 2 ``chmod`` and 8 ``readlink`` per
  checkpoint file, so tens of forks per plain micro-batch and about 150 per
  ordered one.  The engine's classes do both in-process; the files on disk
  are the same (same mode bits, same ``.crc`` checksums).  Only ``get_spark``
  sessions use them: a session built elsewhere keeps Hadoop's stock classes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory the package is imported from, for the Python workers
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the engine's local file system (built from the .java sources beside it)
_ENGINE_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "engine-fs.jar")
_ENGINE_FS_CONFS = {
    "spark.hadoop.fs.file.impl": "sparkgraft.fs.EngineLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "sparkgraft.fs.EngineLocalFs",
}

# Runtime-settable confs applied to ANY session we are handed (the driver
# constructs its own SparkSession for verification, so these must not rely on
# builder-time configuration).
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: keep filter pushdown + vectorized reader on (defaults,
    # but pinned so a misconfigured parent session can't silently regress)
    "spark.sql.parquet.filterPushdown": "true",
    # the driver's events table stores TIMESTAMP(NANOS) which Spark 4 rejects
    # by default; read as long nanos, converted in sources.tables.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timezone-less parquet timestamps (timestamp[us], isAdjustedToUTC=false)
    # must land as TIMESTAMP (LTZ) not TIMESTAMP_NTZ: the engine's epoch
    # arithmetic (unix_micros/unix_millis) and the DuckDB oracle both treat
    # them as instants, and with the UTC session timezone the readings agree
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (idempotent).

    Guarded per session object: load_table calls this on every load, and
    each conf.set is a driver py4j round-trip — hundreds of wasted calls per
    bench run without the guard."""
    if getattr(spark, "_ppes_prepared", False):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in this deployment — leave as-is
            pass
    try:
        # An externally-created session (the driver's verifier) usually ships
        # Spark's stock 200 shuffle partitions — 6× the local core count of
        # pure task-scheduling overhead per exchange at sf0.01.  Lower it to
        # the core count, but ONLY when it is the untouched default so any
        # deliberate setting (bench, a real cluster submit) wins.  On a real
        # cluster AQE coalesces from the configured initial number; this is a
        # local-mode latency fix, not a scale knob.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(os.cpu_count() or 4)
            )
    except Exception:
        pass
    spark._ppes_prepared = True
    return spark


def get_spark(
    app_name: str = "pulsar-pekko-streams-example-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores.  On a real
    cluster the master/resource settings come from spark-submit; this factory
    only pins semantics + optimizer posture.

    Python workers are forked from ``worker_daemon`` (a JVM-launch conf, so
    set here and not in ``prepare_session``: a session built elsewhere keeps
    pyspark's stock daemon).  The daemon imports this package, so every
    Python UDF's worker needs it importable, not only the UDFs that reference
    it: the package's parent directory is added to
    ``spark.executorEnv.PYTHONPATH``, after any value in ``extra_conf``.  The
    driver's own ``PYTHONPATH`` still reaches the workers (Spark appends it).

    ``spark.python.sql.dataFrameDebugging.enabled`` is off (a static conf,
    so set here and not in ``prepare_session``).  With it on, pyspark wraps
    every DataFrame and Column call on the driver to record its Python call
    site in the JVM — ``getActiveSession``, a ``conf.get`` and an origin set
    and clear, at least four py4j round trips per call, which Spark's own
    doc string calls "a non-trivial performance overhead".  That was most
    of the py4j traffic of a registry plan build, and ``route_batch``'s
    projection paid it on every micro-batch.  What is lost: an analysis or runtime error no longer names
    the Python line that built the failing expression; its error class and
    message are unchanged.  A session built elsewhere (a vanilla driver
    session) keeps pyspark's default, which pyspark reads once per process
    from the session active at its first DataFrame call.

    ``file:`` paths go through the engine's local file system: the jar in
    ``jvm/`` is added to ``spark.driver.extraClassPath`` (after any value in
    ``extra_conf``), and ``spark.hadoop.fs.file.impl`` and
    ``spark.hadoop.fs.AbstractFileSystem.file.impl`` name its classes.
    Without libhadoop, Hadoop's stock local file system forks a ``chmod``
    per file, checksum file and directory it creates and a ``readlink`` per
    link-status lookup (several per ``FileContext`` rename, which every
    checkpoint and state-store file goes through); the engine's classes
    make the same calls in-process and leave the same files, modes and
    ``.crc`` checksums on disk.  These are JVM-launch confs, so they are
    set here and not in ``prepare_session``: a session built elsewhere
    keeps Hadoop's stock file system.  When this process already holds a
    JVM launched without the jar (a vanilla session came first, or
    ``spark-submit`` launched the driver JVM before Python ran), the class
    cannot load there and the file-system confs are left out.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    extra = dict(extra_conf or {})
    python_path = [extra.pop("spark.executorEnv.PYTHONPATH", ""), _PACKAGE_ROOT]
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.pathsep.join(p for p in python_path if p)
    ).config("spark.python.daemon.module", f"{__package__}.worker_daemon").config(
        "spark.python.sql.dataFrameDebugging.enabled", "false"
    )
    class_path = [extra.pop("spark.driver.extraClassPath", ""), _ENGINE_FS_JAR]
    builder = builder.config(
        "spark.driver.extraClassPath", os.pathsep.join(p for p in class_path if p)
    )
    if _engine_fs_loads():
        for k, v in _ENGINE_FS_CONFS.items():
            builder = builder.config(k, v)
    for k, v in extra.items():
        builder = builder.config(k, v)
    return prepare_session(builder.getOrCreate())


def _engine_fs_loads() -> bool:
    """Whether the engine's file-system classes load in this process's JVM:
    always in a JVM the builder is about to launch (the jar is on its class
    path), and in a running one only if it was launched with the jar.  A JVM
    runs before the first context when ``spark-submit`` started it and left
    its gateway port in the environment; pyspark attaches to that one."""
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            return True
        SparkContext._ensure_initialized()  # attaches; launches nothing
    jvm = SparkContext._jvm
    try:
        jvm.java.lang.Class.forName(_ENGINE_FS_CONFS["spark.hadoop.fs.file.impl"])
    except Py4JJavaError:  # ClassNotFoundException
        return False
    return True
