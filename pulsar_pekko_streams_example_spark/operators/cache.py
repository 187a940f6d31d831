"""Session-scoped materialization cache for subtrees shared across queries.

Several registry queries are stages of ONE logical pipeline over the same
corpus: shingle postings feed exact-Jaccard, MinHash-LSH and near-dup
clustering; hyperplane signature bands feed both embedding near-dup and
bucketed ANN; the SimHash fingerprint table feeds the fingerprint report and
the hamming histogram.  Run standalone, each query re-derives the subtree —
correct, but when one session runs many registry queries over the same data
(perfbench's query_mix, the driver's correctness sweep, a real curation run)
the same corpus-wide fan-out is recomputed per consumer.

``shared_df`` memoizes and persists such a subtree once per (application,
key): the first caller materializes it (MEMORY_AND_DISK — corpus-scale
entries like the posting list spill instead of evicting), every later
caller — including concurrently scheduled queries on other threads — reuses
the cached partitions.  This is the Spark-idiomatic equivalent of the
staging tables a production multi-consumer pipeline checkpoints between
stages: in a sequential curation run you materialize exactly these (posting
lists, signatures, verified pair sets) once and fan consumers out from
them, not re-derive them per query.

Keys embed the dataset directory, the state of the tables the entry reads
(``sources.tables.table_state``) and the operator parameters, so different
scale factors, a table rewritten in place, or different thresholds never
collide.  Entries live for the Spark application; re-running a query in the
same session is a cache read.  An entry whose table was rewritten is never
read again but stays persisted until ``reset``.

**Deliberately NOT wired into the registry queries for corpus-scale
subtrees.**  Measured on the concurrent FAIR-pool bench at sf0.1
(local[32]): wiring shared subtrees into the dedup/similarity queries
REGRESSED makespan ~20s → ~27-33s across every variant tried (full
posting-list cache; small-outputs-only cache; 8 and 16 worker threads).
Re-measured at 152 queries / 28 workers (round 3, after the consumer count
doubled): sharing the raw posting list across its 8 consumers was at best
neutral (median 34.7s shared vs 32.0s unshared over 4+3 runs) — under a
saturated mix the persist barrier idles waiting consumers for exactly as
long as the redundant recompute would have taken, and the cached-partition
reads are not free.  The conclusion stands: share small OUTPUTS (hot set,
verified pairs, CC labels), recompute corpus-scale subtrees.  Under saturated concurrency the redundant
recompute overlaps with other queries' work anyway, while the cache adds a
persist/serialization barrier (breaking scan→explode codegen fusion), a
build lock that idles waiting consumers, and removes none of the dominant
shuffle-join cost.  Use ``shared_df`` where it wins: a *sequential* or
low-concurrency multi-consumer pipeline (one curation run fanning out into
report + clustering + sampling stages) over data large enough that the
subtree recompute, not the downstream shuffles, dominates.
"""

from __future__ import annotations

import threading
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_REGISTRY_LOCK = threading.Lock()
_BUILT: dict[tuple, DataFrame] = {}
_BUILT_OBJ: dict[tuple, object] = {}
_BUILDING: dict[tuple, threading.Lock] = {}


def _memoize(
    store: dict, full_key: tuple, lock_key: tuple, build: Callable[[], object]
) -> object:
    """``store[full_key]``, built by ``build()`` on first use under the
    per-key lock ``_BUILDING[lock_key]``: concurrent callers of one key wait
    for one build instead of racing, distinct keys build concurrently."""
    with _REGISTRY_LOCK:
        if full_key in store:
            return store[full_key]
        key_lock = _BUILDING.setdefault(lock_key, threading.Lock())
    with key_lock:
        with _REGISTRY_LOCK:
            if full_key in store:
                return store[full_key]
        value = build()
        with _REGISTRY_LOCK:
            store[full_key] = value
    return value


def shared_df(
    spark: SparkSession,
    key: tuple[Hashable, ...],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the persisted DataFrame for ``key``, building it on first use.

    Build-and-materialize happens under a per-key lock: concurrent queries
    needing the same subtree wait for one materialization instead of racing
    to compute the same partitions.  Distinct keys build concurrently.
    """
    full_key = (spark.sparkContext.applicationId,) + key

    def materialize() -> DataFrame:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # materialize eagerly so waiting queries reuse, not race
        return df

    return _memoize(_BUILT, full_key, full_key, materialize)


def shared_obj(
    spark: SparkSession,
    key: tuple[Hashable, ...],
    build: Callable[[], object],
) -> object:
    """Tuple-valued sibling of ``shared_df`` (round 17, VERDICT r16 ask #4):
    memoize an arbitrary build RESULT — e.g. the BPE merge chain's
    ``(words, sym, tops)``, whose frames have different schemas and are
    already eagerly materialized by the build itself (localCheckpoint) — per
    (application, key) under the same per-key lock discipline.

    Unlike ``shared_df`` it does NOT persist or count: the builder is
    responsible for materialization.  ``reset()`` forgets these entries too;
    checkpointed blocks of dropped entries are reclaimed by the
    ContextCleaner once unreferenced, which is fine — entries here are
    vocab-bounded, not corpus-sized."""
    full_key = (spark.sparkContext.applicationId,) + key
    return _memoize(_BUILT_OBJ, full_key, ("obj",) + full_key, build)


def reset(spark: SparkSession) -> None:
    """Unpersist and forget every shared subtree built by this application.

    Census/test hook, not a production path: ``tools/plan_census.census_rows``
    and the operator tests call it so each plan or build starts from a cold
    cache.  Dropping the entries in dependency-agnostic bulk is safe because
    the builds re-memoize on next call.

    Contract: reset() must NOT run concurrently with ``shared_df`` /
    ``shared_obj`` builders.  A build that finishes after a concurrent
    reset() stores its pre-reset result again, so the next caller would get
    an entry built before the reset.  Every caller is single-threaded.

    ``_BUILDING`` locks are left in place (popping one a caller still holds
    would hand the next caller a fresh lock for the same key); the retained
    Lock objects are trivially small.  Eviction blocks so a rebuild that
    starts right after reset() never overlaps the old partitions' eviction
    I/O."""
    app_id = spark.sparkContext.applicationId
    with _REGISTRY_LOCK:
        mine = [k for k in _BUILT if k[0] == app_id]
        dropped = [_BUILT.pop(k) for k in mine]
        for k in [k for k in _BUILT_OBJ if k[0] == app_id]:
            _BUILT_OBJ.pop(k)
    for df in dropped:
        df.unpersist(blocking=True)
