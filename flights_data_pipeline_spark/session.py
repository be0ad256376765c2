"""SparkSession factory — M0 of the build plan (SURVEY.md §7.1).

Design decisions (all aimed at oracle-exact correctness + 100 TB posture):

* ``spark.sql.session.timeZone=UTC`` — the reference compares
  ``'{ds} 23:59:59'`` strings against timestamptz columns
  (reference ``dags/flights_data_pipeline.py:104-105``); pinning UTC makes
  day-window semantics deterministic and matches DuckDB's UTC-naive
  timestamps for the oracle tests.
* AQE on (+ coalescePartitions + skewJoin) — runtime re-planning at shuffle
  boundaries is the main lever that keeps a static plan viable at 1000×
  the test data.
* ``partitionOverwriteMode=dynamic`` — the engine's only mutation primitive
  is delete-day-window+insert (reference ``:168-177``); dynamic partition
  overwrite is the Spark-native equivalent (SURVEY.md §2.1 S6).
* shuffle partitions default to the local core count — 200 is wrong for
  local[32]; on a real cluster this would be set to ~2-3× total cores.
* Arrow enabled — every Python-side exchange (createDataFrame, toPandas,
  pandas_udf) is vectorized.

``session_memo`` is the engine's one per-session memo: work whose result
is a pure function of immutable inputs within one Spark application
(table plans, dispatch decisions, trained artifacts) is built once per
application and dropped when the application changes.

``query_scope`` is the engine's one checkpoint lifetime: RDDs a query
call persists (its ``localCheckpoint`` blocks) are unpersisted when the
call's scope exits, except those a memo build persisted, which live as
long as the memo entry that holds them.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_spark(
    app_name: str = "flights-data-pipeline-spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession with pinned semantics, or return
    the live one UNCHANGED.

    ``getOrCreate()`` on a live session would re-apply every builder
    conf to it, so a library caller (the CLI run in-process, a tool
    imported into a notebook) would silently rewrite the shared
    session's shuffle partitions and parallelism under its owner."""
    # the same live-session test getOrCreate() makes before it re-applies
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        return live
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # filter pushdown into Python DataSources (io/pysource.py) —
        # off by default in 4.1, required for pushFilters to be called
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # ContextCleaner frees shuffle files / broadcasts only after a
        # driver GC collects their refs; on a large-heap local session
        # GC is rare, so state accumulates and repeated queries degrade
        # 10-30× (measured). Forcing a periodic GC keeps cleanup flowing.
        .config("spark.cleaner.periodicGC.interval", "1min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: applicationId → {key: value} for the live application only (at most
#: one entry): a process that cycles sessions keeps nothing of the old ones
_MEMO: dict[str, dict] = {}
#: applicationId → ids of the RDDs its memo builds persisted; kept apart
#: from ``_MEMO`` so every memo key stays a caller's key, and dropped
#: with it
_PINNED: dict[str, set[int]] = {}
_MEMO_LOCK = threading.Lock()
_MISSING = object()


def _persisted_rdd_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def session_memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """``build()`` once per (Spark application, ``key``); later calls in
    the same application return the stored value.

    The caller asserts the value is a pure function of ``key`` within
    one application (immutable parquet in). Store plans, decisions and
    trained artifacts — never a frame checkpointed per query call,
    whose blocks must die with that call. Keys start with the caller's
    name so callers never collide.

    The lock is NOT held while ``build()`` runs: builds nest (the BPE
    merge table loads tables through this memo) and may run Spark jobs
    for seconds. Two threads that miss together both build; the last
    store wins, and each returns its own value.

    RDDs persisted while ``build()`` runs (a trained model's
    checkpointed frames) are pinned for the application's life:
    :func:`query_scope` never unpersists them, because the stored value
    may read their blocks on every later hit."""
    app = spark.sparkContext.applicationId
    with _MEMO_LOCK:
        hit = _MEMO.get(app, {}).get(key, _MISSING)
    if hit is not _MISSING:
        return hit
    before = _persisted_rdd_ids(spark)
    value = build()
    pinned = _persisted_rdd_ids(spark) - before
    with _MEMO_LOCK:
        if app not in _MEMO:
            _MEMO.clear()
            _PINNED.clear()
            _MEMO[app] = {}
            _PINNED[app] = set()
        _MEMO[app][key] = value
        _PINNED[app] |= pinned
    return value


@contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """Free every RDD persisted inside the block when it exits, except
    those a :func:`session_memo` build pinned.

    Wrap one query call together with everything that consumes its
    frame: once the scope exits, the frame's ``localCheckpoint`` blocks
    are gone and re-reading it fails. Harness-side and one call at a
    time: a scope unpersists RDDs that another thread persisted while
    it was open."""
    jsc = spark.sparkContext._jsc
    app = spark.sparkContext.applicationId
    before = _persisted_rdd_ids(spark)
    try:
        yield
    finally:
        with _MEMO_LOCK:
            keep = before | _PINNED.get(app, set())
        rdds = jsc.getPersistentRDDs()
        for rdd_id in set(rdds.keys()) - keep:
            rdds[rdd_id].unpersist(True)


def get_persistent_spark(
    warehouse_dir: str,
    app_name: str = "flights-data-pipeline-spark-metastore",
    *,
    cpus: int | None = None,
) -> SparkSession:
    """A session whose catalog SURVIVES the process: Hive-compatible
    metastore (embedded Derby, stored under ``warehouse_dir``) instead
    of the default in-memory catalog.

    Why it exists: bucketed layouts (``io/layout.write_bucketed``) are
    only zero-shuffle-joinable while the BUCKET SPEC is in a catalog —
    with the in-memory catalog that metadata dies with the session,
    so a nightly job would re-shuffle what last night's job carefully
    co-bucketed. Production replaces Derby with a shared metastore
    service or a table format's own catalog; the calling code is
    identical, which is the point of proving the flow here.

    Caveats: Derby is single-process (fine for one driver at a time —
    exactly the local deployment), and this must be the FIRST session
    in the JVM (enableHiveSupport cannot retrofit a live session).
    """
    cpus = cpus or default_parallelism()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.warehouse.dir", os.path.join(warehouse_dir, "wh"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={os.path.join(warehouse_dir, 'derby')}",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .enableHiveSupport()
        .getOrCreate()
    )
