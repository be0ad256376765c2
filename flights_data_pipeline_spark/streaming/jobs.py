"""Structured Streaming job builders (SURVEY.md §2.10 extension surface).

The reference's only "streaming" is Airflow daily scheduling with a
watermark column (reference ``dags/flights_data_pipeline.py:63-66``);
this module is the engine's real streaming surface over
``events(event_id, ts, user_id, event_type, value, props)``:

* file-source readStream with explicit schema (no inference in the
  engine proper — SURVEY.md §1.1),
* watermarked tumbling/session window aggregations (same kernels as
  the batch queries in ``queries/streaming.py`` — batch/stream parity
  is asserted in ``tests/test_streaming.py``),
* ``dropDuplicatesWithinWatermark`` exactly-once-per-event_id,
* a *custom stateful operator* via ``applyInPandasWithState``:
  per-user running counters with inactivity timeout — the shape Spark's
  built-in windows can't express (state machine + timeout emission).

Scale posture: state size is bounded by (keys × state row), not data
volume; the watermark horizon bounds how long state lives. The
stateful map is Arrow-batched per group — the only Python in the
streaming path, and it is the operator that genuinely needs it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of events parquet under ``path``."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """10-minute tumbling counts per event type (batch twin:
    ``queries/streaming.tumbling_window_agg``)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            # decimal-exact sum, double at the output surface — same
            # convention as the batch twin (functions.scalars.money_out)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once per event_id within the watermark horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows with an inactivity ``gap`` (batch twin:
    ``queries/streaming.session_window_agg``).

    Session state is the heavy streaming state shape: one open session
    per active user key, merged on every in-gap event, closed (and
    emitted, in append mode) only when the watermark passes
    ``last_event + gap``. State size = O(active users), so this is the
    job that decides the state-store backend: the default HDFS-backed
    provider keeps every key on the executor HEAP — fine for thousands
    of keys, an OOM for hundreds of millions — while RocksDB
    (``use_rocksdb_state_store``) spills to local disk with changelog
    checkpointing and is the setting this engine prescribes at scale.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


#: fully-qualified RocksDB state store provider class.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession) -> None:
    """Pin the RocksDB state-store provider (+ changelog checkpointing)
    on the session — must be set BEFORE a streaming query starts; the
    provider is fixed per query run from the session conf at start.

    Why at 100 TB: the default provider bounds total state by executor
    heap and rewrites full snapshots each checkpoint; RocksDB keeps
    working state on local SSD (heap holds only block cache),
    checkpoints incrementally via changelog files, and recovers by
    replaying the changelog onto the last snapshot.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


#: output schema of the stateful user-counter operator.
USER_COUNTER_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE, emitted_on_timeout BOOLEAN"
_STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _count_events_with_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running (count, sum) per user; emits on every update and flushes
    a final timeout row when the user goes quiet past the timeout."""
    (user_id,) = key
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [total],
                "emitted_on_timeout": [True],
            }
        )
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    state.setTimeoutDuration(30_000)  # 30s of processing-time silence
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "emitted_on_timeout": [False],
        }
    )


def user_running_counters(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) with a
    processing-time inactivity flush — ``applyInPandasWithState``."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _count_events_with_state,
            outputStructType=USER_COUNTER_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_stream_attribution(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the clicks
    of the same user in the preceding ``gap_minutes``.

    The canonical watermarked stream-stream join: both sides carry a
    watermark, and the join condition combines the user equi-key with
    an event-time RANGE — Spark derives the state retention for each
    side from the watermark + time bound, so join state is evicted as
    event time advances (unbounded state otherwise; the reason the
    time bound is NOT optional at scale).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {gap_minutes} MINUTES")
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    keys: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension join — enrich each event with dim
    attributes as it arrives (the streaming twin of the batch
    dim-lookup broadcast join, J5).

    Stream-static joins are STATELESS: no watermark, no join state —
    Spark re-plans the static side inside every micro-batch, so a dim
    backed by a table/path picks up slowly-changing updates between
    batches for free. The explicit ``broadcast`` keeps each
    micro-batch shuffle-free: the stream side never moves, the dim
    ships to executors once per plan — the only shape that holds up
    when the stream side is unbounded. Left join (default) keeps
    events whose key has no dim row yet — drop-on-miss is an ``inner``
    argument away.
    """
    return stream.join(F.broadcast(dim), keys, how)


def upsert_stream(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    order_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """Stream → keyed latest-wins MERGE into a parquet target: the
    ``foreachBatch`` effectively-once pattern.

    Structured Streaming delivers each micro-batch to ``foreachBatch``
    AT LEAST once (a crashed batch replays), so the sink must be
    idempotent per batch. A keyed latest-wins merge
    (``operators.merge.merge_latest_parquet``) is idempotent AND
    out-of-order-safe: replaying a batch rewrites the same winners,
    and a later batch carrying an older row for a key cannot regress
    the value (source-wins MERGE would — rows compete on event time
    instead). ``order_cols`` must totally order rows per key; default
    ``[ts, event_id]``.

    Returns the started ``StreamingQuery``; callers await termination.
    At scale the parquet target would be a partitioned/bucketed table
    so each batch's merge shuffles only the source side.
    """
    from ..operators.merge import merge_latest_parquet

    order_cols = order_cols or ["ts", "event_id"]

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        merge_latest_parquet(
            batch.sparkSession, target_path, batch, keys, order_cols
        )

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


# ---------------------------------------------------------------------------
# transformWithState: the successor stateful API (Spark 4).
# ---------------------------------------------------------------------------
try:  # pragma: no cover - import guard exercised by tests
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # the API's Python state client speaks protobuf to the JVM state
    # server; without a working google.protobuf the worker crashes at
    # PRE_INIT — treat that environment as not having the API
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS = True
except ImportError:  # older Spark, or protobuf absent (this container)
    StatefulProcessor = object  # type: ignore[assignment,misc]
    HAS_TWS = False


class UserCounterProcessor(StatefulProcessor):
    """Per-user running (count, value-sum) as a ``transformWithState``
    stateful processor — the same semantics as
    ``user_running_counters``'s ``applyInPandasWithState`` operator,
    on the successor API.

    Why both exist: ``applyInPandasWithState`` hands the WHOLE state
    as one user-managed blob per key; ``transformWithState`` gives
    typed, individually-updatable state primitives (value/list/map
    state) managed BY the store — at scale that means point updates
    against RocksDB instead of blob rewrites, plus timers and TTL the
    old API lacks. The engine prescribes this API for new stateful
    operators; the old one stays for parity.
    """

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("counts", "n BIGINT, total DOUBLE")

    def handleInputRows(self, key, rows, timerValues):  # noqa: N802
        if self._state.exists():
            n, total = self._state.get()
        else:
            n, total = 0, 0.0
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        self._state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    def close(self) -> None:
        pass


def user_running_counters_tws(stream: DataFrame) -> DataFrame:
    """``transformWithStateInPandas`` wiring of ``UserCounterProcessor``
    (requires the RocksDB state store — the API is built on its typed
    column families; call ``use_rocksdb_state_store`` first).

    Environment gate: the API's Python state client requires a working
    ``google.protobuf`` in the executor Python (absent from this
    container — ``HAS_TWS`` is False and the execution test skips).
    The wiring is real; on a standard cluster image it runs as-is."""
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserCounterProcessor(),
        outputStructType=(
            "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
        ),
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# State-store introspection (the statestore / state-metadata readers).
# ---------------------------------------------------------------------------
def read_state_metadata(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Operator-level metadata of a streaming query's state checkpoint
    (operator ids/names, store names, partition counts, batch range) —
    ``spark.read.format("state-metadata")`` over the checkpoint.

    This is the entry point of any production state debugging session:
    it tells you WHICH operator/store to point ``read_query_state`` at
    without guessing operator ids."""
    return spark.read.format("state-metadata").load(checkpoint_dir)


def read_query_state(
    spark: SparkSession,
    checkpoint_dir: str,
    *,
    operator_id: int = 0,
    batch_id: int | None = None,
) -> DataFrame:
    """Contents of a streaming query's state store as a DataFrame
    (``key`` struct = grouping key, ``value`` struct = the operator's
    aggregation buffer, plus ``partition_id``).

    The offline state reader is how an operator debugs skew (rows per
    ``partition_id``), audits what a watermark has/hasn't evicted, and
    validates a checkpoint before a risky redeploy — WITHOUT running
    the stream. Reads go straight to the checkpoint files; the running
    query is untouched. ``batch_id`` defaults to the last committed
    micro-batch."""
    r = (
        spark.read.format("statestore")
        .option("operatorId", operator_id)
    )
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load(checkpoint_dir)


def two_level_window_rollup(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """CHAINED stateful aggregation in one streaming query: 10-minute
    tumbling counts re-aggregated into 1-hour totals (window-on-window
    — the second ``groupBy`` windows over the FIRST aggregation's
    window column).

    Until multi-stateful-operator support landed, this shape forced
    two queries stitched through an intermediate sink (operational
    cost: two checkpoints, replay coupling, doubled latency). One
    query means one watermark governs both stores and the fine-grained
    state (10-min) evicts as soon as the coarse level has consumed it.
    Output mode must be APPEND: a closed 1-hour window is final, so
    downstream consumers get exactly-once hourly rows.
    """
    fine = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(F.count("*").alias("n10"))
    )
    return (
        fine.groupBy(
            F.window(F.col("w10"), "1 hour").alias("w60"), "event_type"
        )
        .agg(F.sum("n10").cast("bigint").alias("n_events"))
        .select(
            F.col("w60.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def stream_stream_unconverted_clicks(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, attributed to a
    same-user purchase within ``gap_minutes`` when one exists, padded
    with NULLs when none does — the "unconverted clicks" feed an ads
    pipeline bills on.

    Outer stream-stream semantics are subtler than inner: a NULL-
    padded row can only emit once the WATERMARK proves no matching
    purchase can still arrive (match-now vs maybe-match-later is
    undecidable before that), so unmatched rows surface with
    watermark latency — delayed, never wrong. Same state-retention
    math as the inner join; the time bound stays mandatory.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {gap_minutes} MINUTES")
        ),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


def dedup_ingest_stream(
    stream: DataFrame,
    target_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming corpus ingest with EXACT dedup against all history:
    the micro-batch twin of ``incremental_exact_dedup``, and the shape
    a 100 TB crawl ingest actually runs — documents arrive
    continuously, and only first-seen content may land.

    One store does double duty: the target parquet is keyed by
    ``content_fp`` (md5 of whitespace-normalized text), so the
    "fingerprints seen so far" set IS the output corpus — no separate
    state table to keep consistent with it. Each micro-batch runs a
    FIRST-WINS keyed merge (``merge_latest_parquet`` with the
    ordering negated: the greatest ``-doc_id`` is the smallest
    doc_id), which makes the sink

    * dedup-correct: a fingerprint already in the store always beats a
      re-ingested copy with a higher doc_id;
    * replay-idempotent: ``foreachBatch`` delivers at-least-once, and
      re-merging the same batch converges to the identical store;
    * out-of-order-safe: a late batch carrying the true first copy
      (lower doc_id) still wins its key.

    At scale the merge shuffles on ``content_fp`` — the identical
    exchange exact dedup pays anywhere — and the store would be a
    bucketed/partitioned table so each batch merges against only its
    key ranges. Returns the started ``StreamingQuery``.
    """
    fp = stream.withColumn(
        "content_fp",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")),
    ).withColumn("__first_wins", -F.col("doc_id"))

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        from ..operators.merge import merge_latest_parquet

        merge_latest_parquet(
            batch.sparkSession,
            target_path,
            batch,
            keys=["content_fp"],
            order_cols=["__first_wins"],
        )

    writer = fp.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def neardup_ingest_stream(
    stream: DataFrame,
    state_dir: str,
    verdict_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming NEAR-dup ingest: the micro-batch twin of
    ``queries/dedup.incremental_neardup_ingest`` — each arriving
    document is MinHash-signed, its LSH bands are joined against the
    maintained band index (all history plus older docs in the same
    batch), candidates are exact-Jaccard-verified at tau = 1/2, and a
    per-doc verdict row lands in ``verdict_path``.

    State model (the production shape): ``{state_dir}/docs`` holds the
    per-doc MinHash state (signatures + md5-shingle array) keyed by
    doc_id — the band index derives from it per batch via
    ``minhash_bands``. Both the state merge and the verdict merge are
    keyed first-wins (``merge_latest_parquet`` on doc_id), so an
    at-least-once replay of any batch converges to the identical store
    and identical verdicts: recomputing a replayed doc's candidates
    against state that already contains it changes nothing, because
    candidate orientation is strictly ``partner_id < doc_id`` (a doc
    never pairs with its own replayed copy).

    At 100 TB the band index is a bucketed table on (band, bkey) and
    each batch's join touches only matching buckets; history text is
    never re-read — only its signatures.
    """
    from ..operators.merge import merge_latest_parquet, read_store_or_none
    from ..queries.dedup import minhash_bands, minhash_state

    def _process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        st = minhash_state(batch).localCheckpoint(eager=True)
        if st.isEmpty():
            return
        hist = read_store_or_none(spark, f"{state_dir}/docs")
        # __batch is the merge's order column, not signature state
        universe = st if hist is None else hist.drop("__batch").unionByName(st)
        # dedupe replayed copies of the same doc_id inside the universe
        # (a crash between the two merges can replay a batch whose
        # state already landed) — signatures are deterministic, so
        # first-wins per doc_id is a no-op semantically
        universe = universe.dropDuplicates(["doc_id"])
        new_bands = minhash_bands(st).alias("b")
        all_bands = minhash_bands(universe).alias("a")
        cand = (
            all_bands.join(
                new_bands,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
            )
            .distinct()
        )
        sha = universe.select(
            F.col("doc_id").alias("a_id"), F.col("hset").alias("hs_a")
        )
        shb = st.select(
            F.col("doc_id").alias("b_id"), F.col("hset").alias("hs_b")
        )
        paired = sha.join(F.broadcast(cand), "a_id")
        both = shb.join(paired.hint("shuffle_hash"), "b_id")
        ver = (
            both.select(
                "b_id",
                (
                    3 * F.size(F.array_intersect("hs_a", "hs_b"))
                    >= F.size("hs_a") + F.size("hs_b")
                ).cast("int").alias("is_dup"),
            )
            .groupBy("b_id")
            .agg(
                F.count("*").cast("bigint").alias("n_band_candidates"),
                F.sum("is_dup").cast("bigint").alias("n_dup_sources"),
            )
        )
        verdicts = (
            st.select("doc_id")
            .join(ver, st.doc_id == ver.b_id, "left")
            .select(
                "doc_id",
                F.coalesce("n_band_candidates", F.lit(0))
                .cast("bigint")
                .alias("n_band_candidates"),
                F.coalesce("n_dup_sources", F.lit(0))
                .cast("bigint")
                .alias("n_dup_sources"),
                (F.coalesce("n_dup_sources", F.lit(0)) == 0).alias(
                    "is_novel"
                ),
                F.lit(batch_id).cast("bigint").alias("__batch"),
            )
        )
        # verdict first, then state: if we crash between the two, the
        # replay recomputes the SAME verdicts (state lacking the batch
        # reproduces the original universe; state containing it adds
        # only self-copies, excluded by the strict < orientation)
        merge_latest_parquet(
            spark,
            verdict_path,
            verdicts,
            keys=["doc_id"],
            order_cols=["__batch"],
        )
        merge_latest_parquet(
            spark,
            f"{state_dir}/docs",
            st.withColumn("__batch", F.lit(batch_id).cast("bigint")),
            keys=["doc_id"],
            order_cols=["__batch"],
        )

    writer = stream.writeStream.foreachBatch(_process).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def scd2_ingest_stream(
    stream: DataFrame,
    target_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming SCD Type-2 maintenance: keep the history dimension
    (``queries/timeseries.scd2_user_state_history``'s shape) current
    from a live change-event stream — per micro-batch, each user's new
    events extend their version chain in place: same-state events are
    dropped (change-log compression), a state change closes the open
    version (fills ``valid_to``) and opens a new one with the next
    version number.

    Replay safety is a WATERMARK GUARD, not dedup bookkeeping: a batch
    event is applied only if its ``(ts, event_id)`` is strictly beyond
    the user's open-version ``valid_from`` — on an at-least-once replay
    every already-applied event sorts at-or-before the (now advanced)
    open version and is dropped, so the store converges (tested). The
    same guard enforces the ordered-feed contract append-mode SCD2
    requires (STATUS rule 17): a true late event older than the open
    version cannot be spliced into a closed interval and is skipped —
    production handles those by periodic batch rebuild of affected
    users, exactly like every warehouse SCD2 loader.

    Merge shape: one keyed upsert per batch on ``(user_id, version)``
    where the latest batch wins (closing rewrites the open row, replays
    rewrite identical rows). At 100 TB both the open-version read and
    the merge are key-partitioned on user_id; the open-version set is
    one row per entity — dimension-sized, not event-sized.
    """
    from pyspark.sql.window import Window as W

    from ..operators.merge import merge_latest_parquet, read_store_or_none

    def _process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        ev = batch.select("user_id", "event_id", "ts", "event_type")
        hist = read_store_or_none(spark, target_path)
        open_v = None if hist is None else (
            hist.filter(F.col("valid_to").isNull())
            .select(
                F.col("user_id").alias("o_user"),
                F.col("state").alias("o_state"),
                F.col("valid_from").alias("o_from"),
                F.col("o_event_id").alias("o_eid"),
                F.col("version").alias("o_version"),
            )
        )
        if open_v is not None:
            ev = ev.join(open_v, ev.user_id == open_v.o_user, "left")
            # watermark guard: strictly beyond the open version's
            # (valid_from, event_id) — replayed events sort at-or-
            # before and drop out
            ev = ev.filter(
                F.col("o_from").isNull()
                | (F.col("ts") > F.col("o_from"))
                | ((F.col("ts") == F.col("o_from")) & (F.col("event_id") > F.col("o_eid")))
            )
        else:
            ev = (
                ev.withColumn("o_state", F.lit(None).cast("string"))
                .withColumn("o_from", F.lit(None).cast("timestamp"))
                .withColumn("o_eid", F.lit(None).cast("bigint"))
                .withColumn("o_version", F.lit(None).cast("bigint"))
            )
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        # change-log compression seeded by the OPEN version's state
        changed = (
            ev.withColumn(
                "prev",
                F.coalesce(F.lag("event_type").over(w), F.col("o_state")),
            )
            .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        )
        if changed.isEmpty():
            return
        new_rows = changed.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.col("event_id").alias("o_event_id"),
            (
                F.coalesce(F.col("o_version"), F.lit(0))
                + F.row_number().over(w)
            ).cast("bigint").alias("version"),
            F.lit(batch_id).cast("bigint").alias("__upd"),
        )
        out = new_rows
        if open_v is not None:
            # close each touched user's open version at the first new
            # valid_from
            firsts = new_rows.groupBy("user_id").agg(
                F.min(F.struct("valid_from", "version")).alias("f")
            )
            closed = (
                open_v.join(
                    firsts, open_v.o_user == firsts.user_id
                ).select(
                    "user_id",
                    F.col("o_state").alias("state"),
                    F.col("o_from").alias("valid_from"),
                    F.col("f.valid_from").alias("valid_to"),
                    F.col("o_eid").alias("o_event_id"),
                    F.col("o_version").alias("version"),
                    F.lit(batch_id).cast("bigint").alias("__upd"),
                )
            )
            out = new_rows.unionByName(closed)
        merge_latest_parquet(
            spark,
            target_path,
            out,
            keys=["user_id", "version"],
            order_cols=["__upd"],
        )

    writer = stream.writeStream.foreachBatch(_process).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def ols_stats_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of the day-level rollup behind the OLS
    trend (``queries/timeseries.ols_trend_daily``): each micro-batch's
    events collapse to (event_type, day, cnt) rows tagged with the
    batch id, merged latest-wins on (event_type, day, __batch).

    Why the batch id is part of the KEY and not a bookkeeping column:
    a day's events may be split across micro-batches, so day counts are
    additive across batches — but a plain additive merge double-counts
    under foreachBatch's at-least-once replay. Keying each batch's
    contribution separately makes the merge replay-IDEMPOTENT (a
    replayed batch recomputes the identical rows and latest-wins
    rewrites them in place) while the snapshot reader sums the
    per-batch contributions back to true day counts.

    This is the sufficient-statistics posture at 100 TB: state is
    day-level (|series| × |days| × |batches-touching-the-day| rows of
    four small columns), NEVER event-level; the trend itself is
    recomputed from state in milliseconds by ``ols_trend_from_state``
    via the exact math the batch query uses (``ols_from_daily``), so
    streamed and batch trends are bit-identical on the same events.
    Returns the started ``StreamingQuery``.
    """

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        from ..operators.merge import merge_latest_parquet

        daily = (
            batch.groupBy(
                "event_type", F.col("ts").cast("date").alias("day")
            )
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .withColumn("__batch", F.lit(batch_id).cast("bigint"))
        )
        merge_latest_parquet(
            batch.sparkSession,
            state_path,
            daily,
            keys=["event_type", "day", "__batch"],
            order_cols=["cnt"],
        )

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def ols_trend_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Recover the OLS trend from the streamed day-level state: sum the
    per-batch contributions back to day counts, then run the exact
    shared normal-equation math — on the same events this equals the
    batch ``ols_trend_daily`` bit-for-bit."""
    from ..queries.timeseries import ols_from_daily

    st = spark.read.parquet(state_path)
    daily = st.groupBy("event_type", "day").agg(
        F.sum("cnt").cast("bigint").alias("y")
    )
    return ols_from_daily(daily)


def transition_stats_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of the Markov transition matrix
    (``queries/timeseries.event_transition_matrix``): each micro-batch
    stores (a) its IN-batch transition counts keyed
    (__batch, from, to) and (b) one boundary FRAGMENT per (batch,
    user) — the user's first and last event of the batch.

    Replay-idempotence by construction: BOTH stores are pure functions
    of their own batch (no cross-batch read at write time), so an
    at-least-once replay recomputes byte-identical rows and the
    latest-wins merge rewrites them in place. The cross-batch
    "junction" transitions (last event of one fragment → first event
    of the user's next fragment) are derived at READ time by
    ``transition_matrix_from_state`` — deferring the only
    state-dependent computation to the read path is what makes the
    write path idempotent.

    Contract: the ordered-feed discipline of ``scd2_ingest_stream`` —
    batches partition the stream in event-time order per user, so a
    user's fragments do not interleave. Returns the started query.
    """

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        from pyspark.sql.window import Window as W

        from ..operators.merge import merge_latest_parquet

        spark = batch.sparkSession
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        seq = batch.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        ).filter(F.col("to_type").isNotNull())
        trans = (
            seq.groupBy("from_type", "to_type")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .withColumn("__batch", F.lit(batch_id).cast("bigint"))
        )
        merge_latest_parquet(
            spark,
            f"{state_path}/trans",
            trans,
            keys=["__batch", "from_type", "to_type"],
            order_cols=["cnt"],
        )
        wn = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        marked = batch.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.row_number().over(w).alias("rn_f"),
            F.row_number().over(wn).alias("rn_l"),
        )
        frags = (
            marked.filter((F.col("rn_f") == 1) | (F.col("rn_l") == 1))
            .groupBy("user_id")
            .agg(
                F.max(
                    F.when(
                        F.col("rn_f") == 1,
                        F.struct("ts", "event_id", "event_type"),
                    )
                ).alias("first"),
                F.max(
                    F.when(
                        F.col("rn_l") == 1,
                        F.struct("ts", "event_id", "event_type"),
                    )
                ).alias("last"),
            )
            .select(
                "user_id",
                F.col("first.ts").alias("first_ts"),
                F.col("first.event_id").alias("first_id"),
                F.col("first.event_type").alias("first_type"),
                F.col("last.ts").alias("last_ts"),
                F.col("last.event_id").alias("last_id"),
                F.col("last.event_type").alias("last_type"),
            )
            .withColumn("__batch", F.lit(batch_id).cast("bigint"))
        )
        merge_latest_parquet(
            spark,
            f"{state_path}/frags",
            frags,
            keys=["__batch", "user_id"],
            order_cols=["last_ts"],
        )

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def transition_matrix_from_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Recover the full transition matrix from the streamed state:
    in-batch counts summed across batches, plus the junction
    transitions between each user's consecutive fragments (ordered by
    fragment event time, NOT batch id — numbering is incidental,
    event time is the contract). On an ordered feed this equals the
    batch ``event_transition_matrix`` bit-for-bit."""
    from pyspark.sql.window import Window as W

    inb = (
        spark.read.parquet(f"{state_path}/trans")
        .groupBy("from_type", "to_type")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    frags = spark.read.parquet(f"{state_path}/frags")
    wf = W.partitionBy("user_id").orderBy("first_ts", "first_id")
    junct = (
        frags.select(
            "user_id",
            F.col("last_type").alias("from_type"),
            F.lead("first_type").over(wf).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    trans = (
        inb.unionByName(junct)
        .groupBy("from_type", "to_type")
        .agg(F.sum("cnt").cast("bigint").alias("n_transitions"))
    )
    out_deg = trans.groupBy("from_type").agg(
        F.sum("n_transitions").cast("bigint").alias("out_total")
    )
    return trans.join(out_deg, "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        "out_total",
        (
            F.col("n_transitions").cast("double")
            / F.col("out_total").cast("double")
        ).alias("prob"),
    )


def quota_sample_stream(
    stream: DataFrame,
    store_path: str,
    quota: int = 10,
    checkpoint_dir: str | None = None,
):
    """Streaming ADMISSION CONTROL per source: maintain, as documents
    arrive, the per-source quota sample ``domain_quota_sample`` defines
    in batch — at most ``quota`` docs per source, selected by smallest
    ``md5(doc_id)`` (the deterministic uniform shuffle).

    The store is a fixed point of the batch rule, not a first-come
    gate: each micro-batch unions the incoming docs with the current
    store and re-ranks per source, so a later document that hashes
    earlier EVICTS an admitted one. That choice is what buys the three
    properties a quota gate at 100 TB actually needs:

    * batch-twin exact: after any prefix of the stream, the store ==
      ``domain_quota_sample`` of exactly the documents seen so far —
      regardless of arrival order or batch boundaries;
    * replay-idempotent: re-merging a delivered-again batch is a no-op
      (the rank of already-present rows cannot change);
    * bounded state: the store never exceeds |sources| × quota rows,
      and each merge shuffles only store + batch (never history text —
      only ids/sources/hashes live in the store).

    Returns the started ``StreamingQuery`` (availableNow trigger).
    """
    keyed = stream.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        from pyspark.sql.window import Window as W

        from ..operators.merge import _swap_in, read_store_or_none

        store = read_store_or_none(spark, store_path)
        combined = (
            batch if store is None else store.unionByName(batch)
        ).dropDuplicates(["doc_id"])
        w = W.partitionBy("source").orderBy("__h", "doc_id")
        kept = (
            combined.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= quota)
            .drop("__rk")
        )
        _swap_in(spark, kept, store_path)

    writer = keyed.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def embedding_drift_stream(
    stream: DataFrame,
    state_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of the per-label centroid-drift monitor
    (``queries/similarity.embedding_label_drift``): each micro-batch's
    vectors collapse to (label, dim, batch) exact fixed-point sums plus
    a per-batch vector count, merged latest-wins on the batch-id-keyed
    key (the ``ols_stats_stream`` pattern — replay recomputes the
    identical contribution rows and rewrites them in place, so
    at-least-once delivery cannot double-count).

    State is sufficient-statistics-sized: |labels| × |dims| ×
    |batches| rows of three small columns — never vector-level. The
    reader (``embedding_drift_from_state``) sums contributions back
    and runs the SAME ``drift_from_stats`` kernel the batch query
    uses, so streamed drift == batch drift bit-for-bit on the same
    vectors. Returns the started ``StreamingQuery``.
    """

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        from ..operators.merge import merge_latest_parquet
        from ..queries.similarity import quantized_label_dims

        q = quantized_label_dims(batch)
        sums = (
            q.groupBy("label", "dim")
            .agg(F.sum("qv").cast("bigint").alias("s_qv"))
            .withColumn("__batch", F.lit(batch_id).cast("bigint"))
        )
        cnts = (
            batch.groupBy("label")
            .agg(F.count("*").cast("bigint").alias("n"))
            .select(
                "label",
                F.lit(0).cast("int").alias("dim"),  # dim 0 = count row
                F.col("n").alias("s_qv"),
                F.lit(batch_id).cast("bigint").alias("__batch"),
            )
        )
        merge_latest_parquet(
            batch.sparkSession,
            state_path,
            sums.unionByName(cnts),
            keys=["label", "dim", "__batch"],
            order_cols=["s_qv"],
        )

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def embedding_drift_from_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Recover the drift report from streamed state: sum per-batch
    contributions back to per-(label, dim) totals and per-label counts
    (dim 0 rows), then run the exact shared kernel."""
    from ..queries.similarity import drift_from_stats

    st = spark.read.parquet(state_path)
    per_ld = (
        st.filter(F.col("dim") > 0)
        .groupBy("label", "dim")
        .agg(F.sum("s_qv").cast("bigint").alias("s_ld"))
    )
    counts = (
        st.filter(F.col("dim") == 0)
        .groupBy("label")
        .agg(F.sum("s_qv").cast("bigint").alias("n_l"))
    )
    return drift_from_stats(per_ld, counts)


def token_budget_stream(
    stream: DataFrame,
    store_path: str,
    budget: int = 4096,
    checkpoint_dir: str | None = None,
):
    """Streaming TOKEN-budget admission per source: maintain, as
    documents arrive, exactly the admitted set the batch rule
    (``queries/curation.token_budget_admission``) defines — documents
    in hashed-key order whose inclusive running token count stays
    ≤ ``budget``, where the running count includes every document seen
    so far (admitted or not).

    Why the store needs TWO pieces of state (unlike the quota stream's
    single sample): the batch rule's cumulative sum runs over ALL
    documents, so a document rejected at the boundary still consumes
    budget for everything hashing after it — replaying that from the
    admitted rows alone would under-count. The sufficient statistic is

    * the admitted rows (``<store>/admitted``), and
    * per source the smallest ``(h, doc_id)`` ever REJECTED
      (``<store>/cut``): once a document crosses the budget, every
      later-hashing document is rejected forever (tokens are
      non-negative, so the running sum is monotone along the hash
      order) — the cut only ever moves EARLIER.

    Merge rule per micro-batch: keep candidates = (store ∪ batch)
    strictly before the cut, re-rank, admit while the running sum
    ≤ budget, and fold newly rejected candidates into the cut. This
    reproduces the batch rule over everything seen — any arrival
    order, any batch split, replay-idempotent — because rejected
    documents before the cut cannot exist (they ARE the cut), so the
    candidate running sums equal the full-history ones.

    State bound: admitted rows carry ≤ ``budget`` tokens per source
    (plus one boundary-straddling row), the cut is one row per source.
    Documents with zero tokens consume no budget, so a stream of empty
    documents grows the admitted set without bound — the same property
    the batch rule has; gate empty docs upstream if that matters.

    Returns the started ``StreamingQuery`` (availableNow trigger).
    """
    keyed = stream.select(
        "doc_id",
        "source",
        F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), r"\s+")),
        )
        .cast("bigint")
        .alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    admitted_path = f"{store_path}/admitted"
    cut_path = f"{store_path}/cut"

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        from pyspark.sql.window import Window as W

        from ..operators.merge import _swap_in, read_store_or_none

        store = read_store_or_none(spark, admitted_path)
        # Deterministic duplicate resolution (round-8 ADVICE): when a
        # doc_id re-arrives with different text/n_toks, the STORED row
        # wins (first-seen semantics — matches replay, where the store
        # row IS the earlier arrival); within one batch the tiebreak is
        # the smallest (source, n_toks). dropDuplicates would keep an
        # arbitrary row and make the admitted set replay-dependent.
        tagged = batch.withColumn("__prio", F.lit(1))
        if store is not None:
            tagged = store.withColumn("__prio", F.lit(0)).unionByName(tagged)
        combined = (
            tagged.groupBy("doc_id")
            .agg(
                F.min(
                    F.struct("__prio", "source", "n_toks", "__h")
                ).alias("__r")
            )
            .select(
                "doc_id",
                F.col("__r.source").alias("source"),
                F.col("__r.n_toks").alias("n_toks"),
                F.col("__r.__h").alias("__h"),
            )
        )
        cuts = read_store_or_none(spark, cut_path)
        if cuts is not None:
            combined = combined.join(
                F.broadcast(cuts), "source", "left"
            ).filter(
                F.col("cut_h").isNull()
                | (F.col("__h") < F.col("cut_h"))
                | ((F.col("__h") == F.col("cut_h")) & (F.col("doc_id") < F.col("cut_doc_id")))
            ).drop("cut_h", "cut_doc_id")
        w = (
            W.partitionBy("source")
            .orderBy("__h", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        ranked = combined.withColumn("__cum", F.sum("n_toks").over(w))
        kept = ranked.filter(F.col("__cum") <= budget).drop("__cum")
        rejected = ranked.filter(F.col("__cum") > budget)
        new_cut = rejected.groupBy("source").agg(
            F.min(F.struct("__h", "doc_id")).alias("__c")
        ).select(
            "source",
            F.col("__c.__h").alias("cut_h"),
            F.col("__c.doc_id").alias("cut_doc_id"),
        )
        if cuts is not None:
            new_cut = (
                cuts.unionByName(new_cut)
                .groupBy("source")
                .agg(F.min(F.struct("cut_h", "cut_doc_id")).alias("__c"))
                .select(
                    "source",
                    F.col("__c.cut_h").alias("cut_h"),
                    F.col("__c.cut_doc_id").alias("cut_doc_id"),
                )
            )
        # materialize BOTH before any swap: new_cut reads the old cut
        # store lazily, and kept reads the old admitted store
        kept = kept.localCheckpoint(eager=True)
        new_cut = new_cut.localCheckpoint(eager=True)
        _swap_in(spark, kept, admitted_path)
        _swap_in(spark, new_cut, cut_path)

    writer = keyed.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def token_budget_from_store(spark, store_path: str) -> DataFrame:
    """Read the streaming admission store back as the batch query's
    aggregate surface (source, n_admitted, tokens_admitted,
    budget_used) — the twin the equivalence tests compare against
    ``token_budget_admission``."""
    from pyspark.sql.window import Window as W

    admitted = spark.read.parquet(f"{store_path}/admitted")
    w = (
        W.partitionBy("source")
        .orderBy("__h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        admitted.withColumn("__cum", F.sum("n_toks").over(w))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_admitted"),
            F.sum("n_toks").cast("bigint").alias("tokens_admitted"),
            F.max("__cum").cast("bigint").alias("budget_used"),
        )
    )


def _split_of(id_col):
    """Split label for a document id — the SAME pure hash rule as
    ``queries/profiling.train_test_split`` (md5-bucket 80/10/10), so a
    stream can classify splits with no lookup state at all. The bucket
    SQL is ``_bucket_sql`` with the digest inlined (the profiling
    helper references a pre-projected ``h`` column)."""
    from ..queries.profiling import TRAIN_PCT, VAL_PCT, _bucket_sql, _hex_val_spark

    digest = f"md5(CAST({id_col} AS STRING))"
    bucket_sql = _bucket_sql(
        lambda col, p: _hex_val_spark(digest, p)
    )
    bucket = F.expr(bucket_sql)
    return (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < VAL_PCT, "val")
        .otherwise("test")
    )


def split_leakage_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming SPLIT-LEAKAGE maintenance: the ingest-time twin of
    ``queries/dedup.split_leakage_report`` (round-8 VERDICT task 6).
    The eval-hygiene question is most valuable as documents arrive —
    "does this incoming doc near-duplicate anything in ANOTHER
    split?" — not as a post-hoc batch audit.

    Composes the ``neardup_ingest_stream`` state model with the
    stateless hashed split rule:

    * ``{store}/docs`` — per-doc MinHash state (signatures + md5
      shingle array), first-wins keyed on doc_id — identical to the
      near-dup ingest store, so one production pipeline maintains it
      once for both jobs;
    * ``{store}/pairs`` — every banded candidate pair ever seen, in
      canonical (least, greatest) orientation, with both documents'
      split labels (a pure md5-bucket function of doc_id — no lookup
      state) and the exact shingle Jaccard; first-wins keyed on the
      pair, so replays converge bit-identically (signatures and splits
      are deterministic).

    Every unordered candidate pair is discovered exactly when its
    LATER document arrives (the earlier one is then in the universe:
    history or an earlier row of the same batch), in ANY arrival
    order — the strict-< orientation of the near-dup ingest would
    miss a new doc pairing with a larger-id historical doc, so the
    band join here matches on ``!=`` and canonicalizes. Re-arriving
    doc_ids keep their first-seen state (same caveat as the near-dup
    ingest).

    ``split_leakage_from_store`` aggregates the pair store to the
    batch report's exact surface; the equivalence, replay, prefix and
    order-invariance contracts are pinned in
    ``tests/test_split_leakage_stream.py``.
    """
    from ..operators.merge import merge_latest_parquet, read_store_or_none
    from ..queries.dedup import minhash_bands, minhash_state

    docs_path = f"{store_path}/docs"
    pairs_path = f"{store_path}/pairs"

    def _process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        st = minhash_state(batch).localCheckpoint(eager=True)
        if st.isEmpty():
            return
        hist = read_store_or_none(spark, docs_path)
        universe = st if hist is None else hist.drop("__batch").unionByName(st)
        universe = universe.dropDuplicates(["doc_id"])
        new_bands = minhash_bands(st).alias("b")
        all_bands = minhash_bands(universe).alias("a")
        cand = (
            all_bands.join(
                new_bands,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("a_id"),
                F.greatest("a.doc_id", "b.doc_id").alias("b_id"),
            )
            .distinct()
        )
        sha = universe.select(
            F.col("doc_id").alias("a_id"), F.col("hset").alias("hs_a")
        )
        shb = universe.select(
            F.col("doc_id").alias("b_id"), F.col("hset").alias("hs_b")
        )
        paired = sha.join(F.broadcast(cand), "a_id")
        both = shb.join(paired.hint("shuffle_hash"), "b_id")
        n_common = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
        pairs = both.select(
            "a_id",
            "b_id",
            _split_of("a_id").alias("sa"),
            _split_of("b_id").alias("sb"),
            (
                n_common
                / (F.size("hs_a") + F.size("hs_b") - n_common)
            ).alias("jaccard"),
            F.lit(batch_id).cast("bigint").alias("__batch"),
        )
        # pairs first, then state (crash between the two replays the
        # batch against a universe missing it → same pairs, first-wins)
        merge_latest_parquet(
            spark,
            pairs_path,
            pairs,
            keys=["a_id", "b_id"],
            order_cols=["__batch"],
        )
        merge_latest_parquet(
            spark,
            docs_path,
            st.withColumn("__batch", F.lit(batch_id).cast("bigint")),
            keys=["doc_id"],
            order_cols=["__batch"],
        )

    writer = stream.writeStream.foreachBatch(_process).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def split_leakage_from_store(spark, store_path: str) -> DataFrame:
    """Aggregate the streaming pair store to the batch
    ``split_leakage_report`` surface (split_a, split_b, is_leak,
    n_pairs, n_pairs_j50) — the twin the equivalence tests compare."""
    pairs = spark.read.parquet(f"{store_path}/pairs")
    return (
        pairs.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            (F.least("sa", "sb") != F.greatest("sa", "sb")).alias("is_leak"),
            "jaccard",
        )
        .groupBy("split_a", "split_b", "is_leak")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs_j50"),
        )
    )


def domain_prefilter_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming fixed point of ``curation.domain_prefilter``'s KEPT
    set: as documents arrive, maintain per (source, content
    fingerprint) the group's WINNER — the smallest ``(md5(doc_id),
    doc_id)`` — so the batch pre-filter's kept rows are derivable from
    the store at any prefix of the stream
    (``domain_prefilter_from_store``).

    The merge is a pure MIN-REDUCE on (source, fp): union the batch
    with the store, take ``min(struct(h, doc_id))`` per group. Min is
    idempotent, commutative, and associative, so the store is
    order-invariant and replay-safe BY CONSTRUCTION — no tiebreak
    columns, no first-wins ordering trick needed (contrast
    ``token_budget_stream``, whose running-sum gate forces a
    rejected-boundary state). An arriving copy that hashes later than
    its group's winner is a no-op; one that hashes earlier evicts it,
    exactly like the batch rule re-run on the grown corpus.

    State is metadata-only (source, fp, h, doc_id — never text),
    one row per distinct content per domain: the same asymptotic
    state the exact-dedup ingest store already keeps. The quota is
    NOT applied inside the state — group winner keys only ever
    decrease, so cutting to the top-``quota`` rows per source would
    discard groups that a future eviction could promote back into
    the sample; the cut belongs at read time. Returns the started
    ``StreamingQuery`` (availableNow trigger).
    """
    keyed = stream.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("__fp"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        from ..operators.merge import _swap_in, read_store_or_none

        store = read_store_or_none(spark, store_path)
        combined = batch if store is None else store.unionByName(batch)
        winners = (
            combined.groupBy("source", "__fp")
            .agg(F.min(F.struct("__h", "doc_id")).alias("__w"))
            .select(
                F.col("__w.doc_id").alias("doc_id"),
                "source",
                "__fp",
                F.col("__w.__h").alias("__h"),
            )
        )
        _swap_in(spark, winners, store_path)

    writer = keyed.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def domain_prefilter_from_store(
    spark, store_path: str, quota: int = 10
) -> DataFrame:
    """Derive the batch ``domain_prefilter`` KEPT rows (doc_id, source,
    sample_rank) from the streaming winner store: rank each source's
    group winners by (h, doc_id) and keep rank ≤ quota — the twin the
    equivalence tests compare against the batch query's
    ``stage = 'kept'`` rows."""
    from pyspark.sql.window import Window as W

    store = spark.read.parquet(store_path)
    w = W.partitionBy("source").orderBy("__h", "doc_id")
    return (
        store.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
        .select("doc_id", "source", F.col("sample_rank").cast("int"))
    )


def domain_token_budget_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of ``curation.domain_token_budget``'s
    sufficient statistic: the per-(source, content-fingerprint) dedup
    WINNER carrying its token count.

    Why the state is the winner store and not the admitted set: the
    batch rule re-apportions every domain's allocation from the
    GLOBAL survivor token mass on each change, so a new batch in
    domain A can shrink domain B's allocation and evict
    previously-admitted B documents — admission is NOT monotone, and
    no rejected-boundary cut (the global token gate's trick in
    ``token_budget_stream``) survives re-apportionment. What is both
    incrementally maintainable and sufficient is the dedup winner set
    with token counts: survivors and their token masses determine the
    apportionment and the admission order exactly, so the full batch
    surface is derivable from the store at any stream prefix
    (``domain_token_budget_from_store`` re-runs the catalog-grain
    apportionment + admission on read, through the batch query's own
    ``token_budget_allocation_surface`` core).

    The merge is a pure MIN-REDUCE on (source, fp):
    ``min(struct(h, doc_id, n_tokens))`` — idempotent, commutative,
    associative, so the store is order- and replay-invariant BY
    CONSTRUCTION, exactly like ``domain_prefilter_stream``'s winner
    store (same state grain: one metadata row per distinct content
    per domain; the token count rides in the struct, and since two
    rows tie on (h, doc_id) only when the same doc_id re-arrives with
    the same fingerprint — hence the same token count — the n_tokens
    field never decides a comparison). Returns the started
    ``StreamingQuery`` (availableNow trigger).
    """
    keyed = stream.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("__fp"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
        F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), r"\s+")),
        )
        .cast("bigint")
        .alias("__nt"),
    )

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        from ..operators.merge import _swap_in, read_store_or_none

        store = read_store_or_none(spark, store_path)
        combined = batch if store is None else store.unionByName(batch)
        winners = (
            combined.groupBy("source", "__fp")
            .agg(F.min(F.struct("__h", "doc_id", "__nt")).alias("__w"))
            .select(
                F.col("__w.doc_id").alias("doc_id"),
                "source",
                "__fp",
                F.col("__w.__h").alias("__h"),
                F.col("__w.__nt").alias("__nt"),
            )
        )
        _swap_in(spark, winners, store_path)

    writer = keyed.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def domain_token_budget_from_store(
    spark, store_path: str, budget: int | None = None
) -> DataFrame:
    """Derive the batch ``domain_token_budget`` surface (source,
    n_surv, surv_tokens, alloc, n_admitted, tokens_admitted) from the
    streaming winner store — the twin the equivalence tests compare.
    Shares ``token_budget_allocation_surface`` with the batch query,
    so apportionment and admission cannot drift."""
    from ..queries.curation import (
        MIX_BUDGET,
        token_budget_allocation_surface,
    )

    surv = spark.read.parquet(store_path).select(
        "doc_id",
        "source",
        F.col("__h").alias("h"),
        F.col("__nt").alias("n_tokens"),
    )
    return token_budget_allocation_surface(
        surv, MIX_BUDGET if budget is None else budget
    )


#: compact the contamination store once its delta appends exceed this
#: many parquet files — bounds reader file counts without rewriting
#: the (monotone, append-only) store on every batch.
CONTAMINATION_COMPACT_FILES = 64


def contamination_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of the ``curation.contamination_matrix``
    state: as documents arrive, keep the distinct set of (source,
    winnowing-fingerprint) pairs seen so far, so the cross-source
    contamination matrix is derivable from the store at any prefix of
    the stream (``contamination_from_store``).

    The merge is a pure SET UNION on (source, fp_hash) — like the
    domain-prefilter winner store's min-reduce, union is idempotent,
    commutative, and associative, so arrival order, batch boundaries,
    and at-least-once replays cannot change the store. State is
    metadata-only (source + 32-hex fingerprint, never text) at
    distinct-fingerprint-per-source grain — the same asymptotic
    footprint the batch query's checkpointed (source, fp) frame has.

    Store I/O is APPEND+COMPACT, not rewrite (round-9 ADVICE): set
    union is monotone, so each batch appends only the pairs not
    already present (anti-join delta) — O(new) written per batch
    instead of rewriting the whole store, with a file-count-triggered
    compaction bounding small-file accumulation. The store stays
    exactly the distinct set at every commit (the delta is disjoint
    from it by construction), so readers never need a dedup pass.
    This is the long-lived-stream pattern; the min-reduce stores keep
    the swap-in rewrite because eviction can REPLACE arbitrary
    existing rows, which append-only cannot express.

    Fingerprinting runs INSIDE ``foreachBatch`` (winnowing needs a
    per-doc ordered window, which Structured Streaming forbids on the
    unbounded stream but is fine on the static micro-batch — each
    document's fingerprints depend only on its own text, so per-batch
    extraction is exact). Returns the started ``StreamingQuery``.
    """

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        from ..operators.merge import _swap_in, read_store_or_none
        from ..queries.text import winnow_fp_set

        fps = (
            winnow_fp_set(batch.select("doc_id", "text"))
            .join(batch.select("doc_id", "source"), "doc_id")
            .select("source", "fp_hash")
            .distinct()
        )
        store = read_store_or_none(spark, store_path)
        if store is None:
            _swap_in(spark, fps, store_path)
            return
        # delta append: only pairs absent from the store; materialize
        # BEFORE appending so the write never reads the files it is
        # adding to
        new_rows = fps.join(
            store, ["source", "fp_hash"], "left_anti"
        ).localCheckpoint(eager=True)
        if new_rows.isEmpty():
            return
        new_rows.coalesce(1).write.mode("append").parquet(store_path)
        import glob as _glob

        if (
            len(_glob.glob(f"{store_path}/*.parquet"))
            > CONTAMINATION_COMPACT_FILES
        ):
            _swap_in(spark, spark.read.parquet(store_path), store_path)

    writer = stream.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def contamination_from_store(spark, store_path: str) -> DataFrame:
    """Derive the batch ``contamination_matrix`` surface (source_a,
    source_b, n_shared_fps, fp_jaccard) from the streaming (source,
    fp_hash) store — the twin the equivalence tests compare."""
    fs = spark.read.parquet(store_path).localCheckpoint(eager=False)
    tot = fs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_fps"))
    a, b = fs.alias("a"), fs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_fps"))
    )
    ta = F.broadcast(
        tot.select(F.col("source").alias("source_a"), F.col("n_fps").alias("na"))
    )
    tb = F.broadcast(
        tot.select(F.col("source").alias("source_b"), F.col("n_fps").alias("nb"))
    )
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_fps",
            (
                F.col("n_shared_fps").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared_fps")).cast(
                    "double"
                )
            ).alias("fp_jaccard"),
        )
    )


#: compact the surprisal bigram store once its delta appends exceed
#: this many parquet files (same posture as the contamination store).
LM_SURPRISAL_COMPACT_FILES = 64


def lm_surprisal_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of ``text.lm_surprisal_filter``'s
    sufficient statistic: per-document bigram TYPE counts
    ``(doc_id, w1, w2, n)`` plus one sentinel row per document
    (``w1/w2 NULL, n 0`` — the every-doc-gets-a-row contract for
    zero-bigram documents).

    Why the state is the bigram store and not per-doc scores: a doc's
    average surprisal depends on the CURRENT corpus model (c1, c12,
    V), and every arriving batch shifts all three globally — no
    previously-computed doc score survives any batch, so there is no
    incrementally-maintainable score store (the same non-monotonicity
    argument as ``domain_token_budget_stream``'s re-apportionment).
    What IS maintainable is the additive sufficient statistic: the
    model aggregates are sums over the per-doc bigram counts, and the
    readout is an n-weighted join against them — so the store holds
    exactly those counts, and ``lm_surprisal_from_store`` re-derives
    the full surface through the batch query's own
    ``lm_surprisal_surface`` core (factored out so the two surfaces
    cannot drift).

    Store I/O is APPEND+COMPACT (the ``contamination_stream``
    pattern): documents are immutable and their bigram counts are a
    pure function of their text, so the store is grow-only keyed by
    doc_id — each batch appends only rows for UNSEEN doc_ids
    (anti-join delta, O(new) written per batch), which also makes
    at-least-once replays idempotent; a file-count-triggered
    compaction bounds small-file accumulation. State grain: one row
    per distinct (doc_id, bigram type) plus one per doc — bounded by
    corpus tokens, never corpus-quadratic. Returns the started
    ``StreamingQuery`` (availableNow trigger).
    """

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        from ..operators.merge import _swap_in, read_store_or_none
        from ..queries.text import doc_bigram_counts

        # winner-dedup within the batch (min-struct, deterministic),
        # then keep only UNSEEN docs — the store is grow-only by doc_id
        docs = (
            batch.groupBy("doc_id")
            .agg(F.min(F.struct("text")).alias("__w"))
            .select("doc_id", F.col("__w.text").alias("text"))
        )
        store = read_store_or_none(spark, store_path)
        if store is not None:
            docs = docs.join(store.select("doc_id"), "doc_id", "left_anti")
        # materialize BEFORE writing so the append never reads the
        # files it is adding to
        docs = docs.localCheckpoint(eager=True)
        if docs.isEmpty():
            return
        rows = doc_bigram_counts(docs).unionByName(
            docs.select(
                "doc_id",
                F.lit(None).cast("string").alias("w1"),
                F.lit(None).cast("string").alias("w2"),
                F.lit(0).cast("bigint").alias("n"),
            )
        )
        if store is None:
            _swap_in(spark, rows, store_path)
            return
        rows.coalesce(1).write.mode("append").parquet(store_path)
        import glob as _glob

        if (
            len(_glob.glob(f"{store_path}/*.parquet"))
            > LM_SURPRISAL_COMPACT_FILES
        ):
            _swap_in(spark, spark.read.parquet(store_path), store_path)

    keyed = stream.select("doc_id", "text")
    writer = keyed.writeStream.foreachBatch(_merge_batch).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def lm_surprisal_from_store(spark, store_path: str) -> DataFrame:
    """Derive the batch ``lm_surprisal_filter`` surface (doc_id,
    n_bigrams, total_bits, avg_bits, is_high/low_surprisal) from the
    streaming bigram store — the twin the equivalence tests compare.
    The model (c1/c12/V) is recomputed from the store's counts through
    the shared ``lm_surprisal_surface`` core, exactly as the batch
    query computes it from its one-pass bigram frame."""
    from ..queries.text import lm_surprisal_surface

    st = spark.read.parquet(store_path).localCheckpoint(eager=False)
    doc_ids = st.filter(F.col("w1").isNull()).select("doc_id")
    dbg = st.filter(F.col("w1").isNotNull())
    return lm_surprisal_surface(doc_ids, dbg)


# ---------------------------------------------------------------------------
# Streaming span-grain trim at ingest (twin of queries/dedup.span_trim_plan).
# ---------------------------------------------------------------------------
SPAN_TRIM_COMPACT_FILES = 64


def span_trim_ingest_stream(
    stream: DataFrame,
    state_dir: str,
    plan_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming span-grain TRIM at ingest: the micro-batch twin of
    ``queries/dedup.span_trim_plan``. When a document arrives, its
    LSH band collisions against the ingested history (strictly
    ``a_id < b_id``, partners already in state plus lower-id docs in
    the same batch) are diagonal-scanned for shared verbatim runs,
    and the arriving doc's disjoint merged removal spans land in
    ``plan_path``. Both cores are the batch query's own
    (``gram_match_runs`` + ``trim_spans_from_runs``, factored for
    exactly this reuse), so the two surfaces cannot drift.

    Why the answers are FINAL at ingest (the honesty bar round-11
    VERDICT task 5 sets): ``span_trim_plan`` assigns every removal
    span to the pair's HIGHER doc_id — so under doc_id-ordered ingest
    a document's full trim plan is computable the moment it arrives
    (all its lower-id partners are already indexed) and no later
    arrival ever revises it. Contrast ``surprisal_span_localization``,
    whose per-doc answer depends on the corpus-global bigram model
    that every batch shifts — no per-doc output is ever final there,
    so a "streaming twin" would be a full recompute per batch and is
    deliberately NOT built (see STATUS round-12).

    State model (what a production trim pipeline genuinely persists):
    ``{state_dir}/docs`` — per-doc MinHash state (signatures +
    md5-shingle array; the band index derives from it per batch),
    first-wins keyed merge like ``neardup_ingest_stream``; and
    ``{state_dir}/grams`` — the positional 3-gram fingerprint store
    ``(doc_id, pos, h)``, grow-only by doc_id with append+compact I/O
    (``lm_surprisal_stream`` pattern: gram rows are a pure function
    of immutable text, each batch appends only unseen docs' rows).
    History TEXT is never re-read — only fingerprints.

    Crash/replay: plan rows first, then gram delta, then doc state —
    every write is keyed first-wins or anti-join-append, and a
    replayed batch recomputes identical spans (candidates against
    state already containing the batch add only self-copies, excluded
    by the strict ``<`` orientation), so at-least-once delivery
    converges to the batch-identical plan.

    At 100 TB: the band index is a bucketed (band, bkey) table and a
    batch touches only colliding buckets; the gram store is
    doc_id-bucketed so the candidate-bounded semi-join prunes to
    matched partners — per-batch cost is O(batch + collisions), never
    O(history).
    """
    from ..operators.merge import (
        _swap_in,
        merge_latest_parquet,
        read_store_or_none,
    )
    from ..queries.dedup import (
        gram_match_runs,
        minhash_bands,
        minhash_state,
        trim_spans_from_runs,
    )
    from ..queries.text import positional_gram_hashes

    def _process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        spark = batch.sparkSession
        # winner-dedup replayed copies inside the batch (text is
        # immutable so min-struct is semantically a no-op)
        docs = (
            batch.groupBy("doc_id")
            .agg(F.min(F.struct("text")).alias("__w"))
            .select("doc_id", F.col("__w.text").alias("text"))
        )
        st = minhash_state(docs).localCheckpoint(eager=True)
        if st.isEmpty():
            return
        hist = read_store_or_none(spark, f"{state_dir}/docs")
        universe = st if hist is None else hist.drop("__batch").unionByName(st)
        universe = universe.dropDuplicates(["doc_id"])
        new_bands = minhash_bands(st).alias("b")
        all_bands = minhash_bands(universe).alias("a")
        cand = (
            all_bands.join(
                new_bands,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("a_id"),
                F.col("b.doc_id").alias("b_id"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # gram store delta: only docs the store has never seen
        gpath = f"{state_dir}/grams"
        gstore = read_store_or_none(spark, gpath)
        gnew = positional_gram_hashes(docs)
        if gstore is not None:
            gnew = gnew.join(
                gstore.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        gnew = gnew.localCheckpoint(eager=True)
        guniv = gnew if gstore is None else gstore.unionByName(gnew)
        if not cand.isEmpty():
            ga = guniv.join(
                F.broadcast(cand.select(F.col("a_id").alias("doc_id"))
                            .distinct()),
                "doc_id",
                "left_semi",
            ).select(
                F.col("doc_id").alias("a_id"),
                F.col("pos").alias("pa"),
                "h",
            )
            gb = guniv.join(
                F.broadcast(cand.select(F.col("b_id").alias("doc_id"))
                            .distinct()),
                "doc_id",
                "left_semi",
            ).select(
                F.col("doc_id").alias("b_id"),
                F.col("pos").alias("pb"),
                "h",
            )
            m = ga.join(F.broadcast(cand), "a_id").join(gb, ["b_id", "h"])
            plan = trim_spans_from_runs(gram_match_runs(m)).withColumn(
                "__batch", F.lit(batch_id).cast("bigint")
            )
            merge_latest_parquet(
                spark,
                plan_path,
                plan,
                keys=["doc_id", "span_start"],
                order_cols=["__batch"],
            )
        if not gnew.isEmpty():
            if gstore is None:
                _swap_in(spark, gnew, gpath)
            else:
                gnew.coalesce(1).write.mode("append").parquet(gpath)
                import glob as _glob

                if (
                    len(_glob.glob(f"{gpath}/*.parquet"))
                    > SPAN_TRIM_COMPACT_FILES
                ):
                    _swap_in(spark, spark.read.parquet(gpath), gpath)
        merge_latest_parquet(
            spark,
            f"{state_dir}/docs",
            st.withColumn("__batch", F.lit(batch_id).cast("bigint")),
            keys=["doc_id"],
            order_cols=["__batch"],
        )

    keyed = stream.select("doc_id", "text")
    writer = keyed.writeStream.foreachBatch(_process).outputMode("append")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def span_trim_from_store(spark, plan_path: str) -> DataFrame:
    """The accumulated trim plan in the batch query's column contract
    (doc_id, span_start, span_end, span_tokens, n_sources) — the frame
    the equivalence tests compare against ``span_trim_plan``."""
    return spark.read.parquet(plan_path).select(
        "doc_id", "span_start", "span_end", "span_tokens", "n_sources"
    )
