"""Structured Streaming operators over the events table (SURVEY.md
§2.9/§7.6 north-star; the reference is batch-only — streaming is the
designed extension, reference cadence cron `0 2 * * *`,
release.yml:69).

Logical operators mirror queries/events_batch.py exactly (tumbling /
session windows, dedup) so the batch oracles validate the semantics;
these versions run incrementally with watermarked state.

Scale design: watermark bounds state; `dropDuplicatesWithinWatermark`
holds only in-horizon keys; `foreachBatch` lands micro-batches into
the incremental-model merge path (Delta MERGE in production), giving
exactly-once end-to-end with checkpointing.
"""

from __future__ import annotations

import contextvars
import os
import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.registry import ensure_session_confs, source_schema, stream_from_path

# State-store parallelism for finite drains.  Stateful streaming plans
# pin their state-store partition count to spark.sql.shuffle.partitions
# of the session the query clones at start() (it freezes into the
# checkpoint layout and AQE never coalesces stateful exchanges), and
# every stateful operator commits one state file per partition per
# micro-batch — at the session's local default of 32 partitions that
# is hundreds of tiny file creates/renames per batch for KB-sized state (the
# events_stream_followups drain spent ~20 s at sf0.01 almost entirely on
# state-store file churn).  A deployment sizes this to its real
# per-batch key volume via the env knob; the default suits the finite
# replay harness (state is KBs).  This is a sizing knob, not a semantics
# change: partition invariance of every drain is pinned by
# tests/test_partition_invariance.py and the batch-replay oracles.
DRAIN_SHUFFLE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"


def drain_shuffle_partitions() -> int:
    try:
        return int(os.environ.get(DRAIN_SHUFFLE_PARTITIONS_ENV, "") or 4)
    except ValueError:
        return 4


_PIN_LOCK = threading.Lock()


@contextmanager
def pinned_drain_parallelism(spark: SparkSession):
    """Scope spark.sql.shuffle.partitions to the drain's state-store
    sizing while a streaming query starts, restoring the session value
    after.  ``start()`` clones the session for the query, so the
    pinned value rides the drain while batch queries planned
    concurrently keep the session's own; the lock keeps concurrent
    drains (engine nodes on a thread pool) from restoring each other's
    pinned value."""
    key = "spark.sql.shuffle.partitions"
    with _PIN_LOCK:
        old = spark.conf.get(key, None)
        spark.conf.set(key, str(drain_shuffle_partitions()))
        try:
            yield
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
    staged_chunks: int | None = None,
    chunk_by: str = "event_id",
    watermark_sentinel: dict[str, object] | None = None,
) -> DataFrame:
    """File-source stream over the events parquet (schema from
    ``source_schema``; nanos ts normalized to TIMESTAMP like the batch path).

    ``staged_chunks=N`` replays the table as N ``chunk_by``-ordered
    single-file micro-batches via
    :func:`streaming.semantic.stage_id_ordered_chunks` (strictly
    increasing mtimes, oldest processed first) — the arriving-feed
    stand-in the streaming registry entries use so the drain exercises
    REAL multi-micro-batch machinery (join/agg state carried across
    batches), not one big batch.  ``chunk_by="ts"`` replays in
    EVENT-TIME order (arrival == event time, so nothing is ever late —
    the shape append-mode session/tumbling drains need), and
    ``watermark_sentinel`` appends the final heartbeat chunk that
    flushes all open windows (see the staging docstring).  Default
    (None) streams the single testdata file as one micro-batch."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = source_schema(spark, path)
    if watermark_sentinel is not None and staged_chunks is None:
        # only the staging harness can append the heartbeat chunk; a
        # caller who asked for the flush must not silently get a drain
        # that holds back every open-tail window
        raise ValueError(
            "watermark_sentinel requires staged_chunks (the sentinel is "
            "a staged replay chunk)"
        )
    if staged_chunks is not None:
        from .semantic import stage_id_ordered_chunks

        path = stage_id_ordered_chunks(
            spark, path, chunk_by, n_chunks=staged_chunks,
            watermark_sentinel=watermark_sentinel,
            # ONLY the ts column is parquet TIMESTAMP(NANOS) read as
            # BIGINT epoch nanos (nanosAsLong) — the opt-in must not
            # blanket other chunk_by columns (a sentinel over a plain
            # integer id must keep raising, not get a nonsense value)
            bigint_time_is_nanos=(chunk_by == "ts"),
        )
    return stream_from_path(
        spark, path, max_files_per_trigger=max_files_per_trigger, schema=raw_schema
    )


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregate (late data beyond the
    watermark is dropped; state evicted per window close)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sessionized(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked session windows per user (state = open sessions
    only; merging sessions collapse in the state store as bridging
    events arrive).  Session aggregations are APPEND-only in Spark — a
    session emits exactly once, when the watermark passes its end — so
    state is bounded by the open-session count and ``watermark`` is
    the out-of-orderness bound a live deployment tunes.  A finite
    replay wanting ALL sessions flushed must advance the final
    watermark past the last real session (the ``watermark_sentinel``
    heartbeat in :func:`read_events_stream`) — in append mode a
    too-wide horizon doesn't mis-emit, it just never emits.

    Output: user_id, session_start (first event), last_ts (last
    event), session_end (last event + gap, the state-eviction
    boundary), n_events, total_value — the batch ``events_sessionized``
    columns plus the eviction boundary."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            "session_start",
            "last_ts",
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    the streaming face of the batch exact-dedup operator."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def dedup_stream_against_index(
    stream: DataFrame,
    index: DataFrame,
    key_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    broadcast_index: bool = True,
) -> DataFrame:
    """Streaming INCREMENTAL dedup: drop events whose key already sits
    in the STORED corpus index, plus within-stream repeats inside the
    watermark horizon — the streaming face of
    ``dedup.exact_dedup_incremental``, i.e. the daily-crawl ingest path
    when the crawl arrives as a stream instead of a batch.

    The static side is a stream-static left-anti join: re-evaluated per
    micro-batch (an index a concurrent writer appends to is picked up
    between batches), broadcast so each micro-batch pays no shuffle.
    At 100 TB the index is the ~3%-sized digest table, not the corpus;
    when even that outgrows executor memory, pass
    ``broadcast_index=False`` and store the index bucketed by the key
    so the planner picks the bucketed probe instead of an OOM-bound
    forced broadcast.  Within-stream repeats are bounded by the same
    watermarked state store ``dedup_stream`` uses; ``ts_col`` names
    the stream's event-time column the watermark rides on.
    """
    idx = index.select(key_col)
    if broadcast_index:
        idx = F.broadcast(idx)
    fresh = stream.join(idx, key_col, "left_anti")
    return fresh.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )


def user_running_totals_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running totals carried in explicit group state across micro-batches
    — the escape hatch for stateful logic the built-in windowed
    aggregates can't express (cross-batch accumulators, custom
    eviction, per-key FSMs).

    State per user = (event count, value sum, max ts seen); each
    micro-batch emits the updated totals for users present in the
    batch (update semantics).  Batches arrive as Arrow-backed pandas
    frames, so the per-key work is vectorized.

    Scale design: state lives in the state store partitioned by
    user_id (RocksDB-backed in production); only keys present in a
    batch are touched, and a production variant sets a TTL via
    ``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.remove()``
    to bound state for churning key spaces.

    Output: user_id, n_events, total_value, last_ts.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, total_value double, last_ts timestamp"
    )
    state_schema = "n bigint, total double, last_us bigint"

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                batch_max_us = int(pdf["ts"].max().value // 1000)
                last_us = max(last_us, batch_max_us)
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_followups(
    stream: DataFrame,
    follow_type: str = "click",
    lead_type: str = "view",
    within: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Stream-stream interval join: pair each ``lead_type`` event with
    the same user's ``follow_type`` events arriving within ``within``
    after it (funnel/attribution shape).

    Both sides carry watermarks and the join condition bounds the event
    times, so Spark can size the join state and evict expired rows —
    the two requirements for unbounded stream-stream joins.  At scale
    state is partitioned by user_id in the state store.

    ``watermark`` is the LATENESS horizon (state-eviction bound) and
    defaults to ``within``.  A live deployment tunes it to its real
    out-of-orderness; a FINITE-replay caller whose micro-batch
    boundaries are an id-order accident (arrival order uncorrelated
    with event time) must pass a horizon wider than the table's time
    span so no genuinely-matching pair is evicted as "late" — the same
    replay-determinism rule ``dedup_stream_against_index`` documents.

    Output: user_id, lead_id, follow_id, lead_ts, follow_ts.
    """
    horizon = watermark or within
    lead = (
        stream.filter(F.col("event_type") == lead_type)
        .withWatermark("ts", horizon)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("lead_id"),
            F.col("ts").alias("lead_ts"),
        )
    )
    follow = (
        stream.filter(F.col("event_type") == follow_type)
        .withWatermark("ts", horizon)
        .select(
            F.col("user_id").alias("f_user"),
            F.col("event_id").alias("follow_id"),
            F.col("ts").alias("follow_ts"),
        )
    )
    return lead.join(
        follow,
        (F.col("l_user") == F.col("f_user"))
        & (F.col("follow_ts") > F.col("lead_ts"))
        & (F.col("follow_ts") <= F.col("lead_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l_user").alias("user_id"),
        "lead_id",
        "follow_id",
        "lead_ts",
        "follow_ts",
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes to each event as it arrives.

    The static side is re-evaluated per micro-batch (so a dim refresh
    between batches is picked up) and needs no watermark or join
    state — Spark broadcasts it into each batch like a normal batch
    join.  This is the streaming analog of the star-join dims in
    q5/q8: keep the dim small/broadcastable; a huge static side makes
    every micro-batch pay a shuffle.
    """
    return stream.join(F.broadcast(dim), on, how)


def run_available_now(
    df: DataFrame,
    query_name: str | None = None,
    output_mode: str = "append",
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Drain the stream with trigger ``availableNow`` and return the
    finished StreamingQuery — the one drain every streaming consumer
    runs through.

    Without ``foreach_batch`` the rows land in a memory sink (results:
    ``spark.table(query_name)``).  With it, each micro-batch is handed
    to ``foreach_batch(batch, batch_id)``, run in a copy of the
    ``contextvars`` context captured here: Spark calls the body on its
    streaming thread, and the copy carries the caller's strict-fence
    arming and telemetry collector there, so a micro-batch is fenced
    and reported like the caller's own code.  ``checkpoint`` sets the
    query's checkpointLocation.  The query starts under
    :func:`pinned_drain_parallelism`."""
    writer = df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if foreach_batch is None:
        writer = writer.format("memory").queryName(query_name)
    else:
        ctx = contextvars.copy_context()
        writer = writer.foreachBatch(
            lambda batch, batch_id: ctx.copy().run(foreach_batch, batch, batch_id)
        )
    with pinned_drain_parallelism(df.sparkSession):
        q = writer.start()
    q.awaitTermination()
    return q
