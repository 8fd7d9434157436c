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

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import ensure_session_confs, load_table

# State-store parallelism for finite drains (r12 verdict "r13 rotation
# item"; SCALE.md "r13 candidate").  Stateful streaming plans pin their
# state-store partition count to spark.sql.shuffle.partitions at the
# query's FIRST micro-batch (it freezes into the checkpoint layout and
# AQE never coalesces stateful exchanges), and every stateful operator
# commits one state file per partition per micro-batch — at the
# session's local default of 32 partitions that is hundreds of tiny
# file creates/renames per batch for KB-sized state (the
# events_stream_followups drain spent ~20 s at sf0.01 almost entirely
# on state-store file churn).  A deployment sizes this to its real
# per-batch key volume via the env knob; the default suits the finite
# replay harness (state is KBs).  This is a sizing knob, not a
# semantics change: partition invariance of every drain is pinned by
# tests/test_partition_invariance.py and the batch-replay oracles.
DRAIN_SHUFFLE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS"


def drain_shuffle_partitions() -> int:
    try:
        return int(os.environ.get(DRAIN_SHUFFLE_PARTITIONS_ENV, "") or 4)
    except ValueError:
        return 4


@contextmanager
def pinned_drain_parallelism(spark: SparkSession):
    """Scope spark.sql.shuffle.partitions to the drain's state-store
    sizing for the duration of a finite drain, restoring the session
    value after.  Drains run synchronously on the calling thread
    (``awaitTermination`` inside the scope), so the override cannot
    leak into a concurrently planned batch query of the same caller."""
    key = "spark.sql.shuffle.partitions"
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
    """File-source stream over the events parquet (schema from a batch
    probe; nanos ts normalized to TIMESTAMP like the batch path).

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
    import hashlib
    import os
    import tempfile

    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(path).schema
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
    elif os.path.isfile(path):
        # file-stream sources need a directory (in production the table
        # IS a directory of arriving files); expose the single testdata
        # file through a symlinked dir
        d = os.path.join(
            tempfile.gettempdir(),
            f"events_stream_{hashlib.md5(path.encode()).hexdigest()[:8]}",
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


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


def run_available_now(df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drain the stream with availableNow into a memory sink; returns the
    finished StreamingQuery (results: spark.table(query_name)).  The
    drain runs under :func:`pinned_drain_parallelism` — the state-store
    partition count freezes at the first micro-batch, so it must be
    sized for the drain's state volume, not the session's batch
    parallelism."""
    with pinned_drain_parallelism(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def stream_into_incremental(
    stream: DataFrame,
    spark: SparkSession,
    target_fqn: str,
    key_cols: list[str],
    checkpoint_dir: str,
    write_relation,
    config: dict | None = None,
    read_relation=None,
):
    """foreachBatch → incremental-merge sink (the streaming version of
    the `incremental` materialization).

    ``write_relation(df, fqn, cfg)`` owns the sink; callers must make
    it overwrite-safe for a plan that reads the target (stage-and-swap
    or versioned-pointer write — Spark refuses a direct overwrite of
    its own input).  ``read_relation(fqn)`` defaults to the catalog
    read; pass a path-based reader for partitioned targets (the
    CatalogFileIndex lists partitions at execution time — see
    ParquetFormat.read_for_merge).  ``config`` flows through to the
    writer, so an Engine-backed writer with ``partition_by`` rewrites
    only the batch's partitions.  At scale: each micro-batch is small
    by construction, so the anti-join's left side prunes to the
    touched partitions and everything else is Delta ``MERGE INTO`` in
    production.
    """
    cfg = dict(config or {})
    read = read_relation or spark.table

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if not spark.catalog.tableExists(target_fqn):
            write_relation(batch, target_fqn, cfg)
            return
        existing = read(target_fqn)
        keys = batch.select(*key_cols).distinct()
        kept = existing.join(keys, key_cols, "left_anti")
        write_relation(
            kept.unionByName(batch, allowMissingColumns=True),
            target_fqn,
            cfg,
        )

    with pinned_drain_parallelism(spark):
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q
