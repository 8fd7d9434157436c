"""Structured Streaming operators: semantics validated against the
batch equivalents (which themselves are oracle-checked)."""

import pytest

from dbt_core_gcloud_template_spark.streaming import events as se


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return se.read_events_stream(spark, sf_dir)


def test_tumbling_counts_match_batch(spark, sf_dir, stream):
    se.run_available_now(se.tumbling_counts(stream), "t_tumbling", "append")
    got = spark.table("t_tumbling")
    from dbt_core_gcloud_template_spark.queries.events_batch import events_tumbling_1h

    batch = events_tumbling_1h(spark, sf_dir).drop("n_users")
    # watermark: closed windows only — every emitted row must match batch
    merged = got.join(
        batch.withColumnRenamed("n_events", "b_n").withColumnRenamed(
            "total_value", "b_v"
        ),
        ["window_start", "event_type"],
        "left",
    )
    rows = merged.collect()
    assert len(rows) > 0
    assert all(r["n_events"] == r["b_n"] and r["total_value"] == r["b_v"] for r in rows)


def test_streaming_dedup(spark, stream):
    se.run_available_now(se.dedup_stream(stream), "t_dedup", "append")
    got = spark.table("t_dedup")
    assert got.count() == got.select("event_id").distinct().count()


def test_streaming_dedup_against_index(spark, sf_dir, stream):
    """Stream-static incremental dedup: event ids already in the stored
    index never reach the sink, survivors are exactly the distinct
    non-indexed ids — semantics match exact_dedup_incremental with the
    stream playing the daily batch."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    index = ev.filter(F.col("event_id") % 3 == 0).select("event_id").distinct()
    se.run_available_now(
        se.dedup_stream_against_index(stream, index), "t_dedup_inc", "append"
    )
    got = spark.table("t_dedup_inc")
    assert got.count() == got.select("event_id").distinct().count()
    assert got.filter(F.col("event_id") % 3 == 0).count() == 0
    want = ev.filter(F.col("event_id") % 3 != 0).select("event_id").distinct()
    assert got.count() == want.count()


def test_streaming_dedup_against_index_custom_ts_col(spark, sf_dir, stream):
    """The event-time column is a parameter, not a hardcoded 'ts' — a
    stream with a renamed timestamp plans and produces the same
    survivor set."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    index = ev.filter(F.col("event_id") % 3 == 0).select("event_id").distinct()
    renamed = stream.withColumnRenamed("ts", "event_time")
    se.run_available_now(
        se.dedup_stream_against_index(renamed, index, ts_col="event_time"),
        "t_dedup_inc_ts",
        "append",
    )
    got = spark.table("t_dedup_inc_ts")
    want = ev.filter(F.col("event_id") % 3 != 0).select("event_id").distinct()
    assert got.count() == want.count()


def test_sessionized_stream_runs(spark, stream):
    se.run_available_now(se.sessionized(stream), "t_sess", "append")
    got = spark.table("t_sess")
    assert got.count() > 0
    assert {"session_start", "session_end", "user_id", "n_events"} <= set(got.columns)


def test_stream_sessions_match_batch_any_chunking(spark, sf_dir):
    """The sentinel-flushed append drain equals the batch session
    aggregate, and the equality is micro-batch-boundary-independent
    (5-chunk replay == 3-chunk registry entry == batch)."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.queries.events_batch import (
        events_sessionized,
        events_stream_sessions,
    )

    batch = events_sessionized(spark, sf_dir)
    got = events_stream_sessions(spark, sf_dir)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0

    stream = se.read_events_stream(
        spark, sf_dir, staged_chunks=5, chunk_by="ts",
        watermark_sentinel={"event_id": -1, "user_id": -1},
    )
    se.run_available_now(
        se.sessionized(stream, watermark="1 minute"), "t_sess5", "append"
    )
    got5 = (
        spark.table("t_sess5")
        .filter(~F.col("user_id").eqNullSafe(-1))
        .select(
            "user_id", "session_start", "last_ts", "n_events", "total_value"
        )
    )
    assert got5.exceptAll(batch).count() == 0
    assert batch.exceptAll(got5).count() == 0


def test_stream_sessions_without_sentinel_hold_back_open_tail(spark, sf_dir):
    """The negative test documenting WHY the sentinel exists: an
    append-mode session drain without the heartbeat emits only
    watermark-closed sessions — a strict subset of the batch result
    (the session containing max(ts) is still open at drain end)."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.queries.events_batch import (
        events_sessionized,
    )

    stream = se.read_events_stream(spark, sf_dir, staged_chunks=3, chunk_by="ts")
    se.run_available_now(
        se.sessionized(stream, watermark="1 minute"), "t_sess_nosent", "append"
    )
    got = spark.table("t_sess_nosent").select(
        "user_id", "session_start", "last_ts", "n_events", "total_value"
    )
    batch = events_sessionized(spark, sf_dir)
    assert got.exceptAll(batch).count() == 0  # subset: nothing mis-emitted
    assert got.count() < batch.count()  # strict: the open tail held back


def test_stage_sentinel_chunk_shape(spark, sf_dir):
    """The sentinel chunk is one row: marker overrides applied, time
    column 3650 days past max(ts), everything else NULL; and it is the
    LAST file the stream will pick up (newest mtime)."""
    import os

    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.streaming.semantic import (
        stage_id_ordered_chunks,
    )

    path = os.path.join(sf_dir, "events.parquet")
    d = stage_id_ordered_chunks(
        spark, path, "ts", n_chunks=2,
        watermark_sentinel={"event_id": -1, "user_id": -1},
        bigint_time_is_nanos=True,
    )
    files = sorted(os.listdir(d))
    sent_files = [f for f in files if "sentinel" in f]
    assert len(sent_files) == 1
    sent_path = os.path.join(d, sent_files[0])
    assert os.stat(sent_path).st_mtime == max(
        os.stat(os.path.join(d, f)).st_mtime for f in files
    )
    sent = spark.read.parquet(sent_path).collect()
    assert len(sent) == 1
    row = sent[0].asDict()
    assert row["event_id"] == -1 and row["user_id"] == -1
    assert row["event_type"] is None and row["value"] is None
    max_ts = spark.read.parquet(path).agg(F.max("ts")).first()[0]
    got_ts = row["ts"]
    if hasattr(got_ts, "timestamp"):  # timestamp column
        delta_days = (got_ts - max_ts).total_seconds() / 86400
    else:  # epoch-nanos bigint (nanosAsLong)
        delta_days = (got_ts - max_ts) / (86400 * 10**9)
    assert round(delta_days) == 3650
    # replayed rows across all chunks = the table exactly (no loss, no
    # duplication at quantile boundaries) plus the one sentinel
    n_all = spark.read.parquet(d).count()
    n_src = spark.read.parquet(path).count()
    assert n_all == n_src + 1


def test_stateful_running_totals_match_batch(spark, sf_dir, stream):
    from pyspark.sql import functions as F

    se.run_available_now(
        se.user_running_totals_stateful(stream), "t_state", "update"
    )
    got = spark.table("t_state")
    # with availableNow over the single testdata file the final emitted
    # totals per user must equal the batch aggregate
    from dbt_core_gcloud_template_spark.sources.registry import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("b_n"),
            F.round(F.sum("value"), 2).alias("b_v"),
            F.max("ts").alias("b_ts"),
        )
    )
    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("last_ts").alias("last_ts"),
    )
    merged = final.join(batch, "user_id").collect()
    assert len(merged) > 0
    assert all(r["n_events"] == r["b_n"] and r["last_ts"] == r["b_ts"] for r in merged)


def _streaming_project(spark, tmp_path, sf_dir, schema, model_sql):
    """A one-model project whose ``streaming_table`` reads a feed
    directory holding a copy of the events parquet; returns the engine
    and the feed directory."""
    import shutil

    from dbt_core_gcloud_template_spark.plans.runner import Engine

    src_dir = tmp_path / "feed"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-000.parquet")
    root = tmp_path / "stproj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text("name: st\nprofile: st\n")
    (root / "profiles.yml").write_text(
        "st:\n  target: dev\n  outputs:\n    dev:\n"
        f"      schema: {schema}\n      threads: 2\n"
    )
    (root / "models" / "src.yml").write_text(
        "sources:\n  - name: feed\n    schema: raw_feed\n    tables:\n"
        "      - name: events\n        external:\n"
        f"          location: {src_dir}\n"
        "          format: parquet\n"
    )
    (root / "models" / "live_events.sql").write_text(model_sql)
    eng = Engine(spark, str(root), state_dir=str(tmp_path / "ststate"))
    return eng, src_dir


def _build_ok(eng):
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message) for r in results.results
    ]


def _deliver_upserts(tmp_path, src_dir, batch):
    """Drop one new file into the feed: 10 brand-new event_ids and 5
    existing ones re-delivered with value 999.0."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    new_rows = (
        batch.limit(15)
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
        .limit(10)
        .unionByName(batch.limit(5).withColumn("value", F.lit(999.0)))
    )
    new_rows.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    staged = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
    shutil.copy(staged, src_dir / "part-001.parquet")


def test_foreach_batch_incremental(spark, sf_dir, tmp_path):
    """An aggregated ``streaming_table`` (update-mode micro-batches)
    keyed on the window key lands one row per (window, event_type),
    matching the batch aggregate."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    eng, _ = _streaming_project(
        spark, tmp_path, sf_dir, "stream_t",
        "{{ config(materialized='streaming_table', aggregated=true,"
        " unique_key=['ws', 'event_type']) }}\n"
        "select window(ts, '1 hour').start as ws, event_type,"
        " count(*) as n_events\n"
        "from {{ source('feed', 'events') }}\n"
        "group by window(ts, '1 hour'), event_type",
    )
    _build_ok(eng)
    got = spark.table("stream_t.live_events")
    assert got.count() > 0
    batch = load_table(spark, sf_dir, "events").groupBy(
        F.window("ts", "1 hour").start.alias("ws"), "event_type"
    ).count()
    assert got.count() == batch.count()
    assert got.agg(F.sum("n_events")).first()[0] == batch.agg(F.sum("count")).first()[0]


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, stream):
    from pyspark.sql import functions as F

    se.run_available_now(
        se.stream_stream_followups(stream), "t_ssj", "append"
    )
    got = spark.table("t_ssj")
    # batch equivalent of the interval join on the same data
    from dbt_core_gcloud_template_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "events")
    lead = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("lead_id"),
        F.col("ts").alias("lead_ts"),
    )
    follow = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("f_user"),
        F.col("event_id").alias("follow_id"),
        F.col("ts").alias("follow_ts"),
    )
    batch = lead.join(
        follow,
        (F.col("l_user") == F.col("f_user"))
        & (F.col("follow_ts") > F.col("lead_ts"))
        & (F.col("follow_ts") <= F.col("lead_ts") + F.expr("INTERVAL 30 minutes")),
    )
    assert got.count() > 0
    assert got.count() == batch.count()


def test_stream_followups_multibatch_matches_batch(spark, sf_dir):
    """The events_stream_followups registry shape: three id-ordered
    micro-batches through the stream-stream interval join with a
    replay-wide lateness horizon.  Arrival order (by event_id) is
    uncorrelated with event time, so pairs straddle micro-batch
    boundaries — the drained pair set must STILL equal the batch
    self-join (cross-batch join state), and the drain really was
    micro-batched."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    stream3 = se.read_events_stream(spark, sf_dir, staged_chunks=3)
    q = se.run_available_now(
        se.stream_stream_followups(stream3, watermark="3650 days"),
        "t_ssj_mb",
        "append",
    )
    got = sorted(
        map(
            tuple,
            spark.table("t_ssj_mb")
            .select("user_id", "lead_id", "follow_id")
            .collect(),
        )
    )
    e = load_table(spark, sf_dir, "events")
    lead = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("lead_id"),
        F.col("ts").alias("lead_ts"),
    )
    follow = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("f_user"),
        F.col("event_id").alias("follow_id"),
        F.col("ts").alias("follow_ts"),
    )
    want = sorted(
        map(
            tuple,
            lead.join(
                follow,
                (F.col("l_user") == F.col("f_user"))
                & (F.col("follow_ts") > F.col("lead_ts"))
                & (
                    F.col("follow_ts")
                    <= F.col("lead_ts") + F.expr("INTERVAL 30 minutes")
                ),
            )
            .select(
                F.col("l_user").alias("user_id"), "lead_id", "follow_id"
            )
            .collect(),
        )
    )
    assert got == want and got
    # >= 3 triggers: one per staged chunk (plus possibly a finalization
    # batch) — proves cross-batch join state was exercised
    assert len(q.recentProgress) >= 3


def test_stream_enriched_complete_mode_matches_batch(spark, sf_dir):
    """The events_stream_enriched registry shape: stream-static
    broadcast enrichment + unwindowed complete-mode aggregate over the
    three-chunk replay — the final emitted per-segment totals equal the
    batch join+group."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream3 = se.read_events_stream(spark, sf_dir, staged_chunks=3)
    agg = (
        se.enrich_with_dim(stream3, dim, on="user_id", how="inner")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )
    se.run_available_now(agg, "t_enr_mb", "complete")
    got = sorted(map(tuple, spark.table("t_enr_mb").collect()))
    want = sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .join(F.broadcast(dim), "user_id", "inner")
            .groupBy("segment")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
                .cast("double")
                .alias("total_value"),
            )
            .collect(),
        )
    )
    assert got == want and got


def test_stream_static_enrichment(spark, sf_dir, stream):
    """Stream-static join: every event picks up its user's dim
    attributes; result matches the equivalent batch join."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.sources.registry import load_table

    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    se.run_available_now(
        se.enrich_with_dim(stream, dim).select("event_id", "user_id", "c_mktsegment"),
        "t_enriched",
        "append",
    )
    got = spark.table("t_enriched")
    batch = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id")
        .join(dim, "user_id", "left")
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch.select("event_id", "user_id", "c_mktsegment")).count() == 0


def test_streaming_table_materialization(spark, sf_dir, tmp_path):
    """materialized='streaming_table': first build drains the source
    via Structured Streaming; adding a file to the source dir and
    rebuilding processes ONLY the new file (stream checkpoint), merged
    on unique_key."""
    from dbt_core_gcloud_template_spark.sources.registry import load_table

    eng, src_dir = _streaming_project(
        spark, tmp_path, sf_dir, "eng_stream",
        "{{ config(materialized='streaming_table', unique_key='event_id') }}\n"
        "select event_id, ts, user_id, event_type, value\n"
        "from {{ source('feed', 'events') }}\nwhere event_type != 'error'",
    )
    _build_ok(eng)
    batch = load_table(spark, sf_dir, "events").filter("event_type != 'error'")
    n1 = spark.table("eng_stream.live_events").count()
    assert n1 == batch.count()

    # second build with no new files: zero new rows, no reprocessing
    eng.build()
    assert spark.table("eng_stream.live_events").count() == n1

    # new file: 10 brand-new event_ids + 5 overlapping (merge upserts)
    _deliver_upserts(tmp_path, src_dir, batch)
    eng.build()
    out = spark.table("eng_stream.live_events")
    assert out.count() == n1 + 10  # 10 new ids; 5 upserts replaced in place
    assert out.filter("value = 999.0").count() == 5


def test_streaming_table_partitioned_merge_keeps_history(spark, sf_dir, tmp_path):
    """A partitioned ``streaming_table`` merges a micro-batch through
    the incremental path (path read of the target, partition-scoped
    rewrite): the upsert delivery and a later rebuild both succeed and
    keep every earlier row."""
    from dbt_core_gcloud_template_spark.sources.registry import load_table

    eng, src_dir = _streaming_project(
        spark, tmp_path, sf_dir, "eng_stream_part",
        "{{ config(materialized='streaming_table', partition_by='event_type',"
        " unique_key='event_id') }}\n"
        "select event_id, ts, user_id, event_type, value\n"
        "from {{ source('feed', 'events') }}",
    )
    _build_ok(eng)
    batch = load_table(spark, sf_dir, "events")
    n1 = spark.table("eng_stream_part.live_events").count()
    assert n1 == batch.count()

    _deliver_upserts(tmp_path, src_dir, batch)
    _build_ok(eng)
    _build_ok(eng)
    out = spark.table("eng_stream_part.live_events")
    assert out.count() == n1 + 10
    assert out.filter("value = 999.0").count() == 5


def test_stream_semdedup_matches_batch(spark, sf_dir, tmp_path):
    """The streaming semantic tier (foreachBatch -> semdedup_incremental
    with a per-batch index fold, under a PINNED codebook): draining
    three id-ordered micro-batches reproduces the one-shot batch
    semdedup verdict-for-verdict — the replay invariant that lets the
    batch oracle gate the streaming machinery — and the drain really
    was micro-batched (one committed offset per chunk), not one big
    batch."""
    import os

    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators.similarity import semdedup
    from dbt_core_gcloud_template_spark.sources.registry import load_table
    from dbt_core_gcloud_template_spark.streaming.semantic import (
        semdedup_stream_into_index,
        stage_id_ordered_chunks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    chunk_dir = stage_id_ordered_chunks(
        spark, f"{sf_dir}/embeddings.parquet", "vec_id", n_chunks=3
    )
    chunks = sorted(
        f for f in os.listdir(chunk_dir) if f.startswith("chunk_")
    )
    assert len(chunks) == 3
    # chunks are id-ordered AND mtime-ordered (the file source replays
    # oldest first — arrival order == ingest order)
    maxes = [
        spark.read.parquet(os.path.join(chunk_dir, c))
        .agg(F.max("vec_id")).first()[0]
        for c in chunks
    ]
    assert maxes == sorted(maxes)
    mtimes = [os.path.getmtime(os.path.join(chunk_dir, c)) for c in chunks]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3

    stream = (
        spark.readStream.schema(spark.read.parquet(chunk_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    state = str(tmp_path / "sem_stream_state")
    out = semdedup_stream_into_index(
        stream, spark, "vec_id", "embedding", state,
        centroids=cents, n_lists=8, threshold=0.4,
    )
    got = sorted(
        map(tuple, out.select(
            "vec_id", "list_id", "canonical_id", "is_duplicate"
        ).collect())
    )
    want = sorted(
        map(tuple, semdedup(
            emb, "vec_id", "embedding", n_lists=8, threshold=0.4,
            centroids=cents,
        ).select(
            "vec_id", "list_id", "canonical_id", "is_duplicate"
        ).collect())
    )
    assert got == want and got
    offsets = [
        o for o in os.listdir(os.path.join(state, "checkpoint", "offsets"))
        if not o.startswith(".")
    ]
    assert len(offsets) >= 3


def test_watermark_drops_late_rows_and_evicts_state(spark, tmp_path):
    """The FINITE-watermark semantics every registry gate deliberately
    avoids (their replay horizons exceed the table span so the drained
    set is chunk-boundary-independent): with a real 10-minute
    watermark, a row arriving in a batch AFTER its tumbling window was
    emitted is DROPPED (numRowsDroppedByWatermark counts it), the
    emitted count excludes it, and the closed window is never
    re-emitted (state evicted; append mode emits each window at most
    once).  Timing nuance this test pins: a late row landing in the
    SAME batch where its window closes still counts — the drop only
    applies once the state is gone — which is why the late row here
    arrives one batch after the closure."""
    import os
    import time

    from dbt_core_gcloud_template_spark.streaming.events import (
        run_available_now,
        tumbling_counts,
    )

    d = tmp_path / "feed"
    d.mkdir()

    def chunk(name, rows, mtime):
        p = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, event_type string, value double"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        src = next(
            f for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = str(d / f"{name}.parquet")
        os.replace(os.path.join(p, src), dst)
        os.utime(dst, (mtime, mtime))

    from datetime import datetime as dt

    t0 = time.time() - 3600
    # batch 0: two rows in the 00:00 window + one at 02:30 that pushes
    # the watermark (computed at batch end) to 02:20
    chunk("c0", [
        (1, dt(2024, 1, 1, 0, 10), "view", 1.0),
        (2, dt(2024, 1, 1, 0, 20), "view", 1.0),
        (3, dt(2024, 1, 1, 2, 30), "view", 1.0),
    ], t0)
    # batch 1: a fresh row at 03:30; the 00:00 window (end 01:00 <
    # watermark 02:20) emits n=2 and its state evicts; watermark
    # advances to 03:20
    chunk("c1", [(5, dt(2024, 1, 1, 3, 30), "view", 1.0)], t0 + 60)
    # batch 2: a VERY late row for the already-emitted 00:00 window —
    # dropped by the watermark, never re-opens the window
    chunk("c2", [(4, dt(2024, 1, 1, 0, 15), "view", 1.0)], t0 + 120)

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    agg = tumbling_counts(stream, watermark="10 minutes")
    q = run_available_now(agg, "wm_eviction_mem", output_mode="append")
    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.table("wm_eviction_mem").collect()
    }
    # 00:00 emitted once with the two ON-TIME rows only (the late
    # event_id=4 was dropped); 02:00 emitted with one row; the 03:00
    # window never closes and never emits
    assert got == {0: 2, 2: 1}
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # exactly the late row, counted by the engine


def test_stage_chunks_cache_and_null_ids(spark, tmp_path):
    """The replay-staging harness contracts: (a) NULL-id rows land in
    the first chunk instead of being silently dropped by the boundary
    filters; (b) the cache key tracks source content — regenerating
    the file at the SAME path stages fresh chunks; (c) a published
    cache dir is complete (chunk count matches) and reused."""
    import os
    import shutil

    from dbt_core_gcloud_template_spark.streaming.semantic import (
        stage_id_ordered_chunks,
    )

    src = str(tmp_path / "feed.parquet")
    spark.createDataFrame(
        [(None, "x")] + [(i, f"v{i}") for i in range(1, 31)],
        "event_id bigint, payload string",
    ).coalesce(1).write.mode("overwrite").parquet(src)

    d1 = stage_id_ordered_chunks(spark, src, "event_id", n_chunks=3)
    try:
        chunks = sorted(
            f for f in os.listdir(d1) if f.startswith("chunk_")
        )
        assert len(chunks) == 3
        total = sum(
            spark.read.parquet(os.path.join(d1, c)).count()
            for c in chunks
        )
        assert total == 31  # the NULL-id row was not lost
        first = spark.read.parquet(os.path.join(d1, chunks[0]))
        assert first.filter("event_id IS NULL").count() == 1

        # reuse: same source, same params -> same cache dir
        assert stage_id_ordered_chunks(
            spark, src, "event_id", n_chunks=3
        ) == d1

        # regenerate the source at the same path -> different cache
        spark.createDataFrame(
            [(i, f"w{i}") for i in range(1, 61)],
            "event_id bigint, payload string",
        ).coalesce(1).write.mode("overwrite").parquet(src)
        d2 = stage_id_ordered_chunks(spark, src, "event_id", n_chunks=3)
        try:
            assert d2 != d1
            total2 = sum(
                spark.read.parquet(os.path.join(d2, c)).count()
                for c in os.listdir(d2) if c.startswith("chunk_")
            )
            assert total2 == 60
        finally:
            shutil.rmtree(d2, ignore_errors=True)
    finally:
        shutil.rmtree(d1, ignore_errors=True)


def test_stage_sentinel_guards(spark, tmp_path):
    """Sentinel-staging guards (r10 advice): (a) a plain integer chunk
    column without the explicit nanos opt-in raises instead of
    producing a nonsense sentinel value; (b) a marker value that a
    REAL source row carries raises at staging time instead of the
    caller's defensive filter silently dropping that row while the
    batch oracle keeps it."""
    import shutil

    import pytest

    from dbt_core_gcloud_template_spark.streaming.semantic import (
        stage_id_ordered_chunks,
    )

    src = str(tmp_path / "feed.parquet")
    spark.createDataFrame(
        [(i, i * 10) for i in range(1, 31)],
        "event_id bigint, user_id bigint",
    ).coalesce(1).write.mode("overwrite").parquet(src)

    with pytest.raises(ValueError, match="bigint_time_is_nanos"):
        stage_id_ordered_chunks(
            spark, src, "event_id", n_chunks=2,
            watermark_sentinel={"user_id": -1},
        )
    # marker value present in the source: user_id 10 is a real row
    with pytest.raises(ValueError, match="marker value"):
        stage_id_ordered_chunks(
            spark, src, "event_id", n_chunks=2,
            watermark_sentinel={"user_id": 10},
            bigint_time_is_nanos=True,
        )
    # marker naming a column the table lacks: a clear error, not a
    # KeyError from the guard internals
    with pytest.raises(ValueError, match="not in the table"):
        stage_id_ordered_chunks(
            spark, src, "event_id", n_chunks=2,
            watermark_sentinel={"user": -1},
            bigint_time_is_nanos=True,
        )
    # marker that cannot cast to the column type: raises instead of
    # silently weakening the clash scan (the NULL literal would match
    # nothing under `==`)
    with pytest.raises(ValueError, match="do not cast"):
        stage_id_ordered_chunks(
            spark, src, "event_id", n_chunks=2,
            watermark_sentinel={"user_id": "not-a-number"},
            bigint_time_is_nanos=True,
        )
    # genuine NULL rows must NOT false-positive against a non-NULL
    # marker (plain `==`, not eqNullSafe)
    src_nulls = str(tmp_path / "feed_nulls.parquet")
    spark.createDataFrame(
        [(1, None), (2, 20)], "event_id bigint, user_id bigint"
    ).coalesce(1).write.mode("overwrite").parquet(src_nulls)
    d0 = stage_id_ordered_chunks(
        spark, src_nulls, "event_id", n_chunks=2,
        watermark_sentinel={"user_id": -1},
        bigint_time_is_nanos=True,
    )
    shutil.rmtree(d0, ignore_errors=True)
    # clean marker + opt-in: stages fine, sentinel value is nanos-based
    d = stage_id_ordered_chunks(
        spark, src, "event_id", n_chunks=2,
        watermark_sentinel={"user_id": -1},
        bigint_time_is_nanos=True,
    )
    try:
        import os

        sent = [f for f in os.listdir(d) if "sentinel" in f]
        assert len(sent) == 1
        row = spark.read.parquet(os.path.join(d, sent[0])).first()
        assert row["user_id"] == -1
        assert row["event_id"] == 30 + 3650 * 86400 * 10**9
        # the nanos opt-in is part of the CACHE KEY: the same staging
        # request WITHOUT the flag must not reuse this dir (the guards
        # run only at build time — a cache hit would skip them)
        with pytest.raises(ValueError, match="bigint_time_is_nanos"):
            stage_id_ordered_chunks(
                spark, src, "event_id", n_chunks=2,
                watermark_sentinel={"user_id": -1},
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_semdedup_threads_fence_into_microbatches(
    spark, sf_dir, tmp_path
):
    """Inside ``foreachBatch`` the per-batch semdedup runs on Spark's
    streaming thread, outside the caller's context — the drain runs
    each micro-batch in a copy of the context captured at drain start,
    so the caller's telemetry collector and strict-fence arming hold
    there: an over-cap micro-batch trips the same ``max_cluster_size``
    guard and reports through the same per-node channel as the batch
    tier."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators import telemetry
    from dbt_core_gcloud_template_spark.sources.registry import load_table
    from dbt_core_gcloud_template_spark.streaming.semantic import (
        semdedup_stream_into_index,
        stage_id_ordered_chunks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    chunk_dir = stage_id_ordered_chunks(
        spark, f"{sf_dir}/embeddings.parquet", "vec_id", n_chunks=3
    )

    def drain(state, **fence_kwargs):
        stream = (
            spark.readStream.schema(spark.read.parquet(chunk_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )
        return semdedup_stream_into_index(
            stream, spark, "vec_id", "embedding", str(state),
            centroids=cents, n_lists=8, threshold=0.4, **fence_kwargs,
        )

    # an impossible cap: every non-empty stored cluster is over-cap by
    # batch 2, so the fence must trip and the caller's collector must
    # see records that were produced on the streaming thread
    with telemetry.FenceTelemetry() as ft:
        fenced = drain(tmp_path / "s_fenced", max_cluster_size=1)
        n_fenced_dups = fenced.filter("is_duplicate").count()
    trips = [
        r for r in ft.records
        if r["operator"] == "semdedup_incremental"
        and r["fence"] == "max_cluster_size"
        and r["fenced_groups"] > 0
    ]
    assert trips, ft.records
    # and the fence really changed physics: the unfenced drain finds
    # at least as many duplicates
    unfenced = drain(tmp_path / "s_open")
    assert unfenced.filter("is_duplicate").count() >= n_fenced_dups


def test_stream_drift_folds_counts_and_logs_per_batch(spark, sf_dir, tmp_path):
    """Streaming drift (foreachBatch -> additive count fold vs a
    pinned baseline): the drained PSI equals the one-shot batch
    psi_drift over the same rows (the invariant the oracle gate rests
    on), the per-batch psi_log shows n_cur growing monotonically as
    deltas fold in with its LAST row equal to the final frame, and the
    stored state really is the vocabulary-sized delta log (one tag per
    micro-batch)."""
    import os

    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators.drift import (
        bucket_counts,
        corpus_drift_features,
        psi_drift,
    )
    from dbt_core_gcloud_template_spark.sources.registry import load_table
    from dbt_core_gcloud_template_spark.streaming.drift import (
        psi_stream_into_counts,
    )
    from dbt_core_gcloud_template_spark.streaming.semantic import (
        stage_id_ordered_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = corpus_drift_features()
    baseline = bucket_counts(docs.filter(F.col("doc_id") % 2 == 0), feats)
    chunk_dir = stage_id_ordered_chunks(
        spark, f"{sf_dir}/documents.parquet", "doc_id", n_chunks=3
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(chunk_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .filter(F.col("doc_id") % 2 != 0)
    )
    state = str(tmp_path / "drift_state")
    got = psi_stream_into_counts(stream, spark, feats, state, baseline)
    want = psi_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 != 0),
        feats,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # stored state: one delta tag per micro-batch, all vocabulary-sized
    deltas = spark.read.parquet(os.path.join(state, "counts"))
    batch_ids = sorted(
        r["batch_id"]
        for r in deltas.select("batch_id").distinct().collect()
    )
    assert len(batch_ids) == 3
    # per-batch monitoring log: n_cur monotone per feature, last == final
    log = spark.read.parquet(os.path.join(state, "psi_log"))
    for feat in ("chars", "lang_mix", "source_mix"):
        seq = [
            r["n_cur"]
            for r in log.filter(F.col("feature") == feat)
            .orderBy("batch_id")
            .collect()
        ]
        assert len(seq) == 3 and seq == sorted(seq)
    last = log.filter(F.col("batch_id") == batch_ids[-1]).drop("batch_id")
    assert sorted(map(tuple, last.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the baseline is a stored artifact, pinned once
    assert spark.read.parquet(os.path.join(state, "baseline")).count() > 0


def test_stream_drift_long_replay_compacts_state(spark, sf_dir, tmp_path):
    """r12 (r11 verdict task #4): a LONG drift stream must not grow
    the stored count table one parquet file per micro-batch forever —
    every ``compact_every`` batches the fold-so-far rewrites the dir
    as one snapshot file.  A 50-chunk replay ends with a bounded file
    count AND the exact same final PSI frame as the one-shot batch
    operator (compaction only shrinks the listing; the additive fold
    is unchanged)."""
    import os

    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators.drift import (
        bucket_counts,
        corpus_drift_features,
        psi_drift,
    )
    from dbt_core_gcloud_template_spark.sources.registry import load_table
    from dbt_core_gcloud_template_spark.streaming.drift import (
        psi_stream_into_counts,
    )
    from dbt_core_gcloud_template_spark.streaming.semantic import (
        stage_id_ordered_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = corpus_drift_features()
    baseline = bucket_counts(docs.filter(F.col("doc_id") % 2 == 0), feats)
    chunk_dir = stage_id_ordered_chunks(
        spark, f"{sf_dir}/documents.parquet", "doc_id", n_chunks=50
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(chunk_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .filter(F.col("doc_id") % 2 != 0)
    )
    state = str(tmp_path / "drift_state_long")
    got = psi_stream_into_counts(
        stream, spark, feats, state, baseline, compact_every=8
    )
    want = psi_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 != 0),
        feats,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # 50 batches, compaction every 8: snapshots at 8,16,...,48 leave a
    # single snapshot file + one file per post-snapshot append (49, 50)
    counts_dir = os.path.join(state, "counts")
    files = [f for f in os.listdir(counts_dir) if f.endswith(".parquet")]
    assert len(files) <= 8, files  # bounded; 50 without compaction
    # every fold input survives: total counts still equal the full
    # current snapshot's bucket counts
    folded = (
        spark.read.parquet(counts_dir)
        .groupBy("feature", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    direct = bucket_counts(docs.filter(F.col("doc_id") % 2 != 0), feats)
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # the monitoring log kept one PSI row set per micro-batch
    log = spark.read.parquet(os.path.join(state, "psi_log"))
    assert log.select("batch_id").distinct().count() == 50
