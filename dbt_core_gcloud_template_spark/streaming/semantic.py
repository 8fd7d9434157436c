"""Streaming SEMANTIC tier: SemDeDup verdicts over an ARRIVING
embedding stream (SURVEY.md §2.9 designed extension; the reference is
batch-only — its nightly cadence is cron `0 2 * * *`,
infra/40-schedule-prod-job.sh:42).

This closes the last batch-only gap in the curation ladder: exact
dedup already has a streaming face (``events.dedup_stream_against_
index``); here the semantic tier gets one via the ``foreachBatch`` →
:func:`operators.similarity.semdedup_incremental` micro-batch path —
each arriving batch is assigned to the PINNED codebook artifact,
paired against the STORED corpus within its clusters, its verdicts
appended, and its vectors folded into the stored index for the next
batch.  Temporal semantics per micro-batch are exactly the daily
loop's (a stored match keeps the stored copy), so when batches arrive
id-ordered the drained verdict set equals the one-shot batch
``semdedup`` — the same replay invariant the incremental engine
project pins, which is what lets a BATCH oracle gate the streaming
machinery.

Scale design: per micro-batch cost is the incremental tier's —
batch assignment (map-only, broadcast codebook) + one batch×cluster
join; old×old pairs never re-enumerate; the stored index is the
embedding table partitioned by list_id in production (Delta MERGE in
the ``foreachBatch`` sink), and the codebook is a bootstrap-pinned
artifact exactly as in ``demo_curation_incremental`` — a codebook
that drifted between micro-batches would re-cluster history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.fences import UNSET
from ..operators.similarity import semdedup_incremental


def stage_id_ordered_chunks(
    spark: SparkSession,
    path: str,
    id_col: str,
    n_chunks: int = 3,
    watermark_sentinel: dict[str, object] | None = None,
    sentinel_margin_days: int = 3650,
    bigint_time_is_nanos: bool = False,
) -> str:
    """Replay harness: stage a parquet table as ``n_chunks`` id-ordered
    single-file chunks with strictly increasing mtimes, so a
    file-source stream delivers them as ordered micro-batches — the
    stand-in for a crawl feed whose deliveries arrive in ingest order
    (new ids are higher by construction, the same id-ordered-slices
    assumption the incremental engine project's replay rests on).

    ``id_col`` may also be a TIMESTAMP column (chunking then replays
    the table in event-time order — arrival order == event-time order,
    the shape append-mode windowed aggregations need so nothing is ever
    "late"); quantiles run over its epoch-micros projection.  A BIGINT
    time column is interpreted as epoch NANOS (the engine's
    ``nanosAsLong`` read convention for parquet TIMESTAMP(NANOS)) —
    but ONLY under ``bigint_time_is_nanos=True``: combining
    ``watermark_sentinel`` with a plain integer id column would
    otherwise silently produce a nonsense sentinel value (margin days
    added as nanoseconds to an id), so the nanos convention is an
    explicit caller opt-in and anything else raises.

    ``watermark_sentinel`` (only meaningful with a time-ordered
    ``id_col``) appends one FINAL single-row chunk whose ``id_col``
    sits ``sentinel_margin_days`` past the table's max — a heartbeat
    row that advances the final watermark past every real window so an
    append-mode drain flushes ALL of them (otherwise sessions/windows
    still open at end-of-replay would stay in state and never emit,
    and the drained result could not equal a batch oracle).  The dict
    gives literal overrides for marker columns (e.g. ``{"user_id":
    -1}``) so callers can filter the sentinel's own (never-emitted
    upstream, but defensively filterable) key out of results; all
    other columns are NULL.  The sentinel never emits itself — its
    window is still open when the drain ends.  Staging ASSERTS that no
    real source row carries a marker value (one column-pruned scan at
    stage time): a genuine row sharing the marker would be silently
    dropped by the caller's defensive filter while the batch oracle
    kept it — a confusing hash mismatch instead of a clear error.

    Chunk boundaries come from exact quantiles of ``id_col`` (one
    aggregate pass); each chunk is written once and the staging dir is
    cached per (path contents, n_chunks, id_col, sentinel spec) — the
    key includes the source's mtime/size so a REGENERATED fixture at
    the same path gets fresh chunks instead of silently replaying last
    generation's data.  Rows with a NULL ``id_col`` land in the FIRST
    chunk (quantile boundaries ignore NULLs, but the replay must not
    lose rows the batch oracle keeps).  Staging is crash-safe: chunks
    build in a private temp dir that is renamed into place only when
    complete, so a killed or racing stager can never leave a partial
    cache that later runs mistake for the full replay.  This is a
    TEST/REPLAY harness, not a production operator: a real deployment
    reads the feed directory the crawler already writes.
    """
    import hashlib
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    st = os.stat(path)
    # `is not None`, matching the build branch below: an EMPTY override
    # dict is still a sentinel request (all-NULL markers) and must not
    # share a cache dir with the sentinel-less staging of the same table
    sent_key = (
        sorted(watermark_sentinel.items())
        if watermark_sentinel is not None
        else None
    )
    # "v2" + the nanos flag are part of the key: the staging guards
    # below (marker-absence scan, nanos opt-in) run only at build time,
    # so a cache dir published by an older staging version — or by a
    # caller who DID opt in — must never satisfy a call that would
    # have failed validation (guards skipped on a cache hit otherwise)
    key = hashlib.md5(
        f"v2|{os.path.abspath(path)}|{n_chunks}|{id_col}"
        f"|{st.st_mtime_ns}|{st.st_size}"
        f"|{sent_key}"
        f"|{sentinel_margin_days if sent_key is not None else 0}"
        f"|{bigint_time_is_nanos if sent_key is not None else False}".encode()
    )
    d = os.path.join(
        tempfile.gettempdir(), f"idchunks_{key.hexdigest()[:12]}"
    )
    # the rename below is atomic, so an existing dir is always complete
    if os.path.isdir(d):
        return d
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    if watermark_sentinel is not None:
        if not (
            dtypes[id_col].startswith("timestamp") or bigint_time_is_nanos
        ):
            raise ValueError(
                f"watermark_sentinel requires a TIMESTAMP chunk column; "
                f"{id_col!r} is {dtypes[id_col]} — pass "
                "bigint_time_is_nanos=True only if it holds epoch "
                "nanoseconds (the nanosAsLong read convention)"
            )
        unknown = sorted(set(watermark_sentinel) - set(dtypes))
        if unknown:
            raise ValueError(
                f"watermark_sentinel names column(s) not in the table: "
                f"{unknown} (have: {sorted(dtypes)})"
            )
        marker_cols = sorted(
            c for c, v in watermark_sentinel.items() if v is not None
        )
        if marker_cols:
            # one tiny job: a marker that does not cast to the column
            # type must raise a CLEAR error, not silently weaken the
            # clash scan below (plain `==` would never match its NULL)
            # — try_cast, because under ANSI mode a malformed cast
            # would throw a raw NumberFormatException here instead
            lits = spark.range(1).select(
                *[
                    F.lit(watermark_sentinel[c])
                    .try_cast(dtypes[c])
                    .alias(c)
                    for c in marker_cols
                ]
            ).first()
            bad = [c for c in marker_cols if lits[c] is None]
            if bad:
                raise ValueError(
                    f"watermark_sentinel marker(s) {bad} do not cast to "
                    "their column type — pick values of the column's "
                    "own type"
                )
            # plain `==`, not eqNullSafe: genuine NULL rows must not
            # false-positive against the (non-NULL) marker
            cond = F.col(marker_cols[0]) == F.lit(
                watermark_sentinel[marker_cols[0]]
            ).cast(dtypes[marker_cols[0]])
            for c in marker_cols[1:]:
                cond = cond | (
                    F.col(c) == F.lit(watermark_sentinel[c]).cast(dtypes[c])
                )
            clash = df.filter(cond).select(*marker_cols).first()
            if clash is not None:
                raise ValueError(
                    "watermark_sentinel marker value(s) occur in the "
                    f"source table (e.g. {clash.asDict()}): a real row "
                    "sharing the marker would be dropped by the "
                    "caller's sentinel filter — pick marker values the "
                    "source cannot carry"
                )
    # exact quantile boundaries (relativeError=0) over a numeric
    # projection of the order column; rows at a boundary go to the
    # lower chunk, so chunks partition the table deterministically
    # (and layout-independently: exact quantiles don't depend on row
    # order)
    ck = (
        F.unix_micros(F.col(id_col))
        if dtypes[id_col].startswith("timestamp")
        else F.col(id_col)
    )
    df = df.withColumn("_sg_ck", ck)
    qs = [i / n_chunks for i in range(1, n_chunks)]
    bounds = df.stat.approxQuantile("_sg_ck", qs, 0.0)
    build = tempfile.mkdtemp(prefix=f"idchunks_build_{os.getpid()}_")

    def _publish_single_file(part, idx: int, tag: str, mtime: float) -> None:
        stage = os.path.join(build, f"_stage_{idx}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(build, f"chunk_{idx}{tag}.parquet")
        os.replace(os.path.join(stage, src), dst)
        # strictly increasing mtimes: the file source processes
        # oldest first, making micro-batch order deterministic
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(stage, ignore_errors=True)

    try:
        lo = None
        t0 = time.time() - 3600
        for i in range(n_chunks):
            hi = bounds[i] if i < len(bounds) else None
            part = df
            if lo is not None:
                part = part.filter(F.col("_sg_ck") > F.lit(lo))
            elif hi is not None:
                # first chunk also carries NULL-id rows
                part = part.filter(
                    (F.col("_sg_ck") <= F.lit(hi))
                    | F.col("_sg_ck").isNull()
                )
            if lo is not None and hi is not None:
                part = part.filter(F.col("_sg_ck") <= F.lit(hi))
            _publish_single_file(part.drop("_sg_ck"), i, "", t0 + 60 * i)
            lo = hi
        if watermark_sentinel is not None:
            maxv = df.agg(F.max(id_col)).first()[0]
            if maxv is not None:  # empty source: nothing to flush
                if dtypes[id_col].startswith("timestamp"):
                    sent_ts = (
                        F.lit(maxv)
                        + F.expr(f"INTERVAL {sentinel_margin_days} DAYS")
                    ).cast(dtypes[id_col])
                else:  # epoch nanos (nanosAsLong convention)
                    sent_ts = F.lit(
                        int(maxv) + sentinel_margin_days * 86400 * 10**9
                    ).cast(dtypes[id_col])
                # every column is a literal — build the row from
                # range(1), never a table scan whose values would be
                # discarded anyway
                row = spark.range(1).select(
                    *[
                        sent_ts.alias(c)
                        if c == id_col
                        else F.lit(watermark_sentinel.get(c))
                        .cast(t)
                        .alias(c)
                        for c, t in df.drop("_sg_ck").dtypes
                    ]
                )
                _publish_single_file(
                    row, n_chunks, "_sentinel", t0 + 60 * n_chunks
                )
        try:
            os.rename(build, d)  # atomic publish (same tmpfs)
        except OSError:
            # a concurrent stager published first — use theirs
            shutil.rmtree(build, ignore_errors=True)
    except BaseException:
        shutil.rmtree(build, ignore_errors=True)
        raise
    return d


def semdedup_stream_into_index(
    stream: DataFrame,
    spark: SparkSession,
    id_col: str,
    vec_col: str,
    state_dir: str,
    centroids: DataFrame,
    n_lists: int = 8,
    threshold: float = 0.95,
    max_cluster_size=UNSET,
    on_oversize: str = "drop",
) -> DataFrame:
    """Drain an embedding stream through the micro-batch SemDeDup path
    and return the accumulated verdicts.

    Each micro-batch: verdicts = ``semdedup_incremental(batch, stored,
    centroids)`` (temporal semantics — a stored match keeps the stored
    copy); verdicts append to ``state_dir/verdicts``; the batch's
    vectors fold into ``state_dir/stored_embeddings`` so later batches
    pair against them.  ``centroids`` is the pinned codebook artifact
    — it is deliberately NOT derived from the stream (a per-batch
    stand-in would re-cluster history between micro-batches, the exact
    drift the bootstrap pin exists to prevent).

    ``state_dir`` must be fresh per logical run (checkpoint + stored
    index + verdicts live under it); re-running with a kept state_dir
    would double-append.  In production the two parquet appends are
    Delta ``MERGE INTO``/append on the stored tables and the
    checkpoint gives exactly-once.

    Output (batch DataFrame): <id_col>, list_id, canonical_id,
    is_duplicate — the union over micro-batches, equal to the one-shot
    batch ``semdedup`` when batches arrive id-ordered.

    Skew fence — ``max_cluster_size`` / ``on_oversize`` pass through
    to each micro-batch's :func:`semdedup_incremental`, and the drain
    runs each micro-batch in the caller's context
    (:func:`streaming.events.run_available_now`), so a pathological
    micro-batch trips the SAME guard under the caller's strict-fence
    arming and reports through the SAME per-node channel as the batch
    tier.
    """
    emb_dir = os.path.join(state_dir, "stored_embeddings")
    verd_dir = os.path.join(state_dir, "verdicts")
    ckpt_dir = os.path.join(state_dir, "checkpoint")

    def _micro(batch: DataFrame, batch_id: int) -> None:
        batch = batch.select(id_col, vec_col)
        if os.path.isdir(emb_dir):
            old = spark.read.parquet(emb_dir)
        else:
            old = batch.limit(0)
        verdicts = semdedup_incremental(
            batch,
            old,
            id_col,
            vec_col,
            n_lists=n_lists,
            threshold=threshold,
            centroids=centroids,
            max_cluster_size=max_cluster_size,
            on_oversize=on_oversize,
        )
        verdicts.write.mode("append").parquet(verd_dir)
        batch.write.mode("append").parquet(emb_dir)

    from .events import run_available_now

    run_available_now(stream, foreach_batch=_micro, checkpoint=ckpt_dir)
    if not os.path.isdir(verd_dir):
        # no micro-batch ever fired (an empty feed): an empty verdict
        # frame with the contract schema, derived the same way a
        # zero-row micro-batch would have produced it
        empty = spark.createDataFrame([], stream.schema).select(
            id_col, vec_col
        )
        return semdedup_incremental(
            empty, empty, id_col, vec_col,
            n_lists=n_lists, threshold=threshold, centroids=centroids,
            max_cluster_size=max_cluster_size, on_oversize=on_oversize,
        )
    return spark.read.parquet(verd_dir)
