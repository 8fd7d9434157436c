"""Streaming dataset-drift: per-micro-batch PSI against a PINNED
baseline (SURVEY.md §2.9 designed extension — the reference's nightly
monitoring cadence, infra/90-monitoring.sh:114-145, moved to the
arrival boundary).

The composition of the drift and streaming families, cheap because
bucket counts are ADDITIVE (:func:`operators.drift.bucket_counts`):
each arriving micro-batch contributes a vocabulary-sized
(feature, bucket) count DELTA, the stored count table folds them with
a plain SUM (the span_index delta-log pattern — history is never
rescanned), and PSI of the folded mix vs the pinned baseline re-emits
per batch.  Because the fold is exact (not approximate), the drained
result equals the one-shot batch :func:`operators.drift.psi_drift`
over the same rows REGARDLESS of how the stream was chunked — which
is what lets the batch ``docs_stats_drift`` oracle gate the streaming
machinery, the same batch-replay invariant every streaming registry
entry rests on.

Scale shape: per micro-batch cost is one column-pruned pass over the
batch plus a KB-sized fold; stored state is bounded by the PINNED
bucket space (n_features × n_buckets rows per batch — compact the
delta log offline when the batch count grows, exactly like the span
index).  The baseline is a bootstrap-pinned artifact written once
under ``state_dir`` — a baseline derived from the stream itself would
measure itself (the codebook-pin rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.drift import FeatureSpec, bucket_counts, psi_from_counts


def _recover_counts_dir(counts_dir: str) -> None:
    """Heal a crash inside the compaction swap: if the live dir is
    missing but the renamed-away previous state survives, restore it
    (the snapshot that was about to replace it may be incomplete, so
    the OLD state is the safe side — counts are additive and the next
    compaction re-folds identically)."""
    import shutil

    old = counts_dir + ".compact.old"
    if os.path.isdir(old):
        if os.path.isdir(counts_dir):
            # crash after the new snapshot landed: drop the leftover
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, counts_dir)
    shutil.rmtree(counts_dir + ".compact.tmp", ignore_errors=True)


def psi_stream_into_counts(
    stream: DataFrame,
    spark: SparkSession,
    features: "list[FeatureSpec]",
    state_dir: str,
    baseline_counts: DataFrame,
    eps: float = 1e-6,
    dp: int = 6,
    compact_every: int | None = 16,
) -> DataFrame:
    """Drain ``stream`` through the micro-batch drift path and return
    the final folded PSI frame (feature, n_ref, n_cur, psi — the
    :func:`psi_from_counts` schema).

    Each micro-batch: ``delta = bucket_counts(batch, features)`` tags
    the batch id and appends to ``state_dir/counts`` (the stored count
    table); the folded history (plain SUM over all deltas) compares
    against the pinned baseline and the per-batch PSI row set appends
    to ``state_dir/psi_log`` — the monitoring feed a deployment
    thresholds through the drift-degraded policy, with ``n_cur``
    growing monotonically as batches fold in.

    ``baseline_counts`` is written ONCE to ``state_dir/baseline`` at
    drain start and every comparison reads that stored artifact — the
    bootstrap-pin discipline (a per-batch re-derived baseline would
    drift with the thing being measured).  ``state_dir`` must be fresh
    per logical run; in production the two appends are Delta
    appends/MERGEs and the checkpoint gives exactly-once.

    ``compact_every`` bounds the stored count table's FILE count for a
    long-running stream: without it the fold
    re-lists one parquet file per micro-batch forever.  Every N
    batches the fold-so-far (vocabulary-sized, pinned in memory via
    localCheckpoint before the dir is touched) rewrites the counts dir
    as a single snapshot file tagged with the newest folded batch_id —
    counts are additive, so every future fold is IDENTICAL; only the
    file listing shrinks.  Like the appends, the rewrite is atomic
    only under a transactional format in production (Delta OPTIMIZE is
    the analog); a batch replayed across the rewrite behaves exactly
    as it would across an append.  ``None`` disables.
    """
    base_dir = os.path.join(state_dir, "baseline")
    counts_dir = os.path.join(state_dir, "counts")
    log_dir = os.path.join(state_dir, "psi_log")
    ckpt_dir = os.path.join(state_dir, "checkpoint")
    _recover_counts_dir(counts_dir)

    baseline_counts.write.mode("overwrite").parquet(base_dir)
    pinned_baseline = spark.read.parquet(base_dir)

    def _fold() -> DataFrame:
        return (
            spark.read.parquet(counts_dir)
            .groupBy("feature", "bucket")
            .agg(F.sum("n").alias("n"))
        )

    n_batches = {"seen": 0}

    def _micro(batch: DataFrame, batch_id: int) -> None:
        delta = bucket_counts(batch, features).withColumn(
            "batch_id", F.lit(batch_id).cast("bigint")
        )
        # vocabulary-sized: one file per append keeps the listing cost
        # proportional to the batch count, not the shuffle parallelism
        delta.coalesce(1).write.mode("append").parquet(counts_dir)
        psi = psi_from_counts(
            pinned_baseline, _fold(), eps=eps, dp=dp
        ).withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        psi.write.mode("append").parquet(log_dir)
        n_batches["seen"] += 1
        if compact_every and n_batches["seen"] % compact_every == 0:
            snap = (
                spark.read.parquet(counts_dir)
                .groupBy("feature", "bucket")
                .agg(
                    F.sum("n").alias("n"),
                    F.max("batch_id").alias("batch_id"),
                )
                .select("feature", "bucket", "n", "batch_id")
            )
            # swap-by-rename instead of mode("overwrite") on the live
            # dir: the overwrite deletes counts_dir BEFORE the new
            # snapshot commits, so a crash in between lost the ENTIRE
            # stored count state.  Writing the snapshot to
            # a sibling temp dir and renaming leaves either the old or
            # the new state at every crash point (the .old hand-off
            # window is healed at the next drain start / fold, see
            # _recover_counts_dir).
            import shutil

            tmp = counts_dir + ".compact.tmp"
            old = counts_dir + ".compact.old"
            shutil.rmtree(tmp, ignore_errors=True)
            snap.coalesce(1).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(old, ignore_errors=True)
            os.rename(counts_dir, old)
            os.rename(tmp, counts_dir)
            shutil.rmtree(old, ignore_errors=True)

    from .events import run_available_now

    run_available_now(stream, foreach_batch=_micro, checkpoint=ckpt_dir)
    if os.path.isdir(counts_dir):
        folded = _fold()
    else:
        # no micro-batch ever fired (an empty feed): an empty count
        # table with the contract schema — PSI vs the baseline is then
        # NULL per feature ("no snapshot to compare"), matching what a
        # zero-row current side produces in the batch operator
        folded = pinned_baseline.limit(0)
    return psi_from_counts(pinned_baseline, folded, eps=eps, dp=dp)
