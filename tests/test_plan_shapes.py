"""Physical-plan shape regression gate.

`PLANS.md` documents the plans; this module GATES them.  For flagship
queries it pins (a) an upper bound on Exchange (shuffle) count and (b)
required join strategies — so a refactor cannot silently turn a
broadcast star join into a sort-merge cascade, un-push a filter into an
extra shuffle, or collapse a distributed top-k back into a global sort.
Bounds are upper bounds (current value from PLANS.md, not exact
matches) so AQE/version-level plan jitter doesn't false-positive; a
regression that ADDS a shuffle trips the gate.

All CHECKS are plan-only (explain string) — the gated query itself
never executes.  Building a plan is not always free, though: entries
whose callable trains eagerly before returning its final DataFrame
(docs_bpe_encode's merge training, embedding_semdedup_trained's /
embedding_drift's Lloyd passes) run those training jobs at
plan-construction time.
"""

from __future__ import annotations

import re

import pytest

from dbt_core_gcloud_template_spark.queries import queries

# name -> (max_exchanges, required plan substrings)
EXPECTATIONS = {
    # TPC-H star joins: dims broadcast, ONE fact shuffle for the agg
    "q1_pricing_summary": (1, []),
    "q5_region_revenue": (2, ["BroadcastHashJoin"]),
    "q8_market_share": (2, ["BroadcastHashJoin"]),
    "q4_order_priority": (1, ["LeftSemi"]),
    "q21_waiting_suppliers": (1, ["LeftSemi", "LeftAnti"]),
    # dedup stack: banded pipelines, bounded shuffles, no all-pairs join
    "lsh_candidate_pairs": (3, []),
    # r9: the strict-profile parity gate — the armed (never-tripping)
    # max_bucket_size fence must stay plan-additive: the hot-bucket
    # filter rides the existing band-bucket exchange, so the budget is
    # IDENTICAL to the unfenced form
    "lsh_candidate_pairs_strict": (3, []),
    "lsh_incremental_pairs": (4, []),
    "dedup_incremental_exact": (2, ["LeftAnti"]),
    "dedup_canonical_ids": (4, []),
    # similarity: map-only scoring + two-phase top-k, never a global sort
    "embedding_cosine_topk": (4, []),
    "embedding_ivf_topk": (6, []),
    "embedding_quantize": (1, []),
    # sampling family: hash-gated, at most one exchange
    "docs_weighted_sample": (0, []),
    "docs_global_shuffle": (1, []),
    # iterative ops audit their FINAL round: label propagation is
    # checkpointed, so the last pass plans shuffle-free
    "neardup_pagerank": (0, []),
    # distributed exact ntile: bucketed windows, no single-partition sort
    "customer_rfm": (4, []),
    # multimodal: Arrow-batched mapInPandas, map-only
    "multimodal_decode": (1, ["MapInPandas"]),
    # r10: BPE encoding — training runs eagerly before this plan
    # exists (type aggregate + driver loop); the encode plan itself is
    # map-only Arrow segmentation (sole Exchange is the local-mode
    # parallelism repartition; no-op on a many-partition input)
    "docs_bpe_encode": (1, ["MapInPandas"]),
    # r10: quality-tier AUC eval — per-doc scoring aggregate + the
    # bounded (score, pos, neg) histogram aggregate + the final
    # single-row rank-sum; labels broadcast-join, the unpartitioned
    # window runs over the bounded histogram only
    "docs_quality_auc_eval": (3, ["BroadcastHashJoin"]),
    # r10: dataset-drift PSI — two column-pruned scans feed two
    # vocabulary-sized (feature, bucket) aggregates; the full-outer
    # join, per-feature window and fold all run over KB-sized counts.
    # Never a scan-side join: a 4th exchange would mean the corpus
    # itself started shuffling
    "docs_stats_drift": (3, []),
    # r10: embedding-space drift — training runs eagerly before this
    # plan exists; the plan itself is the audited ivf_assign shape per
    # parity branch (broadcast centroids + per-vector top-1 window;
    # the parity filter pushes below the window's vec_id partition key
    # so the two branches together shuffle the corpus once) + the
    # KB-sized PSI fold.  A CartesianProduct or a growth here means
    # assignment stopped broadcasting
    "embedding_drift": (7, []),
    # r11: SCD2 snapshot replay — deliveries 1/2 materialize eagerly at
    # plan-construction time (the production store-then-merge cycle),
    # so the audited plan is ONE merge: key joins of the pinned open
    # slice against the day's batch (broadcast on the small projected
    # key sides) + the final union.  Growth here means a delivery
    # started re-deriving instead of reading the store
    "snapshot_scd2": (4, ["BroadcastHashJoin"]),
    # r11 continuation: same store-then-merge shape for the check
    # strategy (scd-id equality joins — no updated_at window, so one
    # fewer exchange) and hard-delete invalidation
    "snapshot_scd2_check": (3, ["BroadcastHashJoin"]),
    "snapshot_scd2_invalidate": (4, ["BroadcastHashJoin"]),
    # r12: materialization replays — the Engine builds run eagerly at
    # plan-construction time (the production nightly-run cycle, with
    # the backing schema torn down after), so the audited plan is the
    # pinned (localCheckpoint) scan of the final table: any exchange
    # appearing here means the replay stopped pinning its result
    "incremental_insert_overwrite": (0, []),
    "incremental_microbatch": (0, []),
    "incremental_schema_evolution": (0, []),
    "incremental_schema_sync": (0, []),
    "engine_seed_load": (0, []),
    # r5 additions (bench entries >1.5 s + VERDICT audit gap): budgets
    # pinned at current values so a shuffle regression trips the gate
    "dedup_embedding_cosine_lsh": (5, ["BroadcastHashJoin"]),
    "docs_curriculum_buckets": (1, []),
    "docs_dsir_weights": (4, ["BroadcastHashJoin"]),
    # r5: linear quality classifier is map-only (parallelism exchange only)
    "docs_quality_classifier": (1, []),
    # r5: ExactSubstr spans — parallelism + hash-window + doc-window; the
    # islands merge groupBy must REUSE the doc partitioning (no 4th
    # exchange) and there is no join-back
    "docs_duplicated_spans": (3, []),
    # r5: cluster representative selection = audited canonical-ids shape
    # + one doc_id join + one cluster-keyed window
    "neardup_best_representative": (6, []),
    # r5: span REMOVAL = spans plan + tiny spans aggregate + one doc_id
    # left join; token rebuild is a map-only indexed HOF
    "docs_despanned": (4, []),
    # r6: LSH recall → Jaccard verify → selection; the pair side
    # broadcasts into the verify joins (shingle arrays never shuffle)
    "neardup_best_representative_lsh": (9, ["BroadcastHashJoin"]),
    # r6: incremental spans — batch side is parallelism + hash-window +
    # doc-window (3); the index side is one map-side-combined groupBy
    # (+ parallelism) and must BROADCAST into the probe, never shuffle
    # the batch a second time
    "docs_duplicated_spans_incremental": (5, ["BroadcastHashJoin"]),
    # r6: incremental passages — batch enumeration + one batch-hash
    # window + the index groupBy broadcast into the probe + one doc agg
    "docs_passage_dedup_incremental": (5, ["BroadcastHashJoin"]),
    # r6: incremental embedding near-dup — bucket equi-join with the
    # batch on the probe side; never a cartesian product
    "dedup_embedding_cosine_incremental": (6, []),
    # r6: weight training — one explode + one bucket aggregate
    # (<=256 rows) + a broadcast totals scalar
    "docs_quality_train_weights": (3, []),
    # r6: incremental span REMOVAL — the incremental spans plan + the
    # tiny spans aggregate + one batch doc_id left join (map-only HOF
    # token rebuild); the index broadcasts, never the batch
    "docs_despanned_incremental": (6, ["BroadcastHashJoin"]),
    # r6: incremental semdedup — checkpointed assignment table,
    # within-cluster equi-join with the batch on the output side only
    "embedding_semdedup_incremental": (4, []),
    # r6: bloom-tier incremental dedup — one batch-digest groupBy;
    # both bloom probes and the residual anti-join broadcast
    "dedup_incremental_exact_bloom": (2, []),
    # r5: planning/threshold queries — tiny aggregates + broadcast back
    "docs_token_budget_plan": (3, []),
    "docs_adaptive_length_filter": (1, ["BroadcastHashJoin"]),
    "embedding_semdedup": (5, []),
    # r9: trained-codebook variant — the Lloyd training jobs run
    # eagerly before this plan exists (k x dim driver aggregates); the
    # final assignment+pairing plan must stay the embedding_semdedup
    # shape with the codebook broadcast, no extra corpus shuffle
    "embedding_semdedup_trained": (5, []),
    # the fenced variants collect the over-cap lists (at most n_lists
    # rows) before this plan exists and apply them as a literal isin:
    # the plan keeps the embedding_semdedup shape
    "embedding_semdedup_fenced": (5, []),
    "embedding_semdedup_split": (5, []),
    # r7: index-maintenance folds — digest append is checkpoint-fed
    # union (no live exchange); window fold = 2 enumeration groupBys
    # + 1 merge join + 1 histogram groupBy
    "dedup_digest_index_fold": (2, []),
    "docs_window_index_fold": (5, []),
    "docs_hybrid_rrf": (9, []),
    "lsh_recall_eval": (3, []),
    # r8: semantic recall diagnostic — checkpointed exhaustive truth
    # pairs (broadcast NL join, never cartesian) + the audited
    # ivf_assign window + two tiny count aggregates joined scalar-wise
    "semdedup_recall_eval": (11, []),
    # r9: retrieval recall diagnostic — checkpointed exact top-k +
    # the audited ivf_topk shape (map-only inline assignment) + two
    # scalar count aggregates joined scalar-wise; per-query cost, no
    # quadratic side
    "ann_recall_eval": (11, []),
    "docs_passage_dedup": (3, []),
}

FORBIDDEN_EVERYWHERE = ["CartesianProduct"]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = {}
    qs = queries()
    for name in EXPECTATIONS:
        df = qs[name](spark, sf_dir)
        out[name] = df._jdf.queryExecution().explainString(mode)
    return out


@pytest.mark.parametrize("name", sorted(EXPECTATIONS))
def test_plan_shape(plans, name):
    plan = plans[name]
    max_ex, required = EXPECTATIONS[name]
    exchanges = len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M))
    assert exchanges <= max_ex, (
        f"{name}: {exchanges} shuffles, budget {max_ex} — a shuffle "
        f"regression (see PLANS.md for the intended shape)"
    )
    for frag in required:
        assert frag in plan, f"{name}: expected {frag} in the physical plan"
    for frag in FORBIDDEN_EVERYWHERE:
        assert frag not in plan, f"{name}: {frag} must never appear"


def test_global_sort_absent_in_distributed_packing(spark):
    """Above its rows_per_bucket threshold — here forced low, with a
    dominant key and no partition column at all — pack_sequences must
    plan bucketed windows plus a broadcast offset join, never the
    single-partition global window (`Exchange SinglePartition` ahead
    of Sort+Window).  Below the threshold the plain window is the
    documented cheap path."""
    import re

    from dbt_core_gcloud_template_spark.operators.chunking import pack_sequences

    docs = spark.range(2000).selectExpr(
        "id AS doc_id", "repeat('w ', 5) AS text"
    )
    packed = pack_sequences(
        docs, "doc_id", "text", seq_len=16, rows_per_bucket=100
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = packed._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan
    assert "Window" in plan
    assert re.search(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)


def test_global_sort_absent_in_distributed_rank(spark):
    """Above its rows_per_bucket threshold, the exact-rank operator must
    plan bucketed windows — never the single-partition global window
    (an `Exchange SinglePartition` ahead of Sort+Window).  Below the
    threshold the single-window fallback is the documented cheap path,
    so this drives the operator explicitly past it."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators.distributed_rank import (
        with_global_rank,
    )

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") * 37 % 1000).alias("score")
    )
    ranked = with_global_rank(df, ["score", "id"], rows_per_bucket=500)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = ranked._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan
    assert "Window" in plan
