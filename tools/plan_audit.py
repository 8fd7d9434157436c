"""Generate PLANS.md: physical-plan evidence for representative
queries — pushed filters, join strategies, exchange counts, and
whole-stage-codegen coverage, straight from `.explain("formatted")`.

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_core_gcloud_template_spark.queries import queries  # noqa: E402
from dbt_core_gcloud_template_spark.session import get_spark  # noqa: E402

AUDIT = [
    ("q1_pricing_summary", "single-table agg: WHERE reaches the scan, partial+final agg"),
    ("q5_region_revenue", "star join: all five dims broadcast, date filter pushed"),
    ("q8_market_share", "7-way join + conditional agg: pushdown on 3 scans"),
    ("q4_order_priority", "EXISTS → LeftSemi join"),
    ("q21_waiting_suppliers", "EXISTS + NOT EXISTS → LeftSemi + LeftAnti"),
    ("data_diff_rows", "symmetric diff: one union+aggregate shuffle"),
    ("embedding_cosine_topk", "broadcast queries + per-query top-k window"),
    ("events_asof_daily_state", "as-of join: union + single window shuffle"),
    ("multimodal_metadata", "Arrow-batched mapInPandas over binary payloads"),
    (
        "docs_contamination",
        "decontamination: distinct train shingles before the eval join",
    ),
    (
        "docs_repetition",
        "map-only repetition filters (sole Exchange is the local-mode "
        "parallelism repartition; no-op on a many-partition input)",
    ),
    (
        "docs_dup_ngrams",
        "duplicated-ngram fraction: gram-hashed doc-frequency join reuses "
        "the gram exchange on both sides",
    ),
    (
        "docs_global_shuffle",
        "deterministic epoch shuffle: ONE Exchange(shard) + per-shard sort "
        "(a shuffle-write's exact shape; no global sort)",
    ),
    (
        "corpus_term_entropy",
        "entropy/TTR/Zipf head: one corpus shuffle to (group, term) counts; "
        "rank+total windows and the final agg share that exchange",
    ),
    (
        "neardup_triangles",
        "degree-ordered triangle enumeration: wedge join bounded by "
        "out-degree cap, narrow int keys only",
    ),
    (
        "embedding_ivf_topk",
        "IVF ANN: literal broadcast centroids -> map-only list assignment; "
        "zero corpus shuffles before the two-phase top-k",
    ),
    (
        "embedding_quantize",
        "map-only SQ8 quantization (sole Exchange is the local-mode "
        "parallelism repartition; no-op on a many-partition input)",
    ),
    ("docs_stratified_sample", "hash-gate sampling: filter pushed into scan"),
    ("lsh_candidate_pairs", "LSH banding: grouped-pairs, one band-key shuffle"),
    ("docs_chunked", "sliding-window chunking: map-only Generate, no shuffle"),
    (
        "semdedup_recall_eval",
        "semantic recall diagnostic: broadcast-NL exhaustive truth pairs "
        "(checkpointed, never cartesian) + ivf_assign window + two scalar "
        "count aggregates",
    ),
    (
        "embedding_semdedup_trained",
        "SemDeDup under a TRAINED codebook: the SQL-replayable Lloyd "
        "trainer runs eagerly first (seed TakeOrderedAndProject + 2x "
        "{broadcast assignment pass, k x dim integer-micro aggregate}); "
        "the final plan shown here is the embedding_semdedup shape with "
        "the codebook broadcast — no extra corpus shuffle for training",
    ),
    (
        "lsh_candidate_pairs_strict",
        "strict-profile parity: the armed (never-tripping) "
        "max_bucket_size fence rides the existing band-bucket exchange "
        "— budget identical to lsh_candidate_pairs, results "
        "oracle-identical",
    ),
    (
        "ann_recall_eval",
        "retrieval recall diagnostic: checkpointed exhaustive top-k "
        "(one corpus pass, query block broadcast) vs the audited "
        "ivf_topk shape, two scalar count aggregates — per-query cost, "
        "no quadratic side",
    ),
    (
        "docs_bpe_encode",
        "BPE encode: training runs eagerly (type aggregate + driver "
        "loop); the encode plan is map-only Arrow segmentation — scan "
        "pruned to (doc_id, text), MapInPandas, JVM-side md5 gate",
    ),
    (
        "docs_quality_auc_eval",
        "quality-tier AUC eval: doc-scoring aggregate + bounded "
        "(score,pos,neg) histogram + single-row integer rank-sum; "
        "labels broadcast, window over the histogram only",
    ),
    (
        "docs_stats_drift",
        "dataset-drift PSI: two column-pruned snapshot scans feed two "
        "vocabulary-sized (feature,bucket) aggregates; the full-outer "
        "join, per-feature window and fold run over KB-sized counts — "
        "the corpus never shuffles",
    ),
    (
        "embedding_drift",
        "embedding-space drift: reference-half-trained codebook "
        "(eager Lloyd jobs) + broadcast-centroid assignment per parity "
        "branch (filter pushed below the vec_id window — the corpus "
        "shuffles once across both branches) + the k-row PSI fold",
    ),
    (
        "snapshot_scd2",
        "SCD2 snapshot replay: deliveries 1/2 materialize eagerly "
        "(the production store-then-merge cycle), so the audited plan "
        "is ONE merge — key joins of the pinned open slice vs the "
        "day's batch (small projected key sides broadcast) + union",
    ),
    (
        "snapshot_scd2_check",
        "SCD2 check strategy: same store-then-merge replay; change "
        "detection is scd-id equality joins (no updated_at window)",
    ),
    (
        "snapshot_scd2_invalidate",
        "SCD2 hard_deletes=invalidate: same merge shape; vanished "
        "keys close at the pinned now inside the existing left join",
    ),
    (
        "incremental_insert_overwrite",
        "insert_overwrite replay: THREE real Engine builds run eagerly "
        "(cold partitioned load + two dynamic-partition-overwrite "
        "deliveries via insertInto), schema torn down after — the "
        "audited plan is the pinned (localCheckpoint) scan of the "
        "final table; at scale each delivery rewrites only the "
        "partition dirs present in the staged batch",
    ),
    (
        "incremental_microbatch",
        "microbatch replay: cold event-time-partitioned build + two "
        "watermark-bounded incremental runs (only periods within "
        "lookback restage, dynamic overwrite) run eagerly; audited "
        "plan = the pinned scan of the final table",
    ),
    (
        "engine_seed_load",
        "seed load: CSV inferSchema + column_types casts through "
        "_run_seed, torn down after; audited plan = pinned scan",
    ),
    (
        "incremental_schema_evolution",
        "S9 append_new_columns replay: keyed merge whose delivery 2 "
        "widens the schema (kept rows null-backfill, matched keys "
        "replace, versioned-swap rewrite) runs eagerly; audited plan "
        "= pinned scan of the evolved table",
    ),
    (
        "incremental_schema_sync",
        "S9 sync_all_columns replay: same keyed merge but delivery 2 "
        "also DROPS a column from kept history (target adopts the "
        "model's schema); audited plan = pinned scan",
    ),
    (
        "docs_packed_sequences",
        "sequence packing: lang-partitioned cumsum window below the "
        "group-size threshold (shown here); above it the prefix sum goes "
        "distributed — id-range buckets, per-bucket windows, broadcast "
        "offsets (test_plan_shapes::test_global_sort_absent_in_distributed_packing)",
    ),
    (
        "docs_tfidf_terms",
        "TF-IDF: one inverted-index shuffle; df/idf stats broadcast back",
    ),
    (
        "docs_lm_perplexity",
        "bigram LM: count table from one aggregation; context/vocab broadcast",
    ),
    (
        "embedding_projection",
        "JL projection: sign matrix as plan literal, map-only arithmetic",
    ),
    (
        "docs_hybrid_rrf",
        "RRF fusion: both rankers bounded to depth before the outer join",
    ),
    (
        "events_resampled_6h",
        "gap-fill: dense grid from min/max + broadcast type dim, left join",
    ),
    ("basket_part_pairs", "market basket: grouped pairs, broadcast freq joins"),
    (
        "bloom_semi_revenue",
        "bloom semi-join reduction: fact scan filtered by broadcast bitmap "
        "probe before the join shuffle",
    ),
    (
        "customer_rfm",
        "distributed exact ntile: bucket-partitioned windows, no "
        "single-partition global sort",
    ),
    (
        "editdist_near_pairs",
        "edit-distance dedup: prefix+length-band blocked equi-join, banded "
        "Levenshtein only inside blocks, probe side core-spread",
    ),
    (
        "neardup_pagerank",
        "PageRank final round: checkpointed edges+ranks join, one groupBy "
        "shuffle per iteration (bounded plan — lineage truncated each round)",
    ),
    (
        "docs_weighted_sample",
        "A-ES weighted sample: map-only key then TakeOrderedAndProject "
        "(distributed heap, no global sort)",
    ),
    (
        "orders_rolling_7d",
        "interval RANGE frame: one o_custkey shuffle serves both windows",
    ),
    (
        "events_interpolated_6h",
        "gap interpolation: LOCF/NOCB windows share one event_type shuffle "
        "over the grid",
    ),
    (
        "set_ops_all",
        "EXCEPT ALL / INTERSECT ALL: hash joins over counted groups, "
        "no row-at-a-time anti join",
    ),
    (
        "dedup_canonical_ids",
        "aggregate-then-join canonical ids: pairs aggregated before the "
        "docs join (AQE broadcasts the min-candidate side; at most one "
        "docs exchange, r4 rework)",
    ),
    (
        "multimodal_decode",
        "real BMP decode: two chained Arrow-batched mapInPandas stages, "
        "map-only, no shuffle",
    ),
    (
        "docs_passage_dedup",
        "passage dedup: single window over the passage hash, no join "
        "(r4 rework replaced groupBy+join-back)",
    ),
    (
        "docs_dsir_weights",
        "DSIR: features collapsed to per-(doc,bucket) counts behind one "
        "reused exchange (checkpointed); broadcast 256-row ratio table "
        "onto the capped table, not raw features",
    ),
    (
        "docs_quality_classifier",
        "linear quality classifier: literal weight array folded per doc "
        "— map-only, zero shuffles beyond the parallelism repartition",
    ),
    (
        "neardup_best_representative",
        "fuzzy-dedup end-stage: audited canonical-ids pipeline + one "
        "doc_id equi-join onto map-only quality + one cluster-keyed "
        "window argmax — no new scale surface",
    ),
    (
        "docs_duplicated_spans",
        "ExactSubstr spans: count-over-window marks repeated k-grams "
        "(no groupBy+join-back), islands merge reuses the doc "
        "partitioning — 3 exchanges total, no joins",
    ),
    (
        "docs_token_budget_plan",
        "token-budget epoch plan: per-source aggregate + broadcast "
        "1-row total; integer caps (Spark truncates double->bigint, "
        "DuckDB rounds — BIGINT arithmetic sidesteps it)",
    ),
    (
        "docs_adaptive_length_filter",
        "per-lang adaptive length cutoffs: exact interpolated "
        "percentiles on a tiny lang aggregate, broadcast back onto the "
        "map-only scan; approx_percentile is the 100 TB swap",
    ),
    (
        "docs_despanned",
        "ExactSubstr removal: spans aggregated per doc (rows only for "
        "docs WITH spans) + one doc_id left join; the token rebuild is "
        "a map-only indexed-HOF filter",
    ),
    (
        "embedding_semdedup",
        "SemDeDup: checkpointed cluster table, within-cluster pairs "
        "only (equi-join on list_id)",
    ),
    (
        "embedding_semdedup_fenced",
        "SemDeDup + max_cluster_size fence: the over-cap clusters "
        "(at most n_lists rows) are collected before planning and "
        "filtered as a literal isin — the embedding_semdedup shape, "
        "over-cap clusters never reach the pair join",
    ),
    (
        "docs_window_index_fold",
        "span-index maintenance: batch window enumeration + one "
        "full-outer merge on the hash (batch-side shuffle only on a "
        "bucketed stored index) + histogram aggregate",
    ),
    (
        "dedup_digest_index_fold",
        "3-day ingest replay: per-day batch groupBy + anti-join probe, "
        "index fold is pure union (no index shuffle, checkpoint-fed)",
    ),
    (
        "docs_gopher_rules",
        "Gopher rules: map-only array/regex pipeline",
    ),
    (
        "lsh_incremental_pairs",
        "incremental LSH: one band-key shuffle for batch+index; buckets "
        "with no new member pruned BEFORE pair expansion, old x old "
        "pairs never emitted",
    ),
    (
        "dedup_incremental_exact",
        "incremental exact dedup: batch-sized digest groupBy + left-anti "
        "probe of the stored hash index",
    ),
    (
        "dedup_embedding_cosine_lsh",
        "embedding near-dup SCALE path: sign-bucket prefilter turns the "
        "O(n^2) cross join into per-bucket self-joins (exhaustive "
        "baseline is fenced behind allow_exhaustive)",
    ),
    (
        "docs_curriculum_buckets",
        "perplexity curriculum: sampled range bounds broadcast back — "
        "distributed exact ntile, no SinglePartition window",
    ),
    (
        "lsh_recall_eval",
        "recall/precision telemetry: candidate + exact pair sets each "
        "localCheckpointed so three consuming aggregates share one "
        "execution; hash-gated sample_fraction is the corpus-scale knob",
    ),
    (
        "docs_duplicated_spans_incremental",
        "incremental ExactSubstr: the batch re-windows itself only; the "
        "stored (hash,count) index broadcasts into the probe — O(batch) "
        "exchanges on the batch side, old x old spans never enumerated",
    ),
    (
        "neardup_best_representative_lsh",
        "representative selection SCALE path: LSH recall -> exact-Jaccard "
        "verify on candidates only (pair side broadcasts; shingle arrays "
        "never shuffle) -> same canonical + quality-argmax tail",
    ),
    (
        "docs_passage_dedup_incremental",
        "incremental passages: batch-only enumeration + one batch-hash "
        "window; the stored (hash,count) index joins on the 8-byte key "
        "(temporal-first: indexed passages drop everywhere in the batch)",
    ),
    (
        "dedup_embedding_cosine_incremental",
        "incremental embedding near-dup: sign-bucket equi-join with the "
        "batch on the probe side only — old x old never enumerated, no "
        "exhaustive mode exists on this path",
    ),
    (
        "docs_quality_train_weights",
        "classifier weight training: one feature explode -> one "
        "bucket-keyed conditional aggregate (<=256 rows at any corpus "
        "size) -> broadcast totals; the DSIR integerization discipline",
    ),
    (
        "docs_despanned_incremental",
        "incremental span removal: temporal-first keep-first spans vs "
        "the stored window index, fed into the map-only indexed-HOF "
        "token rebuild — the per-crawl cleaning job, O(batch)",
    ),
    (
        "embedding_semdedup_incremental",
        "incremental semdedup: checkpointed broadcast-centroid "
        "assignment, within-cluster join with the batch on the output "
        "side only — a new vector duplicates any stored same-cluster "
        "neighbor; old x old never pairs",
    ),
    (
        "dedup_incremental_exact_bloom",
        "tier-2 incremental dedup: bloom bitmap of the index splits "
        "the batch map-only; definitely-new bypasses the join, the "
        "exact anti-join removes the false positives",
    ),
]


def summarize(plan: str) -> dict[str, object]:
    # parse the detail sections: "(7) BroadcastHashJoin\n...Join type: X"
    joins = []
    for m in re.finditer(
        r"^\(\d+\) (\w+HashJoin|SortMergeJoin|MapInPandas)\b(.*?)(?=^\(\d+\) |\Z)",
        plan,
        re.M | re.S,
    ):
        op, body = m.group(1), m.group(2)
        t = re.search(r"Join type: (\w+)", body)
        joins.append(f"{op}({t.group(1)})" if t else op)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    exchanges = len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M))
    broadcasts = len(re.findall(r"BroadcastExchange", plan))
    codegen = len(re.findall(r"WholeStageCodegen", plan))
    return {
        "joins": joins,
        "pushed": [p[:110] for p in pushed if p],
        "exchanges": exchanges,
        "broadcasts": broadcasts,
        "codegen_spans": codegen,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", warehouse_dir=tempfile.mkdtemp())
    qs = queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    print("# PLANS — physical-plan audit (generated by tools/plan_audit.py)")
    print()
    print(
        "Evidence that plans are the ones you'd want at scale: filters\n"
        "pushed to scans, dims broadcast, semi/anti joins planned as such,\n"
        "no stray shuffles.  Regenerate after plan-affecting changes:\n"
        "`python tools/plan_audit.py > PLANS.md`.\n"
    )
    for name, why in AUDIT:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        s = summarize(plan)
        print(f"## {name}")
        print()
        print(f"*{why}*")
        print()
        print(f"- joins: {', '.join(s['joins']) or 'none'}")
        print(
            f"- shuffles (Exchange): {s['exchanges']}"
            f" · broadcasts: {s['broadcasts']}"
        )
        pushed = s["pushed"]
        if pushed:
            print("- pushed filters:")
            for p in pushed:
                print(f"  - `{p}`")
        print()


if __name__ == "__main__":
    main()
