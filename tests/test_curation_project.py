"""End-to-end build of the demo_curation project: the engine DAG
running the LLM-corpus curation operators (quality gate -> exact dedup
-> MinHash-LSH near-dup canonicalization -> ExactSubstr span removal
-> global shuffle shards -> mixture stats + token-budget epoch plan)
against the sf0.001 documents testdata."""

import os

import pytest
from pyspark.sql import functions as F

from dbt_core_gcloud_template_spark.plans.runner import Engine


# Upper bounds on the Spark jobs of the two dedup nodes whose fence
# counts ride jobs that already run (operators/telemetry.py) — each
# count was identical over three sf0.001 builds.
JOB_BUDGETS = {
    "model.curation.semantic_dup_flags": 16,
    "model.curation.near_dup_flags": 6,
}
# per-node job counts of the module's build, read right after it
NODE_JOBS: dict[str, int] = {}


@pytest.fixture(scope="module")
def curation(spark, tmp_path_factory):
    os.environ["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP DATABASE IF EXISTS curation_dev CASCADE")
    eng = Engine(spark, "demo_curation", state_dir=str(tmp_path_factory.mktemp("cur_state")))
    tracker = spark.sparkContext.statusTracker()
    before = {u: set(tracker.getJobIdsForGroup(u)) for u in JOB_BUDGETS}
    results, _ = eng.build()
    NODE_JOBS.update(
        {u: len(set(tracker.getJobIdsForGroup(u)) - before[u]) for u in JOB_BUDGETS}
    )
    return eng, results


def test_curation_dedup_node_job_budgets(curation):
    """The armed fences add no job of their own: near_dup_flags counts
    its fenced buckets on the pin's checkpoint job, and
    semantic_dup_flags collects its at most n_lists over-cap clusters
    once and assigns against the trained codebook as plan literals."""
    for uid, budget in JOB_BUDGETS.items():
        assert 0 < NODE_JOBS[uid] <= budget, (uid, NODE_JOBS[uid], budget)


def test_curation_dag_green(curation):
    _, results = curation
    assert results.status_counts.get("error", 0) == 0
    assert results.status_counts.get("fail", 0) == 0
    # 1 view + 10 tables (r6 added docs_despanned, token_plan, and the
    # classifier train->infer pair quality_weights/doc_classifier_scores;
    # r7 added semantic_dup_flags — the SemDeDup tier in the funnel)
    assert results.status_counts["success"] == 12
    assert results.status_counts["pass"] == 12  # schema tests + retention unit test


def test_curation_funnel_monotone(curation, spark):
    raw = spark.table("curation_dev.stg_documents").count()
    kept = spark.table("curation_dev.docs_kept").count()
    despanned = spark.table("curation_dev.docs_despanned").count()
    shards = spark.table("curation_dev.corpus_shards").count()
    assert raw >= kept >= despanned >= shards > 0
    # exact dedup keeps one row per distinct text among survivors
    texts = spark.table("curation_dev.docs_kept").select("text").distinct().count()
    assert texts == kept


def test_curation_despanned_token_accounting(curation, spark):
    """The span-removal stage's bookkeeping must be internally
    consistent: removal never grows a doc, the cleaned text re-tokenizes
    to exactly n_tokens - n_removed, and keep_first guarantees no doc is
    wiped to empty (the first occurrence of every window survives)."""
    from dbt_core_gcloud_template_spark.functions.text import tokens_expr

    d = spark.table("curation_dev.docs_despanned")
    bad = d.filter(
        (F.col("n_removed") < 0)
        | (F.col("n_removed") > F.col("n_tokens"))
        | (
            F.size(tokens_expr(F.col("cleaned_text")))
            != F.col("n_tokens") - F.col("n_removed")
        )
    ).count()
    assert bad == 0
    # every despanned doc still has tokens, and totals reconcile
    agg = d.agg(
        F.sum("n_tokens").alias("toks"),
        F.sum("n_removed").alias("gone"),
        F.min(F.col("n_tokens") - F.col("n_removed")).alias("min_left"),
    ).collect()[0]
    assert agg["min_left"] > 0
    assert 0 <= agg["gone"] < agg["toks"]


def test_curation_classifier_train_infer(curation, spark):
    """The classifier train->infer pair runs through the engine: the
    weight table is bucket-bounded, and the scores stage covers every
    non-empty doc with the trained (not frozen) weights — English docs
    score above the non-English mean since they supplied the positive
    class."""
    w = spark.table("curation_dev.quality_weights")
    assert 0 < w.count() <= 256
    scores = spark.table("curation_dev.doc_classifier_scores")
    docs = spark.table("curation_dev.stg_documents").select("doc_id", "lang")
    j = scores.join(docs, "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in j.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("quality_score").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_curation_token_plan_consistent(curation, spark):
    """The token-budget plan stage: one row per source, weights sum to
    ~1, planned <= min(budget share, max_epochs * available) with the
    vars-driven budget (project.yml: 100k tokens, 4 epochs)."""
    plan = spark.table("curation_dev.token_plan").collect()
    srcs = spark.table("curation_dev.docs_despanned").select("source").distinct()
    assert len(plan) == srcs.count()
    assert abs(sum(r["weight"] for r in plan) - 1.0) < 1e-3
    for r in plan:
        assert r["planned_tokens"] <= 4 * r["n_tokens"]
        assert r["epochs"] <= 4.0
        if not r["truncated"]:
            assert r["planned_tokens"] == int(100_000 * r["weight"])


def test_curation_shards_dense(curation, spark):
    sh = spark.table("curation_dev.corpus_shards")
    per = sh.groupBy("shard").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx")
    ).collect()
    assert {r["shard"] for r in per} <= set(range(8))
    for r in per:
        assert r["mx"] == r["n"]  # pos is a dense 1..n ranking


def test_curation_stats_cover_all_langs(curation, spark):
    stats = {r["lang"]: r for r in spark.table("curation_dev.corpus_stats").collect()}
    assert set(stats) == {"en", "de", "fr", "es", "zh"}
    for r in stats.values():
        assert 0.0 < r["retention"] <= 1.0


def test_curation_shards_partitioned_layout(curation, spark):
    import os

    eng, _ = curation
    loc = eng._relation_path("curation_dev.corpus_shards")
    subdirs = [d for d in os.listdir(loc) if d.startswith("shard=")]
    assert len(subdirs) >= 2  # physically partitioned by shard


def test_curation_fence_telemetry_in_run_results(curation):
    """The 'no silent caps' rule: every armed skew fence (LSH
    max_bucket_size, span max_occurrences — set via project vars)
    reports a per-node record in run_results.json with integer
    fenced-group/row counts, even when nothing tripped, so a
    production corpus that DOES trip a fence is visible."""
    import json

    eng, results = curation
    with open(os.path.join(eng.state_dir, "run_results.json")) as f:
        rr = json.load(f)
    fences = {r["unique_id"]: r.get("fences", []) for r in rr["results"]}
    near = fences["model.curation.near_dup_flags"]
    assert any(
        f["operator"] == "lsh_candidate_pairs"
        and f["fence"] == "max_bucket_size"
        for f in near
    )
    span = fences["model.curation.docs_despanned"]
    assert any(
        f["operator"] == "duplicated_spans" and f["fence"] == "max_occurrences"
        for f in span
    )
    sem = fences["model.curation.semantic_dup_flags"]
    assert any(
        f["operator"] == "semdedup" and f["fence"] == "max_cluster_size:split"
        for f in sem
    )
    for f in near + span + sem:
        assert isinstance(f["fenced_groups"], int) and f["fenced_groups"] >= 0
        assert isinstance(f["fenced_rows"], int) and f["fenced_rows"] >= 0
    # in-memory results carry the same records
    by_id = {r.unique_id: r for r in results.results}
    assert by_id["model.curation.near_dup_flags"].fences == near


# ---------------------------------------------------------------------------
# demo_curation_incremental: the day-partitioned daily-crawl product
# loop (r7 verdict #2) — three engine builds ingest id-ordered day
# slices, dedup each against the stored indexes, append survivors, and
# fold the indexes forward; the replay must converge to the one-shot
# build of the same DAG.
# ---------------------------------------------------------------------------
_DAY_RANGES = ((0, 170), (170, 340), (340, 1_000_000_000))


@pytest.fixture(scope="module")
def curation_incremental(spark, tmp_path_factory):
    os.environ["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    for sch in ("curation_inc_daily", "curation_inc_oneshot"):
        spark.sql(f"DROP DATABASE IF EXISTS {sch} CASCADE")
    state = tmp_path_factory.mktemp("cur_inc_state")
    one = Engine(
        spark, "demo_curation_incremental", target="oneshot",
        state_dir=str(state / "oneshot"),
    )
    r_one, _ = one.build()
    day_runs = []
    for lo, hi in _DAY_RANGES:
        eng = Engine(
            spark, "demo_curation_incremental", target="daily",
            state_dir=str(state / f"day_{lo}"),
        )
        eng.project.vars.update({"day_lo": lo, "day_hi": hi})
        r, _ = eng.build()
        day_runs.append((eng, r))
    return one, r_one, day_runs


def test_incremental_curation_runs_green(curation_incremental):
    _, r_one, day_runs = curation_incremental
    for results in [r_one] + [r for _, r in day_runs]:
        assert results.status_counts.get("error", 0) == 0, [
            (r.unique_id, r.message)
            for r in results.results
            if r.status == "error"
        ]
    # days 2 and 3 actually exercised the incremental machinery: the
    # curate-stage appends report INSERT APPEND, not CREATE TABLE
    for _, results in day_runs[1:]:
        by_id = {r.unique_id: r for r in results.results}
        for node in (
            "docs_kept", "signatures", "near_dup_pairs", "near_dup_flags",
            "semantic_flags", "span_index", "docs_despanned",
        ):
            assert by_id[f"model.curation_inc.{node}"].message == "INSERT APPEND"


def test_incremental_replay_equals_oneshot(curation_incremental, spark):
    """The central fold invariant, end to end through the engine: after
    ingesting three id-ordered day slices incrementally (each day
    deduped against the stored digest/signature/pair/embedding/span
    state, then folded forward), every materialized relation equals the
    one-shot build over the whole corpus — exact, near-dup, semantic,
    and span tiers included, down to the cleaned text."""

    def rows(schema, table, cols):
        return sorted(
            map(tuple, spark.table(f"{schema}.{table}").select(*cols).collect())
        )

    compare = [
        ("docs_kept", ["doc_id", "text_hash", "text", "lang", "source", "n_chars"]),
        ("signatures", None),  # all columns
        ("near_dup_pairs", ["a_id", "b_id"]),  # pair_type is cadence-tagged
        ("near_dup_flags", ["doc_id", "is_duplicate", "canonical_id"]),
        ("semantic_flags", ["doc_id", "list_id", "canonical_id", "is_duplicate"]),
        ("docs_despanned", ["doc_id", "lang", "source", "n_tokens", "n_removed", "cleaned_text"]),
        ("corpus_stats", ["lang", "n_docs", "total_tokens", "removed_tokens", "avg_tokens"]),
    ]
    for table, cols in compare:
        if cols is None:
            cols = spark.table(f"curation_inc_oneshot.{table}").columns
        one = rows("curation_inc_oneshot", table, cols)
        day3 = rows("curation_inc_daily", table, cols)
        assert one, f"{table}: one-shot produced no rows"
        assert day3 == one, f"{table}: day-3 state != one-shot"
    # the folded span index (sum of per-day deltas) equals the one-shot
    # index built in a single batch
    agg = (
        "SELECT win_hash, CAST(sum(n_occurrences) AS BIGINT) AS n "
        "FROM {}.span_index GROUP BY win_hash"
    )
    one_idx = sorted(map(tuple, spark.sql(agg.format("curation_inc_oneshot")).collect()))
    day_idx = sorted(map(tuple, spark.sql(agg.format("curation_inc_daily")).collect()))
    assert day_idx == one_idx and one_idx
    # sanity: the days were real partitions, not one day doing the work
    kept = spark.table("curation_inc_daily.docs_kept")
    per_day = [
        kept.filter(f"doc_id >= {lo} AND doc_id < {hi}").count()
        for lo, hi in _DAY_RANGES
    ]
    assert all(n > 0 for n in per_day)


def test_incremental_curation_fences_in_run_results(curation_incremental):
    """Fences/telemetry ride along in the incremental loop: every
    fence-armed stage of each DAILY build reports its per-node fence
    records (the no-silent-caps rule holds on the product loop, not
    just the one-shot demo)."""
    import json

    _, _, day_runs = curation_incremental
    for eng, results in day_runs:
        with open(os.path.join(eng.state_dir, "run_results.json")) as f:
            rr = json.load(f)
        fences = {r["unique_id"]: r.get("fences", []) for r in rr["results"]}
        assert any(
            f["operator"] == "lsh_incremental_pairs"
            and f["fence"] == "max_bucket_size"
            for f in fences["model.curation_inc.near_dup_pairs"]
        )
        assert any(
            f["operator"] == "duplicated_spans_incremental"
            and f["fence"] == "max_occurrences"
            for f in fences["model.curation_inc.docs_despanned"]
        )
        assert any(
            f["operator"] == "semdedup_incremental"
            and f["fence"] == "max_cluster_size:split"
            for f in fences["model.curation_inc.semantic_flags"]
        )


def test_incremental_span_k_provenance_guard(curation_incremental, spark, tmp_path):
    """A changed span_k var must not fold into the stored span index:
    the delta rows carry the k that enumerated them (the
    WindowHashIndex provenance contract in delta-log form), and the
    despan stage fails loudly on a mismatch instead of silently
    merging two hash spaces.  Run with an empty day slice so the
    failed probe appends nothing to the daily state."""
    eng = Engine(
        spark, "demo_curation_incremental", target="daily",
        state_dir=str(tmp_path / "state"),
    )
    eng.project.vars.update(
        {"day_lo": 10**9, "day_hi": 2 * 10**9, "span_k": 9}
    )
    results, _ = eng.build()
    by_id = {r.unique_id: r for r in results.results}
    despan = by_id["model.curation_inc.docs_despanned"]
    assert despan.status == "error"
    assert "incompatible hash spaces" in despan.message
    # the matching-k stage, span_index, still appended only its (empty)
    # delta — the guard fails the consumer, not the whole DAG
    assert by_id["model.curation_inc.docs_kept"].status == "success"


def test_incremental_bloom_probe_replay_equals_oneshot(curation_incremental, spark, tmp_path):
    """The bloom probe tier slots into the daily loop without changing
    results: three daily builds with exact_probe=bloom (batch
    pre-split on a bitmap of the stored digest index, positives
    re-checked exactly) converge to the same corpus as the one-shot
    anti-join build."""
    spark.sql("DROP DATABASE IF EXISTS curation_inc_bloom CASCADE")
    for i, (lo, hi) in enumerate(_DAY_RANGES):
        eng = Engine(
            spark, "demo_curation_incremental", target="daily_bloom",
            state_dir=str(tmp_path / f"bloom_{i}"),
        )
        eng.project.vars.update(
            {"day_lo": lo, "day_hi": hi, "exact_probe": "bloom"}
        )
        results, _ = eng.build()
        assert results.status_counts.get("error", 0) == 0, [
            (r.unique_id, r.message)
            for r in results.results
            if r.status == "error"
        ]

    def rows(schema, table, cols):
        return sorted(
            map(tuple, spark.table(f"{schema}.{table}").select(*cols).collect())
        )

    for table, cols in (
        ("docs_kept", ["doc_id", "text_hash", "text", "lang", "source", "n_chars"]),
        ("docs_despanned", ["doc_id", "lang", "source", "n_tokens", "n_removed", "cleaned_text"]),
    ):
        one = rows("curation_inc_oneshot", table, cols)
        bloom = rows("curation_inc_bloom", table, cols)
        assert bloom == one and one, f"{table}: bloom daily != one-shot"


def test_incremental_day_retry_is_idempotent(curation_incremental, spark, tmp_path):
    """Re-running a completed day must be a no-op in every stage: the
    digest anti-join, the per-stage stored-id anti-joins, and the
    span-index day-tag anti-join each degrade the append to zero rows
    — the retry semantics a nightly scheduler assumes (a crashed run
    re-submitted must not double-count the folded index or duplicate
    stored rows)."""
    tables = (
        "docs_kept", "signatures", "near_dup_pairs", "near_dup_flags",
        "semantic_flags", "span_index", "docs_despanned",
    )
    before = {
        t: spark.table(f"curation_inc_daily.{t}").count() for t in tables
    }
    lo, hi = _DAY_RANGES[-1]
    eng = Engine(
        spark, "demo_curation_incremental", target="daily",
        state_dir=str(tmp_path / "retry"),
    )
    eng.project.vars.update({"day_lo": lo, "day_hi": hi})
    results, _ = eng.build()
    assert results.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message)
        for r in results.results
        if r.status == "error"
    ]
    after = {
        t: spark.table(f"curation_inc_daily.{t}").count() for t in tables
    }
    assert after == before
    # and the folded index still matches the one-shot build (no
    # double-counted occurrences slipped in)
    agg = (
        "SELECT win_hash, CAST(sum(n_occurrences) AS BIGINT) AS n "
        "FROM {}.span_index GROUP BY win_hash"
    )
    one = sorted(map(tuple, spark.sql(agg.format("curation_inc_oneshot")).collect()))
    day = sorted(map(tuple, spark.sql(agg.format("curation_inc_daily")).collect()))
    assert day == one


def test_incremental_diagnostics_metrics_in_run_results(curation_incremental, spark):
    """r8 verdict #3: the diagnostics stage group runs recall evals as
    DAG stages and their numbers land in run_results `metrics` next to
    the fence telemetry — and `engine monitor`'s recall-degraded
    policy thresholds them."""
    import json

    from dbt_core_gcloud_template_spark.plans.monitor import evaluate_alerts

    _, _, day_runs = curation_incremental
    eng, results = day_runs[-1]
    with open(os.path.join(eng.state_dir, "run_results.json")) as f:
        rr = json.load(f)
    metrics = {r["unique_id"]: r.get("metrics", {}) for r in rr["results"]}
    near = metrics["model.curation_inc.near_dup_recall"]
    assert 0.0 <= near["lsh_recall"] <= 1.0
    assert 0.0 <= near["lsh_precision"] <= 1.0
    assert near["lsh_n_exact_pairs"] >= 1  # fixture plants near-dups
    sem = metrics["model.curation_inc.semantic_recall"]
    assert 0.0 <= sem["semantic_recall"] <= 1.0
    # retrieval leg (r9 verdict #4): recall@k of IVF retrieval under
    # the codebook artifact, with the query-sample provenance counters
    ret = metrics["model.curation_inc.retrieval_recall"]
    assert 0.0 <= ret["retrieval_recall"] <= 1.0
    assert 1 <= ret["retrieval_n_queries"] <= 5
    assert ret["retrieval_n_exact"] >= ret["retrieval_n_queries"]
    # in-memory results carry the same dicts
    by_id = {r.unique_id: r for r in results.results}
    assert by_id["model.curation_inc.near_dup_recall"].metrics == near
    assert by_id["model.curation_inc.semantic_recall"].metrics == sem
    assert by_id["model.curation_inc.retrieval_recall"].metrics == ret
    # the one-row diagnostic tables materialized alongside
    assert spark.table("curation_inc_daily.near_dup_recall").count() == 1
    assert spark.table("curation_inc_daily.semantic_recall").count() == 1
    assert spark.table("curation_inc_daily.retrieval_recall").count() == 1
    # alert thresholds flow through the monitor policy: an impossible
    # floor fires a warn per diagnostics node, a trivial floor is quiet
    fired = [
        a for a in evaluate_alerts(eng.state_dir, min_recall=1.01)
        if a["policy"] == "recall-degraded"
    ]
    assert {a["subject"] for a in fired} >= {
        "model.curation_inc.near_dup_recall",
        "model.curation_inc.semantic_recall",
        "model.curation_inc.retrieval_recall",
    }
    assert all(a["severity"] == "warn" for a in fired)
    assert not [
        a for a in evaluate_alerts(eng.state_dir, min_recall=-1.0)
        if a["policy"] == "recall-degraded"
    ]
    # quality-tier eval leg (r10): the RAW-corpus-trained classifier's
    # AUC lands next to its recall siblings, with class-count
    # provenance, and the classifier-degraded policy thresholds it
    qa = metrics["model.curation_inc.quality_auc"]
    assert 0.0 <= qa["quality_auc"] <= 1.0
    assert qa["quality_auc_n_pos"] >= 1 and qa["quality_auc_n_neg"] >= 1
    assert by_id["model.curation_inc.quality_auc"].metrics == qa
    assert spark.table("curation_inc_daily.quality_auc").count() == 1
    auc_fired = [
        a for a in evaluate_alerts(eng.state_dir, min_auc=1.01)
        if a["policy"] == "classifier-degraded"
    ]
    assert {a["subject"] for a in auc_fired} == {
        "model.curation_inc.quality_auc"
    }
    # strict naming: the n_pos/n_neg counter metrics (which merely
    # contain "auc") must NOT be thresholded against the ratio floor
    assert all("quality_auc=" in a["message"] for a in auc_fired)
    assert not [
        a for a in evaluate_alerts(eng.state_dir, min_auc=-1.0)
        if a["policy"] == "classifier-degraded"
    ]
    # dataset-drift leg (r10 continuation): PSI of the day's arrivals
    # vs ingested history, one metric per pinned text feature, and the
    # drift-degraded CEILING policy thresholds them
    dr = metrics["model.curation_inc.ingest_drift"]
    assert set(dr) == {
        "chars_psi", "punct_ratio_psi", "digit_ratio_psi",
        "lang_mix_psi", "source_mix_psi",
    }
    for v in dr.values():  # day 3: history exists, PSI is a real number
        assert v is not None and v >= 0.0
    assert by_id["model.curation_inc.ingest_drift"].metrics == dr
    # stored state is the bucket-count DELTA LOG (span_index pattern):
    # one tag per day, and the folded counts equal a one-shot
    # bucket_counts over the whole raw corpus — the fold invariant
    # that lets the baseline side never rescan history
    from dbt_core_gcloud_template_spark.operators import drift as drift_op

    delta_log = spark.table("curation_inc_daily.ingest_drift")
    assert {r["ingest_lo"] for r in delta_log.select("ingest_lo").distinct().collect()} == {
        0, 170, 340
    }
    # one spec fingerprint across all days (the spec is a pinned
    # artifact; a change would re-baseline the fold — r11 review fix)
    assert delta_log.select("spec_hash").distinct().count() == 1
    folded = sorted(
        map(
            tuple,
            delta_log.groupBy("feature", "bucket")
            .agg(F.sum("n").alias("n"))
            .collect(),
        )
    )
    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(
        map(
            tuple,
            drift_op.bucket_counts(
                raw, drift_op.corpus_drift_features()
            ).collect(),
        )
    )
    assert folded == want
    # embedding-space drift leg (r11): PSI of the day's assignment mix
    # under the PINNED codebook — the representation-space signal the
    # text-feature leg cannot see, feeding the SAME ceiling policy
    ed = metrics["model.curation_inc.embedding_drift"]
    assert set(ed) == {"list_mix_psi"}
    assert ed["list_mix_psi"] is not None and ed["list_mix_psi"] >= 0.0
    assert by_id["model.curation_inc.embedding_drift"].metrics == ed
    # its stored state is the same additive delta log: one tag per
    # day, and the folded counts equal a one-shot assignment count
    # over the whole VALID raw corpus under the same pinned codebook
    from dbt_core_gcloud_template_spark.operators.similarity import (
        _valid_vectors,
        ivf_assign,
    )

    elog = spark.table("curation_inc_daily.embedding_drift")
    assert {
        r["ingest_lo"]
        for r in elog.select("ingest_lo").distinct().collect()
    } == {0, 170, 340}
    # one fingerprint here too — it salts in the PINNED codebook, so a
    # deliberate retrain would re-baseline the assignment fold
    assert elog.select("spec_hash").distinct().count() == 1
    folded_e = sorted(
        map(
            tuple,
            elog.groupBy("feature", "bucket")
            .agg(F.sum("n").alias("n"))
            .collect(),
        )
    )
    raw_emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = spark.table("curation_inc_daily.codebook").select(
        "c_id", "vector"
    )
    want_e = sorted(
        map(
            tuple,
            drift_op.bucket_counts(
                ivf_assign(
                    _valid_vectors(raw_emb, "vec_id", "embedding"),
                    "vec_id",
                    "embedding",
                    n_lists=8,
                    centroids=cents,
                ),
                [("list_mix", F.col("list_id"), None)],
            ).collect(),
        )
    )
    assert folded_e == want_e
    drift_fired = [
        a for a in evaluate_alerts(eng.state_dir, max_psi=-0.1)
        if a["policy"] == "drift-degraded"
    ]
    assert {a["subject"] for a in drift_fired} == {
        "model.curation_inc.ingest_drift",
        "model.curation_inc.embedding_drift",
    }
    assert all("above the -0.1 ceiling" in a["message"] for a in drift_fired)
    assert not [
        a for a in evaluate_alerts(eng.state_dir, max_psi=1e9)
        if a["policy"] == "drift-degraded"
    ]
    # day 1 has no ingested history: PSI is None ("no baseline", not
    # "no drift") — carried explicitly through the metrics channel,
    # for BOTH drift legs
    day1_results = day_runs[0][1]
    day1 = {r.unique_id: r for r in day1_results.results}
    assert all(
        v is None
        for v in day1["model.curation_inc.ingest_drift"].metrics.values()
    )
    assert all(
        v is None
        for v in day1["model.curation_inc.embedding_drift"].metrics.values()
    )


def test_incremental_day_restatement_first_accepted_wins(
    curation_incremental, spark, tmp_path
):
    """r8 verdict #5: a real crawl also RESTATES a prior day — the same
    day re-delivered with changed rows.  Documented semantics (see
    demo_curation_incremental/README.md): FIRST-ACCEPTED WINS.  A
    doc_id the corpus already holds never re-enters even with changed
    text (the stored corpus is immutable history; without the doc_id
    guard the changed text would pass the digest probe and fork the
    doc across tiers); a doc GATED OUT on first delivery whose
    restated text passes the gates MAY enter (first ACCEPTED wins,
    not first seen — the README corollary, real since r10's source
    re-pointing fix made the engine actually read a re-delivered
    directory); and a retry of the restated delivery is a no-op."""
    import shutil

    tables = (
        "docs_kept", "signatures", "near_dup_pairs", "near_dup_flags",
        "semantic_flags", "span_index", "docs_despanned",
    )
    lo, hi = _DAY_RANGES[1]  # restate day 2
    kept_before = sorted(
        map(tuple, spark.table("curation_inc_daily.docs_kept")
            .select("doc_id", "text_hash", "text").collect())
    )
    counts_before = {
        t: spark.table(f"curation_inc_daily.{t}").count() for t in tables
    }
    # build the restated delivery: day-2 rows re-arrive with CHANGED
    # text; all other rows and tables are unchanged
    src = os.environ["SPARK_GRAFT_SF_DIR"]
    restated_dir = tmp_path / "restated_sf"
    restated_dir.mkdir()
    docs = spark.read.parquet(f"{src}/documents.parquet")
    from pyspark.sql import functions as F

    restated = docs.withColumn(
        "text",
        F.when(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi),
            F.concat(F.col("text"), F.lit(" restated-delivery-v2")),
        ).otherwise(F.col("text")),
    )
    restated.coalesce(1).write.parquet(str(restated_dir / "documents.parquet"))
    shutil.copy(
        f"{src}/embeddings.parquet", str(restated_dir / "embeddings.parquet")
    )
    try:
        os.environ["SPARK_GRAFT_SF_DIR"] = str(restated_dir)
        eng = Engine(
            spark, "demo_curation_incremental", target="daily",
            state_dir=str(tmp_path / "restate_state"),
        )
        eng.project.vars.update({"day_lo": lo, "day_hi": hi})
        results, _ = eng.build()
    finally:
        os.environ["SPARK_GRAFT_SF_DIR"] = src
    assert results.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message)
        for r in results.results
        if r.status == "error"
    ]
    kept_after = sorted(
        map(tuple, spark.table("curation_inc_daily.docs_kept")
            .select("doc_id", "text_hash", "text").collect())
    )
    before_by_id = {d: (h, t) for d, h, t in kept_before}
    after_by_id = {}
    for d, h, t in kept_after:
        assert d not in after_by_id, f"doc {d} forked across the restate"
        after_by_id[d] = (h, t)
    # first-accepted wins: every previously accepted id keeps its
    # ORIGINAL row byte-for-byte — the restated text never replaces or
    # forks an accepted doc
    for d, row in before_by_id.items():
        assert after_by_id[d] == row, f"doc {d} mutated by the restate"
    # late acceptances: docs gated out on first delivery (quality /
    # blocklist) whose restated text passes the gates enter normally —
    # only from the restated range, only with the restated text
    new_ids = set(after_by_id) - set(before_by_id)
    for d in new_ids:
        assert lo <= d < hi
        assert after_by_id[d][1].endswith("restated-delivery-v2")
    # every tier ingested exactly the late entrants, nothing else
    counts_after = {
        t: spark.table(f"curation_inc_daily.{t}").count() for t in tables
    }
    assert counts_after["docs_kept"] == counts_before["docs_kept"] + len(new_ids)
    assert counts_after["signatures"] == counts_before["signatures"] + len(new_ids)
    for t in tables:
        assert counts_after[t] >= counts_before[t]
    # a RETRY of the restated delivery is a no-op — the late entrants
    # are accepted history now, protected like any other stored doc
    eng_retry = Engine(
        spark, "demo_curation_incremental", target="daily",
        state_dir=str(tmp_path / "restate_retry"),
    )
    eng_retry.project.vars.update({"day_lo": lo, "day_hi": hi})
    try:
        os.environ["SPARK_GRAFT_SF_DIR"] = str(restated_dir)
        retry_results, _ = eng_retry.build()
    finally:
        os.environ["SPARK_GRAFT_SF_DIR"] = src
    assert retry_results.status_counts.get("error", 0) == 0
    counts_retry = {
        t: spark.table(f"curation_inc_daily.{t}").count() for t in tables
    }
    assert counts_retry == counts_after


# ---------------------------------------------------------------------------
# Codebook bootstrap-pin contract on a GROWING raw corpus (r9 verdict
# #2): the semantic tier's codebook is a training artifact.  Pinned
# (default), it trains once at bootstrap and every later build resolves
# it from stored state — so day-N ≡ one-shot holds even when the raw
# corpus gains rows between deliveries.  Unpinned, a per-build retrain
# re-clusters history and the replay invariant demonstrably breaks.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def growing_sf_dirs(spark, tmp_path_factory):
    """Three raw-corpus snapshots, id-aligned with _DAY_RANGES the way
    a crawl source actually grows (new rows land with higher ids):
    the day-1 state (ids < 170), the day-2 state (ids < 340), and the
    full corpus."""
    # deliberately NOT env-directed: _DAY_RANGES' id boundaries are
    # sized to sf0.001's fixture ids, so an env-pointed corpus would
    # silently mis-slice the "days"
    src = "/root/testdata/sf0.001"
    base = tmp_path_factory.mktemp("growing_sf")
    docs = spark.read.parquet(f"{src}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dirs = []
    for i, (_, hi) in enumerate(_DAY_RANGES[:2]):
        d = base / f"g{i + 1}"
        d.mkdir()
        docs.filter(F.col("doc_id") < hi).coalesce(1).write.parquet(
            str(d / "documents.parquet")
        )
        emb.filter(F.col("vec_id") < hi).coalesce(1).write.parquet(
            str(d / "embeddings.parquet")
        )
        dirs.append(str(d))
    dirs.append(src)
    return dirs


def _build_growing_days(spark, tmp_path, target, dirs, extra_vars=None):
    """Three daily builds, each against the raw corpus AS IT STOOD that
    day (the SF dir grows between builds)."""
    src0 = os.environ.get("SPARK_GRAFT_SF_DIR")
    try:
        for i, ((lo, hi), d) in enumerate(zip(_DAY_RANGES, dirs)):
            os.environ["SPARK_GRAFT_SF_DIR"] = d
            eng = Engine(
                spark, "demo_curation_incremental", target=target,
                state_dir=str(tmp_path / f"{target}_{i}"),
            )
            eng.project.vars.update(
                {"day_lo": lo, "day_hi": hi, **(extra_vars or {})}
            )
            results, _ = eng.build()
            assert results.status_counts.get("error", 0) == 0, [
                (r.unique_id, r.message)
                for r in results.results
                if r.status == "error"
            ]
    finally:
        if src0 is not None:
            os.environ["SPARK_GRAFT_SF_DIR"] = src0


def _rows(spark, schema, table, cols):
    return sorted(
        map(tuple, spark.table(f"{schema}.{table}").select(*cols).collect())
    )


_GROW_COMPARE = [
    ("docs_kept", ["doc_id", "text_hash", "text", "lang", "source", "n_chars"]),
    ("near_dup_flags", ["doc_id", "is_duplicate", "canonical_id"]),
    ("semantic_flags", ["doc_id", "list_id", "canonical_id", "is_duplicate"]),
    ("docs_despanned", ["doc_id", "lang", "source", "n_tokens", "n_removed",
                        "cleaned_text"]),
]


def test_growing_corpus_replay_pinned_codebook(
    spark, growing_sf_dirs, tmp_path
):
    """With the default ``codebook_pinned: true``, three daily builds
    against a GROWING raw corpus converge to the one-shot build of the
    final corpus under the same bootstrap artifact — the one-shot side
    pins via node selection (build the ``codebook`` stage alone on the
    bootstrap corpus, then the full DAG on the final corpus; the
    pinned stage resolves stored state and merges nothing), exactly
    the production bootstrap flow the README prescribes."""
    for sch in ("curation_inc_grow", "curation_inc_grow_one"):
        spark.sql(f"DROP DATABASE IF EXISTS {sch} CASCADE")
    _build_growing_days(spark, tmp_path, "grow_daily", growing_sf_dirs)

    src0 = os.environ.get("SPARK_GRAFT_SF_DIR")
    try:
        # bootstrap the artifact on the day-1 corpus, alone
        os.environ["SPARK_GRAFT_SF_DIR"] = growing_sf_dirs[0]
        eng_boot = Engine(
            spark, "demo_curation_incremental", target="grow_oneshot",
            state_dir=str(tmp_path / "grow_one_boot"),
        )
        r_boot, _ = eng_boot.build(select="codebook")
        assert r_boot.status_counts.get("error", 0) == 0
        assert spark.catalog.tableExists("curation_inc_grow_one.codebook")
        # the one-shot proper: full DAG over the final corpus; the
        # pinned codebook stage must leave the bootstrap artifact as-is
        os.environ["SPARK_GRAFT_SF_DIR"] = growing_sf_dirs[2]
        eng_one = Engine(
            spark, "demo_curation_incremental", target="grow_oneshot",
            state_dir=str(tmp_path / "grow_one_full"),
        )
        r_one, _ = eng_one.build()
        assert r_one.status_counts.get("error", 0) == 0, [
            (r.unique_id, r.message)
            for r in r_one.results
            if r.status == "error"
        ]
    finally:
        if src0 is not None:
            os.environ["SPARK_GRAFT_SF_DIR"] = src0

    # both sides froze the SAME bootstrap artifact...
    cb_cols = ["c_id", "vector"]
    cb_daily = _rows(spark, "curation_inc_grow", "codebook", cb_cols)
    cb_one = _rows(spark, "curation_inc_grow_one", "codebook", cb_cols)
    assert cb_daily == cb_one and cb_daily
    # ...and the replay invariant holds relation-for-relation
    for table, cols in _GROW_COMPARE:
        one = _rows(spark, "curation_inc_grow_one", table, cols)
        day3 = _rows(spark, "curation_inc_grow", table, cols)
        assert one, f"{table}: one-shot produced no rows"
        assert day3 == one, f"{table}: growing-corpus day-3 != one-shot"


def test_growing_corpus_unpinned_retrain_breaks_replay(
    spark, growing_sf_dirs, tmp_path
):
    """The negative contract that documents WHY the pin exists: with
    ``codebook_pinned: false`` each daily build retrains the codebook
    on that day's raw corpus, so stored history carries verdicts from
    three different clusterings while any one-shot build has exactly
    one — day-3 state ≠ one-shot.  (On a STATIC corpus unpinned
    retraining is replay-equivalent — every retrain reproduces the
    bootstrap — which is why the other incremental tests stay green
    without the pin; growth is what makes it load-bearing.)"""
    for sch in ("curation_inc_grow_unp", "curation_inc_grow_unp1"):
        spark.sql(f"DROP DATABASE IF EXISTS {sch} CASCADE")
    unpin = {"codebook_pinned": False}
    _build_growing_days(
        spark, tmp_path, "grow_unpinned", growing_sf_dirs, extra_vars=unpin
    )
    # the day-3 retrain REPLACED the artifact (merge on c_id): the
    # stored codebook is the final-corpus one, not the bootstrap one —
    # but day-1/day-2 verdicts were computed under the earlier models
    src0 = os.environ.get("SPARK_GRAFT_SF_DIR")
    try:
        os.environ["SPARK_GRAFT_SF_DIR"] = growing_sf_dirs[2]
        eng_one = Engine(
            spark, "demo_curation_incremental", target="grow_unp_one",
            state_dir=str(tmp_path / "grow_unp_one"),
        )
        eng_one.project.vars.update(unpin)
        r_one, _ = eng_one.build()
        assert r_one.status_counts.get("error", 0) == 0
    finally:
        if src0 is not None:
            os.environ["SPARK_GRAFT_SF_DIR"] = src0
    # the two FINAL codebooks agree (both trained on the full corpus) —
    # the breakage is purely re-clustered HISTORY...
    cb_cols = ["c_id", "vector"]
    assert _rows(spark, "curation_inc_grow_unp", "codebook", cb_cols) == \
        _rows(spark, "curation_inc_grow_unp1", "codebook", cb_cols)
    # ...which shows up in the semantic tier: stored day-1/2 rows were
    # assigned under the day-1/2 codebooks, the one-shot under the
    # final one
    flags_cols = ["doc_id", "list_id", "canonical_id", "is_duplicate"]
    day3 = _rows(spark, "curation_inc_grow_unp", "semantic_flags", flags_cols)
    one = _rows(spark, "curation_inc_grow_unp1", "semantic_flags", flags_cols)
    assert day3 and one
    assert day3 != one, (
        "unpinned retrain on a growing corpus unexpectedly preserved "
        "replay — the negative contract this test documents no longer "
        "demonstrates itself"
    )


def test_ingest_drift_day_restatement_reingests_through_dag(
    curation_incremental, spark, tmp_path
):
    """r12 (r11 verdict #3), DAG-level: `engine restate` evicts one
    ingested day from the drift log, and RE-DELIVERING that day
    through the real diagnostics stage re-ingests it — ending with a
    log identical to never having restated (the delivery is unchanged
    here; the corrected-delivery divergence case is covered at the
    engine level) and recomputed PSI metrics identical to the
    original day-2 run (the fold's `ingest_lo < lo` guard makes the
    baseline day-1-only even though day 3 is already stored).  Runs
    BEFORE the compaction test: restate refuses folded days."""
    _, _, day_runs = curation_incremental
    tbl = "curation_inc_daily.ingest_drift"

    def snap():
        return sorted(map(tuple, spark.table(tbl).collect()))

    before = snap()
    day2_metrics = {
        r.unique_id: r.metrics for r in day_runs[1][1].results
    }["model.curation_inc.ingest_drift"]

    eng = Engine(
        spark, "demo_curation_incremental", target="daily",
        state_dir=str(tmp_path / "restate"),
    )
    out = eng.restate_drift_day(tbl, 170)
    assert out["evicted_rows"] > 0
    assert {
        r["ingest_lo"]
        for r in spark.table(tbl).select("ingest_lo").distinct().collect()
    } == {0, 340}
    # re-deliver day 2 through the REAL stage: the retry anti-join now
    # accepts the tag again
    lo, hi = _DAY_RANGES[1]
    eng.project.vars.update({"day_lo": lo, "day_hi": hi})
    results, _ = eng.build(select="ingest_drift")
    assert results.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message)
        for r in results.results
        if r.status == "error"
    ]
    assert snap() == before
    rerun_metrics = {
        r.unique_id: r.metrics for r in results.results
    }["model.curation_inc.ingest_drift"]
    assert rerun_metrics == day2_metrics


def test_ingest_drift_log_compaction_preserves_semantics(
    curation_incremental, spark, tmp_path
):
    """Nightly maintenance loop closure (r11): after the 3-day build,
    `optimize --compact-deltas-through` row-compacts the ingest_drift
    delta log — and the REAL stage keeps working against the compacted
    state: the history fold (and therefore every future PSI) is
    unchanged, every day tag stays visible, and a retry of the last
    day is still a no-op with identical recorded metrics."""
    _, _, day_runs = curation_incremental

    def real_fold():
        return sorted(
            map(
                tuple,
                spark.table("curation_inc_daily.ingest_drift")
                .filter("ingest_lo < 340 AND bucket IS NOT NULL")
                .groupBy("feature", "bucket")
                .agg(F.sum("n").alias("n"))
                .collect(),
            )
        )

    fold_before = real_fold()
    day3_metrics = {
        r.unique_id: r.metrics for r in day_runs[-1][1].results
    }["model.curation_inc.ingest_drift"]

    eng = Engine(
        spark, "demo_curation_incremental", target="daily",
        state_dir=str(tmp_path / "compact"),
    )
    stats = eng.optimize(
        "curation_inc_daily.ingest_drift", compact_deltas_through=340
    )
    assert stats["rows_after"] < stats["rows_before"]
    assert real_fold() == fold_before
    assert {
        r["ingest_lo"]
        for r in spark.table("curation_inc_daily.ingest_drift")
        .select("ingest_lo")
        .distinct()
        .collect()
    } == {0, 170, 340}

    # retry day 3 against the COMPACTED log: still a zero-row append,
    # and the recomputed PSI metrics are identical
    lo, hi = _DAY_RANGES[-1]
    n_before = spark.table("curation_inc_daily.ingest_drift").count()
    eng.project.vars.update({"day_lo": lo, "day_hi": hi})
    results, _ = eng.build(select="ingest_drift")
    assert results.status_counts.get("error", 0) == 0, [
        (r.unique_id, r.message)
        for r in results.results
        if r.status == "error"
    ]
    assert spark.table("curation_inc_daily.ingest_drift").count() == n_before
    retry_metrics = {
        r.unique_id: r.metrics for r in results.results
    }["model.curation_inc.ingest_drift"]
    assert retry_metrics == day3_metrics
