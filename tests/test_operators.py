"""Unit tests for diff / schema-diff / generic tests / dedup /
similarity operators on constructed fixtures (FIXTURES.md F5/F6)."""

import pyspark.sql.functions as F
import pytest

from dbt_core_gcloud_template_spark.operators import dedup, diff, schema_diff, similarity
from dbt_core_gcloud_template_spark.operators import tests as tests_op


# ---------------------------------------------------------------- data diff
def test_diff_counts_and_distinct_collapse(spark):
    # FIXTURES F5: 3 dev-only, 2 prod-only, 10 shared, dev dup collapses
    shared = [(i, "s") for i in range(10)]
    dev_rows = shared + [(100, "d"), (101, "d"), (102, "d"), (100, "d")]  # dup
    prod_rows = shared + [(200, "p"), (201, "p")]
    dev = spark.createDataFrame(dev_rows, "id int, tag string")
    prod = spark.createDataFrame(prod_rows, "id int, tag string")
    sample, counts = diff.diff_frames(dev, prod, limit=100)
    row = counts.collect()[0]
    assert row["dev_count"] == 14  # raw count includes the dup
    assert row["prod_count"] == 12
    assert row["dev_not_in_prod"] == 3  # EXCEPT DISTINCT collapses the dup
    assert row["prod_not_in_dev"] == 2
    tags = {r["diff_type"] for r in sample.collect()}
    assert tags == {"in_dev_not_in_prod", "in_prod_not_in_dev"}


def test_diff_by_hash_matches_full_diff(spark):
    dev = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    prod = spark.createDataFrame([(1, "a"), (3, "c")], "id int, s string")
    _, counts = diff.diff_frames(dev, prod, by_hash=True)
    row = counts.collect()[0]
    assert row["dev_not_in_prod"] == 1 and row["prod_not_in_dev"] == 1


# -------------------------------------------------------------- schema diff
def test_markdown_diff_reports_golden():
    """PR-comment markdown rendering matches the reference scripts'
    table shapes byte-for-byte (pr_data_diff.sh:83-118,
    pr_schema_diff.sh:178-305)."""
    from dbt_core_gcloud_template_spark.operators.diff import DiffResult
    from dbt_core_gcloud_template_spark.operators.reports import (
        data_diff_markdown,
        schema_diff_markdown,
    )
    from dbt_core_gcloud_template_spark.operators.schema_diff import SchemaDiff

    res = [
        DiffResult("fct_example", "EXISTS", 100, 100, 0, 0),
        DiffResult("fct_changed", "EXISTS", 105, 100, 7, 2),
        DiffResult("fct_new", "NEW_MODEL", 42, 0, 0, 0),
    ]
    got = data_diff_markdown(res, generated_at="2026-01-01 00:00:00 UTC")
    assert got == (
        "# dbt Data Diff Summary\n"
        "\n"
        "_Generated: 2026-01-01 00:00:00 UTC_\n"
        "\n"
        "| Model | Dev Rows | Prod Rows | Dev-Not-In-Prod | Prod-Not-In-Dev | Status |\n"
        "|---|---:|---:|---:|---:|---:|\n"
        "| fct_example | 100 | 100 | 0 | 0 | ✅ Unchanged |\n"
        "| fct_changed | 105 | 100 | 7 | 2 | 📊 Updated |\n"
        "| fct_new | 42 | N/A | N/A | N/A | 🆕 New Model |\n"
    )

    drift = SchemaDiff(
        added=["new_col"],
        removed=["old_col"],
        type_changed=[("amt", "decimal(18,2)", "double")],
        nullability_changed=[("id", False, True)],
    )
    got2 = schema_diff_markdown(
        [("fct_clean", SchemaDiff(), False), ("fct_drift", drift, True),
         ("fct_new", None, False)],
    )
    assert "| Model | Status | Moved | Type Change | +Cols | -Cols | Changed |" in got2
    assert "| fct_clean | ✅ Clean | UNCHANGED |  | 0 | 0 | 0 |" in got2
    assert "| fct_drift | ⚠️ Drift | 🔀 MOVED | yes | 1 | 1 | 2 |" in got2
    assert "| fct_new | 🆕 New Model | UNCHANGED |  | 0 | 0 | 0 |" in got2
    assert "- ➕ added column `new_col`" in got2
    assert "- 🔁 `amt`: double → decimal(18,2)" in got2


def test_schema_diff_f6(spark):
    dev = spark.createDataFrame(
        [], "id string, created_at_ts timestamp, bucket string, extra string"
    )
    prod = spark.createDataFrame(
        [], "id bigint, created_at_ts timestamp, bucket string, value double"
    )
    d = schema_diff.diff_schemas(dev.schema, prod.schema)
    assert d.added == ["extra"]
    assert d.removed == ["value"]
    assert [c for c, _, _ in d.type_changed] == ["id"]


# ------------------------------------------------------------ generic tests
def test_unique_and_not_null(spark):
    df = spark.createDataFrame([(1,), (1,), (2,), (None,)], "id int")
    assert tests_op.unique_test(df, "id") == 1  # one duplicated value
    assert tests_op.not_null_test(df, "id") == 1


def test_accepted_values_and_relationships(spark):
    df = spark.createDataFrame([("high",), ("regular",), ("weird",)], "b string")
    assert tests_op.accepted_values_test(df, "b", ["high", "regular"]) == 1
    child = spark.createDataFrame([(1,), (2,), (9,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    assert tests_op.relationships_test(child, "fk", parent, "pk") == 1


# ------------------------------------------------------------------- dedup
@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")  # one-token edit = near-dup
    other = "completely different content about spark query engines at scale"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup_collapses_identical(spark, docs):
    out = dedup.exact_dedup(docs, "text", "doc_id")
    groups = {r["canonical_id"]: r["n_copies"] for r in out.collect()}
    assert groups[1] == 2  # docs 1+2 identical
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_identical_docs_same_signature(spark, docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", k_shingle=3, n_hashes=4)
    rows = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(4)) for r in sigs.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[4]
    # near-dup shares most minhash components
    assert sum(a == b for a, b in zip(rows[1], rows[3])) >= 2


def test_lsh_pairs_find_exact_and_near_dups(spark, docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", k_shingle=3, n_hashes=4)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", [[0, 1], [2, 3]])
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(4 in p for p in got)


def test_exact_dedup_incremental_drops_indexed_content(spark, docs):
    index = docs.filter(F.col("doc_id").isin(1, 3)).select(
        F.md5("text").alias("text_hash")
    )
    batch = docs.filter(F.col("doc_id").isin(2, 4))
    out = dedup.exact_dedup_incremental(batch, index, "text", "doc_id")
    rows = {r["canonical_id"]: r["n_copies"] for r in out.collect()}
    # doc 2 is byte-identical to indexed doc 1 -> dropped; doc 4 is new
    assert rows == {4: 1}
    # within-batch duplicates collapse before the index check
    out2 = dedup.exact_dedup_incremental(
        docs.filter(F.col("doc_id").isin(1, 2)),
        docs.filter(F.col("doc_id") == 4).select(F.md5("text").alias("text_hash")),
        "text",
        "doc_id",
    )
    rows2 = {r["canonical_id"]: r["n_copies"] for r in out2.collect()}
    assert rows2 == {1: 2}


def test_lsh_incremental_pairs_excludes_old_old(spark, docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", k_shingle=3, n_hashes=4)
    bands = [[0, 1], [2, 3]]
    # New batch {2, 3} vs stored corpus {1, 4}: the 1-2 identical pair
    # crosses the boundary, and every emitted pair must touch a new doc.
    inc = dedup.lsh_incremental_pairs(
        sigs.filter(F.col("doc_id").isin(2, 3)),
        sigs.filter(F.col("doc_id").isin(1, 4)),
        "doc_id",
        bands,
    )
    got = {(r["a_id"], r["b_id"]): r["pair_type"] for r in inc.collect()}
    assert got[(1, 2)] == "new_old"
    assert all(a in (2, 3) or b in (2, 3) for a, b in got)
    # Dual split — only doc 4 (a loner) is new: the 1-2 near-dup pair is
    # old x old and must NOT be re-emitted; nothing pairs with 4.
    inc2 = dedup.lsh_incremental_pairs(
        sigs.filter(F.col("doc_id") == 4),
        sigs.filter(F.col("doc_id") != 4),
        "doc_id",
        bands,
    )
    assert inc2.count() == 0
    # Consistency: incremental pairs ⊆ full candidate pairs.
    full = {
        (r["a_id"], r["b_id"])
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id", bands).collect()
    }
    assert set(got) <= full


def test_ngram_jaccard_scores(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k_shingle=3, threshold=0.3)
    jac = {(r["a_id"], r["b_id"]): r["jaccard"] for r in pairs.collect()}
    assert jac[(1, 2)] == 1.0
    assert 0.3 <= jac[(1, 3)] < 1.0
    assert (1, 4) not in jac


def test_simhash_hamming(spark, docs):
    sh = dedup.simhash(docs, "doc_id", "text", bits=32)
    rows = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert rows[1] == rows[2]
    j = spark.createDataFrame(
        [(rows[1], rows[3]), (rows[1], rows[4])], "a long, b long"
    ).select(dedup.hamming_distance(F.col("a"), F.col("b")).alias("d"))
    d_near, d_far = [r["d"] for r in j.collect()]
    assert d_near < d_far


# --------------------------------------------------------------- similarity
def test_invalid_vectors_dropped_not_fatal(spark):
    """NULL / empty / all-zero vectors have no cosine geometry: every
    cosine-family operator must drop them (never crash under ANSI
    division, never emit them as neighbors)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),   # zero norm
        (3, []),           # empty
        (4, None),         # NULL vector
        (None, [1.0, 1.0]),  # NULL id
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = similarity.cosine_topk(emb, "vec_id", "embedding", [0], k=5)
    ids = {r["vec_id"] for r in top.collect()}
    assert ids == {1}
    pairs = similarity.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.1
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_embedding_near_dup_exhaustive_fence(spark):
    """The O(n²) exhaustive baseline is fenced: above the row limit it
    must raise (pointing at the LSH scale path) rather than launch a
    quadratic cross join; allow_exhaustive=True and the LSH prefilter
    both bypass the fence."""
    import pytest as _pytest

    big = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=7), F.rand(seed=11)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="prefilter_planes"):
        similarity.embedding_near_dup_pairs(
            big, "vec_id", "embedding", exhaustive_row_limit=10
        )
    # override: same call succeeds when explicitly allowed
    allowed = similarity.embedding_near_dup_pairs(
        big, "vec_id", "embedding", exhaustive_row_limit=10,
        allow_exhaustive=True,
    )
    assert allowed.columns == ["id_a", "id_b", "cosine"]
    # the LSH-prefiltered scale path never trips the fence
    pre = similarity.embedding_near_dup_pairs(
        big, "vec_id", "embedding", exhaustive_row_limit=10,
        prefilter_planes=2, dim=2,
    )
    assert pre.columns == ["id_a", "id_b", "cosine"]


def test_cosine_topk_self_similarity(spark):
    import math

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),  # nearly parallel to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = similarity.cosine_topk(emb, "vec_id", "embedding", [0], k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["vec_id"] == 1 and math.isclose(rows[0]["cosine"], 1.0, abs_tol=1e-3)
    assert rows[0]["rank"] == 1 and len(rows) == 2


def test_lsh_bucket_recall_on_identical_vectors(spark):
    vecs = [(0, [0.5] * 8), (1, [0.5] * 8), (2, [-0.5] * 8)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = similarity.lsh_bucket_ids(emb, "vec_id", "embedding", dim=8, n_planes=4)
    b = {r["vec_id"]: r["bucket_id"] for r in out.collect()}
    assert b[0] == b[1]
    assert b[0] != b[2]


# --------------------------------------------------------------- temporal
def test_asof_join_basic_ties_and_no_match(spark):
    from datetime import datetime

    from dbt_core_gcloud_template_spark.operators import temporal

    t = datetime
    left = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 10, 0), "ev_a"),   # after state@9:00 -> 100
            (1, t(2024, 1, 1, 12, 0), "ev_b"),   # ties state@12:00 -> 200
            (2, t(2024, 1, 1, 8, 0), "ev_c"),    # before any state -> null
            (3, t(2024, 1, 1, 9, 0), "ev_d"),    # key with no states -> null
        ],
        "k long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 9, 0), 100.0),
            (1, t(2024, 1, 1, 12, 0), 200.0),
            (2, t(2024, 1, 1, 9, 0), 300.0),
        ],
        "k long, state_ts timestamp, val double",
    )
    out = temporal.asof_join(left, right, "k", "ts", "state_ts", ["val"])
    got = {r["name"]: r["val"] for r in out.collect()}
    assert got == {"ev_a": 100.0, "ev_b": 200.0, "ev_c": None, "ev_d": None}


def test_asof_join_tolerance(spark):
    from datetime import datetime

    from dbt_core_gcloud_template_spark.operators import temporal

    t = datetime
    left = spark.createDataFrame(
        [(1, t(2024, 1, 1, 12, 0), "late"), (1, t(2024, 1, 1, 9, 30), "fresh")],
        "k long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, t(2024, 1, 1, 9, 0), 1.0)], "k long, state_ts timestamp, val double"
    )
    out = temporal.asof_join(
        left, right, "k", "ts", "state_ts", ["val"], tolerance="2 hours"
    )
    got = {r["name"]: r["val"] for r in out.collect()}
    # 12:00 is >2h past the 9:00 state -> dropped; 9:30 is within tolerance
    assert got == {"late": None, "fresh": 1.0}


def test_range_join_closed_interval(spark):
    from datetime import datetime

    from dbt_core_gcloud_template_spark.operators import temporal

    t = datetime
    facts = spark.createDataFrame(
        [(1, t(2024, 1, 1, 9, 0)), (1, t(2024, 1, 1, 11, 0)), (1, t(2024, 1, 1, 10, 0))],
        "k long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(1, t(2024, 1, 1, 9, 0), t(2024, 1, 1, 10, 0))],
        "k long, start timestamp, end timestamp",
    )
    out = temporal.range_join(facts.alias("f"), iv.alias("i"), "k", "ts", "start", "end")
    # closed interval: boundary rows 9:00 and 10:00 included, 11:00 excluded
    assert out.count() == 2


def test_connected_components_chain_and_star(spark):
    """Chains (1-2, 2-3, 3-4) need iterated propagation; one round of
    canonical_ids can't resolve them — connected_components must."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    out = {
        r["node_id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


# --------------------------------------------------------------- skew
def test_salted_join_matches_plain_join(spark):
    """salted_join == plain join on a skewed key distribution, and the
    salted plan joins on (key, salt)."""
    from dbt_core_gcloud_template_spark.operators.skew import salted_join

    # 90% of facts hit key 1 (hot key)
    facts = spark.createDataFrame(
        [(1 if i % 10 else 2, float(i)) for i in range(1000)], "k long, v double"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k long, label string")

    plain = facts.join(dim, "k").groupBy("k", "label").count()
    salted = salted_join(facts, dim, "k", n_salts=4).groupBy("k", "label").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    # left join keeps unmatched facts exactly once
    facts2 = facts.union(spark.createDataFrame([(99, 0.0)], "k long, v double"))
    left = salted_join(facts2, dim, "k", n_salts=4, how="left")
    assert left.count() == facts2.count()
    assert left.filter("k = 99").collect()[0]["label"] is None


# --------------------------------------------------------------- zorder
def test_z_value_interleaves_locality(spark):
    """Morton codes: near points in (x, y) get near z-values; a point
    far in BOTH dims gets a far z-value; known bit patterns check out."""
    from dbt_core_gcloud_template_spark.operators.zorder import z_value, zorder_sort

    rows = [(0, 0.0, 0.0), (1, 1.0, 1.0), (2, 255.0, 255.0), (3, 0.0, 255.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    z = {r["id"]: r["_z"] for r in z_value(df, ["x", "y"], bits=8).collect()}
    # corners: (0,0) -> 0; (255,255) -> all 16 bits set
    assert z[0] == 0
    assert z[2] == (1 << 16) - 1
    # (0,0) is closer to (1,1) than to (0,255) in z-space
    assert abs(z[1] - z[0]) < abs(z[3] - z[0])

    out = zorder_sort(df, ["x", "y"], bits=8)
    assert set(out.columns) == {"id", "x", "y"}
    assert out.count() == 4


# ------------------------------------------------- round-2 regressions
def test_shingles_short_docs_empty_not_crash(spark):
    """Docs with fewer than k tokens yield empty shingle arrays (Spark's
    sequence(1,0) is [1,0], and slice(tok, 0, k) throws — regression)."""
    from dbt_core_gcloud_template_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e f g"), (3, ""), (4, "solo")],
        "doc_id long, text string",
    )
    # must not raise, and short docs simply produce no pairs
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k_shingle=5)
    assert pairs.collect() == []

    from dbt_core_gcloud_template_spark.functions.text import shingles_expr, tokens_expr
    from pyspark.sql import functions as F

    sh = docs.select(
        "doc_id", F.size(shingles_expr(tokens_expr(F.col("text")), 5)).alias("n")
    )
    out = {r["doc_id"]: r["n"] for r in sh.collect()}
    assert out == {1: 0, 2: 3, 3: 0, 4: 0}


def test_salted_join_rejects_right_full(spark):
    """right/full would duplicate unmatched dim rows n_salts x — rejected."""
    import pytest as _pytest

    from dbt_core_gcloud_template_spark.operators.skew import salted_join

    facts = spark.createDataFrame([(1, 1.0)], "k long, v double")
    dim = spark.createDataFrame([(1, "x")], "k long, label string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError):
            salted_join(facts, dim, "k", how=how)


def test_z_value_empty_and_all_null_input(spark):
    """OPTIMIZE over an empty partition must be a no-op, not a crash."""
    from dbt_core_gcloud_template_spark.operators.zorder import z_value, zorder_sort

    empty = spark.createDataFrame([], "id long, x double, y double")
    assert z_value(empty, ["x", "y"], bits=8).collect() == []
    assert zorder_sort(empty, ["x", "y"], bits=8).count() == 0

    nulls = spark.createDataFrame([(1, None, 2.0), (2, None, 3.0)], "id long, x double, y double")
    out = z_value(nulls, ["x", "y"], bits=8)
    assert out.count() == 2  # degenerate: constant _z, still no crash


# --------------------------------------------------- corpus-curation round 2
def test_contamination_detects_planted_leak(spark):
    from dbt_core_gcloud_template_spark.operators.contamination import (
        ngram_contamination,
    )

    leak = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, leak + " eta theta"),          # train
            (2, leak),                          # eval: every 5-gram leaked
            (3, "one two three four five six"), # eval: clean
            (4, "short text"),                  # eval: < k tokens, dropped
        ],
        "doc_id long, text string",
    )
    out = ngram_contamination(
        docs,
        "doc_id",
        "text",
        is_eval=F.col("doc_id") > 1,
        is_train=F.col("doc_id") == 1,
        k_shingle=5,
        flag_threshold=0.5,
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert set(by_id) == {2, 3}  # doc 4 has no shingles
    assert by_id[2]["n_shingles"] == 2 and by_id[2]["n_overlap"] == 2
    assert by_id[2]["is_contaminated"] is True
    assert by_id[3]["n_overlap"] == 0 and by_id[3]["is_contaminated"] is False


def test_repetition_stats_known_values(spark):
    from dbt_core_gcloud_template_spark.operators.text_analysis import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),     # bigrams: ab ba ab ba ab -> 2 distinct of 5
            (2, "u v w x y z"),     # all distinct
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert out[1]["dup_bigram_frac"] == pytest.approx(1 - 2 / 5)
    assert out[1]["top_token_ratio"] == pytest.approx(3 / 6)
    assert out[1]["is_repetitive"] is True
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[2]["is_repetitive"] is False


def test_hash_gate_deterministic_and_rate(spark):
    from dbt_core_gcloud_template_spark.operators.sampling import (
        hash_gate,
        stratified_sample,
    )

    df = spark.range(10_000).select(
        F.col("id"), F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang")
    )
    kept = df.filter(hash_gate(F.col("id"), 0.25, salt="t"))
    n1, n2 = kept.count(), kept.count()
    assert n1 == n2  # deterministic
    assert abs(n1 / 10_000 - 0.25) < 0.02  # within 2pp of the target rate

    strat = stratified_sample(df, "id", "lang", {"en": 0.0}, default_rate=1.0)
    langs = {r["lang"] for r in strat.select("lang").distinct().collect()}
    assert langs == {"de"}  # rate 0 removes the stratum entirely


def test_quantize_int8_roundtrip_bounds(spark):
    from dbt_core_gcloud_template_spark.operators.similarity import quantize_int8

    rows = [
        (1, [0.0, 0.5, 1.0]),
        (2, [-2.0, 0.0, 2.0]),
        (3, [3.0, 3.0, 3.0]),  # degenerate: zero span
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    assert out[1]["codes"] == [0, 128, 255]  # round(0.5*255)=floor(127.5+0.5)
    assert out[2]["codes"] == [0, 128, 255]
    assert out[3]["codes"] == [0, 0, 0] and out[3]["mse"] == 0.0
    # max reconstruction error is bounded by half a quantization step
    for vid in (1, 2):
        step = (out[vid]["hi"] - out[vid]["lo"]) / 255
        assert out[vid]["max_abs_err"] <= step / 2 + 1e-8  # 8dp display rounding


def test_label_centroids_exact_mean(spark):
    from dbt_core_gcloud_template_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 6.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    out = {
        (r["label"], r["dim"]): r["centroid"]
        for r in label_centroids(df, "embedding", "label").collect()
    }
    assert out[(0, 0)] == 2.0 and out[(0, 1)] == 4.0
    assert out[(1, 0)] == 10.0 and out[(1, 1)] == 20.0


def test_redact_pii_chain_order(spark):
    from dbt_core_gcloud_template_spark.operators.text_analysis import redact_pii

    docs = spark.createDataFrame(
        [(1, "mail a.b-c@x.io and 555-123-4567 twice 555-000-1111"), (2, "clean")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs, "doc_id", "text").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 2
    assert "<EMAIL>" in out[1]["clean_text"] and "<PHONE>" in out[1]["clean_text"]
    assert "@" not in out[1]["clean_text"]
    assert out[2]["n_emails"] == 0 and out[2]["clean_text"] == "clean"


# ---------------------------------------------------------------------------
# chunking / packing / ranking (operators/chunking.py, operators/ranking.py)
# ---------------------------------------------------------------------------
def test_chunk_documents_window_arithmetic(spark):
    from dbt_core_gcloud_template_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(40))),  # 3 chunks: 1-16,13-28,25-40
            (2, " ".join(f"t{i}" for i in range(16))),  # exactly one chunk
            (3, "solo"),                                # short doc: one 1-token chunk
            (4, "   "),                                 # no tokens: dropped
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_size=16, stride=12)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert {k[0] for k in rows} == {1, 2, 3}
    assert [rows[(1, i)].n_chunk_tokens for i in range(3)] == [16, 16, 16]
    assert rows[(1, 2)].chunk_text.split()[0] == "t24"  # start = 2*12+1 → t24 (0-based)
    assert rows[(2, 0)].n_chunk_tokens == 16 and (2, 1) not in rows
    assert rows[(3, 0)].chunk_text == "solo"
    # stride > chunk_size would silently drop tokens
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", chunk_size=8, stride=9)


def test_pack_sequences_cumsum_binning(spark):
    from dbt_core_gcloud_template_spark.operators.chunking import pack_sequences

    # token counts per doc: 40, 40, 40 → cum_before 0, 40, 80 → seqs 0, 0, 1
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 40), "en") for i in range(3)]
        + [(10, " ".join(["w"] * 500), "de")],  # clipped to seq_len
        ["doc_id", "text", "lang"],
    )
    out = {
        (r.lang, r.seq_no): r
        for r in pack_sequences(
            docs, "doc_id", "text", seq_len=64, partition_col="lang"
        ).collect()
    }
    assert out[("en", 0)].n_docs == 2 and out[("en", 0)].n_tokens == 80
    assert out[("en", 1)].n_docs == 1 and out[("en", 1)].n_tokens == 40
    assert out[("de", 0)].n_tokens == 64  # clipped
    assert abs(out[("en", 0)].fill_ratio - 80 / 64) < 1e-9


def test_pack_sequences_distributed_cumsum_parity(spark):
    """Above rows_per_bucket the packing prefix sum goes distributed
    (bucketed windows + broadcast offsets); the assignment must be
    byte-identical to the plain windowed path on a dominant-key
    fixture (one hot lang holding most rows) including a NULL group,
    for both the partitioned and the global (no partition_col) form."""
    from dbt_core_gcloud_template_spark.operators.chunking import pack_sequences

    rows = [(i, " ".join(["w"] * (3 + i % 9)), "en") for i in range(300)]
    rows += [(1000 + i, " ".join(["w"] * (2 + i % 5)), "de") for i in range(20)]
    rows += [(2000 + i, " ".join(["w"] * 4), None) for i in range(10)]
    # one NULL order key per group: must neither crash the boundary
    # sample (NULL tuples don't sort driver-side) nor change the
    # assignment — NULL keys bucket to 0, matching NULLS FIRST
    rows += [(None, " ".join(["w"] * 5), "en"), (None, " ".join(["w"] * 6), "de")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def key(frame):
        return {
            (r["lang"] if "lang" in frame.columns else None, r["seq_no"]): (
                r["n_docs"], r["n_tokens"], r["fill_ratio"]
            )
            for r in frame.collect()
        }

    for pcol in ("lang", None):
        plain = pack_sequences(
            docs, "doc_id", "text", seq_len=16, partition_col=pcol
        )
        dist = pack_sequences(
            docs, "doc_id", "text", seq_len=16, partition_col=pcol,
            rows_per_bucket=40,
        )
        assert key(dist) == key(plain), f"partition_col={pcol}"


def test_semdedup_recall_eval_sampling_keeps_production_codebook(spark, sf_dir):
    """The sample_mod gate restricts the truth pairs and the assignment
    INPUT but never the codebook: centroids stay the ungated corpus's
    vec_id < 8 vectors (what embedding_semdedup actually assigns
    against).  Deriving them from the gated frame could leave the
    codebook empty/partial and report a recall for a clustering nobody
    runs — pinned by recomputing the gated recall against the
    production codebook independently."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators import similarity
    from dbt_core_gcloud_template_spark.queries.extra import semdedup_recall_eval
    from dbt_core_gcloud_template_spark.sources.registry import load_table

    mod = 3
    row = semdedup_recall_eval(spark, sf_dir, sample_mod=mod).first()
    assert 0.0 <= row["recall"] <= 1.0
    assert row["n_captured_pairs"] <= row["n_true_pairs"]

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vector")
    )
    gated = emb.filter(
        F.pmod(F.xxhash64(F.col("vec_id").cast("string")), mod) == 0
    )
    truth = similarity.embedding_near_dup_pairs(
        gated, "vec_id", "embedding", threshold=0.4, allow_exhaustive=True
    ).select(F.col("id_a").alias("a_id"), F.col("id_b").alias("b_id"))
    assign = similarity.ivf_assign(
        gated, "vec_id", "embedding", n_lists=8, centroids=cents
    )
    cap = (
        truth.join(assign.select(F.col("vec_id").alias("a_id"),
                                 F.col("list_id").alias("_la")), "a_id")
        .join(assign.select(F.col("vec_id").alias("b_id"),
                            F.col("list_id").alias("_lb")), "b_id")
        .filter("_la = _lb")
    )
    assert row["n_true_pairs"] == truth.count()
    assert row["n_captured_pairs"] == cap.count()
    # the fixture is non-degenerate: the gate keeps a real sub-corpus
    # and the production codebook still spreads it over several lists
    assert gated.count() > 50
    assert assign.select("list_id").distinct().count() >= 4


def test_tfidf_ranks_rare_terms_higher(spark):
    from dbt_core_gcloud_template_spark.operators.ranking import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "common common cherry"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, "doc_id", "text", top_k=2).collect()
    top1 = {r.doc_id: r.term for r in out if r.rank == 1}
    # 'apple' appears twice in doc1 and nowhere else → top term there
    assert top1[1] == "apple"
    # 'common' is in every doc → idf = ln(1) = 0 → never outranks rarer terms
    for r in out:
        if r.term == "common":
            assert r.tfidf == 0.0


def test_bm25_prefers_matching_docs(spark):
    from dbt_core_gcloud_template_spark.operators.ranking import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join " * 3),
            (2, "spark only once plus other words here"),
            (3, "nothing relevant at all"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_scores(docs, "doc_id", "text", ["spark", "join"], top_n=10).collect()
    by_id = {r.doc_id: r for r in out}
    assert 3 not in by_id  # no query term → no row
    assert by_id[1].n_hit_terms == 2 and by_id[2].n_hit_terms == 1
    assert by_id[1].rank == 1 and by_id[1].score > by_id[2].score


def test_bigram_counts_adjacency(spark):
    from dbt_core_gcloud_template_spark.operators.ranking import bigram_counts

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], ["doc_id", "text"]
    )
    out = {r.bigram: r.n_occurrences for r in bigram_counts(docs, "text", 10).collect()}
    assert out["a b"] == 3  # twice in doc1 (positions 1,3), once in doc2
    assert out["b a"] == 1 and out["b c"] == 1
    assert "x" not in " ".join(out)  # single-token doc yields no bigrams


# ---------------------------------------------------------------------------
# fused test gate (operators/tests.py:fused_violation_expr)
# ---------------------------------------------------------------------------
def test_fused_violation_expr_matches_precise_tests(spark):
    """The one-scan fused signal agrees with the per-test groupBy/filter
    path on every edge case: NULL keys, NULL duplicates, values outside
    the accepted set, multi-column keys with NULL components."""
    from dbt_core_gcloud_template_spark.operators import tests as t

    df = spark.createDataFrame(
        [
            (1, "a", "x", 10),
            (2, "b", "x", 20),
            (2, "b", "y", 30),   # dup id AND dup (id, name)
            (None, "c", "x", 40),
            (None, "d", "zz", 50),  # second NULL id; zz not accepted
        ],
        ["id", "name", "bucket", "k"],
    )

    def fused(test, col, params):
        e = t.fused_violation_expr(test, col, params)
        v = df.agg(e.alias("v")).collect()[0].v
        return int(v or 0)

    # unique: precise counts duplicated KEYS; fused counts excess ROWS —
    # both are >0 exactly when a duplicate exists
    assert (fused("unique", "id", {}) > 0) == (t.unique_test(df, "id") > 0)
    assert fused("unique", "id", {}) == 2  # dup 2 (+1 row) and dup NULL (+1 row)
    assert fused("unique", "k", {}) == 0 and t.unique_test(df, "k") == 0
    assert fused("unique", "name", {}) == 1 and t.unique_test(df, "name") == 1

    assert fused("not_null", "id", {}) == 2
    assert fused("not_null", "name", {}) == 0

    p = {"values": ["x", "y"]}
    assert fused("accepted_values", "bucket", p) == 1
    assert fused("accepted_values", "bucket", {"values": ["x", "y", "zz"]}) == 0

    pc = {"combination_of_columns": ["id", "name"]}
    assert (fused("unique_combination_of_columns", None, pc) > 0) == (
        t.unique_combination_test(df, ["id", "name"]) > 0
    )
    assert fused("unique_combination_of_columns", None, {"combination_of_columns": ["id", "name", "bucket"]}) == 0

    # non-fusable tests return None
    assert t.fused_violation_expr("relationships", "id", {}) is None
    assert t.fused_violation_expr("equal_rowcount", None, {}) is None


def test_bigram_lm_perplexity_semantics(spark):
    """Hand-checkable LM: rare bigrams score higher NLL than common
    ones; perplexity = exp(avg_nll); docs under 2 tokens are dropped."""
    import math

    from dbt_core_gcloud_template_spark.operators.ranking import bigram_lm_scores

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: ab, ba, ab
            (2, "a b"),       # ab
            (3, "c d"),       # cd (rare)
            (4, "x"),         # dropped: no bigrams
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bigram_lm_scores(docs, "doc_id", "text", k_smooth=0.5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 1
    # corpus: c(ab)=3, c(ba)=1, c(cd)=1; contexts c1(a)=3, c1(b)=1,
    # c1(c)=1; V=4 (a,b,c,d)
    p_ab = (3 + 0.5) / (3 + 0.5 * 4)
    p_cd = (1 + 0.5) / (1 + 0.5 * 4)
    assert abs(out[2].avg_nll - round(-math.log(p_ab), 6)) < 1e-6
    assert abs(out[3].avg_nll - round(-math.log(p_cd), 6)) < 1e-6
    assert abs(out[2].perplexity - round(1 / p_ab, 4)) < 1e-3
    # doc 3's only bigram is rarer than doc 2's -> higher perplexity
    assert out[3].perplexity > out[2].perplexity


def test_cap_per_group_deterministic(spark):
    from dbt_core_gcloud_template_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(60)], ["doc_id", "grp"]
    )
    out = cap_per_group(df, "doc_id", "grp", cap=10)
    rows = out.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r)
    assert len(by_grp["big"]) == 10          # capped
    assert len(by_grp["small"]) == 10        # all kept (only 10 exist)
    assert sorted(r.group_rank for r in by_grp["big"]) == list(range(1, 11))
    # deterministic: same kept set on re-run and after repartitioning
    again = cap_per_group(df.repartition(7), "doc_id", "grp", cap=10)
    assert {r.doc_id for r in rows} == {r.doc_id for r in again.collect()}


def test_random_projection_preserves_distances(spark):
    """JL sanity: projecting to 16 dims keeps relative pairwise L2
    distances (close pair stays closer than a far pair), and the output
    is deterministic across partitionings."""
    import random

    from dbt_core_gcloud_template_spark.operators.similarity import random_projection

    rng = random.Random(7)
    a = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.01 for x in a]
    far = [-x for x in a]
    emb = spark.createDataFrame(
        [(0, a), (1, near), (2, far)], "vec_id long, embedding array<double>"
    )
    out = random_projection(emb, "vec_id", "embedding", 64, out_dim=16)
    rows = out.collect()
    assert len(rows) == 48 and all(0 <= r.proj_dim < 16 for r in rows)
    p = {}
    for r in rows:
        p.setdefault(r.vec_id, {})[r.proj_dim] = r.value

    def d2(u, v):
        return sum((u[i] - v[i]) ** 2 for i in range(16))

    assert d2(p[0], p[1]) < d2(p[0], p[2])
    again = random_projection(emb.repartition(5), "vec_id", "embedding", 64, out_dim=16)
    assert {(r.vec_id, r.proj_dim, r.value) for r in again.collect()} == {
        (r.vec_id, r.proj_dim, r.value) for r in rows
    }


def test_kmeans_converges_on_separated_clusters(spark):
    """Lloyd's k-means: three well-separated blobs recover their true
    centers and every point lands in its blob's list, deterministically."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    pts = []
    for b, center in enumerate([0.0, 10.0, -10.0]):
        for i in range(20):
            off = (i % 5) * 0.01
            pts.append((b * 20 + i, [center + off, center - off]))
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=3, max_iter=10)
    assert len(cents) == 3
    got_centers = sorted(round(c[0]) for c in cents)
    assert got_centers == [-10, 0, 10]
    out = kmeans_assign(emb, "vec_id", "embedding", cents).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r.vec_id // 20, set()).add(r.list_id)
    assert all(len(v) == 1 for v in by_blob.values())  # blobs stay whole
    assert len({next(iter(v)) for v in by_blob.values()}) == 3
    # determinism across partitionings
    cents2 = kmeans_fit(emb.repartition(7), "vec_id", "embedding", k=3, max_iter=10)
    assert [[round(x, 6) for x in c] for c in cents] == [
        [round(x, 6) for x in c] for c in cents2
    ]


def test_kmeans_init_sample_exhaustion_returns_distinct(spark):
    """k larger than the available sample must not silently pad with
    duplicate centroids (argmax of an all-zero distance array would
    repeat index 0): init returns fewer, DISTINCT centroids and
    kmeans_fit still converges with them."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        _kcenter_init_sample,
        kmeans_fit,
    )
    from pyspark.sql import functions as F  # noqa: F401

    pts = [(i, [float(i), float(-i)]) for i in range(4)]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    base = emb.select(
        emb.vec_id.alias("_id"), emb.embedding.alias("_v")
    )
    cents = _kcenter_init_sample(base, k=10)
    assert len(cents) == 4  # sample exhausted: fewer, not padded
    assert len({tuple(c) for c in cents}) == 4  # all distinct
    cents_fit = kmeans_fit(emb, "vec_id", "embedding", k=10, max_iter=3)
    assert len({tuple(c) for c in cents_fit}) == len(cents_fit)


def test_kmeans_assign_broadcast_above_literal_threshold(spark):
    """Above max_literal_centroids the centroid matrix travels as a
    one-row broadcast struct array instead of plan literals: identical
    list_id/sq_dist output, a broadcast join in the plan, and the
    stored-table form (the production IVF codebook) takes the same
    path; kmeans_fit converges to the same centroids under either
    assignment strategy."""
    import math

    from dbt_core_gcloud_template_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    dim = 6
    rows = [
        (i, [math.sin(i * 3 + j) for j in range(dim)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, max_iter=2)
    lit_df = kmeans_assign(emb, "vec_id", "embedding", cents)
    bc_df = kmeans_assign(
        emb, "vec_id", "embedding", cents, max_literal_centroids=1
    )
    key = lambda r: (r["vec_id"], r["list_id"], r["sq_dist"])  # noqa: E731
    lit = sorted(key(r) for r in lit_df.collect())
    assert lit == sorted(key(r) for r in bc_df.collect())
    lit_plan = lit_df._jdf.queryExecution().executedPlan().toString()
    bc_plan = bc_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in lit_plan  # map-only literals
    assert "BroadcastNestedLoopJoin" in bc_plan  # one-row broadcast
    # stored centroid TABLE: always the broadcast path, same output
    tbl = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "c_id int, vector array<double>"
    )
    tbl_df = kmeans_assign(emb, "vec_id", "embedding", tbl)
    assert lit == sorted(key(r) for r in tbl_df.collect())
    assert "BroadcastNestedLoopJoin" in (
        tbl_df._jdf.queryExecution().executedPlan().toString()
    )
    # the trainer under forced-broadcast assignment: same centroids
    assert cents == kmeans_fit(
        emb, "vec_id", "embedding", k=4, max_iter=2, max_literal_centroids=1
    )
    # an empty model is an error, not NULL assignments
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmeans_assign(emb, "vec_id", "embedding", [])


def test_ivf_topk_stored_codebook(spark):
    """ivf_topk/ann_recall_eval accept a stored (c_id, vector) codebook
    (r10 — the diagnostics retrieval leg probes the production
    artifact): passing the id<n_lists stand-in AS a table reproduces
    the default bit-for-bit (both literal and broadcast paths), a
    genuinely different codebook changes the probed lists, and the
    recall eval threads it through to the approximate side only."""
    import math

    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators.similarity import (
        ann_recall_eval,
        ivf_topk,
    )

    dim = 6
    rows = [
        (i, [math.sin(i * 3 + j) for j in range(dim)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    standin = emb.filter("vec_id < 8").select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    key = lambda r: tuple(r)  # noqa: E731
    base = sorted(
        key(r)
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_ids=[20, 21], k=3
        ).collect()
    )
    stored = sorted(
        key(r)
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_ids=[20, 21], k=3,
            centroids=standin,
        ).collect()
    )
    stored_bc = sorted(
        key(r)
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_ids=[20, 21], k=3,
            centroids=standin, max_literal_centroids=1,
        ).collect()
    )
    assert base == stored == stored_bc and len(base) == 6
    # the codebook is genuinely consumed: two tight clusters (A ~ e0,
    # B ~ e1), query between them but closer to e0.  Under centroids
    # {e0, e1} with nprobe=1 the query probes cluster A's list; under
    # {e0, query-direction} cluster B lands in the query's probed list
    # instead — disjoint answer sets, impossible if the stand-in were
    # still in charge
    two = spark.createDataFrame(
        [(i, [1.0, i * 0.001, 0.0, 0.0, 0.0, 0.0]) for i in range(10)]
        + [(10 + i, [i * 0.001, 1.0, 0.0, 0.0, 0.0, 0.0]) for i in range(10)]
        + [(20, [1.0, 0.9, 0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cb_axes = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
         (1, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0])],
        "c_id int, vector array<double>",
    )
    cb_query = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
         (1, [1.0, 0.9, 0.0, 0.0, 0.0, 0.0])],
        "c_id int, vector array<double>",
    )
    got_axes = {
        r["vec_id"]
        for r in ivf_topk(
            two, "vec_id", "embedding", query_ids=[20], k=3, nprobe=1,
            centroids=cb_axes,
        ).collect()
    }
    got_query = {
        r["vec_id"]
        for r in ivf_topk(
            two, "vec_id", "embedding", query_ids=[20], k=3, nprobe=1,
            centroids=cb_query,
        ).collect()
    }
    assert got_axes <= set(range(10)) and len(got_axes) == 3
    assert got_query <= set(range(10, 20)) and len(got_query) == 3
    # recall eval passthrough: exhaustive side unaffected, one row out
    r = ann_recall_eval(
        emb, "vec_id", "embedding", query_ids=[20, 21], k=3,
        centroids=standin,
    ).first()
    assert r["n_queries"] == 2 and 0.0 <= r["recall"] <= 1.0
    # empty codebook is an actionable error, same as no stand-in rows
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty centroid set"):
        ivf_topk(
            emb, "vec_id", "embedding", query_ids=[20], k=3,
            centroids=standin.filter("c_id < 0"),
        )
    # a DIRTY stored codebook (NULL vector / NULL id / zero norm) is a
    # corrupt artifact: actionable ValueError, not an opaque TypeError
    # deep in plan construction
    for bad in (
        [(0, None)],
        [(None, [1.0, 0.0])],
        [(0, [0.0, 0.0])],
        [(0, [])],
    ):
        dirty = spark.createDataFrame(
            bad, "c_id int, vector array<double>"
        )
        with _pytest.raises(ValueError, match="invalid codebook row"):
            ivf_topk(
                emb, "vec_id", "embedding", query_ids=[20], k=3,
                centroids=dirty,
            )


def test_ivf_topk_and_projection_broadcast_parity(spark):
    """The cosine-centroid scoring in ivf_topk and the JL sign matrix
    in random_projection take the same literal->broadcast switch as
    the L2 sites: forcing the broadcast path reproduces the literal
    results bit-for-bit."""
    import math

    from dbt_core_gcloud_template_spark.operators.similarity import (
        ivf_topk,
        random_projection,
    )

    dim = 6
    rows = [
        (i, [math.sin(i * 3 + j) for j in range(dim)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    key = lambda r: tuple(r)  # noqa: E731
    lit = sorted(
        key(r)
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_ids=[20, 21], k=3
        ).collect()
    )
    bc = sorted(
        key(r)
        for r in ivf_topk(
            emb, "vec_id", "embedding", query_ids=[20, 21], k=3,
            max_literal_centroids=1,
        ).collect()
    )
    assert lit == bc and len(lit) == 6
    plit = sorted(
        key(r)
        for r in random_projection(
            emb, "vec_id", "embedding", dim=dim, out_dim=4
        ).collect()
    )
    pbc = sorted(
        key(r)
        for r in random_projection(
            emb, "vec_id", "embedding", dim=dim, out_dim=4,
            max_literal_signs=1,
        ).collect()
    )
    assert plit == pbc and len(plit) == 40 * 4


def test_semdedup_collapses_within_cluster_dups(spark):
    """SemDeDup: exact duplicates landing in the same cluster collapse
    to the minimum id; dissimilar vectors stay canonical."""
    from dbt_core_gcloud_template_spark.operators.similarity import semdedup

    # ids 0,1 are the centroids (n_lists=2).  2,3 duplicate centroid 0's
    # direction; 4 is aligned with centroid 1; nothing crosses clusters.
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [2.0, 0.0]),
        (3, [3.0, 0.0]),
        (4, [0.0, 5.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semdedup(emb, "vec_id", "embedding", n_lists=2, threshold=0.99).collect()
    }
    assert out[2]["canonical_id"] == 0 and out[2]["is_duplicate"]
    assert out[3]["canonical_id"] == 0 and out[3]["is_duplicate"]
    assert out[4]["canonical_id"] == 1 and out[4]["is_duplicate"]
    assert not out[0]["is_duplicate"] and not out[1]["is_duplicate"]
    assert out[2]["list_id"] == 0 and out[4]["list_id"] == 1


def test_fence_telemetry_thread_isolation():
    """Collectors are context-local: the engine runs DAG nodes on a
    thread pool, and a fence tripped by one node must not bleed into a
    concurrently-running node's record list."""
    import threading

    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
        active,
    )

    assert active() is None
    seen: dict[int, bool] = {}
    barrier = threading.Barrier(4)

    def worker(i: int) -> None:
        with FenceTelemetry() as ft:
            barrier.wait()  # all four collectors open simultaneously
            ft.records.append({"operator": f"op{i}", "fence": "f"})
            seen[i] = active() is ft and len(ft.records) == 1
        seen[i] = seen[i] and active() is None

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert seen == {0: True, 1: True, 2: True, 3: True}
    assert active() is None  # the main thread never saw a collector
    # nesting on one thread: innermost wins, unwinding restores
    with FenceTelemetry() as outer:
        with FenceTelemetry() as inner:
            assert active() is inner
        assert active() is outer
    assert active() is None


def test_checkpoint_fenced_shares_one_computation(spark):
    """Unarmed, checkpoint_fenced is the identity (the driver/bench
    plan is untouched and nothing is recorded); armed, it severs
    lineage so the fence filter and the downstream join read one
    materialized frame instead of each re-running the upstream
    pipeline, and the fence counts ride that same checkpoint job."""
    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
        checkpoint_fenced,
    )

    sc = spark.sparkContext

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    df = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
    args = ("op", "cap", F.col("count") > 3, F.col("count"))
    # no collector => no-op, same object
    assert checkpoint_fenced(df, *args) is df
    with FenceTelemetry() as ft:
        pinned, armed_jobs = jobs_in(
            "checkpoint_fenced_armed", lambda: checkpoint_fenced(df, *args)
        )
        assert pinned is not df
        # lineage is cut: the logical plan no longer contains the
        # upstream aggregate, so neither consumer can re-run it
        assert "Aggregate" not in pinned._jdf.queryExecution().logical().toString()
        assert pinned.count() == 3
        assert {r["k"] for r in pinned.collect()} == {0, 1, 2}
    # k=0 holds ids 0,3,6,9 — the one group over the cap
    assert ft.records == [
        {"operator": "op", "fence": "cap", "fenced_groups": 1, "fenced_rows": 4}
    ]
    # the counts add no job to the checkpoint's own
    _, bare_jobs = jobs_in(
        "checkpoint_fenced_bare", lambda: df.localCheckpoint(eager=True)
    )
    assert armed_jobs == bare_jobs


def test_semdedup_max_cluster_size_fence(spark):
    """Degenerate-cluster fence: a corpus collapsing onto one list
    must not build that list's quadratic join — the over-cap cluster
    drops WHOLE (members conservatively kept, counted in telemetry)
    while under-cap clusters still dedup normally."""
    from dbt_core_gcloud_template_spark.operators.similarity import semdedup
    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
    )

    # centroids: ids 0..3 on distinct axes.  40 near-identical vectors
    # pile onto centroid 0's cluster (the degenerate mass); 100/101
    # duplicate centroid 1's direction in a small, healthy cluster.
    rows = (
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0]), (3, [0.0, 0.0, 0.0, 1.0])]
        + [(10 + i, [1.0, 1e-9 * i, 0.0, 0.0]) for i in range(40)]
        + [(100, [0.0, 2.0, 0.0, 0.0]), (101, [0.0, 3.0, 1e-7, 0.0])]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # unfenced: the degenerate cluster dedups (sanity that dups exist)
    unfenced = semdedup(emb, "vec_id", "embedding", n_lists=4, threshold=0.99)
    assert unfenced.filter("is_duplicate AND list_id = 0").count() >= 39
    with FenceTelemetry() as ft:
        out = {
            r["vec_id"]: r
            for r in semdedup(
                emb, "vec_id", "embedding", n_lists=4, threshold=0.99,
                max_cluster_size=10,
            ).collect()
        }
    assert len(out) == len(rows)  # conservative keep: nothing vanishes
    # fenced cluster 0: every member kept, canonical = self
    for vid, r in out.items():
        if r["list_id"] == 0:
            assert not r["is_duplicate"] and r["canonical_id"] == vid
    # healthy cluster 1 still dedups: 100/101 collapse onto id 1
    assert out[100]["is_duplicate"] and out[100]["canonical_id"] == 1
    assert out[101]["is_duplicate"] and out[101]["canonical_id"] == 1
    recs = [r for r in ft.records if r["operator"] == "semdedup"]
    assert recs == [
        {
            "operator": "semdedup",
            "fence": "max_cluster_size",
            "fenced_groups": 1,
            "fenced_rows": 41,
        }
    ]
    # split mode: the hot cluster re-buckets by sign probe instead of
    # dropping — its near-identical mass shares one sub-bucket, so the
    # dedup coverage drop-whole sacrificed is recovered
    with FenceTelemetry() as ft2:
        split = {
            r["vec_id"]: r
            for r in semdedup(
                emb, "vec_id", "embedding", n_lists=4, threshold=0.99,
                max_cluster_size=10, on_oversize="split", dim=4,
            ).collect()
        }
    dup_in_hot = [
        vid for vid, r in split.items()
        if r["list_id"] == 0 and r["is_duplicate"]
    ]
    assert len(dup_in_hot) >= 39  # the pile-up dedups again
    assert split[100]["is_duplicate"] and split[100]["canonical_id"] == 1
    assert ft2.records == [
        {
            "operator": "semdedup",
            "fence": "max_cluster_size:split",
            "fenced_groups": 1,
            "fenced_rows": 41,
        }
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        semdedup(
            emb, "vec_id", "embedding", max_cluster_size=10,
            on_oversize="split",  # dim missing
        )
    with _pytest.raises(ValueError):
        semdedup(
            emb, "vec_id", "embedding", max_cluster_size=10,
            on_oversize="explode",
        )


def test_kmeans_init_is_one_bounded_pass(spark):
    """The k-center init runs ONE corpus pass regardless of k (the old
    farthest-point formulation scanned the corpus once per centroid).
    Asserted via the Spark job counter: the init's job count must not
    grow with k."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        _kcenter_init_sample,
    )
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, [float(i % 13), float(i % 7)]) for i in range(500)],
        "vec_id long, embedding array<double>",
    ).select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    tracker = spark.sparkContext.statusTracker()

    def jobs_for(k):
        before = len(tracker.getJobIdsForGroup(None) or [])
        cents = _kcenter_init_sample(emb, k)
        assert len(cents) == k
        return len(tracker.getJobIdsForGroup(None) or []) - before

    j2, j16 = jobs_for(2), jobs_for(16)
    assert j16 <= j2  # job count independent of k (one bounded pass)
    assert j16 <= 3  # TakeOrdered may stage partial fallbacks, never k scans


def test_countmin_never_underestimates(spark):
    """Count-Min guarantee: estimate >= exact for every token; exact
    for tokens with collision-free buckets in some depth row."""
    import pyspark.sql.functions as F

    from dbt_core_gcloud_template_spark.functions.hashing import md5_int28
    from dbt_core_gcloud_template_spark.operators.text_analysis import countmin_counters

    docs = spark.createDataFrame(
        [(1, "a a a b c"), (2, "a b d e"), (3, "c c f")], ["doc_id", "text"]
    )
    counters = countmin_counters(docs, "text", depth=4, width=64).collect()
    cdict = {(r.depth, r.bucket): r.c for r in counters}
    exact = {"a": 4, "b": 2, "c": 3, "d": 1, "e": 1, "f": 1}
    import hashlib

    for token, n in exact.items():
        ests = []
        for i in range(4):
            h = int(hashlib.md5(f"cm{i}:{token}".encode()).hexdigest()[:7], 16) % 64
            ests.append(cdict[(i, h)])
        assert min(ests) >= n
    # total counts per depth row == total token occurrences
    per_depth = {}
    for (d, _), c in cdict.items():
        per_depth[d] = per_depth.get(d, 0) + c
    assert all(v == 12 for v in per_depth.values())


def test_editdist_near_pairs_blocking_and_band(spark):
    from pyspark.sql import Row

    from dbt_core_gcloud_template_spark.operators.dedup import (
        editdist_near_pairs,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps", lang="en"),
            Row(doc_id=2, text="the quick brown fox jumped", lang="en"),  # dist 2
            Row(doc_id=3, text="the quick brown cat sits here", lang="en"),
            Row(doc_id=4, text="the quick brown fox jumps", lang="de"),  # lang block
            Row(doc_id=5, text="a totally different opening", lang="en"),  # prefix block
        ]
    )
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in editdist_near_pairs(
            docs, "doc_id", "text", block_cols=["lang"], prefix_len=8, max_dist=12
        ).collect()
    }
    # 1-2, 2-3, and 1-3 (exactly at max_dist) all within the block;
    # 4 blocked out by lang, 5 by prefix; id_a < id_b always
    assert got == {(1, 2): 2, (1, 3): 12, (2, 3): 11}
    assert all(a < b for a, b in got)


def test_editdist_threshold_band_excludes_far_pairs(spark):
    from pyspark.sql import Row

    from dbt_core_gcloud_template_spark.operators.dedup import (
        editdist_near_pairs,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaaaaaaaaa" + "x" * 50),
            Row(doc_id=2, text="aaaaaaaaaa" + "y" * 50),  # dist 50 > 5
        ]
    )
    got = editdist_near_pairs(docs, "doc_id", "text", prefix_len=8, max_dist=5)
    assert got.count() == 0  # banded DP returns -1, filtered out


# ----------------------------------------------- round-3 curation operators
def test_dup_ngram_stats_fractions(spark):
    # doc 1 and 2 share their whole text (every 2-gram duplicated);
    # doc 3 is unique; doc 4 is too short for a 2-gram (dropped).
    rows = [
        (1, "a b c d"),
        (2, "a b c d"),
        (3, "x y z w"),
        (4, "q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.dup_ngram_stats(
            df, "doc_id", "text", k_shingle=2, df_threshold=2
        ).collect()
    }
    assert set(out) == {1, 2, 3}  # doc 4 has no 2-grams
    assert out[1]["n_grams"] == 3 and out[1]["dup_frac"] == 1.0
    assert out[2]["dup_frac"] == 1.0
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_frac"] == 0.0


def test_global_shuffle_deterministic_permutation(spark):
    from dbt_core_gcloud_template_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    a = sampling.global_shuffle(df, "id", 4).collect()
    b = sampling.global_shuffle(df, "id", 4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are a dense 1..n ranking within every shard
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # the permutation actually shuffles: not identity order by id
    order = [r["id"] for r in sorted(a, key=lambda r: (r["shard"], r["pos"]))]
    assert order != sorted(order)


def test_term_distribution_stats_known_corpus(spark):
    from dbt_core_gcloud_template_spark.operators import text_analysis as ta

    # one group, 4 tokens: a a b c -> H = -(.5 log .5 + .25 log .25 *2) = 1.5
    df = spark.createDataFrame([("g", "a a b c")], "lang string, text string")
    r = ta.term_distribution_stats(df, "text", "lang", top_n=1).collect()[0]
    assert r["n_tokens"] == 4 and r["n_types"] == 3
    assert r["entropy_bits"] == 1.5
    assert r["ttr"] == 0.75
    assert r["top1_share"] == 0.5  # 'a' has count 2 of 4


def test_skew_caps_drop_hot_shingles_and_buckets(spark):
    """max_doc_freq / max_bucket_size: hot boilerplate keys are dropped
    before pair generation; pairs connected only through them vanish,
    pairs that also share rare keys survive."""
    boiler = "common words shared by every doc here now"
    docs_rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " alpha beta gamma epsilon"),  # shares rare shingles with 1
        (3, boiler + " uno dos tres cuatro"),       # only the boilerplate
    ]
    df = spark.createDataFrame(docs_rows, "doc_id long, text string")
    full = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k_shingle=3, threshold=0.01)
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", k_shingle=3, threshold=0.01, max_doc_freq=2
    )
    full_pairs = {(r.a_id, r.b_id) for r in full.collect()}
    capped_pairs = {(r.a_id, r.b_id) for r in capped.collect()}
    assert (1, 3) in full_pairs and (2, 3) in full_pairs
    assert (1, 2) in capped_pairs          # rare-shingle pair survives
    assert (1, 3) not in capped_pairs      # boilerplate-only pairs dropped
    assert (2, 3) not in capped_pairs

    sigs = dedup.minhash_signatures(df, "doc_id", "text", k_shingle=3, n_hashes=4)
    bands = [[0, 1], [2, 3]]
    uncapped = {
        (r.a_id, r.b_id)
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id", bands).collect()
    }
    capped_lsh = {
        (r.a_id, r.b_id)
        for r in dedup.lsh_candidate_pairs(
            sigs, "doc_id", bands, max_bucket_size=2
        ).collect()
    }
    assert capped_lsh <= uncapped  # capping only removes pairs


def test_passage_dedup_first_occurrence_wins(spark):
    """Passage-level dedup: a passage repeated across docs survives only
    at its minimum (doc, position); unique passages are all kept."""
    from dbt_core_gcloud_template_spark.operators.dedup import passage_dedup_stats

    boiler = " ".join(f"b{i}" for i in range(4))  # 4-token boilerplate
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(4))  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq('x')}"),        # passages: boiler, x
            (2, f"{boiler} {uniq('y')}"),        # boiler dropped here
            (3, f"{uniq('z')} {boiler}"),        # and here (position 1)
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in passage_dedup_stats(df, "doc_id", "text", passage_tokens=4).collect()
    }
    assert rows[1]["n_passages"] == 2 and rows[1]["n_kept"] == 2
    assert rows[2]["n_kept"] == 1 and rows[2]["n_dropped"] == 1
    assert rows[3]["n_kept"] == 1 and rows[3]["n_dropped"] == 1
    assert rows[2]["drop_frac"] == 0.5


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR: documents whose features match the target subset score
    higher than documents from a disjoint-vocabulary source."""
    from dbt_core_gcloud_template_spark.operators.importance import dsir_log_weights

    tgt = [(i, "alpha beta gamma delta epsilon zeta", "en") for i in range(10)]
    src = [(100 + i, "uno dos tres cuatro cinco seis", "es") for i in range(10)]
    mixed = [(200, "alpha beta gamma uno dos tres", "es")]
    df = spark.createDataFrame(tgt + src + mixed, "doc_id long, text string, lang string")
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(df, "doc_id", "text", "lang = 'en'").collect()
    }
    assert w[0] > w[200] > w[100]  # target-like > mixed > source-only
    assert w[0] > 0 > w[100]
    # determinism across partitionings (integer micro-sums are exact)
    w2 = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            df.repartition(7), "doc_id", "text", "lang = 'en'"
        ).collect()
    }
    assert w == w2


def test_bmp_codec_roundtrip_padding_and_row_order():
    """Pure-numpy BMP codec: encode→decode is identity for odd widths
    (4-byte row padding), and a top-down (negative height) file decodes
    to the same pixel array as its bottom-up twin."""
    import struct

    import numpy as np

    from dbt_core_gcloud_template_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
    )

    rng = np.arange(7 * 5 * 3, dtype=np.uint8).reshape(5, 7, 3) * 3  # w=7: padded rows
    payload = encode_bmp(rng)
    assert payload[:2] == b"BM"
    assert len(payload) == 54 + ((7 * 3 + 3) & ~3) * 5
    assert np.array_equal(decode_image(payload), rng)

    # top-down variant: negate height, store rows in natural order
    w, h = 7, 5
    row_size = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = rng[:, :, ::-1].reshape(h, w * 3)  # natural order, BGR
    top_down = (
        struct.pack("<2sIHHI", b"BM", 54 + row_size * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, row_size * h, 2835, 2835, 0, 0)
        + rows.tobytes()
    )
    assert np.array_equal(decode_image(top_down), rng)

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


def test_multimodal_extract_features_l2_normalized(spark):
    import math

    from dbt_core_gcloud_template_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, "abc"), (2, "aaaa"), (3, "héllo")], "doc_id long, text string"
    )
    payload = multimodal.attach_binary_payload(df, "doc_id", "text")
    rows = {r["doc_id"]: r for r in multimodal.extract_features(payload).collect()}
    # 'aaaa': all mass in one bin -> unit vector
    f2 = [rows[2][f"f{k}"] for k in range(8)]
    assert max(f2) == 1.0 and sum(1 for v in f2 if v > 0) == 1
    # all rows ~unit L2 norm (rounding jitter only)
    for r in rows.values():
        n = math.sqrt(sum(r[f"f{k}"] ** 2 for k in range(8)))
        assert abs(n - 1.0) < 1e-4
    # multi-byte char: é is 2 UTF-8 bytes -> n_bytes = 6 for 'héllo'
    assert rows[3]["n_bytes"] == 6


def test_multimodal_extract_features_empty_payload_nulls(spark):
    from dbt_core_gcloud_template_spark.operators import multimodal

    df = spark.createDataFrame([(1, ""), (2, "ok")], "doc_id long, text string")
    payload = multimodal.attach_binary_payload(df, "doc_id", "text")
    rows = {r["doc_id"]: r for r in multimodal.extract_features(payload).collect()}
    # zero-byte payload: NULL features (SQL 0/0 semantics), not NaN
    assert rows[1]["n_bytes"] == 0
    assert all(rows[1][f"f{k}"] is None for k in range(8))
    assert all(rows[2][f"f{k}"] is not None for k in range(8))


def test_key_skew_profile_uniform_vs_hot(spark):
    from dbt_core_gcloud_template_spark.operators.skew import key_skew_profile

    uniform = spark.createDataFrame([(i % 10,) for i in range(100)], "k long")
    r = key_skew_profile(uniform, "k").collect()[0]
    assert r["skew_ratio"] == 1.0 and r["n_keys"] == 10

    hot = spark.createDataFrame([(0,)] * 91 + [(i,) for i in range(1, 10)], "k long")
    r = key_skew_profile(hot, "k").collect()[0]
    assert r["max_freq"] == 91 and r["skew_ratio"] == 9.1


def test_histogram_quantiles_accuracy_and_merge(spark):
    from dbt_core_gcloud_template_spark.operators import histogram

    # 0..999 uniform: p50 estimate must land within one bin width of 500
    df = spark.createDataFrame([(float(i),) for i in range(1000)], "x double")
    bins = histogram.histogram_bins(df, "x", 0.0, 1000.0, 100)
    est = {
        r["q"]: r["est"]
        for r in histogram.histogram_quantiles(bins, 0.0, 1000.0, 100, [0.5, 0.9]).collect()
    }
    assert abs(est[0.5] - 500.0) <= 10.0 and abs(est[0.9] - 900.0) <= 10.0
    # mergeability: bins of two halves sum to the bins of the whole
    import pyspark.sql.functions as F

    h1 = histogram.histogram_bins(df.filter("x < 500"), "x", 0.0, 1000.0, 100)
    h2 = histogram.histogram_bins(df.filter("x >= 500"), "x", 0.0, 1000.0, 100)
    merged = h1.unionByName(h2).groupBy("bin").agg(F.sum("c").alias("c"))
    whole = {r["bin"]: r["c"] for r in bins.collect()}
    assert {r["bin"]: r["c"] for r in merged.collect()} == whole
    # outliers saturate into edge bins
    out = histogram.histogram_bins(
        spark.createDataFrame([(-5.0,), (2000.0,)], "x double"), "x", 0.0, 1000.0, 10
    ).collect()
    assert {r["bin"] for r in out} == {0, 9}
    # NULLs are excluded, not silently counted into bin 0
    withnull = histogram.histogram_bins(
        spark.createDataFrame([(1.0,), (None,), (None,)], "x double"),
        "x", 0.0, 1000.0, 10,
    ).collect()
    assert [(r["bin"], r["c"]) for r in withnull] == [(0, 1)]


def test_bpe_learns_reference_merge_sequence():
    """learn_merges reproduces the Sennrich et al. reference example:
    {low:5, lower:2, newest:6, widest:3} merges es, est, est</w> first
    (freq 9 each, tie-broken deterministically)."""
    from dbt_core_gcloud_template_spark.operators.bpe import (
        learn_merges,
        segment_word,
    )

    freqs = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = learn_merges(freqs, n_merges=6, min_freq=1)
    assert [(l, r) for l, r, _ in merges[:3]] == [
        ("e", "s"), ("es", "t"), ("est", "</w>"),
    ]
    assert merges[0][2] == 9  # newest(6) + widest(3)
    # determinism: same input, same table
    assert merges == learn_merges(freqs, n_merges=6, min_freq=1)

    ranks = {(l, r): i for i, (l, r, _f) in enumerate(merges)}
    seg = segment_word("newest", ranks)
    assert "".join(seg) == "newest</w>"  # segmentation is lossless
    assert "est</w>" in seg  # the learned subword is used


def test_bpe_train_oracle_matches_reference_loop():
    """The docs_bpe_train_merges oracle's run-parity window (merged
    positions = even offsets within each maximal candidate run) must
    reproduce the Python trainer's LEFT-TO-RIGHT non-overlapping scan
    — exercised on a corpus engineered so an (x, x) merge wins an
    iteration (the only case where candidate positions overlap) and
    odd/even-length runs of the repeated symbol both occur."""
    import collections

    import duckdb

    from dbt_core_gcloud_template_spark.operators.bpe import learn_merges
    from dbt_core_gcloud_template_spark.queries.corpus import (
        _bpe_train_oracle,
    )

    texts = [
        "aaaa aaa aa a",          # runs of 4/3/2/1 'a' — parity cases
        "aaaa aaaa abab abab",    # (a,a) dominates; 'abab' for l != r
        "aaab baaa ab AB aB",     # runs at word edges; case folding
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?)", [(t,) for t in texts]
    )
    got = sorted(con.execute(_bpe_train_oracle(100, 5)).fetchall())

    cnt = collections.Counter(
        w for t in texts for w in t.lower().split() if w
    )
    freqs = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    merges = learn_merges(freqs, n_merges=5, min_freq=1)
    want = sorted(
        (k + 1, lhs, rhs, f) for k, (lhs, rhs, f) in enumerate(merges)
    )
    assert got == want and len(got) == 5
    # the engineered corpus really did pick an l == r merge somewhere
    assert any(lhs == rhs for _k, lhs, rhs, _f in got)


def test_bpe_segment_docs_fertility(spark):
    """Arrow-batched segmentation: fertility = bpe_tokens / words,
    lossless per word; with zero merges every word is chars+1 tokens."""
    from dbt_core_gcloud_template_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low low newest"), (2, "lower widest")],
        "doc_id long, text string",
    )
    merges = bpe.learn_merges(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        n_merges=10, min_freq=1,
    )
    out = {r["doc_id"]: r for r in bpe.bpe_segment_docs(df, "doc_id", "text", merges).collect()}
    assert out[1]["n_words"] == 3
    assert out[1]["n_bpe_tokens"] >= 3  # at least one token per word
    assert out[1]["fertility"] == round(out[1]["n_bpe_tokens"] / 3, 6)
    none = {r["doc_id"]: r for r in bpe.bpe_segment_docs(df, "doc_id", "text", []).collect()}
    assert none[2]["n_bpe_tokens"] == len("lower") + 1 + len("widest") + 1


def test_bpe_encode_docs_token_stream(spark):
    """bpe_encode_docs keeps the full doc-order token stream: the
    concatenation is lossless (joins back to the lowered words), every
    word's slice equals segment_word, and empty/NULL docs drop."""
    from dbt_core_gcloud_template_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low low newest"), (2, "LOWER widest"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    merges = bpe.learn_merges(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        n_merges=10, min_freq=1,
    )
    ranks = {(l, r): i for i, (l, r, _f) in enumerate(merges)}
    out = {
        r["doc_id"]: r
        for r in bpe.bpe_encode_docs(df, "doc_id", "text", merges).collect()
    }
    assert set(out) == {1, 2}  # empty and NULL docs dropped
    assert out[1]["n_words"] == 3
    assert out[1]["n_bpe_tokens"] == len(out[1]["bpe_tokens"])
    want = [
        t
        for w in "low low newest".split()
        for t in bpe.segment_word(w, ranks)
    ]
    assert out[1]["bpe_tokens"] == want
    # lossless: stripping the </w> markers rebuilds the lowered text
    rebuilt = "".join(out[2]["bpe_tokens"]).replace("</w>", " ").strip()
    assert rebuilt == "lower widest"


def test_bpe_encode_oracle_matches_python_encoder():
    """The docs_bpe_encode oracle (training chain's final state joined
    to doc positions) reproduces the Python train+encode path on the
    engineered run-parity corpus — the same corpus where an (x, x)
    merge wins an iteration, so left-to-right non-overlapping replay
    vs best-rank-first inference is really exercised."""
    import collections
    import hashlib

    import duckdb

    from dbt_core_gcloud_template_spark.operators.bpe import (
        learn_merges,
        segment_word,
    )
    from dbt_core_gcloud_template_spark.queries.corpus import (
        _bpe_encode_oracle,
    )

    texts = [
        "aaaa aaa aa a",
        "aaaa aaaa abab abab",
        "aaab baaa ab AB aB",
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        list(enumerate(texts)),
    )
    got = sorted(con.execute(_bpe_encode_oracle(100, 5)).fetchall())

    cnt = collections.Counter(
        w for t in texts for w in t.lower().split() if w
    )
    freqs = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    merges = learn_merges(freqs, n_merges=5, min_freq=1)
    ranks = {(l, r): i for i, (l, r, _f) in enumerate(merges)}
    want = []
    for doc_id, t in enumerate(texts):
        words = t.lower().split()
        toks = [s for w in words for s in segment_word(w, ranks)]
        want.append(
            (
                doc_id,
                len(words),
                len(toks),
                hashlib.md5(" ".join(toks).encode()).hexdigest(),
            )
        )
    assert got == sorted(want)


def test_classifier_auc_known_values(spark):
    """classifier_auc reproduces hand-computed Mann-Whitney AUC,
    including mid-rank tie handling, perfect/inverted separation, and
    NULL (not 0) when a class is empty."""
    from dbt_core_gcloud_template_spark.operators.text_analysis import (
        classifier_auc,
    )

    def auc_of(rows):
        df = spark.createDataFrame(rows, "pos boolean, quality_score double")
        return classifier_auc(df, "pos").first()

    # perfect separation: all positives above all negatives
    r = auc_of([(True, 0.9), (True, 0.8), (False, 0.2), (False, 0.1)])
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 2, 1.0)
    # inverted: AUC 0
    r = auc_of([(False, 0.9), (True, 0.1)])
    assert r["auc"] == 0.0
    # ties get mid-ranks: pos at {0.5, 0.9}, neg at {0.5, 0.1}
    # pairs: (0.5,0.5)=0.5, (0.5,0.1)=1, (0.9,0.5)=1, (0.9,0.1)=1
    # AUC = 3.5/4 = 0.875
    r = auc_of([
        (True, 0.5), (True, 0.9), (False, 0.5), (False, 0.1),
    ])
    assert r["auc"] == 0.875
    # all scores identical: AUC is exactly 0.5 by mid-rank convention
    r = auc_of([(True, 0.5), (False, 0.5), (False, 0.5)])
    assert r["auc"] == 0.5
    # empty negative class: AUC undefined -> NULL, counts still real
    r = auc_of([(True, 0.5), (True, 0.9)])
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 0, None)
    # NULL labels are EXCLUDED (unlabeled != negative): same AUC and
    # counts as the perfect-separation case above
    r = auc_of([
        (True, 0.9), (True, 0.8), (False, 0.2), (False, 0.1),
        (None, 0.95), (None, 0.05),
    ])
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 2, 1.0)


def test_lsh_recall_eval_sampled_telemetry(spark, sf_dir):
    """The recall-eval scale knob: a deterministic hash-gated
    sample_fraction restricts BOTH the exact side and the candidate
    pairs (both endpoints must survive the gate), metrics stay in
    [0, 1], and fraction=1.0 is byte-identical to the full run."""
    from dbt_core_gcloud_template_spark.queries.llm import lsh_recall_eval

    full = lsh_recall_eval(spark, sf_dir).collect()[0]
    again = lsh_recall_eval(spark, sf_dir, sample_fraction=1.0).collect()[0]
    assert full.asDict() == again.asDict()

    half = lsh_recall_eval(spark, sf_dir, sample_fraction=0.5).collect()[0]
    assert half["n_exact"] <= full["n_exact"]
    assert half["n_candidates"] <= full["n_candidates"]
    assert half["n_hits"] <= half["n_exact"]
    for m in ("recall", "precision"):
        if half[m] is not None:
            assert 0.0 <= half[m] <= 1.0
    # deterministic: same fraction → same numbers
    half2 = lsh_recall_eval(spark, sf_dir, sample_fraction=0.5).collect()[0]
    assert half.asDict() == half2.asDict()


def test_quality_classifier_map_only_and_exact(spark):
    """Linear quality classifier: integer logit sum is exact and
    order-proof, score is a sigmoid of the mean micro-weight, empty
    docs drop, and the plan is map-only (no shuffle beyond the
    parallelism repartition)."""
    from dbt_core_gcloud_template_spark.operators.text_analysis import (
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [(0, "good clean prose here"), (1, ""), (2, "x")],
        "doc_id long, text string",
    )
    out = quality_classifier(docs, "doc_id", "text", n_buckets=16)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {0, 2}  # empty doc dropped
    r0 = rows[0]
    assert r0["n_feats"] == 4 + 3  # 4 unigrams + 3 bigrams
    assert abs(r0["quality_score"] - (
        1.0 / (1.0 + __import__("math").exp(-(r0["logit_micro"] / (r0["n_feats"] * 1e6))))
    )) < 1e-5
    assert r0["keep"] == (r0["quality_score"] >= 0.5)
    # map-only: no join, at most the ensure_parallelism exchange
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan
    assert plan.count("Exchange (") <= 1


def test_despanned_incremental_temporal_first(spark):
    """Incremental removal end-to-end: a batch window already in the
    stored index is removed from EVERY batch doc (history kept its
    copy at ingest); a window new to the corpus keeps its batch-first
    occurrence and loses later ones."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans_incremental,
        remove_duplicated_spans,
        window_hash_index,
    )

    k = 3
    hist = spark.createDataFrame(
        [(100, "h1 h2 h3")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (0, "h1 h2 h3 u1 u2"),        # historical window -> removed here
            (1, "n1 n2 n3 q1"),           # batch-first of new window -> kept
            (2, "n1 n2 n3 q2"),           # later copy -> removed
        ],
        "doc_id long, text string",
    )
    idx = window_hash_index(hist, "text", k=k)
    spans = duplicated_spans_incremental(
        batch, idx, "doc_id", "text", k=k, min_count=2, keep_first=True
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicated_spans(
            batch, spans, "doc_id", "text", keep_first=True
        ).collect()
    }
    assert out[0]["cleaned_text"] == "u1 u2" and out[0]["n_removed"] == 3
    assert out[1]["cleaned_text"] == "n1 n2 n3 q1" and out[1]["n_removed"] == 0
    assert out[2]["cleaned_text"] == "q2" and out[2]["n_removed"] == 3


def test_train_quality_weights_separates_classes(spark):
    """The one-pass log-odds trainer: buckets hit only by positive
    docs get positive micro log-odds, negative-only buckets negative;
    the trained table drives quality_classifier to score a held-out
    positive-looking doc above a negative-looking one (the frozen
    pseudo-random weights cannot do that by construction)."""
    from dbt_core_gcloud_template_spark.operators.text_analysis import (
        quality_classifier,
        train_quality_weights,
    )

    pos_text = "good clean useful prose sentence"
    neg_text = "zz9 qq8 xx7 vv6 kk5"
    train = spark.createDataFrame(
        [(i, pos_text, True) for i in range(5)]
        + [(10 + i, neg_text, False) for i in range(5)],
        "doc_id long, text string, is_good boolean",
    )
    wtab = train_quality_weights(train, "text", "is_good", n_buckets=64)
    rows = wtab.collect()
    assert len(rows) <= 64
    # every bucket here is single-class (disjoint vocab): log-odds signs split
    assert all(r["w_micro"] > 0 for r in rows if r["neg_count"] == 0)
    assert all(r["w_micro"] < 0 for r in rows if r["pos_count"] == 0)
    held_out = spark.createDataFrame(
        [(100, "clean useful prose"), (101, "qq8 xx7 vv6")],
        "doc_id long, text string",
    )
    scored = {
        r["doc_id"]: r["quality_score"]
        for r in quality_classifier(
            held_out, "doc_id", "text", n_buckets=64, weights=wtab
        ).collect()
    }
    assert scored[100] > 0.5 > scored[101]


def test_exact_dedup_incremental_bloom_matches_plain(spark):
    """Bloom-prefiltered incremental dedup is bit-identical to the
    plain anti-join even with a deliberately tiny bitmap (64 bits over
    dozens of keys — false positives guaranteed): FPs are removed by
    the exact join, and bloom-negative content bypasses it safely."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        exact_dedup_incremental,
        exact_dedup_incremental_bloom,
    )

    batch = spark.createDataFrame(
        [(i, f"doc number {i % 7}") for i in range(30)],
        "doc_id long, text string",
    )
    hist = spark.createDataFrame(
        [(100 + i, f"doc number {i}") for i in range(3)]
        + [(200, "only in history")],
        "doc_id long, text string",
    )
    index = hist.selectExpr("md5(text) AS text_hash")
    plain = {
        (r["text_hash"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup_incremental(batch, index, "text", "doc_id").collect()
    }
    bloom = {
        (r["text_hash"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup_incremental_bloom(
            batch, index, "text", "doc_id", n_bits=64, k=3
        ).collect()
    }
    assert bloom == plain
    # texts 0-2 are indexed -> 4 of the 7 within-batch groups survive
    assert len(bloom) == 4


def test_incremental_dedup_multiday_roundtrip(spark):
    """The full daily-ingest loop — probe the stored index, accept the
    fresh content, fold it back into the index — replayed over three
    days must reconstruct the one-shot batch dedup exactly: every
    distinct text is accepted exactly once, on its first day, with the
    global-minimum id as canonical; and the bloom-bitmap fold stays
    bit-identical to the plain fold at every step."""
    from dbt_core_gcloud_template_spark.operators.bloom import (
        bloom_filter_bitmap,
        update_bloom_bitmap,
    )
    from dbt_core_gcloud_template_spark.operators.dedup import (
        append_digest_index,
        exact_dedup,
        exact_dedup_incremental,
        exact_dedup_incremental_bloom,
    )

    rows = [(i, f"doc {i % 11}") for i in range(60)]  # 11 texts, many dups
    all_docs = spark.createDataFrame(rows, "doc_id long, text string")
    days = [
        all_docs.filter((F.col("doc_id") >= 20 * d) & (F.col("doc_id") < 20 * (d + 1)))
        for d in range(3)
    ]
    empty_idx = all_docs.selectExpr("md5(text) AS text_hash").filter("1=0")

    idx = empty_idx
    bitmap = bloom_filter_bitmap(empty_idx, "text_hash", n_bits=128, k=3)
    accepted: dict[str, int] = {}
    for day in days:
        fresh = exact_dedup_incremental(day, idx, "text", "doc_id")
        fresh_bloom = exact_dedup_incremental_bloom(
            day, idx, "text", "doc_id", words=bitmap
        )
        a = {(r["text_hash"], r["canonical_id"]) for r in fresh.collect()}
        assert a == {
            (r["text_hash"], r["canonical_id"]) for r in fresh_bloom.collect()
        }
        for h, cid in a:
            assert h not in accepted  # never re-accepted on a later day
            accepted[h] = cid
        idx = append_digest_index(idx, fresh).localCheckpoint()
        bitmap = update_bloom_bitmap(bitmap, fresh.select("text_hash"), "text_hash")
    oneshot = {
        r["text_hash"]: r["canonical_id"]
        for r in exact_dedup(all_docs, "text", "doc_id").collect()
    }
    assert accepted == oneshot  # same texts, same global-min canonicals
    # the folded index is exactly the one-shot digest set
    assert {r["text_hash"] for r in idx.collect()} == set(oneshot)


def test_count_index_fold_equals_oneshot(spark):
    """Index maintenance for the span and passage tiers is exact:
    folding day 2 into day 1's stored index reproduces the index built
    over day1 ∪ day2 bit-for-bit (integer counts are additive)."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        passage_hash_index,
        update_passage_hash_index,
        update_window_hash_index,
        window_hash_index,
    )

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 9}" for j in range(12)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d1, d2 = docs.filter("doc_id < 20"), docs.filter("doc_id >= 20")

    for build, update, hcol, kw in (
        (window_hash_index, update_window_hash_index, "win_hash", {"k": 4}),
        (
            passage_hash_index,
            update_passage_hash_index,
            "passage_hash",
            {"passage_tokens": 4},
        ),
    ):
        folded = {
            (r[hcol], r["n_occurrences"])
            for r in update(build(d1, "text", **kw), d2, "text", **kw).collect()
        }
        oneshot = {
            (r[hcol], r["n_occurrences"])
            for r in build(docs, "text", **kw).collect()
        }
        assert folded == oneshot


def test_count_index_artifact_contract(spark):
    """A stored WindowHashIndex/PassageHashIndex carries its own
    enumeration width and overrides call-site parameters — folding or
    probing with a contradictory width would silently merge two
    incompatible hash spaces, so the artifact form raises instead
    (advisor r7; mirrors the BloomBitmap contract)."""
    import pytest

    from dbt_core_gcloud_template_spark.operators.dedup import (
        PassageHashIndex,
        WindowHashIndex,
        duplicated_spans_incremental,
        passage_dedup_incremental,
        passage_hash_index_artifact,
        update_passage_hash_index,
        update_window_hash_index,
        window_hash_index,
        window_hash_index_artifact,
    )

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 9}" for j in range(12)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d1, d2 = docs.filter("doc_id < 20"), docs.filter("doc_id >= 20")

    art = window_hash_index_artifact(d1, "text", k=4)
    assert isinstance(art, WindowHashIndex) and art.k == 4
    # the fold adopts the stored k and returns a refreshed artifact
    folded = update_window_hash_index(art, d2, "text")
    assert isinstance(folded, WindowHashIndex) and folded.k == 4
    oneshot = {
        (r["win_hash"], r["n_occurrences"])
        for r in window_hash_index(docs, "text", k=4).collect()
    }
    assert {
        (r["win_hash"], r["n_occurrences"]) for r in folded.df.collect()
    } == oneshot
    # a contradictory explicit width raises; a matching one is allowed
    with pytest.raises(ValueError, match="incompatible"):
        update_window_hash_index(art, d2, "text", k=8)
    with pytest.raises(ValueError, match="incompatible"):
        duplicated_spans_incremental(d2, art, "doc_id", "text", k=8)
    assert (
        duplicated_spans_incremental(d2, art, "doc_id", "text", k=4).count()
        == duplicated_spans_incremental(d2, art, "doc_id", "text").count()
    )

    part = passage_hash_index_artifact(d1, "text", passage_tokens=4)
    assert isinstance(part, PassageHashIndex) and part.passage_tokens == 4
    pfolded = update_passage_hash_index(part, d2, "text")
    assert isinstance(pfolded, PassageHashIndex) and pfolded.passage_tokens == 4
    with pytest.raises(ValueError, match="incompatible"):
        update_passage_hash_index(part, d2, "text", passage_tokens=16)
    with pytest.raises(ValueError, match="incompatible"):
        passage_dedup_incremental(d2, part, "doc_id", "text", passage_tokens=16)
    # bare frames keep the legacy call-site-parameter form
    bare = window_hash_index(d1, "text", k=4)
    assert {
        (r["win_hash"], r["n_occurrences"])
        for r in update_window_hash_index(bare, d2, "text", k=4).collect()
    } == oneshot


def test_exact_dedup_incremental_bloom_null_text(spark):
    """NULL text digests to a NULL hash; the bloom tier must keep that
    group exactly like the plain anti-join does (left-anti on NULL
    never matches), not drop it between the probe branches."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        exact_dedup_incremental,
        exact_dedup_incremental_bloom,
    )

    batch = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, None), (4, "beta")],
        "doc_id long, text string",
    )
    index = spark.createDataFrame(
        [("x",)], "text string"
    ).selectExpr("md5(text) AS text_hash")
    key = lambda r: (r["text_hash"], r["canonical_id"], r["n_copies"])  # noqa: E731
    plain = {
        key(r)
        for r in exact_dedup_incremental(batch, index, "text", "doc_id").collect()
    }
    bloom = {
        key(r)
        for r in exact_dedup_incremental_bloom(
            batch, index, "text", "doc_id", n_bits=64, k=3
        ).collect()
    }
    assert bloom == plain
    assert (None, 2, 2) in bloom  # the NULL-text group survives


def test_exact_dedup_incremental_bloom_artifact_contract(spark):
    """A stored BloomBitmap carries its own (n_bits, k) and overrides
    the call-site parameters — a bitmap built with one k probed under
    another would admit bloom FALSE NEGATIVES; the artifact form makes
    that unrepresentable.  Bare lists still length-check."""
    import pytest

    from dbt_core_gcloud_template_spark.operators.bloom import (
        BloomBitmap,
        bloom_filter_bitmap,
    )
    from dbt_core_gcloud_template_spark.operators.dedup import (
        exact_dedup_incremental,
        exact_dedup_incremental_bloom,
    )

    batch = spark.createDataFrame(
        [(i, f"doc number {i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    hist = spark.createDataFrame(
        [(100, "doc number 0"), (101, "doc number 1")],
        "doc_id long, text string",
    )
    index = hist.selectExpr("md5(text) AS text_hash")
    plain = {
        (r["text_hash"], r["canonical_id"])
        for r in exact_dedup_incremental(batch, index, "text", "doc_id").collect()
    }
    # artifact built with k=7 / n_bits=128, call site says k=3 / 2^20:
    # the artifact must win (probing its bits with k=3 would be a
    # false-negative machine)
    art = bloom_filter_bitmap(index, "text_hash", n_bits=128, k=7)
    got = {
        (r["text_hash"], r["canonical_id"])
        for r in exact_dedup_incremental_bloom(
            batch, index, "text", "doc_id", n_bits=1 << 20, k=3, words=art
        ).collect()
    }
    assert got == plain
    # malformed artifacts are rejected at construction
    with pytest.raises(ValueError):
        BloomBitmap((0,) * 3, 128, 5)
    with pytest.raises(ValueError):
        BloomBitmap((0,) * 2, 127, 5)
    # bare lists keep the (length-only) check
    with pytest.raises(ValueError):
        exact_dedup_incremental_bloom(
            batch, index, "text", "doc_id", n_bits=128, words=[0] * 3
        ).collect()


def test_ivf_assign_stored_centroids(spark):
    """The trained-centroids swap: an explicit centroid table built
    from the same id<k vectors reproduces the default stand-in path
    bit-for-bit, and kmeans_fit output wires straight in (every vector
    lands in a valid list)."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        ivf_assign,
        kmeans_fit,
    )

    import math
    dim = 6
    rows = [
        (i, [math.sin(i * 3 + j) for j in range(dim)]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    default = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(emb, "vec_id", "embedding", n_lists=4).collect()
    }
    explicit_tbl = spark.createDataFrame(
        [(i, v) for i, v in rows if i < 4], "c_id long, vector array<double>"
    )
    explicit = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(
            emb, "vec_id", "embedding", n_lists=4, centroids=explicit_tbl
        ).collect()
    }
    assert explicit == default
    # real training artifact: kmeans centroids as the stored table
    cents = kmeans_fit(emb, "vec_id", "embedding", k=3, max_iter=3)
    trained_tbl = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "c_id long, vector array<double>"
    )
    trained = ivf_assign(
        emb, "vec_id", "embedding", centroids=trained_tbl
    ).collect()
    assert len(trained) == 20
    assert {r["list_id"] for r in trained} <= {0, 1, 2}


def test_semdedup_incremental_temporal(spark):
    """Incremental semdedup: a new vector duplicating a STORED
    same-cluster vector is dropped regardless of id order (canonical =
    the stored copy); a batch-internal near-dup keeps its smaller id;
    a batch vector with no close neighbor survives."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        semdedup_incremental,
    )

    import math
    dim = 8
    def vec(seed, eps=0.0):
        base = [math.sin(seed * 7 + j) for j in range(dim)]
        base[0] += eps
        return base

    # ids < n_lists are the deterministic centroids (union side)
    rows = [
        (0, vec(1)), (1, vec(2)), (2, vec(3)), (3, vec(4)),  # centroids
        (5, vec(2, 0.01)),   # NEW, near old id=1 -> duplicate of 1
        (10, vec(3, 0.01)),  # NEW, near old id=2 -> duplicate of 2
        (15, vec(3, 0.02)),  # NEW, near 10 and 2 -> canonical min = 2
        (20, vec(6)),        # NEW, isolated -> kept
        (7, vec(6, 0.5)),    # old, far from 20
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    new = emb.filter(F.col("vec_id") % 5 == 0)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    out = {
        r["vec_id"]: r.asDict()
        for r in semdedup_incremental(
            new, old, "vec_id", "embedding", n_lists=4, threshold=0.99
        ).collect()
    }
    assert set(out) == {0, 5, 10, 15, 20}
    assert out[5]["is_duplicate"] and out[5]["canonical_id"] == 1
    assert out[10]["is_duplicate"] and out[10]["canonical_id"] == 2
    assert out[15]["is_duplicate"] and out[15]["canonical_id"] == 2
    assert not out[20]["is_duplicate"] and out[20]["canonical_id"] == 20
    # the stored-centroids path (production shape): an explicit table
    # built from the same id<n_lists vectors reproduces the default
    cent_tbl = spark.createDataFrame(
        [(i, v) for i, v in rows if i < 4], "c_id long, vector array<double>"
    )
    stored = {
        r["vec_id"]: r.asDict()
        for r in semdedup_incremental(
            new, old, "vec_id", "embedding", n_lists=4, threshold=0.99,
            centroids=cent_tbl,
        ).collect()
    }
    assert stored == out


def test_semdedup_fence_arguments_checked_before_spark_work(spark):
    """A bad fence call raises before any Spark job runs: armed, split
    mode without ``dim`` must neither run the fence's count nor leave a
    tripped-fence record behind (the engine would report an error AND
    a tripped fence for the node)."""
    import pytest as _pytest

    from dbt_core_gcloud_template_spark.operators.similarity import (
        semdedup,
        semdedup_incremental,
    )
    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        + [(10 + i, [1.0, 1e-9 * i]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    sc = spark.sparkContext
    calls = {
        "split_without_dim": lambda: semdedup(
            emb, "vec_id", "embedding", n_lists=2, max_cluster_size=5,
            on_oversize="split",
        ),
        "bad_mode": lambda: semdedup(
            emb, "vec_id", "embedding", n_lists=2, max_cluster_size=5,
            on_oversize="spill", dim=2,
        ),
        "incremental_split_without_dim": lambda: semdedup_incremental(
            emb.filter("vec_id >= 10"), emb.filter("vec_id < 10"),
            "vec_id", "embedding", n_lists=2, max_cluster_size=5,
            on_oversize="split",
        ),
    }
    for name, call in calls.items():
        group = f"fence_args_{name}"
        with FenceTelemetry() as ft:
            sc.setJobGroup(group, group)
            try:
                with _pytest.raises(ValueError):
                    call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        assert ft.records == [], name
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_semdedup_codebook_forms_agree(spark):
    """The three codebook forms assign identically: the kmeans_fit list
    as plan literals, the same list above the literal threshold (one
    broadcast row), and the stored (c_id, vector) table.  Literal
    norms are folded driver-side in the column expression's order, so
    the cosines are bit-identical and so are the verdicts."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        _with_nearest_list,
        kmeans_fit,
        semdedup,
    )

    rows = [
        (i, [float((i * 7) % 5) + 0.1, float((i * 3) % 4) - 1.5, 0.3 * (i % 2)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=4, max_iter=2)
    table = spark.createDataFrame(
        list(enumerate(cents)), "c_id int, vector array<double>"
    )

    def verdicts(c, **kw):
        return sorted(
            map(tuple, semdedup(
                emb, "vec_id", "embedding", threshold=0.99, centroids=c, **kw
            ).collect())
        )

    listed = verdicts(cents)
    assert listed == verdicts(table)
    assert any(r[3] for r in listed)  # the fixture has duplicates
    fenced = verdicts(cents, max_cluster_size=10, on_oversize="split", dim=3)
    assert fenced == verdicts(
        table, max_cluster_size=10, on_oversize="split", dim=3
    )
    base = emb.select("vec_id", F.col("embedding").alias("_v"))
    lit = _with_nearest_list(base, cents).select("vec_id", "list_id")
    bcast = _with_nearest_list(base, cents, max_literal_centroids=1).select(
        "vec_id", "list_id"
    )
    assert "BroadcastNestedLoopJoin" not in lit._jdf.queryExecution().toString()
    assert sorted(lit.collect()) == sorted(bcast.collect())
    assert sorted((r[0], r[1]) for r in listed) == sorted(
        map(tuple, lit.collect())
    )


def test_canonical_ids_keeps_docs_columns(spark):
    """canonical_ids carries every column of the docs frame it is given
    (semdedup passes its list_id through instead of re-joining it by
    id); a bare id frame gives the ids alone."""
    from dbt_core_gcloud_template_spark.operators.dedup import canonical_ids

    docs = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)],
        "doc_id long, text string, list_id int",
    )
    pairs = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    out = canonical_ids(docs, pairs, "doc_id")
    assert out.columns == [
        "doc_id", "text", "list_id", "canonical_id", "is_duplicate"
    ]
    assert sorted(map(tuple, out.collect())) == [
        (1, "a", 0, 1, False), (2, "b", 0, 1, True), (3, "c", 1, 3, False)
    ]
    assert canonical_ids(docs.select("doc_id"), pairs, "doc_id").columns == [
        "doc_id", "canonical_id", "is_duplicate"
    ]


def test_semdedup_incremental_max_cluster_size_fence(spark):
    """The incremental fence counts the STORED side: a list holding
    more than the cap of corpus vectors is dropped whole before the
    probe join — its batch members are conservatively kept — while
    healthy lists keep their temporal verdicts."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        semdedup_incremental,
    )
    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
    )

    cent_tbl = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "c_id long, vector array<double>",
    )
    old = spark.createDataFrame(
        [(1000 + i, [1.0, 1e-9 * i, 0.0]) for i in range(40)]
        + [(2000, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(1, [1.0, 0.0, 1e-9]), (2, [0.0, 2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with FenceTelemetry() as ft:
        out = {
            r["vec_id"]: r
            for r in semdedup_incremental(
                new, old, "vec_id", "embedding", threshold=0.99,
                centroids=cent_tbl, max_cluster_size=10,
            ).collect()
        }
    # list 0 (40 stored > cap): batch member kept despite the near-dup mass
    assert not out[1]["is_duplicate"] and out[1]["canonical_id"] == 1
    # list 1 (1 stored <= cap): temporal verdict unchanged
    assert out[2]["is_duplicate"] and out[2]["canonical_id"] == 2000
    assert ft.records == [
        {
            "operator": "semdedup_incremental",
            "fence": "max_cluster_size",
            "fenced_groups": 1,
            "fenced_rows": 40,
        }
    ]
    # split mode: the batch member of the hot list keeps its temporal
    # verdict against the same-orientation stored mass (one sub-bucket)
    split = {
        r["vec_id"]: r
        for r in semdedup_incremental(
            new, old, "vec_id", "embedding", threshold=0.99,
            centroids=cent_tbl, max_cluster_size=10,
            on_oversize="split", dim=3,
        ).collect()
    }
    assert split[1]["is_duplicate"] and split[1]["canonical_id"] == 1000
    assert split[2]["is_duplicate"] and split[2]["canonical_id"] == 2000


def test_embedding_near_dup_incremental(spark):
    """Incremental embedding near-dup: every pair touches a new vector
    (old x old suppressed), new x old emits once regardless of id
    order, ids are normalized a < b, and the pair set equals the full
    LSH-prefiltered pair set minus its old x old pairs."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        embedding_near_dup_incremental,
        embedding_near_dup_pairs,
    )

    import math
    dim = 8
    def vec(seed, eps=0.0):
        base = [math.sin(seed + j) for j in range(dim)]
        base[0] += eps
        return base

    rows = [
        (2, vec(1)), (7, vec(1, 0.01)),   # near-dup pair, both old
        (10, vec(2)), (11, vec(2, 0.01)), # 10 new (10%5=0), 11 old
        (5, vec(3)), (15, vec(3, 0.01)),  # both new
        (4, vec(9)),                      # old
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    new = emb.filter(F.col("vec_id") % 5 == 0)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    inc = {
        (r["id_a"], r["id_b"]): r["pair_type"]
        for r in embedding_near_dup_incremental(
            new, old, "vec_id", "embedding", dim=dim, threshold=0.9, n_planes=2
        ).collect()
    }
    # (2,7) is old x old -> suppressed; (10,11) new x old; (5,15) new x new
    assert (2, 7) not in inc
    assert inc.get((10, 11)) == "new_old"
    assert inc.get((5, 15)) == "new_new"
    full = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.9,
            prefilter_planes=2, dim=dim,
        ).collect()
    }
    assert set(inc) == {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}
    # skew fence: cap=1 drops every bucket holding >1 stored vector
    # whole; with it uncapped buckets' pairs survive, capped ones vanish
    from dbt_core_gcloud_template_spark.operators.similarity import (
        _bucket_expr,
        embedding_near_dup_incremental as _inc,
    )

    bsize = {
        r["b"]: r["count"]
        for r in old.select(
            _bucket_expr(F.col("embedding"), 2, dim).alias("b")
        ).groupBy("b").count().collect()
    }
    bucket_of = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", _bucket_expr(F.col("embedding"), 2, dim).alias("b")
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in _inc(
            new, old, "vec_id", "embedding", dim=dim, threshold=0.9,
            n_planes=2, max_bucket_size=1,
        ).collect()
    }
    want = {p for p in inc if bsize.get(bucket_of[p[0]], 0) <= 1}
    assert capped == want


def test_passage_dedup_incremental_temporal_first(spark):
    """Incremental passage dedup: a passage already in the stored index
    drops EVERYWHERE in the batch (history kept its copy at ingest); a
    corpus-new passage keeps its batch-first occurrence only; the cap
    counts batch + historical occurrences together."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        passage_dedup_incremental,
        passage_hash_index,
    )

    k = 2
    hist = spark.createDataFrame(
        [(100, "a b c d")],  # passages: "a b", "c d"
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (0, "a b x y"),   # "a b" in history -> drop; "x y" new -> keep
            (1, "x y x y"),   # both "x y": doc0 pos1 is batch-first -> drop both
            (2, "c d"),       # in history -> drop
        ],
        "doc_id long, text string",
    )
    idx = passage_hash_index(hist, "text", passage_tokens=k)
    out = {
        r["doc_id"]: r.asDict()
        for r in passage_dedup_incremental(
            batch, idx, "doc_id", "text", passage_tokens=k
        ).collect()
    }
    assert out[0]["n_passages"] == 2 and out[0]["n_kept"] == 1  # keeps "x y"
    assert out[1]["n_passages"] == 2 and out[1]["n_kept"] == 0  # doc0 was first
    assert out[2]["n_passages"] == 1 and out[2]["n_kept"] == 0  # historical
    # cap on TOTAL occurrences: "x y" appears 3x in the batch alone,
    # so max_occurrences=2 strips its kept copy too
    capped = {
        r["doc_id"]: r.asDict()
        for r in passage_dedup_incremental(
            batch, idx, "doc_id", "text", passage_tokens=k, max_occurrences=2
        ).collect()
    }
    assert capped[0]["n_kept"] == 0


def test_jaccard_verify_pairs(spark):
    """Verify stage: exact Jaccard computed ONLY for proposed pairs —
    values match ngram_jaccard_pairs on the same docs, pairs below the
    threshold are dropped, unproposed pairs never appear, and both
    prune modes agree."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        jaccard_verify_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different words appear in this one"),
            (3, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a_id long, b_id long"
    )
    out = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in jaccard_verify_pairs(
            cand, docs, "doc_id", "text", k_shingle=3, threshold=0.1
        ).collect()
    }
    # (0,2) shares no 3-shingle -> below threshold; (1,3) never proposed
    assert set(out) == {(0, 1), (0, 3)}
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", k_shingle=3, threshold=0.1
        ).collect()
    }
    for p, j in out.items():
        assert abs(exact[p] - j) < 1e-9
    pruned = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in jaccard_verify_pairs(
            cand, docs, "doc_id", "text", k_shingle=3, threshold=0.1, prune=True
        ).collect()
    }
    assert pruned == out


def test_quality_classifier_trained_weights_paths_agree(spark):
    """The trained-weights swap the docstring promises: a weights
    DataFrame built from the SAME frozen md5 formula must reproduce the
    default path bit-for-bit on BOTH execution strategies — the
    collect-to-literal path (small bucket domains, map-only) and the
    forced explode+broadcast-join path (large vocabularies) — because
    the logit is an integer sum either way."""
    from dbt_core_gcloud_template_spark.functions.hashing import md5_int28_py
    from dbt_core_gcloud_template_spark.operators.text_analysis import (
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [
            (0, "good clean prose here and more of it"),
            (1, "short text"),
            (2, "another document with several repeated words words words"),
        ],
        "doc_id long, text string",
    )
    n_buckets = 16
    wtab = spark.createDataFrame(
        [(b, md5_int28_py(str(b)) % 2_000_001 - 1_000_000) for b in range(n_buckets)],
        "bucket int, w_micro long",
    )
    frozen = {r["doc_id"]: r.asDict() for r in
              quality_classifier(docs, "doc_id", "text", n_buckets=n_buckets).collect()}
    literal = {r["doc_id"]: r.asDict() for r in
               quality_classifier(docs, "doc_id", "text", n_buckets=n_buckets,
                                  weights=wtab).collect()}
    joined = {r["doc_id"]: r.asDict() for r in
              quality_classifier(docs, "doc_id", "text", n_buckets=n_buckets,
                                 weights=wtab, max_literal_buckets=0).collect()}
    assert frozen == literal == joined

    # a genuinely different (sparse) weight table changes scores, and
    # missing buckets count as zero on both paths
    sparse = spark.createDataFrame(
        [(0, 500_000), (3, -250_000)], "bucket int, w_micro long"
    )
    s_lit = {r["doc_id"]: r.asDict() for r in
             quality_classifier(docs, "doc_id", "text", n_buckets=n_buckets,
                                weights=sparse).collect()}
    s_join = {r["doc_id"]: r.asDict() for r in
              quality_classifier(docs, "doc_id", "text", n_buckets=n_buckets,
                                 weights=sparse, max_literal_buckets=0).collect()}
    assert s_lit == s_join
    assert s_lit != frozen

    # out-of-range buckets and duplicate bucket rows are rejected
    # loudly on BOTH paths — the tables that raise must not depend on
    # which execution strategy the threshold picks
    bad = spark.createDataFrame([(99, 1)], "bucket int, w_micro long")
    dup = spark.createDataFrame(
        [(1, 5), (1, 7)], "bucket int, w_micro long"
    )
    nullw = spark.createDataFrame(
        [(1, 5), (2, None)], "bucket int, w_micro long"
    )
    # longer than n_buckets + 1, all duplicates except an out-of-range
    # bucket last: the literal path's bounded collect sees only
    # duplicates, yet the error must match the join path's
    long_bad = spark.createDataFrame(
        [(1, 5)] * (n_buckets + 4) + [(n_buckets + 3, 1)],
        "bucket int, w_micro long",
    )
    for kw in ({}, {"max_literal_buckets": 0}):
        for table in (bad, long_bad):
            with pytest.raises(ValueError, match="outside"):
                quality_classifier(
                    docs, "doc_id", "text", n_buckets=n_buckets,
                    weights=table, **kw
                )
        with pytest.raises(ValueError, match="duplicate"):
            quality_classifier(
                docs, "doc_id", "text", n_buckets=n_buckets, weights=dup, **kw
            )
        with pytest.raises(ValueError, match="NULL weights"):
            quality_classifier(
                docs, "doc_id", "text", n_buckets=n_buckets, weights=nullw, **kw
            )


def test_duplicated_spans_exactsubstr(spark):
    """ExactSubstr spans: cross-doc shared runs merge into one maximal
    span per doc, within-doc repeats produce two islands, unique docs
    emit nothing, and the plan is windowed (no join-back)."""
    from dbt_core_gcloud_template_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            (0, "x1 x2 one two three four five six y1 y2"),
            (1, "z1 one two three four five six z2 z3 z4"),
            (2, "r1 r2 r3 r4 q r1 r2 r3 r4"),
            (3, "u1 u2 u3 u4 u5"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs, "doc_id", "text", k=4, min_count=2)
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in out.collect()
    }
    assert spans == {
        (0, 2, 8, 6),   # shared 6-token run, 3 overlapping windows merged
        (1, 1, 7, 6),   # same run at a different offset
        (2, 0, 4, 4),   # within-doc repeat: first occurrence...
        (2, 5, 9, 4),   # ...and second, non-adjacent => two islands
    }
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan  # count-over-window, not groupBy+join-back


def test_duplicated_spans_max_occurrences_cap(spark):
    """Skew fence: a window-hash above the cap grants NO protected
    copy (boilerplate removed everywhere), below-cap windows keep the
    paper's exact first-occurrence protection, and removal then
    deletes every copy of the hot text while keeping one cold copy."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    boiler = "all rights reserved see license"          # 5 tokens, hot
    cold = "pack my box with jugs"                      # 5 tokens, 2×
    docs = spark.createDataFrame(
        [
            (0, f"{boiler} u01 u02"),
            (1, f"{boiler} u11 u12"),
            (2, f"{boiler} u21 u22"),
            (3, f"{boiler} {cold} u31"),
            (4, f"{cold} u41 u42 u43 u44"),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(
        docs, "doc_id", "text", k=5, min_count=2, keep_first=True,
        max_occurrences=3,
    )
    rows = {(r["doc_id"], r["span_start"], r["protected"]) for r in spans.collect()}
    # boiler occurs 4× > cap 3: all four occurrences duplicated, none
    # protected; cold occurs 2× <= cap: doc 3's copy protected
    assert rows == {
        (0, 0, False), (1, 0, False), (2, 0, False), (3, 0, False),
        (3, 5, True), (4, 0, False),
    }
    cleaned = {
        r["doc_id"]: r["cleaned_text"]
        for r in remove_duplicated_spans(
            docs, spans, "doc_id", "text", keep_first=True
        ).collect()
    }
    assert cleaned[0] == "u01 u02"              # boiler gone everywhere
    assert cleaned[3] == cold + " u31"          # protected cold copy kept
    assert cleaned[4] == "u41 u42 u43 u44"      # later cold copy removed

    # without the cap, the paper rule protects doc 0's boiler copy
    uncapped = duplicated_spans(
        docs, "doc_id", "text", k=5, min_count=2, keep_first=True
    )
    prot = {(r["doc_id"], r["span_start"]) for r in uncapped.collect() if r["protected"]}
    assert (0, 0) in prot and (3, 5) in prot

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_occurrences"):
        duplicated_spans(
            docs, "doc_id", "text", k=5, min_count=3, max_occurrences=2
        )


def test_passage_dedup_max_occurrences_cap(spark):
    """Passage skew fence: an above-cap passage counts as dropped
    everywhere (no first-kept copy); unique passages are unaffected."""
    from dbt_core_gcloud_template_spark.operators.dedup import passage_dedup_stats

    boiler = "b1 b2 b3 b4"
    docs = spark.createDataFrame(
        [(i, f"{boiler} u{i}a u{i}b u{i}c u{i}d") for i in range(4)],
        "doc_id long, text string",
    )
    capped = {
        r["doc_id"]: (r["n_passages"], r["n_kept"])
        for r in passage_dedup_stats(
            docs, "doc_id", "text", passage_tokens=4, max_occurrences=3
        ).collect()
    }
    # each doc: passages = [boiler, unique]; boiler occurs 4× > 3 ->
    # kept nowhere; each unique passage kept
    assert capped == {i: (2, 1) for i in range(4)}
    uncapped = {
        r["doc_id"]: r["n_kept"]
        for r in passage_dedup_stats(
            docs, "doc_id", "text", passage_tokens=4
        ).collect()
    }
    assert uncapped == {0: 2, 1: 1, 2: 1, 3: 1}  # doc 0 keeps first boiler


def test_best_representative_picks_quality_not_min_id(spark, tmp_path):
    """Near-dup representative selection keeps the highest-QUALITY
    cluster member (min-id canonical stays the cluster key); singletons
    keep themselves with n_members=1."""
    from dbt_core_gcloud_template_spark.queries.llm import (
        neardup_best_representative,
    )

    # docs 0 and 1 share all 5-shingles (near-dup pair); doc 1 is
    # higher quality (longer, has stopwords, no punctuation burst).
    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, shared + " !!!!! ;;; ..."),
            (1, shared + " " + shared),
            (7, "completely unrelated text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "bestrep_sf")
    import os

    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.parquet(d + "/documents.parquet")
    out = {r["canonical_id"]: r for r in neardup_best_representative(spark, d).collect()}
    assert set(out) == {0, 7}
    assert out[0]["kept_doc_id"] == 1  # better quality beats lower id
    assert out[0]["n_members"] == 2
    assert out[7]["kept_doc_id"] == 7 and out[7]["n_members"] == 1


def test_remove_duplicated_spans_rebuild(spark):
    """Span removal drops exactly the in-span tokens (all occurrences),
    passes span-free docs through unchanged, and tolerates NULL text."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "x1 x2 one two three four five six y1 y2"),
            (1, "z1 one two three four five six z2 z3 z4"),
            (2, "r1 r2 r3 r4 q r1 r2 r3 r4"),
            (3, "u1 u2 u3 u4 u5"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, "doc_id", "text", k=4, min_count=2)
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(docs, spans, "doc_id", "text").collect()
    }
    assert out[0]["cleaned_text"] == "x1 x2 y1 y2" and out[0]["n_removed"] == 6
    assert out[1]["cleaned_text"] == "z1 z2 z3 z4"
    assert out[2]["cleaned_text"] == "q" and out[2]["n_removed"] == 8
    assert out[3]["cleaned_text"] == "u1 u2 u3 u4 u5" and out[3]["n_removed"] == 0
    assert out[4]["cleaned_text"] == "" and out[4]["n_tokens"] == 0


def test_duplicated_spans_keep_first(spark):
    """keep_first=True implements the paper's all-but-one rule: the
    globally-first occurrence (min doc, pos) of each repeated window
    becomes a PROTECTED span (emitted with protected=True so removal
    can subtract it token-wise), later copies are duplicated spans."""
    from dbt_core_gcloud_template_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            (0, "x1 x2 one two three four five six y1 y2"),
            (1, "z1 one two three four five six z2 z3 z4"),
            (2, "r1 r2 r3 r4 q r1 r2 r3 r4"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs, "doc_id", "text", k=4, min_count=2, keep_first=True)
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["protected"])
        for r in out.collect()
    }
    # doc 0 holds every first occurrence of the shared run -> PROTECTED;
    # doc 1's copy and doc 2's SECOND internal repeat are duplicated
    assert spans == {
        (0, 2, 8, True),   # first occurrence of the shared run
        (2, 0, 4, True),   # first occurrence of the internal repeat
        (1, 1, 7, False),
        (2, 5, 9, False),
    }


def test_keep_first_removal_survives_self_overlap(spark):
    """Regression: with self-overlapping repeats ('a a a a', k=2) the
    kept first occurrence shares token 1 with the duplicated copy —
    token-level protection must leave exactly one 'a a' standing."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = spark.createDataFrame([(0, "a a a a")], "doc_id long, text string")
    spans = duplicated_spans(docs, "doc_id", "text", k=2, min_count=2, keep_first=True)
    out = remove_duplicated_spans(docs, spans, "doc_id", "text").collect()[0]
    assert out["cleaned_text"] == "a a"
    assert out["n_removed"] == 2


def test_keep_first_removal_requires_protected_column(spark):
    """Dropping the protected column from keep_first spans would
    silently delete kept copies — the removal must fail loudly."""
    import pytest as _pytest

    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = spark.createDataFrame([(0, "a a a a")], "doc_id long, text string")
    spans = duplicated_spans(
        docs, "doc_id", "text", k=2, min_count=2, keep_first=True
    ).drop("protected")
    with _pytest.raises(ValueError, match="protected"):
        remove_duplicated_spans(docs, spans, "doc_id", "text", keep_first=True)


def test_pack_sequences_routes_only_hot_groups_distributed(spark, monkeypatch):
    """r8 advisor: one hot group must not drag every cold group through
    the bucketed path — the distributed prefix sum receives ONLY the
    over-threshold groups' rows, so the driver-side offset collect is
    O(hot_groups x 256), not O(all_groups x 256)."""
    from dbt_core_gcloud_template_spark.operators import chunking

    calls = []
    orig = chunking._pack_assign_distributed

    def spy(base, id_col, parts, seq_len, rows_per_bucket, seed, total):
        calls.append((base.count(), total))
        return orig(base, id_col, parts, seq_len, rows_per_bucket, seed, total)

    monkeypatch.setattr(chunking, "_pack_assign_distributed", spy)
    # 50 cold groups of 2 rows + one hot group of 100 rows
    rows = [(g * 1000 + i, "w w w", f"g{g}") for g in range(50) for i in range(2)]
    rows += [(100000 + i, "w w w", "hot") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = chunking.pack_sequences(
        docs, "doc_id", "text", seq_len=4, partition_col="lang",
        rows_per_bucket=40,
    )
    got = {(r.lang, r.seq_no): (r.n_docs, r.n_tokens) for r in out.collect()}
    assert len(calls) == 1
    n_routed, total_hint = calls[0]
    assert n_routed == 100 and total_hint == 100
    # cold groups still packed (via the windowed path)
    assert got[("g0", 0)] == (2, 6)
    # hot group packed correctly: 100 docs x 3 tokens / seq_len 4
    hot_docs = sum(nd for (lang, _), (nd, _) in got.items() if lang == "hot")
    assert hot_docs == 100


def test_kmeans_fit_replayable_contract(spark):
    """The SQL-replayable trainer (r8 verdict #2): deterministic across
    the literal/broadcast assignment switch, returns the (c_id, vector)
    codebook shape ivf_assign/semdedup accept, keeps previous centroids
    for empty clusters, degrades to fewer centroids when k exceeds the
    corpus, and returns an empty codebook on an empty corpus."""
    import math

    from dbt_core_gcloud_template_spark.operators.similarity import (
        kmeans_fit_replayable,
    )

    dim = 6
    rows = [
        (i, [math.sin(i * 3 + j) for j in range(dim)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit = kmeans_fit_replayable(emb, "vec_id", "embedding", k=4, n_iter=2)
    bc = kmeans_fit_replayable(
        emb, "vec_id", "embedding", k=4, n_iter=2, max_literal_centroids=1
    )
    lit_rows = sorted((r.c_id, tuple(r.vector)) for r in lit.collect())
    assert lit_rows == sorted((r.c_id, tuple(r.vector)) for r in bc.collect())
    assert [c for c, _ in lit_rows] == [0, 1, 2, 3]
    assert all(len(v) == dim for _, v in lit_rows)
    # determinism across invocations (and therefore across layouts:
    # the integer-micro sums are order-independent by construction)
    again = kmeans_fit_replayable(emb, "vec_id", "embedding", k=4, n_iter=2)
    assert lit_rows == sorted(
        (r.c_id, tuple(r.vector)) for r in again.collect()
    )
    # k exceeding the corpus: every vector seeds, no duplicate padding
    tiny = spark.createDataFrame(rows[:3], "vec_id long, embedding array<double>")
    small = kmeans_fit_replayable(tiny, "vec_id", "embedding", k=8, n_iter=1)
    got = small.collect()
    assert len(got) == 3
    assert len({tuple(r.vector) for r in got}) == 3
    # empty corpus: an empty codebook with the contract schema (the
    # semdedup caller then yields an empty result, not a crash)
    empty = kmeans_fit_replayable(
        tiny.filter("vec_id < 0"), "vec_id", "embedding", k=4, n_iter=2
    )
    assert empty.columns == ["c_id", "vector"] and empty.count() == 0


def test_build_codebook_standin_valid_vectors_and_reindex(spark):
    """Standin-mode codebooks (r9 advice): dirty rows among the
    smallest ids (NULL vector, empty array, zero norm, NULL id) must
    not become centroids — downstream cosine assignment would
    try_divide into NULLs for every corpus row — and c_id is the dense
    0..k-1 re-index, not the raw id (which silently overflows an int
    cast for ids >= 2^31)."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        build_codebook,
    )

    rows = [
        (0, None),                 # NULL vector
        (1, []),                   # empty array
        (2, [0.0, 0.0]),           # zero norm
        (None, [1.0, 1.0]),        # NULL id
        (3, [1.0, 2.0]),
        (4, [2.0, 1.0]),
        (2**31 + 7, [5.0, 5.0]),   # id beyond int32
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.c_id, tuple(r.vector))
        for r in build_codebook(
            emb, "vec_id", "embedding", mode="standin", k=3
        ).collect()
    )
    # the three smallest VALID ids (3, 4, 2^31+7), renumbered 0..2
    assert got == [
        (0, (1.0, 2.0)),
        (1, (2.0, 1.0)),
        (2, (5.0, 5.0)),
    ]
    schema = {f.name: f.dataType.simpleString() for f in build_codebook(
        emb, "vec_id", "embedding", mode="standin", k=3
    ).schema.fields}
    assert schema == {"c_id": "int", "vector": "array<double>"}


def test_record_metric_contract():
    """record_metric (r8 verdict #3): no-op without a collector, stores
    float-coerced values on the active collector's metrics dict, keeps
    None (an undefined metric stays visible as null in run_results),
    and stays thread-local like the fence records."""
    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
        record_metric,
    )

    record_metric("orphan", 0.5)  # no collector: must not raise
    with FenceTelemetry() as ft:
        record_metric("recall", 0.25)
        record_metric("n_pairs", 59)  # int coerces to float
        record_metric("undefined", None)
        with FenceTelemetry() as inner:
            record_metric("inner_only", 1.0)
        record_metric("recall", 0.75)  # last write wins
    assert ft.metrics == {"recall": 0.75, "n_pairs": 59.0, "undefined": None}
    assert inner.metrics == {"inner_only": 1.0}
    assert isinstance(ft.metrics["n_pairs"], float)


# ---------------------------------------------------------------------------
# dataset-drift PSI (operators/drift.py)
# ---------------------------------------------------------------------------
def test_psi_drift_identical_snapshots_zero(spark):
    df = spark.createDataFrame([(float(x),) for x in range(40)], "x double")
    feats = [("x", F.col("x"), (10.0, 20.0, 30.0))]
    from dbt_core_gcloud_template_spark.operators.drift import psi_drift

    rows = {r["feature"]: r for r in psi_drift(df, df, feats).collect()}
    assert rows["x"]["psi"] == 0.0
    assert rows["x"]["n_ref"] == 40 and rows["x"]["n_cur"] == 40


def test_psi_drift_orders_shift_magnitude(spark):
    """A mild bucket shift scores below a strong one, both above
    identical; NULL appearing only in `cur` (missingness drift) also
    registers — NULL is the −1 bucket, not an exclusion."""
    from dbt_core_gcloud_template_spark.operators.drift import psi_drift

    ref = spark.createDataFrame([(float(x % 30),) for x in range(60)], "x double")
    mild = spark.createDataFrame(
        [(float(x % 30 + 3),) for x in range(60)], "x double"
    )
    strong = spark.createDataFrame(
        [(float(x % 30 + 25),) for x in range(60)], "x double"
    )
    feats = [("x", F.col("x"), (10.0, 20.0, 30.0, 40.0))]

    def psi(cur):
        return psi_drift(ref, cur, feats).collect()[0]["psi"]

    p_mild, p_strong = psi(mild), psi(strong)
    assert 0.0 < p_mild < p_strong

    with_nulls = spark.createDataFrame(
        [((None if x % 3 == 0 else float(x % 30)),) for x in range(60)],
        "x double",
    )
    assert psi(with_nulls) > 0.0


def test_psi_drift_empty_snapshot_yields_null(spark):
    """An empty side means there is no distribution to compare: psi is
    NULL (never 0 — 'no data' must not read as 'no drift'); counts
    still report so the monitor can see WHY."""
    from dbt_core_gcloud_template_spark.operators.drift import psi_drift

    ref = spark.createDataFrame([(1.0,), (25.0,)], "x double")
    empty = ref.limit(0)
    feats = [("x", F.col("x"), (10.0,))]
    row = psi_drift(ref, empty, feats).collect()[0]
    assert row["psi"] is None
    assert row["n_ref"] == 2 and row["n_cur"] == 0
    # both sides empty: nothing bucketed, zero output rows
    assert psi_drift(empty, empty, feats).count() == 0


def test_bucketize_edges_and_nulls(spark):
    """Boundary values go to the UPPER bucket (strict <) and NULL gets
    its own −1 bucket — pinned because both engines' CASE chains are
    generated from the same edge list and must agree exactly."""
    from dbt_core_gcloud_template_spark.operators.drift import bucketize

    df = spark.createDataFrame(
        [(None,), (5.0,), (10.0,), (15.0,), (20.0,), (99.0,)], "x double"
    )
    got = [
        r["b"]
        for r in df.select(
            bucketize(F.col("x"), (10.0, 20.0)).alias("b")
        ).collect()
    ]
    assert got == [-1, 0, 1, 1, 2, 2]


def test_psi_drift_categorical_mix(spark):
    """Categorical bucket specs: a pinned vocabulary folds unlisted
    values into '<other>' (so the bucket space is bounded and
    day-comparable), NULL is '<null>', and a pure mix shift registers
    as positive PSI; an open (None) spec keys every distinct value."""
    from dbt_core_gcloud_template_spark.operators.drift import (
        bucket_counts,
        psi_drift,
    )

    ref = spark.createDataFrame(
        [("en",)] * 30 + [("de",)] * 20 + [("zh",)] * 5 + [(None,)] * 5,
        "lang string",
    )
    cur = spark.createDataFrame(
        [("en",)] * 10 + [("de",)] * 20 + [("zh",)] * 25 + [(None,)] * 5,
        "lang string",
    )
    feats = [("lang_mix", F.col("lang"), ("en", "de"))]
    row = psi_drift(ref, cur, feats).collect()[0]
    assert row["psi"] > 0.0  # en -> zh shift registers via <other>
    labels = {
        r["bucket"]: r["n"] for r in bucket_counts(ref, feats).collect()
    }
    assert labels == {"en": 30, "de": 20, "<other>": 5, "<null>": 5}
    # identical mixes, even with unlisted values present: exactly zero
    assert psi_drift(ref, ref, feats).collect()[0]["psi"] == 0.0
    # open categorical: every distinct value is its own bucket
    open_labels = {
        r["bucket"]: r["n"]
        for r in bucket_counts(
            ref, [("lang_mix", F.col("lang"), None)]
        ).collect()
    }
    assert open_labels == {"en": 30, "de": 20, "zh": 5, "<null>": 5}


def test_corpus_drift_default_spec_pins_source_vocab(spark):
    """r10 verdict stretch: the DEFAULT corpus spec (the template every
    deployment copies) pins a source vocabulary, so an out-of-vocab
    source folds into '<other>' instead of growing the bucket space —
    bounded at 100 TB by default, not by docstring."""
    from dbt_core_gcloud_template_spark.operators.drift import (
        SOURCE_DRIFT_VOCAB,
        bucket_counts,
        corpus_drift_features,
    )

    df = spark.createDataFrame(
        [("hello.", "en", "src0"), ("world!", "en", "src999"),
         ("more text", "de", None)],
        "text string, lang string, source string",
    )
    labels = {
        r["bucket"]: r["n"]
        for r in bucket_counts(df, corpus_drift_features())
        .filter(F.col("feature") == "source_mix")
        .collect()
    }
    assert labels == {"src0": 1, "<other>": 1, "<null>": 1}
    assert "src999" not in SOURCE_DRIFT_VOCAB
    # the open shape remains available as an explicit opt-in
    open_labels = {
        r["bucket"]: r["n"]
        for r in bucket_counts(
            df, corpus_drift_features(source_vocab=None)
        )
        .filter(F.col("feature") == "source_mix")
        .collect()
    }
    assert open_labels == {"src0": 1, "src999": 1, "<null>": 1}


def test_bucketize_sql_escapes_vocab_quotes(spark):
    """A vocabulary entry containing a single quote must render as a
    valid SQL literal producing the SAME bucket key as the Spark side
    (r10 advice: unescaped quotes made the generated oracle invalid or
    subtly wrong)."""
    import duckdb

    from dbt_core_gcloud_template_spark.operators.drift import (
        bucket_label,
        bucketize_sql,
    )

    vocab = ("o'reilly", "plain")
    rows = [("o'reilly",), ("plain",), ("else",), (None,)]
    spark_labels = [
        r["b"]
        for r in spark.createDataFrame(rows, "v string")
        .select(bucket_label(F.col("v"), vocab).alias("b"))
        .collect()
    ]
    sql = bucketize_sql("v", vocab)
    duck_labels = [
        duckdb.sql(
            "SELECT " + sql + " FROM (SELECT "
            + ("CAST(NULL AS VARCHAR)" if v is None
               else "'" + v.replace("'", "''") + "'")
            + " AS v)"
        ).fetchone()[0]
        for (v,) in rows
    ]
    assert spark_labels == duck_labels == [
        "o'reilly", "plain", "<other>", "<null>"
    ]


def test_incremental_drift_model_spec_rebaseline(spark):
    """The shared count-delta drift skeleton (r11 review fix): the
    fold is guarded by the SPEC FINGERPRINT, so editing the pinned
    bucket space (or the salted codebook) degrades to day-1 semantics
    — PSI None, "no baseline under this spec" — instead of folding
    incompatible bucket spaces into spurious drift; retries of a
    completed day recompute the same numbers and append nothing."""
    from dbt_core_gcloud_template_spark.operators import drift

    from conftest import FakeDbt

    feats_v1 = [("lang_mix", F.col("lang"), ("en",))]
    feats_v2 = [("lang_mix", F.col("lang"), ("en", "de"))]
    day1 = spark.createDataFrame([("en",)] * 3 + [("de",)], "lang string")
    day2 = spark.createDataFrame(
        [("en",)] * 2 + [("de",)] * 2, "lang string"
    )
    tbl = "drift_skel_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        # day 1: bootstrap — no baseline, metric carried as None
        d1 = FakeDbt(tbl, incremental=False)
        delta1 = drift.incremental_drift_model(
            d1, spark, drift.bucket_counts(day1, feats_v1),
            drift.spec_fingerprint(feats_v1), lo=0,
        )
        assert d1.metrics == {"lang_mix_psi": None}
        delta1.write.saveAsTable(tbl)
        # day 2, same spec: a real PSI against the folded history
        d2 = FakeDbt(tbl, incremental=True)
        delta2 = drift.incremental_drift_model(
            d2, spark, drift.bucket_counts(day2, feats_v1),
            drift.spec_fingerprint(feats_v1), lo=100,
        )
        assert d2.metrics["lang_mix_psi"] is not None
        assert d2.metrics["lang_mix_psi"] > 0.0  # en:3/other:1 vs 2/2
        delta2.write.mode("append").saveAsTable(tbl)
        # retry of day 2: same numbers, zero-row append
        d2r = FakeDbt(tbl, incremental=True)
        retry = drift.incremental_drift_model(
            d2r, spark, drift.bucket_counts(day2, feats_v1),
            drift.spec_fingerprint(feats_v1), lo=100,
        )
        assert d2r.metrics == d2.metrics
        assert retry.count() == 0
        # day 3 under a CHANGED spec: re-baseline, not spurious drift
        d3 = FakeDbt(tbl, incremental=True)
        delta3 = drift.incremental_drift_model(
            d3, spark, drift.bucket_counts(day2, feats_v2),
            drift.spec_fingerprint(feats_v2), lo=200,
        )
        assert d3.metrics == {"lang_mix_psi": None}
        assert delta3.count() > 0  # enters under the new fingerprint
        # fingerprint contract: stable, spec-sensitive, salt-sensitive
        assert drift.spec_fingerprint(feats_v1) == drift.spec_fingerprint(
            feats_v1
        )
        assert drift.spec_fingerprint(feats_v1) != drift.spec_fingerprint(
            feats_v2
        )
        assert drift.spec_fingerprint(
            feats_v1
        ) != drift.spec_fingerprint(feats_v1, salt="codebook-v2")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_incremental_drift_model_legacy_store_without_spec_hash(spark):
    """r12 (r11 advice #2): a delta log written BEFORE the spec_hash
    column existed must not crash the first post-upgrade incremental
    run with an unresolved-column error.  Legacy rows read as an
    EXPIRED spec generation: the fold sees no baseline (day-1
    semantics, PSI None) and the new delta appends under the current
    hash."""
    from pyspark.sql import functions as F

    from dbt_core_gcloud_template_spark.operators import drift

    from conftest import FakeDbt

    feats = [("lang_mix", F.col("lang"), ("en",))]
    day = spark.createDataFrame([("en",)] * 3 + [("de",)], "lang string")
    tbl = "drift_legacy_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        # a pre-spec_hash store: (feature, bucket, n, ingest_lo) only
        spark.createDataFrame(
            [("lang_mix", "en", 5, 0), ("lang_mix", "<other>", 5, 0)],
            "feature string, bucket string, n bigint, ingest_lo bigint",
        ).write.saveAsTable(tbl)
        d = FakeDbt(tbl)
        delta = drift.incremental_drift_model(
            d, spark, drift.bucket_counts(day, feats),
            drift.spec_fingerprint(feats), lo=100,
        )
        # no baseline under the current spec -> day-1 semantics
        assert d.metrics == {"lang_mix_psi": None}
        # the delta enters (legacy tags never match the (lo, hash) pair)
        assert delta.count() > 0
        assert delta.filter(F.col("spec_hash").isNull()).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compact_count_deltas_preserves_fold_and_tags(spark):
    """Delta-log compaction (r11): collapsing old days must leave (a)
    every future fold's SUM identical, (b) every compacted day tag
    visible to the retry anti-join (zero-count bucket-NULL
    tombstones), and (c) rows at/after the horizon untouched — and
    re-compacting an already-compacted log must not lose
    tombstone-only tags.  r12: the output also carries exactly one
    in-band HORIZON MARKER row (spec_hash='<compact-horizon>') tagged
    with the horizon, so restate can refuse folded days even if the
    catalog record is lost; re-compaction keeps a single marker."""
    from dbt_core_gcloud_template_spark.operators.drift import (
        HORIZON_SPEC,
        compact_count_deltas,
        stored_compact_horizon,
    )

    rows = [
        # day 0: two buckets; day 100: FULLY overlapped by later days
        # (its tag survives only as a tombstone); day 170: overlapping
        # + new bucket; day 340: current (beyond the horizon)
        ("chars", "0", 3, 0, "h1"),
        ("chars", "1", 2, 0, "h1"),
        ("chars", "0", 1, 100, "h1"),
        ("chars", "0", 5, 170, "h1"),
        ("lang_mix", "en", 4, 170, "h1"),
        ("chars", "0", 7, 340, "h1"),
        # a second spec generation: must compact independently
        ("chars", "0", 11, 0, "h2"),
    ]
    log = spark.createDataFrame(
        rows,
        "feature string, bucket string, n bigint, ingest_lo bigint, "
        "spec_hash string",
    )

    def fold(df, lo, h):
        return sorted(
            map(
                tuple,
                df.filter(
                    (F.col("ingest_lo") < lo)
                    & (F.col("spec_hash") == h)
                    & F.col("bucket").isNotNull()
                )
                .groupBy("feature", "bucket")
                .agg(F.sum("n").alias("n"))
                .collect(),
            )
        )

    compacted = compact_count_deltas(log, through_lo=340)
    for h in ("h1", "h2"):
        assert fold(compacted, 340, h) == fold(log, 340, h)
        assert fold(compacted, 10**9, h) == fold(log, 10**9, h)
    # every tag ever ingested is still visible per spec generation
    # (the horizon marker is maintenance metadata, not a day tag)
    tags = {
        (r["spec_hash"], r["ingest_lo"])
        for r in compacted.filter(F.col("spec_hash") != HORIZON_SPEC)
        .select("spec_hash", "ingest_lo")
        .distinct()
        .collect()
    }
    assert tags == {
        ("h1", 0), ("h1", 100), ("h1", 170), ("h1", 340), ("h2", 0)
    }
    # the current day passed through untouched
    cur = compacted.filter(
        (F.col("ingest_lo") == 340) & (F.col("spec_hash") != HORIZON_SPEC)
    ).collect()
    assert [tuple(r) for r in cur] == [("chars", "0", 7, 340, "h1")]
    # day 100 is fully overlapped, so it survives ONLY as a
    # zero-count bucket-NULL tombstone
    ts = compacted.filter(
        F.col("bucket").isNull() & (F.col("spec_hash") != HORIZON_SPEC)
    ).collect()
    assert [(r["spec_hash"], r["ingest_lo"], r["n"]) for r in ts] == [
        ("h1", 100, 0)
    ]
    # the in-band horizon marker: exactly one, tagged at the horizon
    assert stored_compact_horizon(compacted) == 340
    assert compacted.filter(F.col("spec_hash") == HORIZON_SPEC).count() == 1
    # idempotent re-compaction: same fold, same tags, no tag loss even
    # for tombstone-only days — and still a single marker; a LOWER
    # re-compaction horizon cannot regress it (monotone max)
    twice = compact_count_deltas(compacted, through_lo=340)
    assert fold(twice, 10**9, "h1") == fold(log, 10**9, "h1")
    tags2 = {
        (r["spec_hash"], r["ingest_lo"])
        for r in twice.filter(F.col("spec_hash") != HORIZON_SPEC)
        .select("spec_hash", "ingest_lo")
        .distinct()
        .collect()
    }
    assert tags2 == tags
    assert stored_compact_horizon(twice) == 340
    assert twice.filter(F.col("spec_hash") == HORIZON_SPEC).count() == 1
    lower = compact_count_deltas(compacted, through_lo=100)
    assert stored_compact_horizon(lower) == 340
    assert lower.filter(F.col("spec_hash") == HORIZON_SPEC).count() == 1


def test_fused_curation_signals_equal_their_compositions(spark, sf_dir):
    """The fused operators the curation DAG runs equal, row for row,
    the id joins of the single-signal operators they fuse, over the
    documents table plus NULL, empty, whitespace-only, CJK-only,
    symbol-heavy and mixed-case-stopword rows."""
    from dbt_core_gcloud_template_spark.operators import text_analysis as ta
    from dbt_core_gcloud_template_spark.sources.registry import load_table

    dirty = spark.createDataFrame(
        [
            (-1, None),
            (-2, ""),
            (-3, " \t\n  "),
            (-4, "数据处理中文文本"),
            (-5, "# ... # ... #"),
            (-6, "The AND of THE Der und LA y Le et"),
        ],
        "doc_id long, text string",
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(dirty)
    )

    def rows(df):
        return df.columns, sorted(df.collect(), key=lambda r: r["doc_id"])

    composed = ta.quality_score(docs, "doc_id", "text").join(
        ta.lang_id(docs, "doc_id", "text").select("doc_id", "predicted_lang"),
        "doc_id",
    )
    fused = ta.quality_lang_signals(docs, "doc_id", "text")
    cols, got = rows(fused)
    assert (cols, got) == rows(composed)
    assert {-4, -5, -6} <= {r["doc_id"] for r in got}

    gopher = ta.gopher_rules(docs, "doc_id", "text")
    composed = gopher.withColumnRenamed("keep", "gopher_keep").join(
        ta.blocklist_filter(docs, "doc_id", "text").select(
            "doc_id", "total_hits", "hit_ratio", F.col("keep").alias("blocklist_keep")
        ),
        "doc_id",
    )
    fused = ta.safety_signals(docs, "doc_id", "text")
    cols, got = rows(fused)
    assert (cols, got) == rows(composed)
    assert {-4, -5, -6} <= {r["doc_id"] for r in got}
