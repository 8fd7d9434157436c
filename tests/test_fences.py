"""Strict-fence profile (r7 verdict #6): production fence defaults on
demand, explicit disablement made visible, engine vars wiring."""

import warnings

import pytest
from pyspark.sql import functions as F

from dbt_core_gcloud_template_spark.operators import fences


@pytest.fixture(autouse=True)
def _reset_strict():
    prior = fences.strict_enabled()
    yield
    fences.set_strict(prior)


def test_resolve_contract():
    """UNSET → library default (off) normally, production default under
    strict; explicit None → off (warned under strict); explicit int
    always wins."""
    assert fences.resolve("max_bucket_size", fences.UNSET, "op") is None
    assert fences.resolve("max_bucket_size", None, "op") is None
    assert fences.resolve("max_bucket_size", 7, "op") == 7
    with fences.strict_fences():
        assert (
            fences.resolve("max_bucket_size", fences.UNSET, "op")
            == fences.STRICT_DEFAULTS["max_bucket_size"]
        )
        assert (
            fences.resolve("max_occurrences", fences.UNSET, "op")
            == fences.STRICT_DEFAULTS["max_occurrences"]
        )
        assert (
            fences.resolve("max_cluster_size", fences.UNSET, "op")
            == fences.STRICT_DEFAULTS["max_cluster_size"]
        )
        assert fences.resolve("max_cluster_size", 3, "op") == 3
        with pytest.warns(UserWarning, match="explicitly disabled"):
            assert fences.resolve("max_bucket_size", None, "op") is None
    assert not fences.strict_enabled()  # context restored
    # off again: no warning on explicit None
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert fences.resolve("max_bucket_size", None, "op") is None


def test_strict_arming_composes_across_overlapping_scopes():
    """Counted arming: two overlapping armed scopes (concurrent engine
    builds on driver threads) must not clobber each other — the first
    one to finish may not disarm the other, and after both finish the
    process is unarmed.  The old save/restore pattern failed exactly
    this interleaving."""
    fences.arm_strict()  # run A arms
    fences.arm_strict()  # run B arms while A is still going
    fences.disarm_strict()  # A finishes mid-B
    assert fences.strict_enabled()  # B is still armed
    fences.disarm_strict()  # B finishes
    assert not fences.strict_enabled()
    # nested context form composes the same way
    with fences.strict_fences():
        with fences.strict_fences():
            assert fences.strict_enabled()
        assert fences.strict_enabled()
    assert not fences.strict_enabled()
    # disarm never underflows below zero
    fences.disarm_strict()
    assert not fences.strict_enabled()
    fences.arm_strict()
    assert fences.strict_enabled()
    fences.disarm_strict()


def test_strict_mode_fences_every_dedup_family(spark, monkeypatch):
    """Under the strict profile, a BARE call to each fence-capable
    operator behaves exactly like the same call with the strict default
    passed explicitly — every dedup family (LSH batch+incremental,
    passages batch+incremental, spans batch+incremental, SemDeDup
    batch+incremental, embedding near-dup incremental) is fenced."""
    from dbt_core_gcloud_template_spark.operators import dedup, similarity

    monkeypatch.setitem(fences.STRICT_DEFAULTS, "max_bucket_size", 3)
    monkeypatch.setitem(fences.STRICT_DEFAULTS, "max_occurrences", 2)
    monkeypatch.setitem(fences.STRICT_DEFAULTS, "max_cluster_size", 10)

    texts = [
        (i, "the quick brown fox jumps over the lazy dog again and again")
        for i in range(8)
    ] + [(100 + i, f"unique document number {i} with its own words") for i in range(4)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    d_new, d_old = docs.filter("doc_id < 100"), docs.filter("doc_id >= 100")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    sig_new = dedup.minhash_signatures(d_new, "doc_id", "text")
    sig_old = dedup.minhash_signatures(d_old, "doc_id", "text")
    bands = [[0, 1], [2, 3]]

    emb_rows = (
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0]), (3, [0.0, 0.0, 0.0, 1.0])]
        + [(10 + i, [1.0, 1e-9 * i, 0.0, 0.0]) for i in range(20)]
        + [(100, [0.0, 2.0, 0.0, 0.0]), (101, [0.0, 3.0, 1e-7, 0.0])]
    )
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    # incremental embedding tiers fence on the STORED side: history is
    # the degenerate mass; the batch brings one vector into the hot
    # region (fenced ⇒ kept, unfenced ⇒ duplicate) and one healthy dup
    e_old = emb.filter("vec_id < 100")
    e_new = spark.createDataFrame(
        [(200, [1.0, 1e-6, 0.0, 0.0]), (201, [0.0, 2.5, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    span_idx = dedup.window_hash_index(d_old, "text", k=3)
    pass_idx = dedup.passage_hash_index(d_old, "text", passage_tokens=2)

    cases = [
        (
            lambda **kw: dedup.lsh_candidate_pairs(sigs, "doc_id", bands, **kw),
            {"max_bucket_size": 3},
        ),
        (
            lambda **kw: dedup.lsh_incremental_pairs(
                sig_new, sig_old, "doc_id", bands, **kw
            ),
            {"max_bucket_size": 3},
        ),
        (
            lambda **kw: dedup.passage_dedup_stats(
                docs, "doc_id", "text", passage_tokens=2, **kw
            ),
            {"max_occurrences": 2},
        ),
        (
            lambda **kw: dedup.passage_dedup_incremental(
                d_new, pass_idx, "doc_id", "text", passage_tokens=2, **kw
            ),
            {"max_occurrences": 2},
        ),
        (
            lambda **kw: dedup.duplicated_spans(
                docs, "doc_id", "text", k=3, keep_first=True, **kw
            ),
            {"max_occurrences": 2},
        ),
        (
            lambda **kw: dedup.duplicated_spans_incremental(
                d_new, span_idx, "doc_id", "text", k=3, keep_first=True, **kw
            ),
            {"max_occurrences": 2},
        ),
        (
            lambda **kw: similarity.semdedup(
                emb, "vec_id", "embedding", n_lists=4, threshold=0.99, **kw
            ),
            {"max_cluster_size": 10},
        ),
        (
            lambda **kw: similarity.semdedup_incremental(
                e_new, e_old, "vec_id", "embedding", n_lists=4,
                threshold=0.99, **kw
            ),
            {"max_cluster_size": 10},
        ),
        (
            lambda **kw: similarity.embedding_near_dup_incremental(
                e_new, e_old, "vec_id", "embedding", dim=4, threshold=0.9,
                **kw
            ),
            {"max_bucket_size": 3},
        ),
    ]
    for i, (call, explicit) in enumerate(cases):
        expected = sorted(map(tuple, call(**explicit).collect()))
        unfenced = sorted(map(tuple, call().collect()))
        with fences.strict_fences():
            strict_bare = sorted(map(tuple, call().collect()))
        assert strict_bare == expected, f"case {i}: strict bare != explicit"
        # the fixture actually trips the fence, so the check is not vacuous
        assert unfenced != expected, f"case {i}: fixture never trips the cap"


def test_bucket_tier_fences_count_exactly(spark):
    """Armed, every bucket-tier fence site (counted on its pin's own
    checkpoint job) records exactly what a direct groupBy over the same
    buckets counts, and arming changes no output row.  Fixture: the
    eight identical documents of the dedup-family case above share one
    bucket per band, and twenty near-identical stored vectors share one
    sign bucket."""
    from dbt_core_gcloud_template_spark.operators import dedup, similarity
    from dbt_core_gcloud_template_spark.operators.telemetry import (
        FenceTelemetry,
    )

    cap = 3
    texts = [
        (i, "the quick brown fox jumps over the lazy dog again and again")
        for i in range(8)
    ] + [(100 + i, f"unique document number {i} with its own words") for i in range(4)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    tagged = sigs.withColumn("_new", F.col("doc_id") < 100)
    bands = [[0, 1], [2, 3]]
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0]), (3, [0.0, 0.0, 0.0, 1.0])]
        + [(10 + i, [1.0, 1e-9 * i, 0.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    e_new = spark.createDataFrame(
        [(200, [1.0, 1e-6, 0.0, 0.0]), (201, [0.0, 2.5, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )

    def band_groups(new_only):
        per_band = [
            tagged.groupBy(*[f"mh{c}" for c in comps]).agg(
                F.count("*").alias("n"), F.max("_new").alias("any_new")
            )
            for comps in bands
        ]
        rows = [
            r["n"]
            for g in per_band
            for r in g.filter(F.col("n") > cap).collect()
            if r["any_new"] or not new_only
        ]
        return len(rows), sum(rows)

    old_buckets = (
        emb.groupBy(
            similarity._bucket_expr(
                F.col("embedding").cast("array<double>"), 4, 4
            ).alias("b")
        )
        .count()
        .filter(F.col("count") > cap)
        .collect()
    )
    cases = [
        (
            "lsh_candidate_pairs",
            lambda: dedup.lsh_candidate_pairs(
                sigs, "doc_id", bands, max_bucket_size=cap
            ),
            band_groups(new_only=False),
        ),
        (
            "lsh_incremental_pairs",
            lambda: dedup.lsh_incremental_pairs(
                sigs.filter("doc_id < 100"), sigs.filter("doc_id >= 100"),
                "doc_id", bands, max_bucket_size=cap,
            ),
            band_groups(new_only=True),
        ),
        (
            "embedding_near_dup_incremental",
            lambda: similarity.embedding_near_dup_incremental(
                e_new, emb, "vec_id", "embedding", dim=4, threshold=0.9,
                max_bucket_size=cap,
            ),
            (len(old_buckets), sum(r["count"] for r in old_buckets)),
        ),
    ]
    assert cases[0][2] == (2, 16)  # one 8-doc bucket per band
    for operator, call, (groups, rows) in cases:
        assert groups > 0, f"{operator}: fixture never trips the cap"
        unarmed = sorted(map(tuple, call().collect()))
        with FenceTelemetry() as ft:
            armed = sorted(map(tuple, call().collect()))
        assert armed == unarmed, operator
        assert ft.records == [
            {
                "operator": operator,
                "fence": "max_bucket_size",
                "fenced_groups": groups,
                "fenced_rows": rows,
            }
        ], operator


def test_engine_vars_arm_strict_fences(spark, sf_dir, tmp_path):
    """`strict_fences: true` in project vars arms the profile for every
    node the run executes (worker threads included) and restores the
    prior state afterwards."""
    from dbt_core_gcloud_template_spark.plans.runner import Engine

    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text(
        "name: t\nprofile: t\nvars:\n  strict_fences: true\n"
    )
    (root / "profiles.yml").write_text(
        "t:\n  target: dev\n  outputs:\n    dev:\n      schema: fence_t\n"
        "      threads: 2\n"
    )
    (root / "models" / "fence_probe.py").write_text(
        "from dbt_core_gcloud_template_spark.operators import fences\n\n\n"
        "def model(dbt, session):\n"
        "    dbt.config(materialized='table')\n"
        "    return session.createDataFrame(\n"
        "        [(1, bool(fences.strict_enabled()))], 'id int, strict boolean'\n"
        "    )\n"
    )
    assert not fences.strict_enabled()
    eng = Engine(spark, str(root))
    results, _ = eng.build()
    assert all(r.status in ("success", "skipped") for r in results.results), [
        (r.unique_id, r.status, r.message) for r in results.results
    ]
    row = spark.table("fence_t.fence_probe").first()
    assert row["strict"] is True  # armed inside the worker thread
    assert not fences.strict_enabled()  # restored after the run


def test_scoped_arming_is_context_local():
    """r8 advisor: arming is scoped to the arming run's context — a
    concurrently running thread with its own (empty) context must NOT
    inherit the strict profile, while a thread entered through
    ``contextvars.copy_context().run`` (how the engine submits pool
    work) must."""
    import contextvars
    import threading

    seen = {}

    def probe(key):
        seen[key] = fences.strict_enabled()

    fences.arm_strict()
    try:
        # plain thread: fresh context, sees only the (off) session flag
        t = threading.Thread(target=probe, args=("plain",))
        t.start()
        t.join()
        # engine-style propagation: context copied at submission
        ctx = contextvars.copy_context()
        t2 = threading.Thread(target=ctx.run, args=(probe, "propagated"))
        t2.start()
        t2.join()
    finally:
        fences.disarm_strict()
    assert seen["plain"] is False
    assert seen["propagated"] is True
    assert not fences.strict_enabled()


def test_strict_fences_false_scope_forces_off():
    """``strict_fences(False)`` is a localized force-off (innermost
    scope wins) — possible now that scopes are context-local."""
    with fences.strict_fences():
        assert fences.strict_enabled()
        with fences.strict_fences(False):
            assert not fences.strict_enabled()
            assert fences.resolve("max_bucket_size", fences.UNSET, "op") is None
        assert fences.strict_enabled()
    assert not fences.strict_enabled()
    # force-off also shadows the session-level flag within its scope
    fences.set_strict(True)
    try:
        with fences.strict_fences(False):
            assert not fences.strict_enabled()
        assert fences.strict_enabled()
    finally:
        fences.set_strict(False)


def test_parse_flag_strict_booleans():
    """r8 advisor: config-sourced flags parse as strict booleans — a
    YAML-quoted "false" must not arm the profile — and unparseable
    values raise instead of guessing."""
    assert fences.parse_flag(None) is None
    assert fences.parse_flag(True) is True
    assert fences.parse_flag(False) is False
    assert fences.parse_flag("false") is False
    assert fences.parse_flag("FALSE") is False
    assert fences.parse_flag("true") is True
    assert fences.parse_flag(" on ") is True
    assert fences.parse_flag(0) is False
    assert fences.parse_flag(1) is True
    with pytest.raises(ValueError, match="strict_fences"):
        fences.parse_flag("maybe")
    with pytest.raises(ValueError):
        fences.parse_flag(2)


def test_engine_vars_false_overrides_target_true(spark, tmp_path):
    """r8 advisor: the two config sources precedence-resolve (project
    vars win over the profile target) instead of OR-ing, and a string
    "false" in vars disarms rather than arming."""
    from dbt_core_gcloud_template_spark.plans.runner import Engine

    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text(
        'name: t2\nprofile: t2\nvars:\n  strict_fences: "false"\n'
    )
    (root / "profiles.yml").write_text(
        "t2:\n  target: dev\n  outputs:\n    dev:\n      schema: fence_t2\n"
        "      threads: 1\n      strict_fences: true\n"
    )
    (root / "models" / "fence_probe2.py").write_text(
        "from dbt_core_gcloud_template_spark.operators import fences\n\n\n"
        "def model(dbt, session):\n"
        "    dbt.config(materialized='table')\n"
        "    return session.createDataFrame(\n"
        "        [(1, bool(fences.strict_enabled()))], 'id int, strict boolean'\n"
        "    )\n"
    )
    eng = Engine(spark, str(root))
    results, _ = eng.build()
    assert all(r.status in ("success", "skipped") for r in results.results), [
        (r.unique_id, r.status, r.message) for r in results.results
    ]
    row = spark.table("fence_t2.fence_probe2").first()
    assert row["strict"] is False  # vars-level false beat target-level true
    assert not fences.strict_enabled()
