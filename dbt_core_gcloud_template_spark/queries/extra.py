"""Additional coverage queries: referential tests as data-plane ops,
outer joins, running windows, token frequency, SimHash near-dup pairs,
bucketed ANN, and mapInPandas fan-out — each oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import dedup, multimodal, similarity
from ..sources.registry import load_table
from . import register
from .llm import _TOK


# ---------------------------------------------------------------------------
# relationships_check — FK integrity as a data-plane aggregate (the
# `relationships` generic test, SURVEY §2.4 family).
# ---------------------------------------------------------------------------
@register(
    "relationships_check",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS fk_violations
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL
    """,
)
def relationships_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    missing = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
    )
    return missing.agg(F.count("*").alias("fk_violations"))


# ---------------------------------------------------------------------------
# accepted_values_check — domain-constraint test as an aggregate.
# ---------------------------------------------------------------------------
@register(
    "accepted_values_check",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS bad_rows
    FROM events
    WHERE event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')
       OR event_type IS NULL
    """,
)
def accepted_values_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    allowed = ["click", "view", "purchase", "signup", "error"]
    return e.filter(
        ~F.col("event_type").isin(allowed) | F.col("event_type").isNull()
    ).agg(F.count("*").alias("bad_rows"))


# ---------------------------------------------------------------------------
# part_revenue_outer — LEFT OUTER join keeping zero-sale parts (join
# coverage beyond inner; broadcast dim side).
# ---------------------------------------------------------------------------
@register(
    "part_revenue_outer",
    oracle="""
    SELECT p.p_partkey, p.p_brand,
           CAST(coalesce(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2), 0)
                AS DOUBLE) AS revenue,
           CAST(count(l.l_orderkey) AS BIGINT) AS n_lineitems
    FROM part p LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_brand
    """,
)
def part_revenue_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    joined = p.join(l, l.l_partkey == p.p_partkey, "left")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return joined.groupBy("p_partkey", "p_brand").agg(
        F.coalesce(F.round(rev, 2), F.lit(0)).cast("double").alias("revenue"),
        F.count("l_orderkey").alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# customer_running_total — cumulative window (frame spec coverage);
# explicit ROWS frame + unique tiebreak for engine-identical results.
# ---------------------------------------------------------------------------
@register(
    "customer_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def customer_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
        .cast("double")
        .alias("running_total"),
    )


# ---------------------------------------------------------------------------
# top_words — corpus token frequency (token counting at scale: explode →
# partial-agg combine → single shuffle on the token).
# ---------------------------------------------------------------------------
@register(
    "top_words",
    oracle=f"""
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({_TOK}) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_expr

    d = load_table(spark, sf_dir, "documents")
    inv = d.select(F.explode(tokens_expr(F.col("text"))).alias("token"))
    return (
        inv.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# simhash_near_pairs — near-dup pairs by SimHash Hamming distance ≤ 3.
# Spark side: pigeonhole band join (4 bytes; hamming ≤3 ⇒ ≥1 byte equal)
# so the cross product never materializes; oracle brute-forces at sf0.01.
# ---------------------------------------------------------------------------
_SIMHASH_SQL = None  # oracle reuses llm._simhash_oracle's CTE


def _simhash_pairs_oracle() -> str:
    from .llm import _simhash_oracle

    base = _simhash_oracle()
    return f"""
    WITH s AS ({base})
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("simhash_near_pairs", oracle=_simhash_pairs_oracle())
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dedup.simhash(load_table(spark, sf_dir, "documents"), "doc_id", "text", bits=32)
    # 4 byte-bands: hamming ≤ 3 guarantees at least one intact band
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("simhash"), 8 * i).bitwiseAND(F.lit(255)).alias("band_val"),
            )
            for i in range(4)
        ]
    )
    exploded = sh.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", "b.band_id", "b.band_val"
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = dedup.hamming_distance(F.col("sh_a"), F.col("sh_b")).cast("int")
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= 3)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# events_error_rate — per-hour conditional-aggregate ratios.
# ---------------------------------------------------------------------------
@register(
    "events_error_rate",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors,
           round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS error_rate
    FROM events GROUP BY 1
    """,
)
def events_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    errs = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("bigint")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            errs.alias("n_errors"),
            F.round(errs.cast("double") / F.count("*"), 6).alias("error_rate"),
        )
        .select(F.col("w.start").alias("hour_start"), "n_events", "n_errors", "error_rate")
    )


# ---------------------------------------------------------------------------
# embedding_ann_bucketed — the scale ANN path end-to-end: LSH bucket
# equi-join replaces the cross join; exact cosine within the bucket.
# ---------------------------------------------------------------------------
def _ann_oracle(n_planes: int = 8, dim: int = 64, k: int = 5) -> str:
    weights = similarity.hyperplane_weights(n_planes, dim)
    terms = []
    for i in range(n_planes):
        lits = "[" + ", ".join(repr(w) for w in weights[i]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
            f"j -> embedding[j]::DOUBLE * ({lits}::DOUBLE[])[j])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    dot = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> b.embedding[i]::DOUBLE * q.qe[i]::DOUBLE))"
    )
    nb = (
        f"sqrt(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))"
    )
    nq = (
        f"sqrt(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)))"
    )
    return f"""
    WITH bk AS (SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket_id
                FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qe, bucket_id AS qb
          FROM bk WHERE vec_id IN (0, 1, 2, 3, 4)),
    j AS (SELECT q.q_id, b.vec_id, round({dot} / ({nb} * {nq}), 6) AS cosine
          FROM bk b JOIN q ON b.bucket_id = q.qb AND b.vec_id <> q.q_id)
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
                  AS INT) AS rank
      FROM j
    ) WHERE rank <= {k}
    """


@register("embedding_ann_bucketed", oracle=_ann_oracle())
def embedding_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_ann_topk(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        dim=64,
        query_ids=[0, 1, 2, 3, 4],
        k=5,
        n_planes=8,
    )


# ---------------------------------------------------------------------------
# multimodal_frame_sample — mapInPandas fan-out (1 payload → N frames).
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(k AS INT) AS frame_index,
           CAST(k * 256 AS BIGINT) AS frame_offset
    FROM (SELECT doc_id,
                 unnest(generate_series(0, octet_length(encode(text)) // 256)) AS k
          FROM documents)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_binary_payload(docs, "doc_id", "text")
    return multimodal.sample_frames(payload, every_n_bytes=256)


# ---------------------------------------------------------------------------
# dedup_embedding_cosine — embedding-cosine near-duplicate pairs (the
# fifth dedup modality beside exact / MinHash-LSH / SimHash / n-gram
# Jaccard).  Exhaustive pairwise here (correctness baseline; the corpus
# is the small embeddings table); at 100 TB flip on the LSH-bucket
# prefilter (embedding_near_dup_pairs(prefilter_planes=...)).
# ---------------------------------------------------------------------------
_COS_AB = (
    "list_sum(list_transform(generate_series(1, 64),"
    " i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(generate_series(1, 64),"
    " i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(generate_series(1, 64),"
    " i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))"
)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_AB}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_COS_AB}, 6) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.4,
        # This registry entry IS the declared exhaustive correctness
        # baseline (sf-scale embeddings table); the O(n²) fence stays
        # armed for every other caller.
        allow_exhaustive=True,
    )


# ---------------------------------------------------------------------------
# dedup_embedding_cosine_lsh — the SCALE path of the same operator:
# candidate pairs restricted to vectors sharing a random-hyperplane
# sign-bucket, so the O(n²) cross join becomes per-bucket self-joins
# (expected bucket size n/2^planes).  Same oracle-reproducible MD5
# hyperplanes as embedding_lsh_buckets; the oracle states the
# bucket-constrained pair set exactly, so the recall trade-off is
# pinned, not hidden.
# ---------------------------------------------------------------------------
_NDP_PLANES = 4


def _lsh_prefilter_oracle() -> str:
    weights = similarity.hyperplane_weights(_NDP_PLANES, 64)
    terms = []
    for i in range(_NDP_PLANES):
        lits = "[" + ", ".join(repr(w) for w in weights[i]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"j -> embedding[j]::DOUBLE * ({lits}::DOUBLE[])[j])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return f"""
    WITH bk AS (
      SELECT vec_id, CAST({" + ".join(terms)} AS BIGINT) AS bucket_id
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_AB}, 6) AS cosine
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    JOIN bk ba ON ba.vec_id = a.vec_id
    JOIN bk bb ON bb.vec_id = b.vec_id
    WHERE ba.bucket_id = bb.bucket_id AND round({_COS_AB}, 6) >= 0.4
    """


@register("dedup_embedding_cosine_lsh", oracle=_lsh_prefilter_oracle())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.4,
        prefilter_planes=_NDP_PLANES,
        dim=64,
    )


# ---------------------------------------------------------------------------
# dedup_embedding_cosine_incremental — the daily-crawl path for the
# embedding tier: vectors with vec_id % 5 = 0 play the new batch, the
# rest the stored corpus; sign-bucket prefilter is mandatory, the
# batch stays on the probe side only, and old x old pairs are never
# enumerated (operators/similarity.py:embedding_near_dup_incremental).
# Completes the incremental story for the fifth dedup modality.
# ---------------------------------------------------------------------------
def _emb_incremental_oracle() -> str:
    weights = similarity.hyperplane_weights(_NDP_PLANES, 64)
    terms = []
    for i in range(_NDP_PLANES):
        lits = "[" + ", ".join(repr(w) for w in weights[i]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"j -> embedding[j]::DOUBLE * ({lits}::DOUBLE[])[j])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return f"""
    WITH bk AS (
      SELECT vec_id, CAST({" + ".join(terms)} AS BIGINT) AS bucket_id
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_AB}, 6) AS cosine,
           CASE WHEN a.vec_id % 5 = 0 AND b.vec_id % 5 = 0 THEN 'new_new'
                ELSE 'new_old' END AS pair_type
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    JOIN bk ba ON ba.vec_id = a.vec_id
    JOIN bk bb ON bb.vec_id = b.vec_id
    WHERE ba.bucket_id = bb.bucket_id
      AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
      AND round({_COS_AB}, 6) >= 0.4
    """


@register("dedup_embedding_cosine_incremental", oracle=_emb_incremental_oracle())
def dedup_embedding_cosine_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 5 == 0
    # In production the old side is the STORED vector table (bucket
    # ids persisted at ingest); the modulo split stands in for
    # batch vs corpus.
    return similarity.embedding_near_dup_incremental(
        emb.filter(is_new),
        emb.filter(~is_new),
        "vec_id",
        "embedding",
        dim=64,
        threshold=0.4,
        n_planes=_NDP_PLANES,
    )


# ---------------------------------------------------------------------------
# embedding_ivf_topk — IVF-style ANN (the second scale path beside LSH
# buckets): nearest-centroid inverted lists, nprobe-list search.
# Centroids are the n_lists lowest vec_ids (deterministic stand-in for
# offline k-means — see operators/similarity.py:ivf_assign).
# ---------------------------------------------------------------------------
def _ivf_oracle(n_lists: int = 8, nprobe: int = 2, k: int = 5, dim: int = 64) -> str:
    cos_vc = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))"
    )
    cos_bq = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> b.embedding[i]::DOUBLE * q.qe[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))))"
    )
    return f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < {n_lists}),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT v.vec_id, c.c_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY round({cos_vc}, 6) DESC, c.c_id) AS rn
        FROM embeddings v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    probes AS (
      SELECT q_id, qe, c_id AS probe_list FROM (
        SELECT v.q_id, v.qe AS qe, c.c_id,
               row_number() OVER (PARTITION BY v.q_id
                   ORDER BY round({cos_vc.replace("v.embedding", "v.qe")}, 6) DESC,
                            c.c_id) AS rn
        FROM q v CROSS JOIN cents c
      ) WHERE rn <= {nprobe}
    ),
    j AS (
      SELECT q.q_id, b.vec_id, round({cos_bq}, 6) AS cosine
      FROM embeddings b
      JOIN assign s ON s.vec_id = b.vec_id
      JOIN probes q ON s.list_id = q.probe_list AND b.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
                  AS INT) AS rank
      FROM j
    ) WHERE rank <= {k}
    """


@register("embedding_ivf_topk", oracle=_ivf_oracle())
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        query_ids=[0, 1, 2, 3, 4],
        k=5,
        n_lists=8,
        nprobe=2,
    )


# ---------------------------------------------------------------------------
# ann_recall_eval — recall@k of IVF approximate top-k vs exhaustive
# cosine top-k at the exact configuration embedding_ivf_topk ships
# (n_lists=8, nprobe=2, k=5) — the retrieval leg of the recall-
# diagnostic triad (operators/similarity.py:ann_recall_eval; siblings:
# lsh_recall_eval, semdedup_recall_eval).  Unlike those two this eval
# has NO quadratic side — the exhaustive baseline is one corpus pass
# with the query block broadcast — so its scale knob is simply the
# size of the query sample.
# ---------------------------------------------------------------------------
def _ann_recall_oracle(
    n_lists: int = 8, nprobe: int = 2, k: int = 5, dim: int = 64
) -> str:
    cos_vc = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> v.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))"
    )
    cos_bq = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> b.embedding[i]::DOUBLE * q.qe[i]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))"
        f" * sqrt(list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))))"
    )
    return f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < {n_lists}),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT v.vec_id, c.c_id,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY round({cos_vc}, 6) DESC, c.c_id) AS rn
        FROM embeddings v CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    probes AS (
      SELECT q_id, qe, c_id AS probe_list FROM (
        SELECT v.q_id, v.qe AS qe, c.c_id,
               row_number() OVER (PARTITION BY v.q_id
                   ORDER BY round({cos_vc.replace("v.embedding", "v.qe")}, 6) DESC,
                            c.c_id) AS rn
        FROM q v CROSS JOIN cents c
      ) WHERE rn <= {nprobe}
    ),
    aj AS (
      SELECT q.q_id, b.vec_id, round({cos_bq}, 6) AS cosine
      FROM embeddings b
      JOIN assign s ON s.vec_id = b.vec_id
      JOIN probes q ON s.list_id = q.probe_list AND b.vec_id <> q.q_id
    ),
    approx AS (SELECT q_id, vec_id FROM (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id) AS rank
      FROM aj) WHERE rank <= {k}),
    ej AS (
      SELECT q.q_id, b.vec_id, round({cos_bq}, 6) AS cosine
      FROM embeddings b CROSS JOIN q WHERE b.vec_id <> q.q_id
    ),
    exact AS (SELECT q_id, vec_id FROM (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_id) AS rank
      FROM ej) WHERE rank <= {k}),
    hits AS (
      SELECT e.q_id, e.vec_id FROM exact e
      JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
    )
    SELECT CAST((SELECT count(DISTINCT q_id) FROM exact) AS BIGINT)
             AS n_queries,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM hits)
                           / (SELECT count(*) FROM exact), 6)
           END AS recall
    """


@register("ann_recall_eval", oracle=_ann_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_recall_eval(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        query_ids=[0, 1, 2, 3, 4],
        k=5,
        n_lists=8,
        nprobe=2,
    )


# ---------------------------------------------------------------------------
# pivot_priority_by_year / unpivot_priority_long — PIVOT (wide
# conditional aggregation, BigQuery PIVOT parity) and its inverse
# UNPIVOT (Spark df.unpivot == BigQuery UNPIVOT).  Missing year×priority
# combos surface as 0 (fillna after pivot), so unpivot-of-pivot is a
# total grid — the oracle states that with a labels×years cross join.
# ---------------------------------------------------------------------------
_PRIO_LABELS = [
    ("1-URGENT", "urgent"),
    ("2-HIGH", "high"),
    ("3-MEDIUM", "medium"),
    ("4-NOT SPECIFIED", "notspec"),
    ("5-LOW", "low"),
]


def _pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .pivot("o_orderpriority", [p for p, _ in _PRIO_LABELS])
        .count()
        .fillna(0)
    )
    renamed = wide.select(
        "o_year",
        *[F.col(f"`{p}`").cast("bigint").alias(label) for p, label in _PRIO_LABELS],
    )
    return renamed


@register(
    "pivot_priority_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
           CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
           CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
           CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS notspec,
           CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS low
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pivot_wide(spark, sf_dir).orderBy("o_year")


@register(
    "unpivot_priority_long",
    oracle="""
    WITH counts AS (
        SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ), years AS (SELECT DISTINCT o_year FROM counts),
    labels(prio, label) AS (VALUES
        ('1-URGENT', 'urgent'), ('2-HIGH', 'high'), ('3-MEDIUM', 'medium'),
        ('4-NOT SPECIFIED', 'notspec'), ('5-LOW', 'low'))
    SELECT y.o_year, l.label AS priority, CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM years y CROSS JOIN labels l
    LEFT JOIN counts c ON c.o_year = y.o_year AND c.o_orderpriority = l.prio
    ORDER BY y.o_year, l.label
    """,
)
def unpivot_priority_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _pivot_wide(spark, sf_dir)
    return wide.unpivot(
        "o_year", [label for _, label in _PRIO_LABELS], "priority", "n"
    ).orderBy("o_year", "priority")


# ---------------------------------------------------------------------------
# array_map_json_functions — SURVEY §2.8: the reference uses no
# array/map/JSON data functions (BigQuery would supply them); Spark has
# them natively and the engine must not block them.  One row per doc
# exercising array (size/distinct/slice/join/sort/contains), map
# (create_map + element_at), and JSON (to_json + get_json_object).
# ---------------------------------------------------------------------------
@register(
    "array_map_json_functions",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_TOK} AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(len(tok) AS INT) AS n_tok,
           CAST(len(list_distinct(tok)) AS INT) AS n_distinct,
           array_to_string(list_slice(tok, 1, 3), ' ') AS first3,
           list_sort(tok)[1] AS first_sorted,
           list_contains(tok, 'the') AS has_the,
           CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity,
           json_extract_string(to_json(struct_pack(id := doc_id, n := len(tok))),
                               '$.n') AS json_n
    FROM t
    """,
)
def array_map_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_expr

    d = load_table(spark, sf_dir, "documents")
    # token array bound as a column: six consumers below would each
    # re-tokenize the document from the inline tree (r13)
    d = d.select("doc_id", tokens_expr(F.col("text")).alias("_tok"))
    tok = F.col("_tok")
    parity_map = F.create_map(
        F.lit(0), F.lit("even"), F.lit(1), F.lit("odd")
    )
    return d.select(
        "doc_id",
        F.size(tok).cast("int").alias("n_tok"),
        F.size(F.array_distinct(tok)).cast("int").alias("n_distinct"),
        F.array_join(F.slice(tok, 1, 3), " ").alias("first3"),
        F.sort_array(tok).getItem(0).alias("first_sorted"),
        F.array_contains(tok, "the").alias("has_the"),
        F.element_at(parity_map, (F.col("doc_id") % 2).cast("int")).alias("parity"),
        F.get_json_object(
            F.to_json(F.struct(F.col("doc_id").alias("id"), F.size(tok).alias("n"))),
            "$.n",
        ).alias("json_n"),
    )


# ---------------------------------------------------------------------------
# multimodal_resize — resize plumbing over the fake-decoded dims
# (aspect-preserving, longer side ≤ 256): the third mapInPandas shape
# (decode→derive→project) beside metadata extraction and frame
# sampling.  The oracle recomputes the same md5-derived dims and the
# same double-precision scale arithmetic.
# ---------------------------------------------------------------------------
@register(
    "multimodal_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      FROM documents
    ), d AS (
      SELECT doc_id,
             CAST(64 + h % 960 AS INT) AS width,
             CAST(64 + (h // 960) % 960 AS INT) AS height
      FROM m
    ), s AS (
      SELECT doc_id, width, height,
             least(1.0, 256.0 / greatest(width, height)) AS scale
      FROM d
    )
    SELECT doc_id, width, height,
           CAST(greatest(1, trunc(width * scale)) AS INT) AS new_width,
           CAST(greatest(1, trunc(height * scale)) AS INT) AS new_height,
           CAST(greatest(1, trunc(width * scale))::BIGINT
                * greatest(1, trunc(height * scale))::BIGINT * 3 AS BIGINT)
               AS est_bytes
    FROM s
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_binary_payload(docs, "doc_id", "text")
    return multimodal.resize_payload(payload, max_dim=256)


# ---------------------------------------------------------------------------
# salted_join_supplier_volume — the skew-mitigation operator under the
# correctness gate: an n-way salted fact↔dim join must produce exactly
# what the plain join produces (the salt is pure physical spreading).
# Oracle is the plain join.
# ---------------------------------------------------------------------------
@register(
    "salted_join_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(round(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_qty
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def salted_join_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    l = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    joined = salted_join(l, s, "l_suppkey", n_salts=8)
    return (
        joined.join(F.broadcast(n), joined.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_lineitems"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_qty"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# bloom_semi_revenue — bloom-filter semi-join reduction
# (operators/bloom.py): lineitem is pre-filtered by a 2^20-bit bloom
# bitmap of urgent-open order keys BEFORE the join shuffle, then joined
# exactly (false positives drop out), so the result is bit-identical to
# the plain join the oracle runs.  The scale story: when the dim's key
# set fits ~128 KB of bloom bits but the dim itself can't broadcast,
# the fact shuffle carries only matches + <1% false positives.
# ---------------------------------------------------------------------------
@register(
    "bloom_semi_revenue",
    oracle="""
    SELECT l.l_returnflag AS flag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def bloom_semi_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_semi_join

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "O")
        )
        .select("o_orderkey")
    )
    joined = bloom_semi_join(l, o, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# editdist_near_pairs — character-level near-dup pairs via prefix
# blocking + banded Levenshtein (operators/dedup.py): completes the
# dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
# edit distance).  Blocking on (lang, 8-char prefix, length band 64)
# keeps the quadratic distance work inside tiny candidate blocks: the
# band is wider than max_dist, so only boundary-straddling pairs are
# traded away for ~30× fewer Levenshtein evaluations at sf0.1.
# ---------------------------------------------------------------------------
@register(
    "editdist_near_pairs",
    oracle="""
    WITH b AS (
      SELECT doc_id, text, lang, substr(text, 1, 8) AS pfx,
             floor(len(text) / 64) AS band
      FROM documents
    )
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST(levenshtein(a.text, b2.text) AS INT) AS edit_dist
    FROM b a
    JOIN b b2 ON a.lang = b2.lang AND a.pfx = b2.pfx AND a.band = b2.band
             AND a.doc_id < b2.doc_id
    WHERE levenshtein(a.text, b2.text) <= 60
    ORDER BY id_a, id_b
    """,
)
def editdist_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.editdist_near_pairs(
        docs, "doc_id", "text", block_cols=["lang"], prefix_len=8, max_dist=60,
        band_width=64,
    )
    return pairs.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# embedding_semdedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
# semantic dedup at scale = cluster first (broadcast-centroid IVF
# assignment, no corpus shuffle), exact cosine pairs only WITHIN each
# cluster (equi-join on list_id: O(n²/k) instead of O(n²)), then one
# representative per near-dup neighborhood via the aggregate-then-join
# canonical-id stage.  operators/similarity.py:semdedup.
# ---------------------------------------------------------------------------
_SEMD_COS = (
    "list_sum(list_transform(generate_series(1, 64),"
    " i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(generate_series(1, 64),"
    " i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(generate_series(1, 64),"
    " i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))"
)


# shared by embedding_semdedup (batch) and
# embedding_stream_semdedup_incremental (the micro-batch replay of the
# same computation): id<8 stand-in centroids, cosine top-1 assignment,
# within-cluster exact pairs at 0.4, min-id canonical
_SEMD_STANDIN_ORACLE = f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT a.vec_id, c.c_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_SEMD_COS}, 6) DESC, c.c_id) AS rn
        FROM embeddings a CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    v AS (SELECT e.vec_id, e.embedding, s.list_id
          FROM embeddings e JOIN assign s USING (vec_id)),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM v a JOIN v b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE round({_COS_AB}, 6) >= 0.4
    ),
    mins AS (SELECT b_id, min(a_id) AS cand FROM pairs GROUP BY 1)
    SELECT v.vec_id,
           v.list_id,
           CAST(coalesce(m.cand, v.vec_id) AS BIGINT) AS canonical_id,
           coalesce(m.cand, v.vec_id) <> v.vec_id AS is_duplicate
    FROM v LEFT JOIN mins m ON m.b_id = v.vec_id
    """


@register("embedding_semdedup", oracle=_SEMD_STANDIN_ORACLE)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_lists=8, threshold=0.4,
    )


# ---------------------------------------------------------------------------
# embedding_semdedup_trained — SemDeDup against a TRAINED k-means
# codebook (operators/similarity.py:kmeans_fit_replayable — r8 verdict
# #2): the semantic tier's production shape, with the IVF training job
# itself under the driver's value-hash gate.  The trainer is Lloyd's
# with three cross-engine-deterministic choices (md5-ordered seed;
# 6dp-rounded L2 argmin with lower-id ties; integer-micro DECIMAL
# means), so the oracle below unrolls the SAME two iterations in SQL
# and lands on the bit-identical codebook — verified component-for-
# component at build time.  Assignment and pairing then reuse the
# embedding_semdedup shape (broadcast-centroid cosine top-1, within-
# cluster exact pairs, min-id canonical).
# ---------------------------------------------------------------------------
_KM_SQDIST = (
    "round(list_sum(list_transform(generate_series(1, 64),"
    " i -> (CAST(e.embedding[i] AS DOUBLE) - s.cv[i])"
    " * (CAST(e.embedding[i] AS DOUBLE) - s.cv[i]))), 6)"
)

# one Lloyd iteration as three CTEs: assignment (a{n}), integer-micro
# per-dim means (m{n}), folded centroid list (c{n}; empty clusters
# keep their previous centroid)
_KM_ITER = """
    a{n} AS (
      SELECT vec_id, cl, emb FROM (
        SELECT e.vec_id, s.c_id AS cl, e.embedding AS emb,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {sqdist} ASC, s.c_id ASC) AS rn
        FROM clean e CROSS JOIN {prev} s
      ) WHERE rn = 1
    ),
    m{n} AS (
      SELECT cl AS c_id, dd.d AS d,
             CAST(sum(CAST(floor(CAST(emb[dd.d] AS DOUBLE) * 1000000.0)
                           AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) / 1000000.0 AS m
      FROM a{n} CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
      GROUP BY cl, dd.d
    ),
    c{n} AS (
      SELECT s.c_id, coalesce(mm.cv, s.cv) AS cv
      FROM {prev} s LEFT JOIN (
        SELECT c_id, list(m ORDER BY d) AS cv FROM m{n} GROUP BY c_id
      ) mm USING (c_id)
    )"""

# The trainer side mirrors kmeans_fit_replayable's _valid_vectors
# predicate (id/vector NOT NULL, non-empty, nonzero norm): the Spark
# trainer filters dirty rows before seeding/assignment, so the oracle
# must train on the same clean subset or a future dirty fixture row
# would produce a confusing cross-engine codebook mismatch (r9
# advice).  The INFERENCE side (assign/v below) deliberately reads raw
# `embeddings`, matching semdedup()'s behavior on the Spark side.
_KM_VALID_WHERE = """vec_id IS NOT NULL AND embedding IS NOT NULL
        AND len(embedding) > 0
        AND list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0"""


def _km_train_body(where: str = _KM_VALID_WHERE, src: str = "embeddings") -> str:
    """The clean → seed → c1 → c2 CTE chain (no leading WITH), with the
    training-set source and predicate parameterized — embedding_drift
    trains its baseline codebook on the REFERENCE half of an upstream
    already-validated CTE; everything else trains on the full corpus
    with the validity predicate."""
    return (
        f"""
    clean AS (
      SELECT vec_id, embedding FROM {src}
      WHERE {where}
    ),
    seed AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM (SELECT vec_id, embedding FROM clean
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)
    ),"""
        + _KM_ITER.format(n=1, prev="seed", sqdist=_KM_SQDIST)
        + ","
        + _KM_ITER.format(n=2, prev="c1", sqdist=_KM_SQDIST)
    )


_KM_TRAIN_CTES = "\n    WITH" + _km_train_body()

# cosine(vector, trained centroid) — the ivf_assign arithmetic with
# the centroid list already DOUBLE
_SEMD_COS_CV = (
    "list_sum(list_transform(generate_series(1, 64),"
    " i -> a.embedding[i]::DOUBLE * c.cv[i]))"
    " / (sqrt(list_sum(list_transform(generate_series(1, 64),"
    " i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(generate_series(1, 64),"
    " i -> c.cv[i] * c.cv[i]))))"
)


def _km_assign_cte(src: str) -> str:
    """The ivf_assign discipline (round(cosine, 6) DESC, lower-c_id
    ties) against the trained ``c2`` codebook, written once —
    embedding_semdedup_trained and embedding_drift must never let this
    SQL drift apart."""
    return f"""
    assign AS (
      SELECT vec_id, list_id FROM (
        SELECT a.vec_id, CAST(c.c_id AS INT) AS list_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_SEMD_COS_CV}, 6) DESC, c.c_id) AS rn
        FROM {src} a CROSS JOIN c2 c
      ) WHERE rn = 1
    )"""


@register(
    "embedding_semdedup_trained",
    oracle=_KM_TRAIN_CTES
    + ","
    + _km_assign_cte("embeddings")
    + f""",
    v AS (SELECT e.vec_id, e.embedding, s.list_id
          FROM embeddings e JOIN assign s USING (vec_id)),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM v a JOIN v b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE round({_COS_AB}, 6) >= 0.4
    ),
    mins AS (SELECT b_id, min(a_id) AS cand FROM pairs GROUP BY 1)
    SELECT v.vec_id,
           v.list_id,
           CAST(coalesce(m.cand, v.vec_id) AS BIGINT) AS canonical_id,
           coalesce(m.cand, v.vec_id) <> v.vec_id AS is_duplicate
    FROM v LEFT JOIN mins m ON m.b_id = v.vec_id
    """,
)
def embedding_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit_replayable(
        emb, "vec_id", "embedding", k=8, n_iter=2
    )
    return similarity.semdedup(
        emb, "vec_id", "embedding", n_lists=8, threshold=0.4,
        centroids=cents,
    )


# ---------------------------------------------------------------------------
# embedding_drift — EMBEDDING-SPACE drift under the value hash: the
# composition of the two r10 production artifacts.  A codebook trained
# on the REFERENCE half (kmeans_fit_replayable — the bit-reproducible
# trainer, so the oracle unrolls the same two Lloyd iterations) plays
# the pinned-vocabulary role: every vector assigns to its nearest
# trained centroid (ivf_assign discipline — 6dp cosine, lower-id
# ties), and the PSI of the two halves' ASSIGNMENT MIX measures
# representation-space shift — the semantic twin of docs_stats_drift's
# source/language mix, and the production monitor for "today's
# embeddings stopped looking like the corpus the codebook/IVF/SemDeDup
# tiers were tuned on" (re-baseline = deliberate retrain, exactly the
# codebook-pinning contract).  Both halves filter to VALID vectors
# (the trainer's own predicate) so a dirty row can't skew the mix.
# Scale: training is the trainer's n_iter broadcast passes; assignment
# is one broadcast map-only pass; the PSI fold runs over k rows.
# ---------------------------------------------------------------------------
def _emb_drift_oracle() -> str:
    from ..operators.drift import psi_drift_sql

    # validity is written ONCE (validall); training restricts it to the
    # reference half.  The cur side is `% 2 <> 0`, not `= 1`: SQL (and
    # Spark) `%` keeps the dividend's sign, so `= 1` would silently
    # drop odd NEGATIVE ids from the drift measure — `<> 0` makes the
    # two branches a total split of the valid population.
    prelude = (
        f"""validall AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_KM_VALID_WHERE}
    ),"""
        + _km_train_body(where="vec_id % 2 = 0", src="validall")
        + ","
        + _km_assign_cte("validall")
    )
    return psi_drift_sql(
        "SELECT list_id FROM assign WHERE vec_id % 2 = 0",
        "SELECT list_id FROM assign WHERE vec_id % 2 <> 0",
        [("list_mix", "list_id", None)],
        prelude_ctes=prelude,
    )


@register("embedding_drift", oracle=_emb_drift_oracle())
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import psi_drift
    from ..operators.similarity import _valid_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    valid = _valid_vectors(emb, "vec_id", "embedding")
    ref = valid.filter(F.col("vec_id") % 2 == 0)
    cents = similarity.kmeans_fit_replayable(
        ref, "vec_id", "embedding", k=8, n_iter=2
    )
    assigned = similarity.ivf_assign(
        valid, "vec_id", "embedding", n_lists=8, centroids=cents
    )
    # The two psi branches filter on the assignment window's OWN
    # partition key (vec_id), so Catalyst pushes each parity predicate
    # below the window and into the scan: the two branches together
    # shuffle the corpus exactly once (each half once), with no
    # corpus-sized work above the assignment.  cur is `!= 0`, not
    # `== 1`: `%` keeps the dividend's sign in both engines, so `== 1`
    # would silently drop odd NEGATIVE ids — `!= 0` makes the split
    # total over the valid population.
    return psi_drift(
        assigned.filter(F.col("vec_id") % 2 == 0),
        assigned.filter(F.col("vec_id") % 2 != 0),
        [("list_mix", F.col("list_id"), None)],
    )


# ---------------------------------------------------------------------------
# embedding_stream_semdedup_incremental — the STREAMING face of the
# semantic tier (r9 verdict stretch; streaming/semantic.py): the
# embeddings table replays as three id-ordered micro-batches (the
# "crawl arriving as a stream" harness), each drained through
# foreachBatch → semdedup_incremental against the folded stored index
# under a PINNED codebook artifact (the id<8 stand-in passed as a
# stored (c_id, vector) table — deliberately not re-derived per batch).
# Temporal micro-batch semantics + id-ordered arrival = the one-shot
# batch semdedup, so the SAME oracle gates the real streaming
# machinery (foreachBatch sink, per-batch index fold, checkpointing) —
# the batch-replay gate pattern of events_stream_dedup_incremental.
# Excluded from bench HEADLINE and the plan-shape gate like the other
# streaming entries (micro-batch orchestration overhead is not plan
# cost); the oracle compare is its gate.
# ---------------------------------------------------------------------------
@register(
    "embedding_stream_semdedup_incremental", oracle=_SEMD_STANDIN_ORACLE
)
def embedding_stream_semdedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import tempfile

    from ..streaming.semantic import (
        semdedup_stream_into_index,
        stage_id_ordered_chunks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("vector"),
    )
    chunk_dir = stage_id_ordered_chunks(
        spark, os.path.join(sf_dir, "embeddings.parquet"), "vec_id",
        n_chunks=3,
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(chunk_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    import shutil

    # fresh per invocation: the stored index and verdicts fold forward
    # within one drain; a reused dir would double-append.  The drained
    # verdicts are pinned off the temp files (localCheckpoint) so the
    # whole state dir — a full copy of the corpus plus checkpoint —
    # can be removed before returning instead of leaking per run.
    state_dir = tempfile.mkdtemp(prefix="semdedup_stream_")
    try:
        out = semdedup_stream_into_index(
            stream,
            spark,
            "vec_id",
            "embedding",
            state_dir=state_dir,
            centroids=cents,
            n_lists=8,
            threshold=0.4,
        ).select(
            "vec_id", "list_id", "canonical_id", "is_duplicate"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# semdedup_recall_eval — tuning telemetry for the SEMANTIC tier, the
# companion of lsh_recall_eval: recall of SemDeDup's cluster-scoped
# pairing against exhaustive cosine truth at the SAME configuration
# the registered embedding_semdedup runs (n_lists=8 stand-in
# centroids, threshold 0.4).  The cluster approximation can only MISS
# pairs that straddle a cluster boundary, so this one number is what
# you watch when trading n_lists (cost) against dedup coverage — the
# paper's own diagnostic (Abbas et al. 2023 §4), measured on YOUR
# corpus and codebook.  Truth is the fenced exhaustive pair join
# (embedding vectors broadcast; per-pair cosine = 1 fold + multiply);
# at 100 TB run it on a deterministic hash-gated sub-corpus via the
# ``sample_mod`` knob, exactly like lsh_recall_eval's
# ``sample_fraction`` — both endpoint sets gated identically keeps
# recall an unbiased pair-level estimate.
# operators/similarity.py:embedding_near_dup_pairs, ivf_assign.
# ---------------------------------------------------------------------------
_SEMD_COS_AC = _COS_AB.replace("b.embedding", "c.embedding")


@register(
    "semdedup_recall_eval",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT a.vec_id, c.c_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_SEMD_COS_AC}, 6) DESC, c.c_id) AS rn
        FROM embeddings a CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    truth AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round({_COS_AB}, 6) >= 0.4
    ),
    cap AS (
      SELECT t.a_id FROM truth t
      JOIN assign sa ON sa.vec_id = t.a_id
      JOIN assign sb ON sb.vec_id = t.b_id
      WHERE sa.list_id = sb.list_id
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
           CAST((SELECT count(*) FROM cap) AS BIGINT) AS n_captured_pairs,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM cap)
                           / (SELECT count(*) FROM truth), 6)
           END AS recall
    """,
)
def semdedup_recall_eval(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # The codebook is ALWAYS the production one — the ungated corpus's
    # n_lists smallest vectors, exactly what embedding_semdedup
    # assigns against.  Deriving centroids from a gated sub-corpus
    # would evaluate a codebook nobody runs (and a sparse gate could
    # leave vec_id 0..7 empty entirely), so only the truth pairs and
    # the assignment INPUT are sampled.
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vector")
    )
    # the deterministic endpoint gate and the recall computation live
    # in the operator (r8 verdict #3) so DAG diagnostics stages share
    # this exact implementation
    return similarity.semdedup_recall_eval(
        emb, "vec_id", "embedding", centroids=cents, n_lists=8,
        threshold=0.4, sample_mod=sample_mod,
    )


# ---------------------------------------------------------------------------
# embedding_semdedup_incremental — the daily-crawl path for the
# SEMANTIC tier: vectors with vec_id % 5 = 0 play the new batch, the
# rest the stored corpus.  Temporal semantics: a new vector duplicates
# ANY same-cluster stored vector above the threshold (the stored copy
# is kept regardless of id order) or a smaller-id batch-mate; old x old
# combinations never pair (operators/similarity.py:
# semdedup_incremental).
# ---------------------------------------------------------------------------
@register(
    "embedding_semdedup_incremental",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT a.vec_id, c.c_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_SEMD_COS}, 6) DESC, c.c_id) AS rn
        FROM embeddings a CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    v AS (SELECT e.vec_id, e.embedding, s.list_id, e.vec_id % 5 = 0 AS is_new
          FROM embeddings e JOIN assign s USING (vec_id)),
    partners AS (
      SELECT a.vec_id, min(b.vec_id) AS cand
      FROM v a JOIN v b ON a.list_id = b.list_id AND a.is_new
           AND (NOT b.is_new OR b.vec_id < a.vec_id)
      WHERE round({_COS_AB}, 6) >= 0.4
      GROUP BY 1
    )
    SELECT v.vec_id, v.list_id,
           CAST(coalesce(p.cand, v.vec_id) AS BIGINT) AS canonical_id,
           p.cand IS NOT NULL AS is_duplicate
    FROM v LEFT JOIN partners p USING (vec_id)
    WHERE v.is_new
    """,
)
def embedding_semdedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 5 == 0
    # In production centroids and the old side's cluster assignments
    # are STORED artifacts from the ingest job.
    return similarity.semdedup_incremental(
        emb.filter(is_new), emb.filter(~is_new), "vec_id", "embedding",
        n_lists=8, threshold=0.4,
    )


# ---------------------------------------------------------------------------
# embedding_semdedup_fenced — the max_cluster_size skew fence under the
# value-hash gate: clusters holding more than the cap leave the pair
# join WHOLE (members conservatively kept — is_duplicate=false,
# canonical=self) while under-cap clusters dedup normally.  The cap of
# 60 straddles the testdata's cluster-size distribution, so at every sf
# some clusters fence and some don't — the oracle reproduces the
# drop-whole rule with a cluster-size CTE, making the fence itself
# (not just the unfenced path) driver-hashed.
# operators/similarity.py:semdedup (max_cluster_size / on_oversize).
# ---------------------------------------------------------------------------
@register(
    "embedding_semdedup_fenced",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT a.vec_id, c.c_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_SEMD_COS}, 6) DESC, c.c_id) AS rn
        FROM embeddings a CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    v AS (SELECT e.vec_id, e.embedding, s.list_id
          FROM embeddings e JOIN assign s USING (vec_id)),
    hot AS (SELECT list_id FROM v GROUP BY 1 HAVING count(*) > 60),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM v a JOIN v b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE a.list_id NOT IN (SELECT list_id FROM hot)
        AND round({_COS_AB}, 6) >= 0.4
    ),
    mins AS (SELECT b_id, min(a_id) AS cand FROM pairs GROUP BY 1)
    SELECT v.vec_id,
           v.list_id,
           CAST(coalesce(m.cand, v.vec_id) AS BIGINT) AS canonical_id,
           coalesce(m.cand, v.vec_id) <> v.vec_id AS is_duplicate
    FROM v LEFT JOIN mins m ON m.b_id = v.vec_id
    """,
)
def embedding_semdedup_fenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_lists=8, threshold=0.4, max_cluster_size=60,
    )


# ---------------------------------------------------------------------------
# embedding_semdedup_split — the fence's coverage-preserving mode under
# the oracle: over-cap clusters re-bucket by a 4-plane sign probe
# (healthy clusters keep sub-bucket 0) and pairs form only within
# (list, sub-bucket), so dedup inside a degenerate cluster survives
# while its quadratic partition shrinks ~16-fold.  The hyperplanes are
# the MD5-derived constants shared with the LSH operators, embedded
# literally in the oracle so DuckDB reproduces sub-bucket assignment
# bit-for-bit.  operators/similarity.py:semdedup (on_oversize="split").
# ---------------------------------------------------------------------------
def _sub_bucket_sql(col: str, n_planes: int = 4, dim: int = 64) -> str:
    weights = similarity.hyperplane_weights(n_planes, dim)
    terms = []
    for i in range(n_planes):
        lits = "[" + ", ".join(repr(w) for w in weights[i]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
            f"j -> {col}[j]::DOUBLE * ({lits}::DOUBLE[])[j])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "embedding_semdedup_split",
    oracle=f"""
    WITH cents AS (SELECT vec_id AS c_id, embedding FROM embeddings
                   WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, c_id AS list_id FROM (
        SELECT a.vec_id, c.c_id,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_SEMD_COS}, 6) DESC, c.c_id) AS rn
        FROM embeddings a CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    v AS (SELECT e.vec_id, e.embedding, s.list_id
          FROM embeddings e JOIN assign s USING (vec_id)),
    hot AS (SELECT list_id FROM v GROUP BY 1 HAVING count(*) > 60),
    vsub AS (
      SELECT v.vec_id, v.embedding, v.list_id,
             CASE WHEN v.list_id IN (SELECT list_id FROM hot)
                  THEN {_sub_bucket_sql("v.embedding")}
                  ELSE 0 END AS sub
      FROM v
    ),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM vsub a JOIN vsub b
        ON a.list_id = b.list_id AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE round({_COS_AB}, 6) >= 0.4
    ),
    mins AS (SELECT b_id, min(a_id) AS cand FROM pairs GROUP BY 1)
    SELECT v.vec_id,
           v.list_id,
           CAST(coalesce(m.cand, v.vec_id) AS BIGINT) AS canonical_id,
           coalesce(m.cand, v.vec_id) <> v.vec_id AS is_duplicate
    FROM v LEFT JOIN mins m ON m.b_id = v.vec_id
    """,
)
def embedding_semdedup_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_lists=8, threshold=0.4, max_cluster_size=60,
        on_oversize="split", split_planes=4, dim=64,
    )


# ---------------------------------------------------------------------------
# dedup_digest_index_fold — the WRITE side of the exact-dedup ingest
# loop under the oracle: replay the corpus as three daily batches
# (doc_id mod 3), each day probing the folded index
# (exact_dedup_incremental) then appending its accepted digests back
# (append_digest_index — pure union, zero shuffle).  The fold invariant
# makes the oracle one-shot: every distinct text is accepted exactly
# once, on its first day, canonical = that day's minimum id.  NULL text
# is filtered on BOTH sides (the docstring's "filter it upstream"
# contract made executable): md5(NULL) is NULL, so the oracle's h-join
# would drop the NULL group while the replay re-accepted it every day —
# an equivalence that otherwise rests on the unstated absence of NULL
# text in the testdata (advisor r7).
# operators/dedup.py:append_digest_index.
# ---------------------------------------------------------------------------
@register(
    "dedup_digest_index_fold",
    oracle="""
    WITH d AS (SELECT doc_id, md5(text) AS h, doc_id % 3 AS day
               FROM documents WHERE text IS NOT NULL),
    f AS (SELECT h, min(day) AS day FROM d GROUP BY h)
    SELECT d.h AS text_hash,
           CAST(min(d.doc_id) AS BIGINT) AS canonical_id,
           CAST(f.day AS INT) AS accepted_day
    FROM d JOIN f ON d.h = f.h AND d.day = f.day
    GROUP BY d.h, f.day
    """,
)
def dedup_digest_index_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    idx = docs.selectExpr("md5(text) AS text_hash").filter("1=0")
    out = None
    for day in range(3):
        fresh = dedup.exact_dedup_incremental(
            docs.filter(F.col("doc_id") % 3 == day), idx, "text", "doc_id"
        ).localCheckpoint(eager=False)
        tagged = fresh.select(
            "text_hash",
            "canonical_id",
            F.lit(day).cast("int").alias("accepted_day"),
        )
        out = tagged if out is None else out.unionByName(tagged)
        idx = dedup.append_digest_index(idx, fresh)
    return out


# ---------------------------------------------------------------------------
# docs_window_index_fold — span-tier index maintenance under the
# oracle: fold the odd-doc batch into the even-doc corpus's stored
# window-hash index (update_window_hash_index: batch enumeration + one
# batch-sized full-outer merge) and emit the occurrence-count
# HISTOGRAM.  Fold == one-shot index over all docs, and the histogram
# is hash-free, so DuckDB reproduces it from the raw k-grams without
# needing xxhash64.  operators/dedup.py:update_window_hash_index.
# ---------------------------------------------------------------------------
@register(
    "docs_window_index_fold",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    g AS (
      SELECT array_to_string(tok[i:(i+7)], ' ') AS gram, count(*) AS n
      FROM (SELECT tok, unnest(generate_series(1, len(tok) - 7)) AS i
            FROM t WHERE len(tok) >= 8)
      GROUP BY gram
    )
    SELECT CAST(n AS BIGINT) AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM g GROUP BY n
    """,
)
def docs_window_index_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_old = F.col("doc_id") % 2 == 0
    # Artifact form: the stored index carries its own k, so the fold
    # cannot be called with a mismatching window width (dedup.py:
    # WindowHashIndex — the BloomBitmap provenance contract).
    idx = dedup.window_hash_index_artifact(docs.filter(is_old), "text", k=8)
    folded = dedup.update_window_hash_index(idx, docs.filter(~is_old), "text")
    return folded.df.groupBy(
        F.col("n_occurrences").cast("bigint").alias("n_occurrences")
    ).agg(F.count("*").cast("bigint").alias("n_windows"))
