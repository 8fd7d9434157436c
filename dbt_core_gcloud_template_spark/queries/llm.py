"""LLM-training-data pipeline queries (north-star operators) with
DuckDB oracles.

The oracle SQL is *generated* from the same frozen constants
(MinHash coefficients, stopword lists, hyperplane weights, shingle
sizes) the Spark operators use, so both engines compute identical
values — see functions/hashing.py for the portable MD5-derived hash
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, MINHASH_B, MINHASH_PRIME
from ..functions.text import LANG_STOPWORDS, tokens_sql
from ..operators import dedup, multimodal, similarity, text_analysis
from ..sources.registry import load_table
from . import register

# --- shared DuckDB fragments (must mirror functions/text.py exactly) -------
_TOK = tokens_sql("text")


def _sh_sql(tok: str, k: int) -> str:
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({tok}) - {k - 1}, 0)), "
        f"i -> array_to_string(({tok})[i:i+{k - 1}], ' ')))"
    )


def _h28(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 7))::BIGINT)"


def _h60(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# ---------------------------------------------------------------------------
# dedup_exact — exact deduplication via content-hash groupBy.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# dedup_incremental_exact — the daily-ingest path: docs with
# doc_id % 5 = 0 play the new batch, the rest the stored digest index;
# only batch content absent from the index survives (one batch-sized
# groupBy + a left-anti join on digests — the historical corpus is
# touched only through its ~3%-sized hash index).
# ---------------------------------------------------------------------------
_INCR_EXACT_ORACLE = """
    WITH batch AS (
      SELECT md5(text) AS text_hash,
             CAST(min(doc_id) AS BIGINT) AS canonical_id,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM documents WHERE doc_id % 5 = 0 GROUP BY md5(text)
    ),
    idx AS (SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id % 5 <> 0)
    SELECT b.* FROM batch b ANTI JOIN idx USING (text_hash)
    """


@register(
    "dedup_incremental_exact",
    oracle=_INCR_EXACT_ORACLE,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 0
    # In production the index side is the STORED digest table, not a
    # re-hash of the corpus.
    index = docs.filter(~is_new).select(F.md5("text").alias("text_hash"))
    return dedup.exact_dedup_incremental(docs.filter(is_new), index, "text", "doc_id")


# ---------------------------------------------------------------------------
# dedup_incremental_exact_bloom — tier-2 of the join-pruning ladder for
# the same operation: the stored digest index is pre-aggregated into a
# bloom bitmap (a stored artifact at ingest), the batch splits map-only
# into definitely-new (bypasses the join — no false negatives) and
# maybe-seen (exact anti-join removes the false positives).  Output is
# bit-identical to dedup_incremental_exact — same oracle — only the
# join's probe side shrinks (operators/dedup.py:
# exact_dedup_incremental_bloom).
# ---------------------------------------------------------------------------
@register("dedup_incremental_exact_bloom", oracle=_INCR_EXACT_ORACLE)
def dedup_incremental_exact_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 0
    index = docs.filter(~is_new).select(F.md5("text").alias("text_hash"))
    return dedup.exact_dedup_incremental_bloom(
        docs.filter(is_new), index, "text", "doc_id"
    )


# ---------------------------------------------------------------------------
# docs_token_stats — token counting (whitespace tokenizer).
# ---------------------------------------------------------------------------
@register(
    "docs_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS tok FROM documents)
    SELECT doc_id,
           CAST(len(tok) AS INT) AS n_tokens,
           CAST(len(list_distinct(tok)) AS INT) AS n_unique_tokens,
           round(CAST(list_sum(list_transform(tok, t -> length(t))) AS DOUBLE)
                 / len(tok), 6) AS avg_token_len
    FROM t WHERE len(tok) > 0
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.token_stats(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# docs_quality — quality scoring (length/punct/stopword heuristics).
# ---------------------------------------------------------------------------
@register(
    "docs_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK} AS tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct
      FROM documents
    ), r AS (
      SELECT doc_id,
             CAST(len(tok) AS INT) AS n_tokens,
             CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
             CAST(len(list_filter(tok, t -> list_contains({_sql_list(LANG_STOPWORDS["en"])}, t)))
                  AS DOUBLE) / len(tok) AS stop_ratio
      FROM t WHERE len(tok) > 0
    )
    SELECT doc_id, n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - punct_ratio)
                 + 0.3 * least(1.0, 5.0 * stop_ratio), 6) AS quality_score
    FROM r
    """,
)
def docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.quality_score(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# docs_lang_id — stopword-evidence language ID with CJK fast path.
# ---------------------------------------------------------------------------
def _lang_oracle() -> str:
    hits = {
        lang: f"CAST(len(list_filter(tok, t -> list_contains({_sql_list(words)}, t))) AS INT)"
        for lang, words in LANG_STOPWORDS.items()
    }
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK} AS tok FROM documents
    ), s AS (
      SELECT doc_id,
             {hits["en"]} AS en_score, {hits["de"]} AS de_score,
             {hits["fr"]} AS fr_score, {hits["es"]} AS es_score,
             CAST(length(text) - length(regexp_replace(text, '[\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) AS INT) AS cjk_chars
      FROM t
    )
    SELECT doc_id,
           CASE WHEN cjk_chars > 0 THEN 'zh'
                WHEN en_score >= de_score AND en_score >= fr_score
                     AND en_score >= es_score AND en_score > 0 THEN 'en'
                WHEN de_score >= fr_score AND de_score >= es_score
                     AND de_score > 0 THEN 'de'
                WHEN fr_score >= es_score AND fr_score > 0 THEN 'fr'
                WHEN es_score > 0 THEN 'es'
                ELSE 'unknown' END AS predicted_lang,
           en_score, de_score, fr_score, es_score, cjk_chars
    FROM s
    """


@register("docs_lang_id", oracle=_lang_oracle())
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# docs_fingerprint — whole-doc + min-shingle (rolling-hash) fingerprints.
# ---------------------------------------------------------------------------
@register(
    "docs_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS tok FROM documents),
         s AS (SELECT doc_id, tok, {_sh_sql("tok", 5)} AS sh FROM t)
    SELECT doc_id,
           {_h60("array_to_string(tok, ' ')")} AS doc_fp,
           CAST(list_min(list_transform(sh, x -> {_h60("x")})) AS BIGINT) AS content_fp
    FROM s WHERE len(sh) > 0
    """,
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.fingerprint(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=5
    )


# ---------------------------------------------------------------------------
# minhash_signatures — per-doc MinHash over 3-word shingles (map-only).
# ---------------------------------------------------------------------------
_MINHASH_SIG_SQL = f"""
    WITH d AS (SELECT doc_id, {_sh_sql(_TOK, 3)} AS sh FROM documents),
    h AS (
      SELECT doc_id, CAST(len(sh) AS INT) AS n_shingles,
             list_transform(sh, s -> {_h28("s")}) AS hs
      FROM d WHERE len(sh) > 0
    ),
    sig AS (
      SELECT doc_id, n_shingles,
             {", ".join(
                 f"CAST(list_min(list_transform(hs, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_PRIME})) AS BIGINT) AS mh{i}"
                 for i in range(8)
             )}
      FROM h
    )
"""


@register("minhash_signatures", oracle=_MINHASH_SIG_SQL + "SELECT * FROM sig")
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=3, n_hashes=8
    )


# ---------------------------------------------------------------------------
# lsh_candidate_pairs — MinHash banding (b=4, r=2) → candidate near-dup pairs.
# ---------------------------------------------------------------------------
_BANDS = [[0, 1], [2, 3], [4, 5], [6, 7]]


def lsh_pairs_cte() -> str:
    """WITH-chain ending in a ``pairs(a_id, b_id)`` CTE — shared by the
    LSH query's own oracle and the graph queries built on the pair set
    (connected components, PageRank)."""
    parts = []
    for band_id, (c0, c1) in enumerate(_BANDS):
        concat = f"concat(mh{c0}::VARCHAR, '_', mh{c1}::VARCHAR)"
        parts.append(
            f"SELECT doc_id, {band_id} AS band_id, {_h60(concat)} AS band_hash FROM sig"
        )
    band_selects = " UNION ALL ".join(parts)
    return (
        _MINHASH_SIG_SQL
        + f""", bands AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    """
    )


def _lsh_oracle() -> str:
    return lsh_pairs_cte() + "SELECT a_id, b_id FROM pairs"


@register("lsh_candidate_pairs", oracle=_lsh_oracle())
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=3, n_hashes=8
    )
    return dedup.lsh_candidate_pairs(sigs, "doc_id", _BANDS)


# ---------------------------------------------------------------------------
# lsh_candidate_pairs_strict — the SAME banding query constructed
# under the strict-fence profile (operators/fences.py), gated by the
# SAME oracle as the unfenced form (r8 verdict #7): the production
# max_bucket_size default (10k) sits far above any band bucket this
# corpus can produce, so the armed fence must be PLAN-ADDITIVE ONLY —
# one extra hot-bucket aggregate + broadcast anti-join, zero result
# change.  A value drift here would mean a fence that alters results
# without firing, the exact failure mode the profile must never have.
# ---------------------------------------------------------------------------
@register("lsh_candidate_pairs_strict", oracle=_lsh_oracle())
def lsh_candidate_pairs_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import fences

    sigs = dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        k_shingle=3, n_hashes=8,
    )
    # fences resolve at operator entry, so the scope need only cover
    # plan construction — the returned frame keeps the strict plan
    with fences.strict_fences():
        return dedup.lsh_candidate_pairs(sigs, "doc_id", _BANDS)


# ---------------------------------------------------------------------------
# lsh_incremental_pairs — daily-batch dedup against the already-deduped
# corpus: docs with doc_id % 5 = 0 play the NEW batch, the rest the
# stored index; only pairs touching a new doc are emitted (old x old
# pairs were settled when the corpus was ingested).  Signature reuse +
# any-new bucket pruning is what keeps per-batch dedup O(|batch|) at
# 100 TB (operators/dedup.py:lsh_incremental_pairs).
# ---------------------------------------------------------------------------
def _lsh_incremental_oracle() -> str:
    parts = []
    for band_id, (c0, c1) in enumerate(_BANDS):
        concat = f"concat(mh{c0}::VARCHAR, '_', mh{c1}::VARCHAR)"
        parts.append(
            f"SELECT doc_id, doc_id % 5 = 0 AS is_new, {band_id} AS band_id,"
            f" {_h60(concat)} AS band_hash FROM sig"
        )
    band_selects = " UNION ALL ".join(parts)
    return (
        _MINHASH_SIG_SQL
        + f""", bands AS ({band_selects})
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CASE WHEN a.is_new AND b.is_new THEN 'new_new'
                ELSE 'new_old' END AS pair_type
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    WHERE a.is_new OR b.is_new
    """
    )


@register("lsh_incremental_pairs", oracle=_lsh_incremental_oracle())
def lsh_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", k_shingle=3, n_hashes=8
    )
    # In production sig_old is the STORED signature table (computed once
    # at ingest); the modulo split here stands in for batch vs corpus.
    is_new = F.col("doc_id") % 5 == 0
    return dedup.lsh_incremental_pairs(
        sigs.filter(is_new), sigs.filter(~is_new), "doc_id", _BANDS
    )


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs — exact Jaccard over 5-shingles (inverted-index join).
# ---------------------------------------------------------------------------
@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_sh_sql(_TOK, 5)} AS sh FROM documents),
    docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d WHERE len(sh) > 0),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.a_id, p.b_id, CAST(p.common AS BIGINT) AS common,
           round(p.common / (sa.n_sh + sb.n_sh - p.common), 6) AS jaccard
    FROM pairs p
    JOIN docs sa ON sa.doc_id = p.a_id
    JOIN docs sb ON sb.doc_id = p.b_id
    WHERE round(p.common / (sa.n_sh + sb.n_sh - p.common), 6) >= 0.1
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=5, threshold=0.1
    )


# ---------------------------------------------------------------------------
# simhash — 32-bit frequency-weighted SimHash fingerprints.
# ---------------------------------------------------------------------------
def _simhash_oracle(bits: int = 32) -> str:
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> (x & {1 << i}) != 0)) >= n_tokens "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, list_transform({_TOK}, t -> {_h28("t")}) AS h FROM documents
    ), b2 AS (
      SELECT doc_id, h, CAST(len(h) AS INT) AS n_tokens FROM base WHERE len(h) > 0
    )
    SELECT doc_id, n_tokens, CAST({terms} AS BIGINT) AS simhash FROM b2
    """


@register("simhash", oracle=_simhash_oracle())
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"), "doc_id", "text", bits=32)


# ---------------------------------------------------------------------------
# embedding_cosine_topk — brute-force exact ANN baseline.
# ---------------------------------------------------------------------------
_QUERY_IDS = [0, 1, 2, 3, 4]
_DIM = 64


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
    ), j AS (
      SELECT q.q_id, b.vec_id,
             round(
               list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> b.embedding[i]::DOUBLE * q.qe[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(generate_series(1, {_DIM}),
                        i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)))), 6) AS cosine
      FROM embeddings b CROSS JOIN q
      WHERE b.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
                  AS INT) AS rank
      FROM j
    ) WHERE rank <= 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", _QUERY_IDS, k=10
    )


# ---------------------------------------------------------------------------
# embedding_lsh_buckets — random-hyperplane LSH bucket assignment (the
# scale path for ANN).  Hyperplane weights are MD5-derived constants,
# embedded literally in the oracle.
# ---------------------------------------------------------------------------
def _lsh_bucket_oracle(n_planes: int = 8, dim: int = _DIM) -> str:
    weights = similarity.hyperplane_weights(n_planes, dim)
    terms = []
    for i in range(n_planes):
        lits = "[" + ", ".join(repr(w) for w in weights[i]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
            f"j -> embedding[j]::DOUBLE * ({lits}::DOUBLE[])[j])) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return f"SELECT vec_id, CAST({' + '.join(terms)} AS BIGINT) AS bucket_id FROM embeddings"


@register("embedding_lsh_buckets", oracle=_lsh_bucket_oracle())
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucket_ids(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", _DIM, n_planes=8
    )


# ---------------------------------------------------------------------------
# multimodal_metadata — binary-column plumbing through Arrow-batched
# mapInPandas (decode step stubbed; see operators/multimodal.py).
# ---------------------------------------------------------------------------
@register(
    "multimodal_metadata",
    oracle=f"""
    WITH h AS (SELECT doc_id, text, {_h60("text")} AS hv FROM documents)
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(64 + (hv % 960) AS INT) AS width,
           CAST(64 + ((hv // 960) % 960) AS INT) AS height
    FROM h
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_binary_payload(docs, "doc_id", "text")
    return multimodal.extract_metadata(payload)


# ---------------------------------------------------------------------------
# multimodal_decode — REAL image decode end-to-end: deterministic BMP
# payloads are encoded per doc (distributed, Arrow-batched), then the
# pure-numpy BMP decoder (operators/multimodal.decode_image) parses the
# BYTES — header, 4-byte row padding, BGR→RGB, bottom-up row order —
# and reports stats of the decoded pixel array.  The oracle recomputes
# every stat analytically from doc_id (dims/colors are closed-form),
# so a decoder bug (e.g. wrong row order → top_left_* off, padding →
# width/mean off) is a hash mismatch, not a silent pass.
# Reference analog: the template treats media as opaque payloads; this
# is the decode stage a 100 TB multimodal curation pipeline adds.
# ---------------------------------------------------------------------------
@register(
    "multimodal_decode",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             5 + doc_id % 28 AS w,
             2 + doc_id % 14 AS hh,
             doc_id % 256 AS tr, (3*doc_id+1) % 256 AS tg, (5*doc_id+2) % 256 AS tb,
             (7*doc_id+3) % 256 AS br, (11*doc_id+4) % 256 AS bg, (13*doc_id+5) % 256 AS bb
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(2*hh AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CAST(54 + ((3*w + 3) // 4) * 4 * 2*hh AS BIGINT) AS n_bytes,
           CAST(tr AS INT) AS top_left_r,
           CAST(tg AS INT) AS top_left_g,
           CAST(tb AS INT) AS top_left_b,
           CAST(tr + br AS DOUBLE) / 2 AS mean_r,
           CAST(tg + bg AS DOUBLE) / 2 AS mean_g,
           CAST(tb + bb AS DOUBLE) / 2 AS mean_b,
           CAST(w * hh * (tr+tg+tb + br+bg+bb) AS BIGINT) AS pixel_sum
    FROM p
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fused single Arrow pass (per-row encode∘decode): the BMP bytes
    # never cross the Python↔JVM boundary (guide §8)
    return multimodal.synth_decode_stats(docs, "doc_id")


# ---------------------------------------------------------------------------
# docs_bpe_token_count — token counting with a BPE-ish pre-tokenizer
# regex (GPT-2-style segment classes: contractions, letter runs, digit
# runs, symbol runs, each with optional leading space) beside the plain
# whitespace count.  Pure regexp_extract_all — JVM-side, no UDF; the
# pattern avoids lookarounds so Java regex (Spark) and RE2 (DuckDB)
# agree.
# ---------------------------------------------------------------------------
_BPE_PAT = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"
_BPE_SQL = _BPE_PAT.replace("'", "''")  # SQL string-literal escaping


@register(
    "docs_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t != ''))
                AS BIGINT) AS n_ws_tokens,
           CAST(round(length(text) * 1.0
                      / greatest(len(regexp_extract_all(text, '{_BPE_SQL}')), 1), 2)
                AS DOUBLE) AS chars_per_token
    FROM documents
    """,
)
def docs_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    ws = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    return d.select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.round(
            F.length("text") * F.lit(1.0)
            / F.greatest(F.size(bpe), F.lit(1)),
            2,
        )
        .cast("double")
        .alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# docs_normalized — text-normalization pipeline (lowercase → strip
# non-alphanumerics → collapse whitespace → trim): the standard cleanup
# pass before dedup/shingling in a training-data pipeline.  Chained
# regexp_replace, all JVM-side.
# ---------------------------------------------------------------------------
@register(
    "docs_normalized",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                               '\\s+', ' ', 'g')) AS normalized,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS INT) AS norm_len
    FROM documents
    """,
)
def docs_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("normalized"),
        F.length(norm).cast("int").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# dedup_canonical_ids — the dedup pipeline end-stage: collapse n-gram
# Jaccard near-dup pairs to a canonical id per document (min-id over
# the neighborhood; is_duplicate flags the rows a training-data
# pipeline would drop).  One min-propagation round — star clusters
# resolve exactly; chain clusters take the iterated driver loop
# (operators/dedup.py:canonical_ids docstring).
# ---------------------------------------------------------------------------
@register(
    "dedup_canonical_ids",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_sh_sql(_TOK, 5)} AS sh FROM documents),
    docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d WHERE len(sh) > 0),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    cnt AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT p.a_id, p.b_id
      FROM cnt p
      JOIN docs sa ON sa.doc_id = p.a_id
      JOIN docs sb ON sb.doc_id = p.b_id
      WHERE round(p.common / (sa.n_sh + sb.n_sh - p.common), 6) >= 0.1
    )
    SELECT dd.doc_id,
           CAST(coalesce(min(p.a_id), dd.doc_id) AS BIGINT) AS canonical_id,
           coalesce(min(p.a_id), dd.doc_id) <> dd.doc_id AS is_duplicate
    FROM documents dd
    LEFT JOIN pairs p ON p.b_id = dd.doc_id
    GROUP BY dd.doc_id
    """,
)
def dedup_canonical_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k_shingle=5, threshold=0.1)
    return dedup.canonical_ids(docs.select("doc_id"), pairs, "doc_id")


# ---------------------------------------------------------------------------
# docs_split_assignment — deterministic train/val/test split via content
# hash (never RNG: the split must be reproducible across engines, runs,
# and re-partitioning).  90/5/5 by md5(doc_id) bucket; stratification
# check = per-split × per-lang counts.  The standard way to carve
# training corpora at 100 TB — map-only, no shuffle for the assignment
# itself.
# ---------------------------------------------------------------------------
@register(
    "docs_split_assignment",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             {_h28("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2
    ORDER BY split, lang
    """,
)
def docs_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_int28

    d = load_table(spark, sf_dir, "documents")
    bucket = md5_int28(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# embedding_projection — Johnson-Lindenstrauss reduction to 16 dims via
# a deterministic Rademacher (+-1) matrix; the cheap front half of an
# ANN pipeline at scale.  Sign literals embedded in the oracle.
# ---------------------------------------------------------------------------
_PROJ_DIM = 16


def _projection_oracle(out_dim: int = _PROJ_DIM, dim: int = _DIM) -> str:
    signs = similarity.rademacher_signs(out_dim, dim)
    lits = (
        "["
        + ", ".join("[" + ", ".join(repr(s) for s in row) + "]" for row in signs)
        + "]"
    )
    # the sign matrix is a one-row CTE: a literal inside the lambda is
    # re-materialized per list element
    return f"""
    WITH m AS (SELECT {lits}::DOUBLE[][] AS w)
    SELECT vec_id,
           CAST(t.i - 1 AS INT) AS proj_dim,
           round(list_sum(list_transform(generate_series(1, {dim}),
                 j -> embedding[j]::DOUBLE * (w[t.i])[j]))
                 * 0.25, 6) AS value
    FROM embeddings, generate_series(1, {out_dim}) t(i), m
    """


@register("embedding_projection", oracle=_projection_oracle())
def embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.random_projection(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        _DIM,
        out_dim=_PROJ_DIM,
    )


# ---------------------------------------------------------------------------
# embedding_kmeans_lists — REAL IVF training: distributed Lloyd's
# k-means (deterministic init/ties) then nearest-centroid assignment.
# Iterative algorithm -> no SQL oracle (driver records rows-only);
# step-by-step semantics are unit-tested in tests/test_operators.py.
# SELF-CHECKING (r7 verdict #4): the rows-only driver row still pins
# semantics because the query fails loudly unless (a) Lloyd's descent
# is monotone (per-iteration inertia non-increasing up to the 9dp mean
# rounding), (b) assignment covers every valid vector exactly once
# (sizes sum to n), and (c) every row's list_id/sq_dist is in range —
# (a)/(b) raise at construction, (c) is an in-plan assert_true; the
# invariant columns ride the output so the recorded rows carry them.
# ---------------------------------------------------------------------------
@register("embedding_kmeans_lists")
def embedding_kmeans_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 8
    emb = load_table(spark, sf_dir, "embeddings")
    cents, inertias = similarity.kmeans_fit(
        emb, "vec_id", "embedding", k=k, max_iter=3, return_history=True
    )
    # Assign only geometry-valid vectors (the same filter the fit
    # applied) so the coverage invariant is well-defined and list_id
    # can never be NULL on dirty inputs.  Computed before the descent
    # check because the check's slack scales with problem size.
    valid = similarity._valid_vectors(emb, "vec_id", "embedding")
    n_valid = valid.count()
    # Descent slack scales with n*dim (r8 advisor): the fit's 9dp
    # centroid-mean rounding perturbs each squared distance by up to
    # ~dim * 2 * |x| * 5e-10, so the corpus-summed inertia wobble grows
    # linearly with n_valid * dim — a fixed 1e-6 would hard-fail on a
    # benign rounding wobble at larger scale factors.
    slack = max(1e-6, n_valid * _DIM * 1e-8)
    for prev, cur in zip(inertias, inertias[1:]):
        if cur > prev * (1 + 1e-9) + slack:
            raise AssertionError(
                f"Lloyd's inertia increased {prev} -> {cur} "
                f"(slack {slack}): descent invariant violated"
            )
    assigned = similarity.kmeans_assign(valid, "vec_id", "embedding", cents)
    n_assigned = assigned.count()
    if n_assigned != n_valid:
        raise AssertionError(
            f"assignment rows ({n_assigned}) != valid vectors ({n_valid}): "
            "sizes-sum-to-n invariant violated"
        )
    row_ok = (
        F.col("list_id").between(0, k - 1) & (F.col("sq_dist") >= 0)
    )
    return assigned.select(
        "vec_id",
        F.coalesce(
            F.assert_true(row_ok, F.lit("list_id/sq_dist out of range")),
            F.col("list_id"),
        ).alias("list_id"),
        "sq_dist",
        F.lit(n_assigned).cast("bigint").alias("n_assigned_total"),
        F.lit(len(inertias)).cast("int").alias("n_iterations"),
        F.lit(round(inertias[-1], 6) if inertias else 0.0).alias(
            "final_inertia"
        ),
    )


# ---------------------------------------------------------------------------
# multimodal_features — REAL vectorized feature extraction over binary
# payloads (operators/multimodal.extract_features): L2-normalized
# byte-histogram signature via Arrow-batched mapInPandas + numpy.  The
# oracle re-derives the byte values from hex(encode(text)) — byte-level
# parity even for multi-byte UTF-8 (zh docs).
# ---------------------------------------------------------------------------
@register(
    "multimodal_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h FROM documents
    ),
    e AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(h) // 2),
                            i -> (('0x' || substr(h, 2*i - 1, 2))::INT) % 8)
               AS bins
      FROM b
    ),
    c AS (
      SELECT doc_id,
         len(list_filter(bins, x -> x = 0))::BIGINT AS c0,
         len(list_filter(bins, x -> x = 1))::BIGINT AS c1,
         len(list_filter(bins, x -> x = 2))::BIGINT AS c2,
         len(list_filter(bins, x -> x = 3))::BIGINT AS c3,
         len(list_filter(bins, x -> x = 4))::BIGINT AS c4,
         len(list_filter(bins, x -> x = 5))::BIGINT AS c5,
         len(list_filter(bins, x -> x = 6))::BIGINT AS c6,
         len(list_filter(bins, x -> x = 7))::BIGINT AS c7
      FROM e
    )
    SELECT doc_id,
           CAST(c0 + c1 + c2 + c3 + c4 + c5 + c6 + c7 AS BIGINT) AS n_bytes,
           round(c0 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f0,
           round(c1 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f1,
           round(c2 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f2,
           round(c3 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f3,
           round(c4 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f4,
           round(c5 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f5,
           round(c6 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f6,
           round(c7 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 6) AS f7
    FROM c
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_binary_payload(docs, "doc_id", "text")
    return multimodal.extract_features(payload)


# ---------------------------------------------------------------------------
# lsh_recall_eval — tuning telemetry for the dedup stack: recall and
# precision of the MinHash-LSH candidate pairs against exact 3-shingle
# Jaccard (same shingle size as the signatures, threshold 0.3).  This
# is the number you watch when picking the (bands, rows) trade-off —
# LSH theory gives the S-curve, this measures it on YOUR corpus.
# Both pair sets are small by construction; localCheckpoint keeps each
# pipeline from re-executing across the three consuming aggregates.
# ---------------------------------------------------------------------------
@register(
    "lsh_recall_eval",
    oracle=lsh_pairs_cte()
    + f""", d3 AS (SELECT doc_id, {_sh_sql(_TOK, 3)} AS sh FROM documents),
    docs3 AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d3 WHERE len(sh) > 0),
    inv3 AS (SELECT doc_id, unnest(sh) AS shingle FROM docs3),
    cnt3 AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
      FROM inv3 a JOIN inv3 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT c.a_id, c.b_id
      FROM cnt3 c
      JOIN docs3 sa ON sa.doc_id = c.a_id
      JOIN docs3 sb ON sb.doc_id = c.b_id
      WHERE round(c.common / (sa.n_sh + sb.n_sh - c.common), 6) >= 0.3
    ),
    hits AS (SELECT * FROM exact INTERSECT SELECT * FROM pairs)
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM hits)
                           / (SELECT count(*) FROM exact), 6)
           END AS recall,
           CASE WHEN (SELECT count(*) FROM pairs) = 0 THEN 1.0
                ELSE round((SELECT count(*) FROM hits)
                           / (SELECT count(*) FROM pairs), 6)
           END AS precision
    """,
)
def lsh_recall_eval(
    spark: SparkSession, sf_dir: str, sample_fraction: float | None = None
) -> DataFrame:
    """``sample_fraction`` is the SCALE knob for the telemetry itself:
    the exact-Jaccard side is O(corpus²-ish) via the inverted index,
    so at 100 TB you estimate recall on a deterministic hash-gated
    sub-corpus (xxhash64(doc_id) mod 10^6 — reproducible across runs
    and engines, no RNG) instead of the full one.  Both the exact set
    AND the candidate set are restricted to pairs whose BOTH endpoints
    survive the gate, so recall/precision stay unbiased pair-level
    estimates on the sample.  None/1.0 = full exact — the registered
    sf0.01 oracle path, unchanged."""
    return dedup.lsh_recall_eval(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bands=_BANDS,
        k_shingle=3,
        n_hashes=8,
        jaccard_threshold=0.3,
        sample_fraction=sample_fraction,
    )


# ---------------------------------------------------------------------------
# docs_blocklist_filter — C4-style keyword/safety filtering: per-
# category blocklist hit counts + a keep/drop decision by total hit
# ratio.  Map-only array filters inside codegen; category lists ride
# as literals (operators/text_analysis.py:blocklist_filter).
# ---------------------------------------------------------------------------
def _blocklist_oracle() -> str:
    from ..functions.text import BLOCKLISTS

    cats = sorted(BLOCKLISTS)
    hit_exprs = ", ".join(
        f"CAST(len(list_filter(tok, t -> list_contains({_sql_list(BLOCKLISTS[c])}, t))) AS INT) AS {c}_hits"
        for c in cats
    )
    total = " + ".join(f"{c}_hits" for c in cats)
    return f"""
    WITH t AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    b AS (SELECT doc_id, tok, CAST(len(tok) AS INT) AS n_tokens
          FROM t WHERE len(tok) > 0),
    s AS (SELECT doc_id, n_tokens, {hit_exprs} FROM b)
    SELECT doc_id, n_tokens, {", ".join(f"{c}_hits" for c in cats)},
           CAST({total} AS INT) AS total_hits,
           round(CAST({total} AS DOUBLE) / n_tokens, 6) AS hit_ratio,
           round(CAST({total} AS DOUBLE) / n_tokens, 6) <= 0.1 AS keep
    FROM s
    """


@register("docs_blocklist_filter", oracle=_blocklist_oracle())
def docs_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.blocklist_filter(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_hit_ratio=0.1,
    )


# ---------------------------------------------------------------------------
# docs_gopher_rules — the published Gopher quality-rule set (Rae et al.
# 2021 §A1.1): per-doc rule values + pass flags (word count range,
# mean word length, symbol ratio, alphabetic-word fraction, stop-word
# presence).  Map-only (operators/text_analysis.py:gopher_rules).
# ---------------------------------------------------------------------------
@register(
    "docs_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    b AS (SELECT doc_id, tok, CAST(len(tok) AS INT) AS n_words
          FROM t WHERE len(tok) > 0),
    m AS (
      SELECT doc_id, n_words,
             round(CAST(list_sum(list_transform(tok, t -> length(t))) AS DOUBLE)
                   / n_words, 6) AS mean_word_len,
             round(CAST(len(list_filter(tok,
                     t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE)
                   / n_words, 6) AS symbol_ratio,
             round(CAST(len(list_filter(tok, t -> regexp_matches(t, '[a-z]')))
                        AS DOUBLE) / n_words, 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(tok),
                      {_sql_list(LANG_STOPWORDS["en"])})) AS INT) AS n_stopwords
      FROM b
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
           n_stopwords,
           n_words >= 50 AND n_words <= 100000 AS n_words_ok,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
             AND n_stopwords >= 2 AS keep
    FROM m
    """,
)
def docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.gopher_rules(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# neardup_best_representative — fuzzy-dedup END-STAGE: inside each
# near-dup cluster keep the highest-QUALITY member, not the min-id one
# (the choice real pipelines make: near-dup groups contain the same
# content at different extraction quality, and you want the cleanest
# copy in the training set).  Composition: n-gram Jaccard pairs ->
# canonical cluster ids -> join per-doc quality -> one window argmax
# per cluster.  Pairs/cluster plans are the audited dedup shapes; the
# selection adds ONE doc_id join + ONE cluster-keyed window exchange.
# Ties break on (quality DESC, doc_id ASC) over the 6dp-rounded score,
# which both engines compute bit-identically (docs_quality oracle).
# ---------------------------------------------------------------------------
def _best_rep_tail(pairs_cte: str) -> str:
    """Shared oracle tail: canonical-id propagation over a
    ``(a_id, b_id)`` pairs CTE, the quality score, and the per-cluster
    argmax — appended to whichever pair-generation chain (exact
    Jaccard or LSH→verify) feeds the selection."""
    return f""",
    canon AS (
      SELECT dd.doc_id,
             CAST(coalesce(min(p.a_id), dd.doc_id) AS BIGINT) AS canonical_id
      FROM documents dd
      LEFT JOIN {pairs_cte} p ON p.b_id = dd.doc_id
      GROUP BY dd.doc_id
    ),
    tq AS (
      SELECT doc_id, {_TOK} AS tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS n_punct
      FROM documents
    ),
    rq AS (
      SELECT doc_id,
             CAST(len(tok) AS INT) AS n_tokens,
             CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
             CAST(len(list_filter(tok, t ->
                 list_contains({_sql_list(LANG_STOPWORDS["en"])}, t)))
               AS DOUBLE) / len(tok) AS stop_ratio
      FROM tq WHERE len(tok) > 0
    ),
    q AS (
      SELECT doc_id,
             round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
                   + 0.3 * (1.0 - punct_ratio)
                   + 0.3 * least(1.0, 5.0 * stop_ratio), 6) AS quality_score
      FROM rq
    ),
    m AS (
      SELECT c.canonical_id, c.doc_id, q.quality_score,
             row_number() OVER (
               PARTITION BY c.canonical_id
               ORDER BY q.quality_score DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.canonical_id) AS n_members
      FROM canon c JOIN q USING (doc_id)
    )
    SELECT canonical_id, doc_id AS kept_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           quality_score AS best_quality
    FROM m WHERE rn = 1
    """


def _best_representative(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared Spark selection: canonical ids over any pair set + a
    per-cluster (quality DESC, doc_id ASC) argmax — one doc_id join
    and one cluster-keyed window exchange on top of the pairs plan."""
    from pyspark.sql.window import Window

    canon = dedup.canonical_ids(docs, pairs, "doc_id").select(
        "doc_id", "canonical_id"
    )
    quality = text_analysis.quality_score(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    joined = canon.join(quality, "doc_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        joined.select(
            "canonical_id",
            "doc_id",
            "quality_score",
            F.row_number().over(w).alias("_rn"),
            F.count("*")
            .over(Window.partitionBy("canonical_id"))
            .alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "canonical_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("quality_score").alias("best_quality"),
        )
    )


@register(
    "neardup_best_representative",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_sh_sql(_TOK, 5)} AS sh FROM documents),
    docs AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d WHERE len(sh) > 0),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    cnt AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT p.a_id, p.b_id
      FROM cnt p
      JOIN docs sa ON sa.doc_id = p.a_id
      JOIN docs sb ON sb.doc_id = p.b_id
      WHERE round(p.common / (sa.n_sh + sb.n_sh - p.common), 6) >= 0.1
    )"""
    + _best_rep_tail("pairs"),
)
def neardup_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k_shingle=5, threshold=0.1
    )
    return _best_representative(docs, pairs)


# ---------------------------------------------------------------------------
# neardup_best_representative_lsh — the SCALE path for the same
# selection: LSH candidate pairs (recall stage, bucketed — never
# all-pairs) → exact-Jaccard VERIFY on the candidate set only
# (operators/dedup.py:jaccard_verify_pairs; the tiny pair side
# broadcasts, shingle arrays never shuffle) → identical canonical-id
# + quality-argmax tail.  The exact
# full-corpus variant above is the oracle-style baseline; this is what
# runs at 100 TB — the same baseline/scale split as
# dedup_embedding_cosine / dedup_embedding_cosine_lsh.
# ---------------------------------------------------------------------------
def _lsh_best_rep_oracle() -> str:
    # The verify stage intersects raw shingle STRINGS (Spark travels
    # xxhash64 keys — equality classes match, 64-bit birthday bound,
    # same trade as ngram_jaccard_pairs' oracle).
    return (
        lsh_pairs_cte()
        + """, hsets AS (
      SELECT doc_id, sh FROM d WHERE len(sh) > 0
    ),
    vj AS (
      SELECT p.a_id, p.b_id,
             round(CAST(len(list_intersect(ha.sh, hb.sh)) AS DOUBLE)
                   / (len(ha.sh) + len(hb.sh)
                      - len(list_intersect(ha.sh, hb.sh))), 6) AS jaccard
      FROM pairs p
      JOIN hsets ha ON ha.doc_id = p.a_id
      JOIN hsets hb ON hb.doc_id = p.b_id
    ),
    vpairs AS (SELECT a_id, b_id FROM vj WHERE jaccard >= 0.1)"""
        + _best_rep_tail("vpairs")
    )


@register("neardup_best_representative_lsh", oracle=_lsh_best_rep_oracle())
def neardup_best_representative_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", k_shingle=3, n_hashes=8
    )
    # The candidate set is tiny (LSH-bucket-bounded) and consumed three
    # times (verify join + the prune's id set twice): a lazy checkpoint
    # computes the recall pipeline once, and prune=True then restricts
    # the verify's tokenize+shingle pass to candidate docs only
    # (4.6 s -> ~1.9 s at sf0.1).
    cand = dedup.lsh_candidate_pairs(sigs, "doc_id", _BANDS).localCheckpoint(
        eager=False
    )
    verified = dedup.jaccard_verify_pairs(
        cand, docs, "doc_id", "text", k_shingle=3, threshold=0.1, prune=True
    )
    return _best_representative(docs, verified)
