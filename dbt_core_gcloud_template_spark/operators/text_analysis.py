"""Text-analysis operators for training-data curation (north-star).

Language ID (n-gram/stopword heuristic), quality scoring, token
counting, and document fingerprinting — all as JVM column expressions
(no Python in the hot path), with semantics frozen so the DuckDB
oracle reproduces every value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int28, md5_int28_py, md5_int60
from ..functions.text import BLOCKLISTS, LANG_STOPWORDS, shingles_expr, tokens_expr
from ..sources.registry import ensure_parallelism
from .importance import feature_buckets_from_tokens, log_odds_micro

PUNCT_CLASS = "[.,;:!?]"  # frozen; identical regex class in Java + RE2
CJK_CLASS = r"[\x{4E00}-\x{9FFF}]"  # CJK Unified Ideographs; same syntax both engines


def _stop_hits(tok: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def _tokenized(df: DataFrame, text_col: str, *cols: str) -> DataFrame:
    """Rows with at least one token: ``cols`` plus the token array bound
    as ``_tok``.  Consumers reference the array many times; an inline
    tokens expression would re-tokenize the document per reference."""
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    return df.filter(F.size(tok) > 0).select(  # cheap input-side filter
        *[F.col(c) for c in cols], tok.alias("_tok")
    )


def _quality_cols(text: Column, tok: Column, stop_hits: Column) -> list[Column]:
    """n_tokens, punct_ratio, stopword_ratio and quality_score of
    :func:`quality_score`, from the text, its bound token array and its
    English stopword-hit count."""
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    n_tok = F.size(tok)
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = stop_hits.cast("double") / n_tok
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok.cast("double") / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_ratio)
    )
    return [
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    ]


def _lang_scores(tok: Column) -> list[Column]:
    """Per-language stopword-evidence scores ``_s_<lang>`` over a bound
    token array, in LANG_STOPWORDS order."""
    return [
        _stop_hits(tok, words).alias(f"_s_{lang}")
        for lang, words in LANG_STOPWORDS.items()
    ]


def _lang_pred(text: Column) -> tuple[Column, Column]:
    """CJK character count and the predicted language over bound
    ``_s_<lang>`` scores: CJK first, then argmax with tie order
    en > de > fr > es, 'unknown' without evidence.  The ladder
    references each score up to 4 times, so the scores must be bound
    columns, not inline token-array expressions."""
    cjk = F.length(text) - F.length(F.regexp_replace(text, CJK_CLASS, ""))
    en, de, fr, es = (F.col(f"_s_{lang}") for lang in ("en", "de", "fr", "es"))
    pred = (
        F.when(cjk > 0, "zh")
        .when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("unknown")
    )
    return cjk, pred


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token counts + distinct counts + mean token length."""
    base = _tokenized(df, text_col, id_col)
    tokc = F.col("_tok")
    char_sum = F.aggregate(
        F.transform(tokc, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    return base.select(
        F.col(id_col),
        F.size(tokc).alias("n_tokens"),
        F.size(F.array_distinct(tokc)).alias("n_unique_tokens"),
        F.round(char_sum.cast("double") / F.size(tokc), 6).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality heuristic: length, punctuation, stopword density.

    score = 0.4*min(1, n_tokens/100) + 0.3*(1 - punct_ratio) + 0.3*min(1, 5*stop_ratio)
    All double arithmetic in a fixed order → bit-identical in the oracle.
    """
    base = _tokenized(df, text_col, id_col, text_col)
    stop = _stop_hits(F.col("_tok"), LANG_STOPWORDS["en"])
    return base.select(
        F.col(id_col), *_quality_cols(F.col(text_col), F.col("_tok"), stop)
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-evidence language ID with a CJK fast path.

    Deterministic argmax with tie order en > de > fr > es; 'unknown'
    when no evidence.  Keeps every row.  Output: id, predicted_lang,
    per-language scores.
    """
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    base = df.select(F.col(id_col), F.col(text_col), tok.alias("_tok"))
    scored = base.select(
        F.col(id_col), F.col(text_col), *_lang_scores(F.col("_tok"))
    )
    cjk, pred = _lang_pred(F.col(text_col))
    return scored.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        *[F.col(f"_s_{lang}").alias(f"{lang}_score") for lang in LANG_STOPWORDS],
        cjk.cast("int").alias("cjk_chars"),
    )


def quality_lang_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """:func:`quality_score` and :func:`lang_id` FUSED into one map-only
    projection pass — column-for-column identical to
    ``quality_score(df).join(lang_id(df).select(id, predicted_lang), id)``
    but without the second corpus scan and the id equi-join that
    composition pays (guide §2.4: remove shuffles outright; at 100 TB
    the join is a corpus-by-corpus shuffle, and even when broadcast it
    tokenizes every document twice).

    Row semantics match the inner join: only rows with a non-empty
    token array survive (quality_score's filter; lang_id keeps all
    rows, so the join keyed on quality rows).  Both operators' columns
    come from the same builders, so the values are bit-identical.

    Output: <id_col>, n_tokens, punct_ratio, stopword_ratio,
    quality_score, predicted_lang.
    """
    # each language's evidence is bound once; the en score doubles as
    # quality_score's stopword-hit count
    scored = _tokenized(df, text_col, id_col, text_col).select(
        F.col(id_col), F.col(text_col), F.col("_tok"), *_lang_scores(F.col("_tok"))
    )
    _, pred = _lang_pred(F.col(text_col))
    return scored.select(
        F.col(id_col),
        *_quality_cols(F.col(text_col), F.col("_tok"), F.col("_s_en")),
        pred.alias("predicted_lang"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style within-document repetition signals (public
    methodology: Rae et al. 2021 §A1.1 repetition filters).

    - ``dup_bigram_frac``: 1 - |distinct bigrams| / |bigrams| — the
      fraction of 2-gram occurrences that are repeats.  Boilerplate and
      keyword-stuffed documents score high.
    - ``top_token_ratio``: occurrences of the single most frequent
      token / n_tokens.

    Both are MAP-ONLY array expressions — no explode, no shuffle: the
    mode is computed by scanning the distinct-token array against the
    token array (O(distinct·n) per doc, bounded by document length),
    which at 100 TB beats a two-shuffle explode/groupBy re-aggregation
    by the width of the corpus.

    Output: id, n_tokens, dup_bigram_frac, top_token_ratio,
    is_repetitive (either signal past its public-filter threshold).
    """
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    # token array bound as a column (r13): the mode scan's inner
    # `filter(tok, ...)` sat inside a per-distinct-token lambda, so the
    # inline form re-tokenized the document once per DISTINCT token —
    # O(distinct · tokenize) on top of the intended O(distinct · n) scan
    base = df.filter(F.size(tok) >= 2).select(  # a bigram needs 2 tokens
        F.col(id_col), tok.alias("_tok")
    )
    tokc = F.col("_tok")
    n = F.size(tokc)
    n_bigrams = n - F.lit(1)
    distinct_bigrams = F.size(shingles_expr(tokc, 2))
    dup_frac = F.lit(1.0) - distinct_bigrams.cast("double") / n_bigrams
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(tokc),
            lambda d: F.size(F.filter(tokc, lambda t: t == d)),
        )
    )
    top_ratio = top_cnt.cast("double") / n
    return base.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
        F.round(top_ratio, 6).alias("top_token_ratio"),
        ((dup_frac > F.lit(0.2)) | (top_ratio > F.lit(0.2))).alias("is_repetitive"),
    )


# Frozen PII patterns (same syntax/semantics in Java regex and DuckDB's
# RE2): emails and NANP-style phone numbers.  Real pipelines add more
# classes; the operator shape — ordered regexp_replace chain + per-class
# match counts — is what scales.
PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PII_PHONE = r"\d{3}-\d{3}-\d{4}"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails/phone numbers; count redactions per class.

    Pure JVM regexp engine work inside whole-stage codegen — a 100 TB
    corpus pass is one map stage with zero shuffle.  Order matters and
    is frozen: emails first (a phone-looking substring inside an email
    local part must already be gone when the phone pass runs).

    Output: id, n_emails, n_phones, clean_text.
    """
    df = ensure_parallelism(df)
    text = F.col(text_col)
    n_emails = F.regexp_count(text, F.lit(PII_EMAIL))
    after_email = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    n_phones = F.regexp_count(after_email, F.lit(PII_PHONE))
    clean = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        clean.alias("clean_text"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, k_shingle: int = 5) -> DataFrame:
    """Document fingerprints: whole-document hash + content (min-shingle)
    rolling hash.  Identical fingerprints ⇒ dedup candidates.

    Output: id, doc_fp (60-bit hash of normalized text), content_fp
    (min 60-bit hash over k-shingles — robust to local edits).
    """
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    # token array bound as a column (r13): the shingle transform's
    # `slice(tok, i, k)` re-tokenized per shingle position inline
    base = df.filter(F.size(tok) >= k_shingle).select(  # ⟺ len(shingles) > 0
        F.col(id_col), tok.alias("_tok")
    )
    sh = shingles_expr(F.col("_tok"), k_shingle)
    content_fp = F.array_min(F.transform(sh, lambda s: md5_int60(s)))
    return base.select(
        F.col(id_col),
        md5_int60(F.array_join(F.col("_tok"), " ")).alias("doc_fp"),
        content_fp.alias("content_fp"),
    )


def countmin_counters(
    df, text_col: str, depth: int = 4, width: int = 1024
):
    """Count-Min sketch counters over token occurrences: a (depth x
    width) counter table built in ONE aggregation pass.

    Each token occurrence increments `depth` buckets (one per salted
    hash row).  The counter table is d*w rows regardless of corpus
    size — THE streaming/distributed heavy-hitter sketch: mergeable
    across partitions (counts add), fixed memory, estimate = min over
    depth rows (always an overestimate).

    Hashes are the portable MD5 family so the DuckDB oracle reproduces
    the exact counters.
    """
    df = ensure_parallelism(df)
    tok = df.select(F.explode(tokens_expr(F.col(text_col))).alias("token"))
    rows = tok.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("depth"),
                    F.pmod(
                        md5_int28(
                            F.concat(
                                F.lit("cm"),
                                i.cast("string"),
                                F.lit(":"),
                                F.col("token"),
                            )
                        ),
                        F.lit(width),
                    ).cast("int").alias("bucket"),
                ),
            )
        ).alias("s")
    ).select("s.depth", "s.bucket")
    return rows.groupBy("depth", "bucket").agg(
        F.count("*").cast("bigint").alias("c")
    )


def term_distribution_stats(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Per-group unigram-distribution health metrics for a corpus:
    token count, vocabulary size, type-token ratio, Shannon entropy of
    the unigram distribution (bits), and the probability mass captured
    by the ``top_n`` most frequent terms (Zipf head share).

    These are the standard corpus-level QA dashboard numbers for a
    pretraining mixture: entropy collapse or a fat Zipf head flags a
    slice dominated by templated text before any model sees it.

    Plan shape: explode tokens -> groupBy(group, term) with map-side
    partial counts (the ONLY full-data shuffle; everything after it
    runs on vocabulary-sized rows, one per distinct (group, term)).
    The per-group total/type-count/rank are windows over that same
    group partitioning, so Catalyst plans ONE exchange for the window
    trio and the final groupBy reuses it (no second full shuffle).
    Rank ties break on the term string -> deterministic top-N set.

    Entropy sums ~vocab-many doubles; both engines round(…, 6) which
    absorbs association-order noise (same technique as the perplexity
    oracle).

    Output: <group_col>, n_tokens, n_types, ttr, entropy_bits,
    top{N}_share — one row per group.
    """
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    terms = (
        df.select(F.col(group_col).alias("_grp"), F.explode(tok).alias("term"))
        .groupBy("_grp", "term")
        .agg(F.count("*").alias("c"))
    )
    grp = Window.partitionBy("_grp")
    w = grp.orderBy(F.col("c").desc(), F.col("term").asc())
    enriched = terms.select(
        "_grp",
        "c",
        F.sum("c").over(grp).alias("n_tokens"),
        F.count("*").over(grp).alias("n_types"),
        F.row_number().over(w).alias("rnk"),
    )
    p = F.col("c") / F.col("n_tokens")
    return (
        enriched.groupBy("_grp")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.first("n_types").alias("n_types"),
            (-F.sum(p * F.log2(p))).alias("_ent"),
            F.sum(F.when(F.col("rnk") <= top_n, F.col("c")).otherwise(0)).alias(
                "_top_c"
            ),
        )
        .select(
            F.col("_grp").alias(group_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_types").cast("bigint").alias("n_types"),
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
            F.round("_ent", 6).alias("entropy_bits"),
            F.round(F.col("_top_c") / F.col("n_tokens"), 6).alias(
                f"top{top_n}_share"
            ),
        )
    )


def _blocklist_hits(
    tok: Column, lists: dict[str, list[str]], prefix: str
) -> tuple[list[Column], Column]:
    """Per-category blocklist hit counts over a bound token array,
    aliased ``<prefix><cat>_hits`` in sorted category order, and their
    total, which references those aliases (a next-projection column)."""
    cats = sorted(lists)
    hits = []
    for cat in cats:
        terms = F.array(*[F.lit(t) for t in lists[cat]])
        hits.append(
            # filter-then-size (NOT array_intersect: that dedups, and
            # hit counts must weight repeated terms)
            F.size(F.filter(tok, lambda t: F.array_contains(terms, t)))
            .cast("int")
            .alias(f"{prefix}{cat}_hits")
        )
    bound = [F.col(f"{prefix}{c}_hits") for c in cats]
    total = sum(bound[1:], bound[0]) if cats else F.lit(0)
    return hits, total


def _gopher_measures(tok: Column, n_words: Column) -> list[Column]:
    """mean_word_len, symbol_ratio, alpha_word_frac and n_stopwords of
    :func:`gopher_rules` over a bound token array and its size."""
    mean_len = F.aggregate(
        tok, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
    ).cast("double") / n_words
    n_symbols = F.size(
        F.filter(tok, lambda t: t.contains("#") | t.contains("..."))
    )
    alpha_frac = (
        F.size(F.filter(tok, lambda t: t.rlike("[a-z]"))).cast("double") / n_words
    )
    stops = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(tok), stops))
    return [
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(n_symbols.cast("double") / n_words, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        n_stop.cast("int").alias("n_stopwords"),
    ]


def _gopher_verdict(n_words: Column) -> tuple[Column, Column]:
    """The word-count range flag and the keep predicate over bound
    :func:`_gopher_measures` columns (Rae et al. 2021 thresholds)."""
    n_words_ok = (n_words >= 50) & (n_words <= 100_000)
    keep = (
        (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stopwords") >= 2)
    )
    return n_words_ok, keep


def blocklist_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklists: dict[str, list[str]] | None = None,
    max_hit_ratio: float = 0.1,
) -> DataFrame:
    """C4-style keyword/safety filtering: count blocklisted terms per
    category, flag documents whose total hit ratio exceeds the
    threshold.  Real pipelines drop (or route for review) documents
    dominated by blocklisted vocabulary; the per-category counts feed
    the curation dashboard.

    Map-only: every category count is one array filter over the token
    array inside whole-stage codegen — no shuffle, no UDF; at 100 TB
    this is a pure scan.  The category lists ride the plan as literals
    (the production path for lists up to ~10⁴ terms; beyond that,
    broadcast-join a terms table keyed by category instead).

    Output: <id_col>, n_tokens, <cat>_hits per category (INT, sorted
    category order), total_hits, hit_ratio (6dp), keep (boolean).
    """
    lists = blocklists if blocklists is not None else BLOCKLISTS
    base = _tokenized(df, text_col, id_col).select(
        id_col, "_tok", F.size("_tok").alias("n_tokens")
    )
    hits, total = _blocklist_hits(F.col("_tok"), lists, "")
    ratio = F.round(total.cast("double") / F.col("n_tokens"), 6)
    return base.select(id_col, "n_tokens", *hits).select(
        "*",
        total.cast("int").alias("total_hits"),
        ratio.alias("hit_ratio"),
        (ratio <= F.lit(max_hit_ratio)).alias("keep"),
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 §A1.1 — the
    published web-corpus filter set; repetition signals live in
    :func:`repetition_stats`).  Per rule, the measured value AND its
    pass flag with the paper's thresholds:

    - word count in [50, 100_000]  (here surfaced, not hard-coded into
      keep, so small fixtures still flow through the dashboard);
    - mean word length in [3, 10];
    - symbol-to-word ratio (# and ellipsis) <= 0.1;
    - fraction of words with >= 1 alphabetic char >= 0.8;
    - "stop-word presence": >= 2 distinct common function words.

    ``keep`` = all rules except the word-count range (reported
    separately as ``n_words_ok``).  Map-only array/regex expressions —
    a pure scan at any corpus size.

    Output: id, n_words, mean_word_len (6dp), symbol_ratio (6dp),
    alpha_word_frac (6dp), n_stopwords, n_words_ok, keep.
    """
    base = _tokenized(df, text_col, id_col).select(
        id_col, "_tok", F.size("_tok").alias("n_words")
    )
    nw = F.col("n_words")
    out = base.select(id_col, "n_words", *_gopher_measures(F.col("_tok"), nw))
    n_words_ok, keep = _gopher_verdict(nw)
    return out.select("*", n_words_ok.alias("n_words_ok"), keep.alias("keep"))


def safety_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklists: dict[str, list[str]] | None = None,
    max_hit_ratio: float = 0.1,
) -> DataFrame:
    """:func:`gopher_rules` and :func:`blocklist_filter` FUSED into one
    map-only projection pass — value-identical to joining the two
    operators on the id (both filter empty-token rows, so the inner
    join is exactly this row set) but with one tokenize pass and zero
    joins (guide §2.4; the composition's id join shuffles the corpus
    twice at scale).  Both operators' columns come from the same
    builders.

    Output: <id_col>, n_words, mean_word_len, symbol_ratio,
    alpha_word_frac, n_stopwords, n_words_ok, gopher_keep,
    total_hits, hit_ratio, blocklist_keep.
    """
    lists = blocklists if blocklists is not None else BLOCKLISTS
    base = _tokenized(df, text_col, id_col).select(
        id_col, "_tok", F.size("_tok").alias("n_words")
    )
    nw = F.col("n_words")
    measures = _gopher_measures(F.col("_tok"), nw)
    hits, total = _blocklist_hits(F.col("_tok"), lists, "_")
    staged = base.select(F.col(id_col), nw, *measures, *hits)
    n_words_ok, gopher_keep = _gopher_verdict(nw)
    ratio = F.round(total.cast("double") / nw, 6)
    return staged.select(
        F.col(id_col),
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_word_frac",
        "n_stopwords",
        n_words_ok.alias("n_words_ok"),
        gopher_keep.alias("gopher_keep"),
        total.cast("int").alias("total_hits"),
        ratio.alias("hit_ratio"),
        (ratio <= F.lit(max_hit_ratio)).alias("blocklist_keep"),
    )


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 256,
    threshold: float = 0.5,
    weights: DataFrame | None = None,
    bucket_col: str = "bucket",
    weight_col: str = "w_micro",
    max_literal_buckets: int = 65_536,
) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE — the
    model-based third filtering modality beside keyword blocklists
    (:func:`blocklist_filter`) and heuristic rules
    (:func:`gopher_rules`); the shape CCNet / LLaMA's wiki-reference
    filter run over web corpora at scale.

    A linear model over hashed unigram+bigram features:
    ``logit = (1/n_feats) * Σ_f w[bucket(f)]``, ``score = σ(logit)``.
    With ``weights=None`` the bucket weights are FROZEN pseudo-random
    values derived from the bucket id via the portable MD5 hash
    (w_micro ∈ [-1e6, 1e6] integers) — a deterministic stand-in for
    trained weights that keeps the operator oracle-verifiable with no
    model file.  Pass a TRAINED weight table as ``weights`` (columns
    ``bucket_col``, ``weight_col`` — integer micro-weights; missing
    buckets count as 0) to run a real model:

    - ``n_buckets <= max_literal_buckets`` (the fastText regime —
      2^16 hashed buckets): the table is collected driver-side (a
      BOUNDED metadata collect, ≤ n_buckets rows — this is an eager
      Spark job at plan-construction time) and rides the plan as the
      same literal array the frozen path uses, keeping the map-only
      zero-shuffle plan.
    - larger vocabularies: features explode to rows and BROADCAST-join
      the weight table, then re-aggregate per document — one partial-
      agg'd shuffle of (id, weight) rows; the weight table never
      shuffles.

    Exactness: the logit numerator is an INTEGER sum (Σ of per-feature
    micro-weights), so Spark's aggregation order — fold, or partial/
    final SUM — and the oracle agree bit-for-bit on EITHER path; the
    only float ops are one division and one sigmoid on an already-exact
    value.  The frozen/literal paths are map-only — a single HOF fold
    per document, zero shuffles at any corpus size.

    Output: id, n_feats, logit_micro (BIGINT), quality_score (6dp),
    keep (score >= threshold).
    """
    df = ensure_parallelism(df)
    # Empty-doc filter on the RAW text, not on size(features): the
    # feature array is nonempty iff the text has a non-whitespace char,
    # and filtering on size(_f) re-evaluates the whole hashed-feature
    # expression inside the pushed-down predicate (A/B at sf0.1:
    # 6.6 s → 0.6 s for the same rows).  Token array bound as a column
    # before the feature expression (r13): the bigram lambda otherwise
    # re-tokenizes per bigram position.
    base = (
        df.filter(F.col(text_col).isNotNull() & F.col(text_col).rlike(r"\S"))
        .select(F.col(id_col), tokens_expr(F.col(text_col)).alias("_tok"))
        .select(
            F.col(id_col),
            feature_buckets_from_tokens(F.col("_tok"), n_buckets).alias("_f"),
        )
    )

    collected_rows = None
    if weights is not None:
        wtab = weights.select(
            F.col(bucket_col).cast("int").alias("_b"),
            F.col(weight_col).cast("bigint").alias("_w"),
        )
        # Contract on both paths: buckets in range and unique, weights
        # non-null (a NULL would poison the integer fold on the literal
        # path but coalesce to 0 on the join path; the same table must
        # behave identically on both).
        stats_agg = [
            F.min("_b").alias("lo"),
            F.max("_b").alias("hi"),
            F.count("*").alias("n"),
            F.countDistinct("_b").alias("nd"),
            F.count(F.when(F.col("_b").isNull(), 1)).alias("null_b"),
            F.count(F.when(F.col("_w").isNull(), 1)).alias("null_w"),
        ]
        if n_buckets <= max_literal_buckets:
            # Literal path: validate on the SAME bounded collect that
            # builds the literal array, so valid tables pay no second
            # execution of the weight pipeline.  limit(n_buckets + 1)
            # keeps it OOM-safe: a table with more rows than buckets is
            # mal-keyed by pigeonhole, and which rows an unordered limit
            # returns must not pick the error, so that case runs the
            # join path's one-row aggregate over the whole table.
            collected_rows = wtab.limit(n_buckets + 1).collect()
            if len(collected_rows) > n_buckets:
                st = wtab.agg(*stats_agg).collect()[0].asDict()
            else:
                bs = [r["_b"] for r in collected_rows]
                known = [b for b in bs if b is not None]
                st = {
                    "lo": min(known, default=None),
                    "hi": max(known, default=None),
                    "n": len(bs),
                    "nd": len(set(known)),
                    "null_b": len(bs) - len(known),
                    "null_w": sum(r["_w"] is None for r in collected_rows),
                }
        else:
            # Join path: the table may be arbitrarily large, so the
            # contract runs as a bounded 1-row aggregate.
            st = wtab.agg(*stats_agg).collect()[0]
        if st["n"]:
            if st["null_b"] or st["lo"] < 0 or st["hi"] >= n_buckets:
                raise ValueError(
                    f"weight table has buckets outside [0, {n_buckets})"
                )
            if st["nd"] != st["n"]:
                raise ValueError(
                    "weight table has duplicate bucket rows — collapse "
                    "them before inference (a fan-out here would double-"
                    "count features)"
                )
            if st["null_w"]:
                raise ValueError(
                    "weight table has NULL weights — impute or drop "
                    "them before inference"
                )

    if weights is not None and n_buckets > max_literal_buckets:
        # Broadcast-join path for vocabularies too large to inline.
        exploded = base.select(
            F.col(id_col), F.explode(F.col("_f")).alias("_b")
        )
        out = (
            exploded.join(F.broadcast(wtab), "_b", "left")
            .groupBy(id_col)
            .agg(
                F.count("*").cast("bigint").alias("n_feats"),
                F.sum(F.coalesce(F.col("_w"), F.lit(0).cast("bigint")))
                .cast("bigint")
                .alias("logit_micro"),
            )
        )
    else:
        if weights is None:
            # w_micro(b) = (md5_28(b) mod 2000001) - 1000000 — frozen
            # weights.  The bucket domain is tiny (n_buckets), so the
            # whole weight table is precomputed driver-side and rides
            # the plan as a LITERAL array — the fold then does one
            # element_at per feature instead of an md5 (A/B at sf0.1:
            # 6.8 s → map-only scan cost; same trick as the IVF
            # literal centroids).
            wvals = [
                md5_int28_py(str(b)) % 2_000_001 - 1_000_000
                for b in range(n_buckets)
            ]
        else:
            # the validated bounded collect above IS the metadata
            # (≤ n_buckets unique in-range rows; fastText's 2^16
            # default fits in ~0.5 MB of plan literals) — no second
            # execution of the weight pipeline
            by_bucket = {r["_b"]: r["_w"] for r in collected_rows}
            wvals = [by_bucket.get(b, 0) for b in range(n_buckets)]
        # ONE parsed expression instead of n_buckets F.lit round trips
        # (same analyzed BIGINT literal array; r13 driver-overhead pass)
        wlit = F.expr("array(" + ",".join(f"{int(w)}L" for w in wvals) + ")")
        logit_micro = F.aggregate(
            F.col("_f"),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc + F.element_at(wlit, (b + 1).cast("int")),
        )
        out = base.select(
            F.col(id_col),
            F.size("_f").cast("bigint").alias("n_feats"),
            logit_micro.alias("logit_micro"),
        )
    mean_logit = F.col("logit_micro") / (F.col("n_feats") * F.lit(1_000_000.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_logit)), 6)
    return out.select(
        "*",
        score.alias("quality_score"),
    ).withColumn("keep", F.col("quality_score") >= F.lit(threshold))


def train_quality_weights(
    df: DataFrame,
    text_col: str,
    label_filter: str,
    n_buckets: int = 256,
) -> DataFrame:
    """TRAIN the weight table :func:`quality_classifier` consumes —
    closing the train→infer loop: per-bucket log-odds of the hashed
    unigram+bigram features under positive vs negative labeled docs
    (the one-pass Naive-Bayes estimate fastText's logistic objective
    converges toward on hashed bag-of-ngrams features; CCNet trains
    its wiki-reference filter this same discriminative-vs-background
    way).

    ``label_filter``: SQL predicate marking POSITIVE documents (e.g.
    ``lang = 'en'`` or a curated-source flag); everything else is the
    negative/background class.  Weights are integerized micro
    log-odds — ``w_micro(b) = round(1e6 · ln(p(b|pos)/p(b|neg)))``
    with add-1 smoothing — the same DSIR discipline
    (:func:`..operators.importance.dsir_log_weights`) that keeps the
    consumer's logit an exact integer sum, and the double op order
    mirrors the oracle SQL token-for-token.

    Plan: one feature explode → ONE bucket-keyed aggregate with
    conditional partial sums (map-side combined; output ≤ n_buckets
    rows regardless of corpus size) → a broadcast 1-row totals
    scalar.  Nothing but 8-byte bucket ids and partial counts ever
    shuffles — training cost is one pass at 100 TB.

    Output: bucket (int), w_micro (BIGINT), pos_count, neg_count.
    """
    df = ensure_parallelism(df)
    # token array bound as a column before the feature explode
    feats = df.select(
        F.expr(label_filter).alias("_pos"),
        tokens_expr(F.col(text_col)).alias("_tok"),
    ).select(
        "_pos",
        F.explode(
            feature_buckets_from_tokens(F.col("_tok"), n_buckets)
        ).alias("_b"),
    )
    # buckets feeds BOTH the totals scalar and the final projection: a
    # lazy checkpoint pins the <=n_buckets-row aggregate so the feature
    # explode runs once, not per consumer (the DSIR pattern).
    buckets = feats.groupBy("_b").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("_pc"),
        F.count("*").alias("_c"),
    ).localCheckpoint(eager=False)
    totals = buckets.agg(
        F.sum("_pc").alias("_pt"),
        F.sum(F.col("_c") - F.col("_pc")).alias("_nt"),
    )
    nc = F.col("_c") - F.col("_pc")
    return buckets.crossJoin(F.broadcast(totals)).select(
        F.col("_b").cast("int").alias("bucket"),
        log_odds_micro(
            F.col("_pc"), F.col("_pt"), nc, F.col("_nt"), n_buckets
        ).alias("w_micro"),
        F.col("_pc").cast("bigint").alias("pos_count"),
        nc.cast("bigint").alias("neg_count"),
    )


def classifier_auc(
    scored: DataFrame,
    label_col: str,
    score_col: str = "quality_score",
) -> DataFrame:
    """Mann-Whitney AUC of a classifier's scores against boolean
    labels — the eval-loop diagnostic for the quality tier, the
    companion of the dedup/ANN recall evals: one number that says how
    well the (trained or stand-in) classifier actually separates the
    classes it claims to.

    Computed HISTOGRAM-style so it scales: the corpus reduces to one
    (score, pos_count, neg_count) aggregate — at most one row per
    distinct 6dp score, a bounded table — then a running sum over that
    histogram yields the rank-sum numerator.  Ties get the standard
    mid-rank treatment exactly: for ties contributing p positives and
    n negatives at one score with cum_n negatives strictly below,
    the numerator gains p·(2·cum_n + n) — summed as DECIMAL(38,0)
    (the kmeans trainer's discipline: the sum approaches 2·P·N, past
    BIGINT at multi-billion-row classes; DuckDB's integer sum widens
    to HUGEINT on its own) — and AUC = Σ / (2·P·N), so aggregation
    order cannot perturb the value and the DuckDB oracle reproduces
    it bit-for-bit.  The unpartitioned window runs over the bounded
    histogram, never the corpus.

    Rows with a NULL label are EXCLUDED — unlabeled is not negative
    (the standard AUC convention); both class counts reflect labeled
    rows only.

    Output (one row): n_pos, n_neg (BIGINT), auc (6dp DOUBLE; NULL
    when either class is empty — AUC is undefined, not 0).
    """
    hist = (
        scored.filter(F.col(label_col).isNotNull())
        .groupBy(score_col)
        .agg(
            F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("_p"),
            F.sum(F.when(F.col(label_col), 0).otherwise(1)).alias("_n"),
        )
    )
    w = (
        Window.orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = hist.withColumn(
        "_cumn", F.coalesce(F.sum("_n").over(w), F.lit(0))
    )
    agg = r.agg(
        F.sum("_p").alias("_np"),
        F.sum("_n").alias("_nn"),
        F.sum(
            F.col("_p").cast("decimal(38,0)")
            * (2 * F.col("_cumn") + F.col("_n")).cast("decimal(38,0)")
        ).alias("_num2"),
    )
    return agg.select(
        F.col("_np").cast("bigint").alias("n_pos"),
        F.col("_nn").cast("bigint").alias("n_neg"),
        F.when(
            (F.col("_np") > 0) & (F.col("_nn") > 0),
            F.round(
                F.col("_num2").cast("double")
                / (2.0 * F.col("_np") * F.col("_nn")),
                6,
            ),
        ).alias("auc"),
    )
