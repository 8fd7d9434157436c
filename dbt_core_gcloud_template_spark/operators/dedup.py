"""Deduplication operators for LLM-training-data pipelines.

Four families, all shuffle-conscious (north-star; SURVEY.md §7.6):

- **Exact**: hash-groupBy on content digest.  One shuffle on an 8-byte
  key; the classic 100 TB dedup plan.
- **MinHash + LSH**: shingle → per-doc signature (map-only, no
  explode/shuffle thanks to array higher-order functions) → band
  bucketing → candidate-pair join.  Only candidate pairs are shuffled,
  never the O(n²) cross product.
- **SimHash**: frequency-weighted bit-vote fingerprint; near-dup =
  same/close fingerprint.  Map-only; dedup becomes exact-dedup on the
  fingerprint.
- **n-gram Jaccard**: exact verification — shingle-inverted-index join
  (pairs sharing ≥1 shingle), then |A∩B| / |A∪B|.  Used to verify LSH
  candidates; at 100 TB this runs only on the candidate set.

All hashes are the MD5-derived portable family from
``functions.hashing`` so the DuckDB oracle reproduces results exactly.
Python never touches row data: everything is JVM built-ins inside
whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, md5_int28, md5_int60, minhash_expr
from ..functions.text import shingles_expr, tokens_expr
from ..sources.registry import ensure_parallelism
from . import telemetry
from .fences import UNSET, resolve as _resolve_fence


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content; keep the smallest id as canonical.

    Output: text_hash, canonical_id, n_copies.  At scale the groupBy key
    is the 32-char digest (or 8-byte xxhash64), not the document body.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("_id"))
        .groupBy("text_hash")
        .agg(
            F.min("_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_incremental(
    new_df: DataFrame, index_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup of a NEW batch against a stored digest index, plus
    within-batch dedup — the daily-ingest counterpart of
    :func:`exact_dedup` (and of :func:`lsh_incremental_pairs` for the
    near-dup tier).

    ``index_df`` needs one column ``text_hash`` (the md5 digests of
    everything already ingested; at 100 TB that index is ~3% the size
    of the corpus and is the only historical data touched).  The plan
    is one groupBy of the batch on its digest (within-batch dedup,
    batch-sized shuffle) + one left-anti join against the index —
    broadcastable while the index is small, hash-join on 8-byte-ish
    keys after; at extreme index sizes use
    :func:`exact_dedup_incremental_bloom`, which pre-splits the batch
    on a bloom bitmap of the index so most digests never reach the
    join.

    Output: text_hash, canonical_id (smallest new id), n_copies
    (within-batch count) — only content NOT already in the index.
    """
    batch = exact_dedup(new_df, text_col, id_col)
    return batch.join(
        index_df.select("text_hash").distinct(), "text_hash", "left_anti"
    )


def exact_dedup_incremental_bloom(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 1 << 20,
    k: int = 5,
    words: "list[int] | BloomBitmap | None" = None,
) -> DataFrame:
    """Tier-2 of the join-pruning ladder for the daily-ingest dedup:
    when the stored digest index is too big to broadcast, aggregate
    its digests into a bloom bitmap ONCE (in production the bitmap is
    a stored artifact refreshed at ingest — size ``n_bits`` at ~10
    bits per expected distinct digest) and pre-split the batch on a
    map-only probe:

    - bloom-NEGATIVE digests are definitely new (no false negatives)
      and bypass the join entirely — at a steady-state dup rate of a
      few percent that is most of the batch;
    - bloom-POSITIVE digests run the exact anti-join, which removes
      the false positives, so the output is bit-identical to
      :func:`exact_dedup_incremental` — only the join's probe side
      shrinks from |batch| to (true hits + FP).

    The batch aggregate feeds both probe classes, so it is lazily
    checkpointed and computed once.  Pass the STORED bitmap as
    ``words`` (persisted at ingest — the production shape) so each
    daily batch skips the index aggregation entirely; prefer the
    :class:`~.bloom.BloomBitmap` artifact form (from
    ``bloom_filter_bitmap``), which carries its own ``(n_bits, k)``
    and OVERRIDES the parameters here — a bitmap probed with a
    different ``k`` than it was built with yields bloom false
    negatives (already-ingested duplicates admitted as "definitely
    new"), and only the artifact form can reject that by
    construction.  A bare ``list[int]`` is still accepted for
    backward compatibility, but then it is the CALLER's contract
    that the list was built with the very same ``n_bits`` AND ``k``
    passed here; only the length (n_bits) half of that is checkable.
    When omitted, the bitmap is built here with one full-index pass
    + a bounded collect (``n_bits/64`` longs, ~128 KB at the
    default m).

    NULL ``text_col`` rows digest to a NULL text_hash; they are
    routed through the exact anti-join branch (bloom membership of
    NULL is unknowable), where the left-anti on a NULL key never
    matches — so the NULL-hash group survives, exactly as it does in
    :func:`exact_dedup_incremental`.

    Output: text_hash, canonical_id, n_copies — identical contract to
    :func:`exact_dedup_incremental`.
    """
    from .bloom import BloomBitmap, bloom_filter_words, bloom_prefilter

    # the shared digest aggregate — any change to the digest/canonical
    # rule stays bit-identical across all three exact-dedup variants
    batch = exact_dedup(new_df, text_col, id_col).localCheckpoint(eager=False)
    idx = index_df.select("text_hash").distinct()
    if words is None:
        words = bloom_filter_words(idx, "text_hash", n_bits=n_bits, k=k)
    elif isinstance(words, BloomBitmap):
        # the artifact is authoritative: its params built the bits
        n_bits, k, words = words.n_bits, words.k, list(words.words)
    elif len(words) != n_bits // 64:
        raise ValueError(
            f"stored bitmap has {len(words)} words; n_bits={n_bits} "
            f"needs {n_bits // 64}"
        )
    fresh = bloom_prefilter(batch, "text_hash", words, n_bits, k, negate=True)
    maybe = bloom_prefilter(batch, "text_hash", words, n_bits, k)
    survivors = maybe.join(idx, "text_hash", "left_anti")
    return fresh.unionByName(survivors)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    n_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature over k-word shingles.

    Map-only: shingling and the per-hash minima are array expressions
    (transform/array_min), so no explode and no shuffle — each 100 TB
    input split streams through codegen once.

    Output: <id_col>, n_shingles, mh0..mh{n-1}.
    """
    if n_hashes > len(MINHASH_A):
        raise ValueError(f"at most {len(MINHASH_A)} hash functions are defined")
    df = ensure_parallelism(df)  # CPU-heavy map: use every core
    tok = tokens_expr(F.col(text_col))
    # Pre-filter on the CHEAP equivalent condition (≥k tokens ⟺ ≥1
    # shingle): a filter expressed on the expensive outputs gets pushed/
    # collapsed by Catalyst in ways that re-inline the md5 pipeline into
    # every consumer (measured 8× slowdown).  Filtering the raw input
    # keeps the two signature projections adjacent, and CollapseProject's
    # cost guard then evaluates the hash array exactly once.
    #
    # r13: the token and shingle arrays are BOUND AS COLUMNS in a
    # projection ladder.  Interpreted HOF lambdas re-evaluate every
    # embedded expression tree per element — `slice(tokens_expr, i, k)`
    # inside the shingle transform re-tokenized the document once per
    # shingle position (O(n²) per doc), and `size(sh)` + the hash
    # transform each re-ran the whole shingle pipeline (guide §1.2:
    # fix the per-task work; A/B at sf0.1: 1.21 s → 0.38 s, identical
    # output).  CollapseProject's cost guard keeps the ladder intact
    # (each bound column is referenced more than once downstream).
    df = df.filter(F.size(tok) >= k_shingle)
    toked = df.select(F.col(id_col), tok.alias("_tok"))
    sh = shingles_expr(F.col("_tok"), k_shingle)
    shingled = toked.select(F.col(id_col), sh.alias("_sh"))
    out = shingled.select(
        F.col(id_col),
        F.size("_sh").alias("n_shingles"),
        F.transform(F.col("_sh"), lambda s: md5_int28(s)).alias("_hashes"),
    )

    def _mk(i: int):
        # NOTE: must be a unary lambda — a two-arg lambda (e.g. with a
        # default arg) makes Spark pass the element *index* as arg 2.
        return lambda h: minhash_expr(h, i)

    sigs = [
        F.array_min(F.transform(F.col("_hashes"), _mk(i))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return out.select(id_col, "n_shingles", *sigs)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: list[list[int]],
    max_bucket_size: "int | None" = UNSET,
) -> DataFrame:
    """Band-bucket MinHash signatures and emit candidate pairs.

    ``bands`` lists which signature components form each band, e.g.
    ``[[0,1],[2,3],[4,5],[6,7]]`` (b=4, r=2).  Docs sharing any band key
    become a candidate pair.

    ONE pass like ngram_jaccard_pairs: group the exploded band keys and
    emit each bucket's ordered pairs from the sorted grouped array.  The
    naive formulation — an equi self-join on (band_id, band_hash) —
    executes the signature/band subtree twice and shuffles it twice
    (Catalyst plans no ReusedExchange across a self-join's sides).
    Shuffled volume is |docs|x|bands| 8-byte keys either way; the
    grouped form halves it and drops the join.

    Skew note: a bucket shared by m docs emits m(m-1)/2 pairs from one
    grouped row.  Band hashes are r concatenated minhashes, so buckets
    are sharp by construction; for a degenerate corpus (one dominant
    near-dup cluster) raise r or set ``max_bucket_size`` — buckets
    above it are dropped whole (their members are near-identical
    boilerplate that other, sharper bands still pair, and an m²
    explosion from one bucket is exactly the skew this caps).

    Output: a_id, b_id (a < b), distinct.
    """
    max_bucket_size = _resolve_fence(
        "max_bucket_size", max_bucket_size, "lsh_candidate_pairs"
    )
    band_cols = []
    for band_id, comps in enumerate(bands):
        key = md5_int60(F.concat_ws("_", *[F.col(f"mh{c}") for c in comps]))
        band_cols.append(F.struct(F.lit(band_id).alias("band_id"), key.alias("band_hash")))
    exploded = sig_df.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")
    grouped = (
        exploded.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        # Armed telemetry pins the bucket frame and counts the fenced
        # buckets on the same job (telemetry.py).
        grouped = telemetry.checkpoint_fenced(
            grouped,
            "lsh_candidate_pairs",
            "max_bucket_size",
            over=F.size("ids") > max_bucket_size,
            rows=F.size("ids"),
        )
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    ids = F.col("ids")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    return (
        grouped.select(F.explode(combos).alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )


def lsh_incremental_pairs(
    sig_new: DataFrame,
    sig_old: DataFrame,
    id_col: str,
    bands: list[list[int]],
    max_bucket_size: "int | None" = UNSET,
) -> DataFrame:
    """Incremental LSH: candidate pairs for a NEW batch against an
    already-deduped corpus — every pair touches at least one new doc;
    old x old pairs are never emitted (the historical corpus was
    deduped when it was ingested, so re-expanding its pairs every
    batch would make daily dedup cost O(|corpus|²-ish) instead of
    O(|batch| x bucket).  This is how a 100 TB corpus absorbs a daily
    crawl: signatures are computed once at ingest and STORED
    (``minhash_signatures`` is map-only, so the new batch's signatures
    cost one pass over the batch alone), and only band keys shuffle.
    Store the old side bucketed by band key (``bucketBy``) and even
    its shuffle disappears — the new batch's keys alone move.

    Same banding as :func:`lsh_candidate_pairs`; buckets with no new
    member are dropped BEFORE pair expansion, so a bucket of m old
    near-dups costs one grouped row, not m(m-1)/2 pairs.

    Output: a_id, b_id (a < b), pair_type ('new_new' | 'new_old'),
    distinct.
    """
    tagged = sig_new.withColumn("_new", F.lit(True)).unionByName(
        sig_old.withColumn("_new", F.lit(False))
    )
    max_bucket_size = _resolve_fence(
        "max_bucket_size", max_bucket_size, "lsh_incremental_pairs"
    )
    band_cols = []
    for band_id, comps in enumerate(bands):
        key = md5_int60(F.concat_ws("_", *[F.col(f"mh{c}") for c in comps]))
        band_cols.append(
            F.struct(F.lit(band_id).alias("band_id"), key.alias("band_hash"))
        )
    exploded = tagged.select(
        F.col(id_col), F.col("_new"), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "_new", "band.band_id", "band.band_hash")
    grouped = (
        exploded.groupBy("band_id", "band_hash")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("_id"), F.col("_new")))
            ).alias("ids"),
            F.max(F.col("_new")).alias("_any_new"),
        )
        .filter(F.col("_any_new") & (F.size("ids") >= 2))
    )
    if max_bucket_size is not None:
        grouped = telemetry.checkpoint_fenced(
            grouped,
            "lsh_incremental_pairs",
            "max_bucket_size",
            over=F.size("ids") > max_bucket_size,
            rows=F.size("ids"),
        )
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    ids = F.col("ids")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["_id"].alias("a_id"),
                    y["_id"].alias("b_id"),
                    (x["_new"] & y["_new"]).alias("_both"),
                    (x["_new"] | y["_new"]).alias("_any"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(combos).alias("p"))
        .filter(F.col("p._any"))
        .select(
            "p.a_id",
            "p.b_id",
            F.when(F.col("p._both"), F.lit("new_new"))
            .otherwise(F.lit("new_old"))
            .alias("pair_type"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 5,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over k-shingle sets, inverted-index style.

    Pairs must share ≥1 shingle to be considered, so the cross product
    never materializes.  Implemented as ONE pass: group the inverted
    index by shingle and emit each group's ordered pairs from the
    grouped array (two shuffles total: by shingle, then by pair).  The
    naive formulation — inv self-JOIN on shingle — executes the whole
    tokenize+shingle+explode subtree twice and shuffles it twice
    (Catalyst plans no ReusedExchange across the self-join's sides;
    measured 2.3× slower at sf0.1).

    Shingles travel as xxhash64 keys, not strings: ~70% less shuffle
    volume; a cross-shingle collision would need ~2^32 distinct
    shingles per corpus to matter (birthday bound on 64 bits).

    Skew note: a shingle shared by m docs yields m(m-1)/2 pair structs
    inside one grouped row, so degenerate boilerplate shingles hot-spot
    a single task.  At 100 TB run this on LSH candidate pairs only
    (lsh_candidate_pairs → verify stage), or set ``max_doc_freq``:
    shingles appearing in more than that many docs are dropped BEFORE
    pair generation (boilerplate carries no near-dup signal; this
    slightly lowers `common` for pairs that also share rare shingles,
    the standard df-cap trade).  Both keep m small by construction.

    Output: a_id, b_id, common, jaccard (rounded to 6dp).
    """
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    # Four-step projection ladder, each step deliberate:
    #   0. materialize the TOKEN array (r13: `slice(tok, i, k)` inside
    #      the shingle transform re-tokenized the doc once per shingle
    #      position when `tok` rode along as an inline expression tree —
    #      interpreted HOF lambdas re-evaluate embedded subtrees per
    #      element),
    #   1. materialize the shingle array ONCE per doc,
    #   2. take its size while the array is a plain column,
    #   3. explode.
    # Computing size(sh)+explode(sh) in one select plans the size as a
    # Project ABOVE the Generate — re-running the whole tokenize+shingle
    # pipeline per exploded ROW (measured 50× blowup at sf0.1).
    toked = df.select(F.col(id_col).alias("_id"), tok.alias("_tok"))
    sh = shingles_expr(F.col("_tok"), k_shingle)
    arr = toked.select("_id", sh.alias("_sh"))
    sized = arr.select("_id", F.size("_sh").alias("n_sh"), "_sh")
    inv = sized.select(
        "_id", "n_sh", F.explode("_sh").alias("_shingle_str")
    ).select("_id", "n_sh", F.xxhash64("_shingle_str").alias("shingle"))
    # one row per shingle: the sorted (id, n_sh) posting list
    grouped = inv.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.struct("_id", "n_sh"))).alias("ms")
    )
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ms") <= max_doc_freq)
    # ordered pairs within each posting list: for every i, pair ms[i]
    # with every later element (slice is 1-based; i is 0-based)
    ms = F.col("ms")
    combos = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["_id"].alias("a_id"),
                    x["n_sh"].alias("n_a"),
                    y["_id"].alias("b_id"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .select("p.*")
        .groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("common"),
            F.min("n_a").alias("n_a"),  # constant per id
            F.min("n_b").alias("n_b"),
        )
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "common", "jaccard")
    )


def lsh_recall_eval(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bands: list[list[int]],
    k_shingle: int = 3,
    n_hashes: int = 8,
    jaccard_threshold: float = 0.3,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Recall/precision of the MinHash-LSH banding configuration
    against exact n-gram Jaccard truth on the SAME corpus — the tuning
    telemetry a production operator watches when trading bands
    (cost) against near-dup coverage.  Operator form (r8 verdict #3)
    so engine DAG diagnostics stages and the registry query share one
    implementation.

    ``sample_fraction`` is the SCALE knob for the telemetry itself:
    the exact-Jaccard side is O(corpus²-ish) via the inverted index,
    so at 100 TB you estimate recall on a deterministic hash-gated
    sub-corpus (xxhash64(id) mod 10^6 — reproducible across runs and
    engines, no RNG) instead of the full one.  Both the exact set AND
    the candidate set are restricted to pairs whose BOTH endpoints
    survive the gate, so recall/precision stay unbiased pair-level
    estimates on the sample.  None/1.0 = full exact.

    Output (one row): n_exact, n_candidates, n_hits, recall, precision.
    """
    sigs = minhash_signatures(
        docs, id_col, text_col, k_shingle=k_shingle, n_hashes=n_hashes
    )
    cand = (
        lsh_candidate_pairs(sigs, id_col, bands)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    exact_docs = docs
    if sample_fraction is not None and sample_fraction < 1.0:
        # The gate is a PURE function of the id, so the candidate set
        # is restricted with a map-only filter on its endpoint columns
        # — no join against the sampled-id set, nothing to broadcast.
        def gate(col: str):
            return F.pmod(
                F.xxhash64(F.col(col).cast("string")), F.lit(1_000_000)
            ) < int(sample_fraction * 1_000_000)

        exact_docs = docs.filter(gate(id_col))
        cand = cand.filter(gate("a_id") & gate("b_id"))
    exact = (
        ngram_jaccard_pairs(
            exact_docs, id_col, text_col, k_shingle=k_shingle,
            threshold=jaccard_threshold,
        )
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    hits = exact.join(cand, ["a_id", "b_id"], "left_semi")
    ne = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    nc = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    nh = hits.agg(F.count("*").cast("bigint").alias("n_hits"))
    # empty denominators are defined as 1.0 (vacuously perfect), like
    # the sibling evals — a zero-pair day-1 corpus must yield a number
    # the monitor's recall floor can threshold, not a NULL it skips
    return (
        ne.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_exact",
            "n_candidates",
            "n_hits",
            F.when(F.col("n_exact") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hits") / F.col("n_exact"), 6))
            .alias("recall"),
            F.when(F.col("n_candidates") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hits") / F.col("n_candidates"), 6))
            .alias("precision"),
        )
    )


def jaccard_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    threshold: float = 0.1,
    a_col: str = "a_id",
    b_col: str = "b_id",
    prune: bool = False,
) -> DataFrame:
    """Exact-Jaccard VERIFICATION of a candidate pair set — the second
    stage of the classic two-stage fuzzy dedup (LSH recall stage →
    exact verify stage): compute true k-shingle Jaccard only for the
    pairs some cheap recall stage proposed, never all-pairs.

    Each doc's DISTINCT md5-hashed shingle set is built map-only
    (array higher-order functions, no explode), then joined onto the
    pair table by each side's id; `|A∩B|` is one ``array_intersect``
    per pair.  The pair table is tiny next to the corpus (that is the
    point of the recall stage), so AQE broadcasts the pair side of
    both joins and the shingle table streams through map-only — the
    default plan never shuffles shingle arrays, but each join side
    still SCANS the corpus and materializes its shingle arrays once.
    ``prune=True`` semi-joins the RAW docs against the broadcast
    candidate-id set BEFORE any shingle computation, so
    tokenize+shingle runs only on candidate docs (O(|pairs|), not
    O(|corpus|)) — use it when ``pairs`` is a materialized table or a
    checkpointed plan (the production shape; stored LSH output).
    With a derived, un-checkpointed ``pairs`` plan the id-set scan
    re-executes the whole recall pipeline twice more — checkpoint the
    pair set first (it is candidate-bounded and tiny; the
    lsh_recall_eval pattern).

    Shingles travel as xxhash64 keys (the oracle intersects the raw
    shingle strings): jaccard depends only on shingle EQUALITY
    CLASSES, so any near-injective hash matches the string-based
    oracle — the same trade :func:`ngram_jaccard_pairs` documents
    (64-bit birthday bound).  The portable-MD5 formulation was 5×
    slower at sf0.1 (one md5 per shingle on every corpus doc) for no
    correctness gain.

    Output: a_col, b_col, common, jaccard (rounded to 6dp),
    filtered to jaccard >= threshold.
    """
    docs = ensure_parallelism(docs)
    if prune:
        # Prune on the RAW doc ids BEFORE the shingle projection so
        # tokenize+hash runs only on candidate docs.
        cand_ids = (
            pairs.select(F.col(a_col).alias("_vid"))
            .unionByName(pairs.select(F.col(b_col).alias("_vid")))
            .distinct()
        )
        docs = docs.join(
            F.broadcast(cand_ids),
            docs[id_col] == cand_ids["_vid"],
            "left_semi",
        )
    tok = tokens_expr(F.col(text_col))
    # Filter on the CHEAP equivalent condition (>=k tokens <=> >=1
    # shingle), not on size(hashed): a filter on the expensive output
    # re-inlines the whole tokenize+shingle pipeline into the pushed
    # predicate (the minhash_signatures lesson).  r13: bind the token
    # array as a column first — `slice(tok, i, k)` inside the shingle
    # transform re-tokenized the doc per shingle position when `tok`
    # was an inline expression tree (interpreted HOF lambdas re-evaluate
    # embedded subtrees per element).
    toked = docs.filter(F.size(tok) >= k_shingle).select(
        F.col(id_col).alias("_vid"), tok.alias("_tok")
    )
    sh = shingles_expr(F.col("_tok"), k_shingle)
    sets = toked.select(
        "_vid",
        F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s))).alias(
            "_hs"
        ),
    )
    a = sets.select(F.col("_vid").alias(a_col), F.col("_hs").alias("_hs_a"))
    b = sets.select(F.col("_vid").alias(b_col), F.col("_hs").alias("_hs_b"))
    joined = (
        pairs.select(a_col, b_col)
        .join(a, a_col)
        .join(b, b_col)
        .select(
            a_col,
            b_col,
            F.size(F.array_intersect(F.col("_hs_a"), F.col("_hs_b"))).alias(
                "common"
            ),
            F.size("_hs_a").alias("_n_a"),
            F.size("_hs_b").alias("_n_b"),
        )
    )
    jac = F.col("common") / (F.col("_n_a") + F.col("_n_b") - F.col("common"))
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "common", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Frequency-weighted SimHash fingerprint (bit-vote over token hashes).

    bit_i = 1 iff at least half the token occurrences have bit i set.
    Map-only array expressions; 32 bits keeps every intermediate inside
    ANSI int64 arithmetic (and inside the DuckDB oracle's semantics).

    Output: <id_col>, n_tokens, simhash.
    """
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    # cheap input-side filter — see minhash_signatures note; the token
    # array is bound as a column so the hash transform and the size
    # don't each re-tokenize (r13)
    base = (
        df.filter(F.size(tok) > 0)
        .select(F.col(id_col), tok.alias("_tok"))
        .select(
            F.col(id_col),
            F.transform(F.col("_tok"), lambda t: md5_int28(t)).alias("_h"),
            F.size("_tok").alias("n_tokens"),
        )
    )
    # Single-pass bit voting: fold the token-hash array ONCE into a
    # 32-slot count vector (aggregate + zip_with), then fold the counts
    # into the fingerprint.  The earlier form — 32 independent
    # F.filter scans, one per bit — generated a 32×|tokens| codegen
    # body with multi-second JIT variance; this is 3 HOF expressions
    # and scans each token array exactly once.
    masks = F.array(*[F.lit(1 << i).cast("bigint") for i in range(bits)])
    zeros = F.array_repeat(F.lit(0).cast("bigint"), bits)
    counts = F.aggregate(
        F.col("_h"),
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c
            + F.when(h.cast("bigint").bitwiseAND(m) != 0, F.lit(1)).otherwise(
                F.lit(0)
            ).cast("bigint"),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c * 2 >= F.col("n_tokens"), m).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return base.select(id_col, "n_tokens", fingerprint.alias("simhash"))


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — near-dup test on SimHash fingerprints.
    ``bit_count`` is a JVM intrinsic (single POPCNT per row)."""
    return F.bit_count(a.bitwiseXOR(b))


def canonical_ids(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Dedup end-stage: per document, the canonical (minimum) id over
    its near-duplicate neighborhood — one round of min-propagation.

    ``pairs`` is any near-dup pair set with ``a_col < b_col`` (n-gram
    Jaccard, SimHash, MinHash-LSH, embedding cosine).  One round
    resolves star-shaped clusters (every member pairs with the
    minimum); chains need the iterated version (loop this join until
    a fixpoint — connected components — which is an offline driver
    loop, not a plan change).

    Output: the columns of ``docs``, canonical_id, is_duplicate — pass
    ``docs.select(id_col)`` for the ids alone.
    """
    # Aggregate the pair set FIRST (one shuffle of pair rows — tiny
    # relative to the corpus), then join the per-member minimum onto
    # docs.  The earlier join-then-groupBy shape shuffled the full docs
    # set twice (join exchange + groupBy exchange); this shape touches
    # docs at most once, and AQE broadcasts `mins` when the dup rate is
    # low — the common case — making the docs side map-only.
    mins = (
        pairs.select(F.col(a_col).alias("_cand"), F.col(b_col).alias("_member"))
        .groupBy("_member")
        .agg(F.min("_cand").alias("_cand"))
    )
    return (
        docs.join(mins, F.col(id_col) == F.col("_member"), "left")
        .select(
            *docs.columns,
            F.coalesce(F.col("_cand"), F.col(id_col))
            .cast("bigint")
            .alias("canonical_id"),
        )
        .withColumn("is_duplicate", F.col("canonical_id") != F.col(id_col))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster near-dup pairs into connected components: every node gets
    the minimum id reachable through the pair graph (large-star /
    small-star style min-label propagation).

    Iterative driver loop — each round is one shuffle (groupBy node) —
    converging in O(log(diameter)) rounds because labels hop through
    *current* labels, not raw edges.  ``localCheckpoint`` truncates the
    lineage each round so the plan doesn't grow with iterations (the
    classic iterative-algorithm trap at scale).  Stops early when a
    round changes nothing.

    Output: node_id, component_id (min id of the component).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # loop-invariant: the per-iteration join re-reads edges, so
        # materialize ONCE — otherwise every round re-executes the
        # whole upstream pipeline that produced the pairs (e.g.
        # shingle → minhash → band join; measured 3× at sf0.1).
        # LAZY (r14): round 1's convergence count materializes edges
        # and the initial labels transitively, folding what were two
        # standalone eager-checkpoint jobs into the first round's job.
        .localCheckpoint(eager=False)
    )
    # initial label = min(self, min neighbor)
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .select(F.col("src").alias("node_id"), "label")
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        # propagate: my next label = min(my label, labels of my
        # neighbors).  The old label rides along as `old` through the
        # same aggregate, so the convergence check is a near-free scan
        # of the just-materialized checkpoint instead of a second
        # join-per-round (driver-loop actions dominate at small
        # frontier sizes).
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node_id)
            .select(edges.src.alias("node_id"), "label")
            .withColumn("old", F.when(F.lit(False), F.col("label")))  # typed NULL
        )
        new_labels = (
            labels.withColumn("old", F.col("label"))
            .unionByName(neighbor_labels)
            .groupBy("node_id")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            # LAZY checkpoint + full-scan convergence count = ONE job
            # per round (r14): the eager checkpoint was its own job and
            # the limit(1) change probe a second one.  The count below
            # computes every partition, so it both materializes the
            # checkpoint (next round reads the cache, lineage truncated
            # exactly as before) and answers convergence in the same
            # pass.  A full filter-count replaces limit(1) because a
            # partial evaluation would leave some partitions
            # unmaterialized.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("node_id", "label")
        if changed == 0:
            break
    return labels.select("node_id", F.col("label").alias("component_id"))


def editdist_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    prefix_len: int = 8,
    max_dist: int = 60,
    band_width: int | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs with prefix blocking — the
    fifth dedup family: character-level similarity that catches
    small-edit duplicates n-gram Jaccard scores poorly (one char
    changed per shingle window).

    Levenshtein is O(len²) per PAIR, so the O(n²) self-join must never
    materialize: candidates are blocked on (block_cols..., first
    ``prefix_len`` chars), an equi-key the join shuffles on like any
    groupBy key.  Only in-block pairs — near-identical openings — pay
    the distance computation, and ``F.levenshtein``'s threshold form
    caps the DP band at ``max_dist`` so even those abort early.  At
    100 TB the block key's selectivity is the knob: lengthen the prefix
    (or add a length-band column) until the biggest block is bounded;
    blocking trades recall for that bound (true dups differing inside
    the prefix are missed — combine with the MinHash family for
    opening-insensitive recall).

    ``band_width``: additionally block on ``floor(length/band_width)``.
    Two texts with edit distance ≤ d differ in length by ≤ d, so a band
    wider than ``max_dist`` misses only pairs straddling a band
    boundary — and cuts candidate volume by the square of the band
    count per prefix block (measured 30× fewer candidate pairs at
    sf0.1 with band 64 / max_dist 60).

    Output: id_a, id_b (id_a < id_b), edit_dist — deterministic, exact
    for the blocked candidate set.
    """
    # CPU-heavy per-pair condition: the probe side must be spread over
    # every core (a single-row-group parquet scan is ONE partition, and
    # the banded DP then runs serially in one task — measured 10×
    # slowdown at sf0.1)
    df = ensure_parallelism(df)
    block_cols = block_cols or []

    def _side(idc: str, txt: str) -> DataFrame:
        cols = [
            F.col(id_col).alias(idc),
            F.col(text_col).alias(txt),
            *[F.col(c).alias(f"_{idc}_{c}") for c in block_cols],
            F.substring(F.col(text_col), 1, prefix_len).alias("_pfx"),
        ]
        if band_width:
            cols.append(
                F.floor(F.length(F.col(text_col)) / band_width).alias("_band")
            )
        return df.select(*cols)

    a = _side("id_a", "_ta")
    b = _side("id_b", "_tb")
    on = [a["_pfx"] == b["_pfx"], a["id_a"] < b["id_b"]]
    if band_width:
        on.append(a["_band"] == b["_band"])
    on += [a[f"_id_a_{c}"] == b[f"_id_b_{c}"] for c in block_cols]
    # threshold form: the DP stops once distance provably exceeds
    # max_dist (returns -1), instead of filling the full len² matrix
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    return (
        a.join(b, on)
        .select("id_a", "id_b", dist.cast("int").alias("edit_dist"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )


def dup_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    df_threshold: int = 2,
    df_cap: int | None = None,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction (RefinedWeb-style span
    dedup signal): what share of a document's distinct k-grams appear
    in at least ``df_threshold`` documents corpus-wide?

    The standard "remove duplicated spans" curation pass needs exactly
    this statistic — documents that are mostly made of corpus-repeated
    n-grams are boilerplate/templated and get dropped or trimmed.

    Plan shape (two shuffles, both on narrow rows):
      1. tokenize → distinct k-grams per doc → explode → hash the gram
         to a 64-bit int (xxhash64: ~70% smaller shuffle rows than the
         gram strings; a collision needs ~2^32 distinct grams — far
         beyond any corpus vocabulary of k-grams that repeat);
      2. document frequency as ``count(*) OVER (PARTITION BY gram)``
         (grams are distinct per doc, so the partition size IS the doc
         frequency) — ONE exchange on the hashed gram, every (doc,
         gram) row picks its df up in place;
      3. aggregate per doc.
    The earlier formulation computed df with groupBy(gram) and JOINED
    it back to the exploded grams; the intended exchange reuse never
    materialized — Catalyst planned a BroadcastHashJoin whose build
    side re-ran the whole tokenize→shingle→explode→hash pipeline (two
    parquet scans, two Generates) and then collected the ENTIRE gram
    vocabulary to the driver for the broadcast, which at corpus scale
    is billions of rows through one process (guide §3.1/§5: broadcasts
    are for genuinely small sides).  The window form computes the
    pipeline once and shuffles the same narrow rows once.

    At 100 TB: pass ``df_cap`` to bound posting-list skew — grams with
    doc frequency above the cap are dropped from BOTH numerator and
    denominator (a gram in 10^8 docs contributes nothing to the
    *fraction* signal beyond "duplicated", and its posting list
    hot-spots the gram-keyed shuffle).  Default None = exact stats over
    every gram (what the sf-scale oracle checks).

    Output: <id_col>, n_grams, n_dup_grams, dup_frac (6dp).
    """
    from pyspark.sql import Window

    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    # bind the token array as a column before shingling (r13): the
    # shingle transform's `slice(tok, i, k)` re-tokenized the document
    # per shingle position when `tok` rode along as an inline tree
    sh = shingles_expr(F.col("_tok"), k_shingle)
    grams = (
        df.select(F.col(id_col).alias("_id"), tok.alias("_tok"))
        .select("_id", F.explode(sh).alias("_g"))
        .select("_id", F.xxhash64("_g").alias("g"))
    )
    with_df = grams.withColumn(
        "doc_freq", F.count("*").over(Window.partitionBy("g"))
    )
    if df_cap is not None:
        with_df = with_df.filter(F.col("doc_freq") <= df_cap)
    per_doc = (
        with_df.groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (F.col("doc_freq") >= df_threshold).cast("bigint")
            ).alias("n_dup_grams"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_dup_grams").cast("bigint").alias("n_dup_grams"),
        F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
    )


def _passages(
    df: DataFrame, id_col: str | None, text_col: str, passage_tokens: int
) -> DataFrame:
    """Map-only passage enumeration shared by the full and incremental
    passage-dedup operators: one Generate, one xxhash64 per
    ``passage_tokens``-token window.  ``id_col=None`` emits a constant
    id (the index-build path needs only the hashes).  Output: _id, _i
    (0-based passage index), _p (64-bit passage hash)."""
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    id_expr = F.lit(0).cast("bigint") if id_col is None else F.col(id_col)
    base = df.select(id_expr.alias("_id"), tok.alias("_tok")).filter(
        F.size("_tok") > 0
    )
    n_pass = F.ceil(F.size("_tok") / F.lit(passage_tokens)).cast("int")
    return base.select(
        "_id", "_tok", F.explode(F.sequence(F.lit(0), n_pass - 1)).alias("_i")
    ).select(
        "_id",
        "_i",
        F.xxhash64(
            F.array_join(
                F.slice(
                    F.col("_tok"),
                    F.col("_i") * passage_tokens + 1,
                    passage_tokens,
                ),
                " ",
            )
        ).alias("_p"),
    )


def _passage_doc_stats(tagged: DataFrame, id_col: str) -> DataFrame:
    """Shared per-doc attrition rollup over (_id, _keep) passage rows."""
    return (
        tagged.groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_passages",
            "n_kept",
            (F.col("n_passages") - F.col("n_kept")).alias("n_dropped"),
            F.round(
                (F.col("n_passages") - F.col("n_kept")) / F.col("n_passages"), 6
            ).alias("drop_frac"),
        )
    )


def passage_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    passage_tokens: int = 16,
    max_occurrences: "int | None" = UNSET,
) -> DataFrame:
    """Sub-document (passage-level) exact dedup — the RefinedWeb /
    Falcon trick: drop REPEATED PASSAGES across the corpus (boilerplate
    headers, licenses, navigation chrome) even when whole documents are
    unique.  Documents split into consecutive ``passage_tokens``-token
    windows; each passage survives only at its FIRST corpus occurrence
    (minimum (doc, position)), every other occurrence is a drop.

    Plan shape (scale-safe at any corpus size):
      1. map-only passage generation (sequence + slice, one Generate);
      2. ONE shuffle on the 8-byte passage hash, where a window ranks
         each passage's occurrences — no join, no second corpus pass
         (the groupBy-then-join-back formulation was tried and
         rejected: Catalyst re-executes the generate pipeline on the
         probe side and, at small stats, broadcasts the corpus-sized
         first-occurrence table);
      3. one doc-keyed aggregate for the per-doc stats.
    Passages travel as xxhash64 keys (collision odds are the 64-bit
    birthday bound, the same trade ngram_jaccard_pairs documents).

    First-occurrence marking is an UNORDERED ``min(struct(doc, pos))``
    riding the same window spec as everything else — not a
    ``row_number``, which would force a second WindowExec with a full
    (hash, doc, pos) sort; the unordered form sorts on the partition
    key alone, so a hot passage's partition is buffered (spill-bounded)
    but never comparison-sorted.

    Skew fence — ``max_occurrences`` (the ``max_bucket_size`` /
    ``df_cap`` move for this family): a passage occurring more than
    the cap times corpus-wide is chrome/boilerplate, not content; with
    the cap set, NO copy of it is kept (it counts as dropped
    everywhere, first occurrence included).  Keeping one copy of a
    10^6×-repeated license paragraph adds nothing to a training set,
    and granting it would make the hot partition's exact global-first
    determination load-bearing.  Left unset, the fence follows the profile: OFF by default (exact published semantics), the production cap under the strict profile (operators/fences.py); an explicit ``None`` keeps it off unconditionally — unfenced, the exact
    first-occurrence-wins semantics hold for every passage.  With a
    telemetry collector armed, this fence's count is a separate
    aggregate branch that re-enumerates the corpus passages — one
    extra pass per armed run (see :mod:`.telemetry`); unarmed, the
    cap lives inside the main job's WindowExec at zero extra cost.

    Output: <id_col>, n_passages, n_kept, n_dropped, drop_frac (6dp).
    """
    max_occurrences = _resolve_fence(
        "max_occurrences", max_occurrences, "passage_dedup_stats"
    )
    exploded = _passages(df, id_col, text_col, passage_tokens)
    # first occurrence = minimum (doc, position) within the passage's
    # window — an unordered aggregate over the single hash exchange
    from pyspark.sql.window import Window

    w = Window.partitionBy("_p")
    keep = F.struct("_id", "_i") == F.min(F.struct("_id", "_i")).over(w)
    if max_occurrences is not None:
        telemetry.record_fence(
            "passage_dedup_stats",
            "max_occurrences",
            exploded.groupBy("_p").count().filter(
                F.col("count") > max_occurrences
            ),
            rows_col="count",
        )
        keep = keep & (F.count("*").over(w) <= max_occurrences)
    tagged = exploded.select("_id", keep.alias("_keep"))
    return _passage_doc_stats(tagged, id_col)


def passage_hash_index(
    df: DataFrame, text_col: str, passage_tokens: int = 16
) -> DataFrame:
    """Build the stored passage-hash index a corpus persists at ingest
    so later batches can run :func:`passage_dedup_incremental` without
    re-enumerating history — the passage-tier analog of the digest
    index behind :func:`exact_dedup_incremental`, the stored
    signatures behind :func:`lsh_incremental_pairs`, and the window
    index behind :func:`duplicated_spans_incremental`.

    One map-only passage enumeration + a groupBy on the 8-byte hash —
    map-side partial aggregation collapses a hot passage's occurrences
    per task.  Store it bucketed by ``passage_hash`` (``bucketBy``)
    and the daily batch's probe join needs no index-side shuffle.

    Output: passage_hash, n_occurrences.
    """
    wins = _passages(df, None, text_col, passage_tokens)
    return wins.groupBy(F.col("_p").alias("passage_hash")).agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


def append_digest_index(index_df: DataFrame, fresh_df: DataFrame) -> DataFrame:
    """Day-N index maintenance for the EXACT tier: append the batch's
    accepted digests to the stored digest index.

    ``fresh_df`` is the output of :func:`exact_dedup_incremental` (or
    the bloom tier) — disjoint from the index by construction (the
    anti-join removed everything already stored) and distinct within
    the batch (the groupBy collapsed copies) — so this is a pure
    ``unionByName``: ZERO shuffle, no distinct, no index pass.  Write
    the result back bucketed by ``text_hash`` (or ``MERGE INTO`` on a
    transactional format) and the next day's probe join stays
    index-shuffle-free.  Output: text_hash.

    NULL digests (NULL ``text``): standard SQL join semantics apply
    end-to-end — a NULL key never matches an anti-join, so a stored
    NULL digest does NOT suppress a later batch's NULL-text group
    (each batch re-accepts its own, exactly as the DuckDB oracle
    does).  The fold invariant "each text accepted once" therefore
    holds for every NON-NULL text; corpora where NULL text is
    possible should filter it upstream of the dedup ladder.
    """
    return index_df.select("text_hash").unionByName(
        fresh_df.select("text_hash")
    )


def _merge_count_index(
    index_df: DataFrame, batch_idx: DataFrame, hash_col: str
) -> DataFrame:
    """Additively merge a batch's (hash, n_occurrences) aggregate into
    the stored index via a full-outer join on the hash — with the
    index stored bucketed by ``hash_col``, only the batch side
    shuffles (a union+re-groupBy would re-shuffle the whole index);
    on a transactional format this lowers to one additive
    ``MERGE INTO``."""
    i, b = index_df.alias("_i"), batch_idx.alias("_b")
    return i.join(b, F.col(f"_i.{hash_col}") == F.col(f"_b.{hash_col}"), "full_outer").select(
        F.coalesce(F.col(f"_i.{hash_col}"), F.col(f"_b.{hash_col}")).alias(hash_col),
        (
            F.coalesce(F.col("_i.n_occurrences"), F.lit(0))
            + F.coalesce(F.col("_b.n_occurrences"), F.lit(0))
        ).cast("bigint").alias("n_occurrences"),
    )


@dataclass(frozen=True)
class WindowHashIndex:
    """A span-tier count index PLUS the window width it was built with.

    Mirrors :class:`~.bloom.BloomBitmap`: a bare (win_hash,
    n_occurrences) frame is only safe to fold or probe with the exact
    ``k`` that enumerated it — folding a k=4 batch into a k=8 index
    type-checks but silently merges two incompatible hash spaces,
    corrupting every occurrence count.  Persist THIS pair as the
    stored artifact (the frame bucketed by ``win_hash``, ``k`` in the
    table properties / sidecar) so consumers fold and probe with the
    matching width by construction instead of by convention.
    """

    df: DataFrame
    k: int

    def __post_init__(self):
        if self.k < 1:
            raise ValueError("k must be >= 1")


@dataclass(frozen=True)
class PassageHashIndex:
    """Passage-tier analog of :class:`WindowHashIndex`: the stored
    (passage_hash, n_occurrences) frame plus the ``passage_tokens``
    width that enumerated it."""

    df: DataFrame
    passage_tokens: int

    def __post_init__(self):
        if self.passage_tokens < 1:
            raise ValueError("passage_tokens must be >= 1")


def window_hash_index_artifact(
    df: DataFrame, text_col: str, k: int = 8
) -> WindowHashIndex:
    """Like :func:`window_hash_index` but returns the parameter-carrying
    :class:`WindowHashIndex` — the form to PERSIST as a stored
    artifact (same move as :func:`~.bloom.bloom_filter_bitmap`)."""
    return WindowHashIndex(window_hash_index(df, text_col, k), k)


def passage_hash_index_artifact(
    df: DataFrame, text_col: str, passage_tokens: int = 16
) -> PassageHashIndex:
    """Like :func:`passage_hash_index` but returns the
    parameter-carrying :class:`PassageHashIndex` artifact."""
    return PassageHashIndex(
        passage_hash_index(df, text_col, passage_tokens), passage_tokens
    )


def _adopt_index_params(
    index, artifact_cls, attr: str, explicit, default
):
    """Resolve (frame, param) from a bare frame or a param-carrying
    artifact.  An artifact's stored param WINS; an explicit call-site
    value that contradicts it raises instead of silently merging two
    enumeration spaces (the BloomBitmap contract)."""
    if isinstance(index, artifact_cls):
        stored = getattr(index, attr)
        if explicit is not None and explicit != stored:
            raise ValueError(
                f"{artifact_cls.__name__} was built with {attr}={stored}; "
                f"call-site {attr}={explicit} would merge incompatible "
                "hash spaces — drop the argument or rebuild the index"
            )
        return index.df, stored
    return index, default if explicit is None else explicit


def update_window_hash_index(
    index_df: DataFrame | WindowHashIndex,
    new_df: DataFrame,
    text_col: str,
    k: int | None = None,
) -> DataFrame | WindowHashIndex:
    """Day-N maintenance for the SPAN tier: fold a new batch into the
    stored :func:`window_hash_index` (additive occurrence counts).
    One batch window enumeration + one batch-sized merge join; the
    invariant ``update(index(day1), day2) == index(day1 ∪ day2)`` is
    exact (integer counts).  Output: win_hash, n_occurrences.

    Pass the :class:`WindowHashIndex` artifact and the stored ``k``
    rides along (a contradictory explicit ``k`` raises; the fold
    returns a refreshed artifact so provenance survives the chain).
    A bare frame still folds with the call-site ``k`` (default 8) —
    the legacy form whose parameter agreement is only conventional.
    """
    frame, kk = _adopt_index_params(index_df, WindowHashIndex, "k", k, 8)
    folded = _merge_count_index(
        frame, window_hash_index(new_df, text_col, kk), "win_hash"
    )
    if isinstance(index_df, WindowHashIndex):
        return WindowHashIndex(folded, kk)
    return folded


def update_passage_hash_index(
    index_df: DataFrame | PassageHashIndex,
    new_df: DataFrame,
    text_col: str,
    passage_tokens: int | None = None,
) -> DataFrame | PassageHashIndex:
    """Day-N maintenance for the PASSAGE tier: fold a new batch into
    the stored :func:`passage_hash_index` (additive counts), same
    merge shape — and same artifact contract — as
    :func:`update_window_hash_index`.
    Output: passage_hash, n_occurrences."""
    frame, pt = _adopt_index_params(
        index_df, PassageHashIndex, "passage_tokens", passage_tokens, 16
    )
    folded = _merge_count_index(
        frame, passage_hash_index(new_df, text_col, pt), "passage_hash"
    )
    if isinstance(index_df, PassageHashIndex):
        return PassageHashIndex(folded, pt)
    return folded


def passage_dedup_incremental(
    new_df: DataFrame,
    index_df: DataFrame | PassageHashIndex,
    id_col: str,
    text_col: str,
    passage_tokens: int | None = None,
    max_occurrences: "int | None" = UNSET,
) -> DataFrame:
    """Incremental passage dedup: attrition stats for a NEW batch
    against a stored :func:`passage_hash_index` of the historical
    corpus — the daily-crawl path for the passage tier, completing the
    incremental story across all four dedup granularities (whole-doc
    exact, whole-doc LSH, spans, passages).  History is touched only
    through its hash index; the corpus is never re-enumerated.

    TEMPORAL-first semantics (the natural incremental reading): a
    passage already in the index had its kept copy at ingest time, so
    every batch occurrence is a drop; a passage NEW to the corpus
    keeps its batch-first (min (doc, pos)) occurrence.
    ``max_occurrences`` caps on the TOTAL (batch + historical) count —
    above it, NO copy is kept, the same boilerplate policy as
    :func:`passage_dedup_stats`.  With a telemetry collector armed,
    the fence count re-runs the batch enumeration + index join — one
    extra batch-sized pass per armed run (see :mod:`.telemetry`).

    Plan shape, batch-sized on the batch side: map-only passage
    enumeration → ONE batch-hash exchange (count + min-struct first
    marker, unordered) → equi-join the index on the 8-byte hash
    (broadcast while the index is small; with the index stored
    bucketed by ``passage_hash`` only the batch side shuffles at
    scale) → one doc-keyed aggregate.  Old×old passages are never
    re-ranked.

    Output: <id_col>, n_passages, n_kept, n_dropped, drop_frac (6dp).
    """
    from pyspark.sql.window import Window

    index_df, passage_tokens = _adopt_index_params(
        index_df, PassageHashIndex, "passage_tokens", passage_tokens, 16
    )
    max_occurrences = _resolve_fence(
        "max_occurrences", max_occurrences, "passage_dedup_incremental"
    )
    exploded = _passages(new_df, id_col, text_col, passage_tokens)
    w = Window.partitionBy("_p")
    first = F.struct("_id", "_i") == F.min(F.struct("_id", "_i")).over(w)
    bcnt = F.count("*").over(w)
    counted = exploded.select(
        "_id", "_p", first.alias("_first"), bcnt.alias("_bcnt")
    )
    idx = index_df.select(
        F.col("passage_hash").alias("_p"),
        F.col("n_occurrences").cast("bigint").alias("_hist"),
    )
    joined = counted.join(idx, "_p", "left")
    keep = F.col("_first") & F.col("_hist").isNull()
    if max_occurrences is not None:
        total = F.col("_bcnt") + F.coalesce(F.col("_hist"), F.lit(0))
        telemetry.record_fence(
            "passage_dedup_incremental",
            "max_occurrences",
            joined.filter(total > max_occurrences).groupBy("_p").count(),
            rows_col="count",
        )
        keep = keep & (total <= max_occurrences)
    tagged = joined.select("_id", keep.alias("_keep"))
    return _passage_doc_stats(tagged, id_col)


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = False,
    max_occurrences: "int | None" = UNSET,
) -> DataFrame:
    """ExactSubstr-style cross-corpus duplicated-SPAN detection
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): every length-``k`` token window that occurs
    ``min_count``+ times ANYWHERE in the corpus (other docs or the
    same doc) is duplicated text; overlapping duplicated windows are
    merged into maximal spans per document, the unit ExactSubstr
    *removes* (vs whole-doc fuzzy dedup, which keeps or drops).

    Plan shape (the suffix-array equivalent, re-expressed as joins-free
    windowed SQL):

    1. map-only window enumeration — ``transform(sequence(...))`` +
       ``posexplode``, one hash per window, inside codegen;
    2. ONE hash-keyed exchange: ``count(*) OVER (PARTITION BY hash)``
       marks repeated windows without a groupBy+join-back (the
       join-back shape would re-execute the enumeration — the
       passage-dedup lesson);
    3. ONE doc-keyed exchange: gaps-and-islands merge of surviving
       windows (running-max-end break flags → island ids → min/max
       per island).  The final groupBy reuses the doc partitioning
       (grouping keys are a superset of the partition key).

    At 100 TB the window table is ~token count — the hash exchange is
    the honest cost of exact-substring semantics; the cnt >= min_count
    filter cuts rows before the (much smaller) doc-keyed exchange.
    Window identity is Spark ``xxhash64`` (the oracle uses MD5): only
    hash EQUALITY CLASSES matter, and 64-bit false-dup windows are
    ~(W^2/2)/2^64 — a 0.00003% span false-positive rate at 1e13
    windows, the standard trade vs a true suffix array.

    ``keep_first=True`` switches to the paper's removal rule — "all
    but one occurrence": the globally-FIRST occurrence of each window
    (min (doc, pos), an UNORDERED ``min(struct)`` riding the SAME
    window spec as the count — one WindowExec, partition-key-only
    sort, vs the ``row_number`` form's second WindowExec with a full
    (hash, doc, pos) sort) becomes a PROTECTED span instead of a
    duplicated one, and the output gains a ``protected`` boolean
    column.  Overlapping
    self-repeats make the two classes overlap ("a a a a", k=2: the
    kept window [0,2) shares token 1 with the copy [1,3)); removal
    must therefore subtract protected spans at TOKEN level —
    :func:`remove_duplicated_spans` does — so at least the first
    occurrence always survives.  Both classes merge islands inside one
    (doc, class)-keyed window, same exchange count as the default
    mode.  Default False reports every occurrence — the telemetry
    view — with no ``protected`` column.

    Skew fence — ``max_occurrences`` (this family's ``max_bucket_size``
    / ``df_cap``): a window-hash occurring more than the cap times
    corpus-wide is boilerplate chrome (license paragraphs, nav
    headers), and in ``keep_first`` mode its occurrences short-circuit
    straight to "duplicated" with NO protected copy — removed
    everywhere.  The paper's all-but-one rule keeps one copy at an
    arbitrary global position; for a 10^8×-repeated paragraph that
    copy is worthless training text, and exempting hot hashes from
    protection means the hot partition's output no longer depends on
    an exact global-first determination.  Requires
    ``max_occurrences >= min_count``; left unset, the fence follows the profile: OFF by default (exact published semantics), the production cap under the strict profile (operators/fences.py); an explicit ``None`` keeps it off unconditionally — unfenced, the
    exact paper rule holds for every window.  Detect-all mode ignores the cap
    (every occurrence is already reported symmetrically).  With a
    telemetry collector armed, the fence count re-enumerates the
    corpus windows — one extra pass per armed run (see
    :mod:`.telemetry`); unarmed, the cap is WindowExec-internal.

    Output: one row per maximal span — id, span_start (0-based token
    index), span_end (exclusive), span_tokens [, protected].
    """
    from pyspark.sql.window import Window

    max_occurrences = _resolve_fence(
        "max_occurrences", max_occurrences, "duplicated_spans"
    )
    if max_occurrences is not None and max_occurrences < min_count:
        raise ValueError(
            "max_occurrences must be >= min_count (a capped window is "
            "still a duplicated one)"
        )
    wins = _span_windows(df, id_col, text_col, k)
    w_hash = Window.partitionBy("_h")
    cnt = F.count("*").over(w_hash)
    if keep_first:
        # global first = min (doc, pos): an unordered aggregate on the
        # SAME window spec as the count — one WindowExec, no ranking sort
        prot = F.struct("_id", "_p") == F.min(F.struct("_id", "_p")).over(w_hash)
        if max_occurrences is not None:
            telemetry.record_fence(
                "duplicated_spans",
                "max_occurrences",
                wins.groupBy("_h").count().filter(
                    F.col("count") > max_occurrences
                ),
                rows_col="count",
            )
            prot = prot & (cnt <= max_occurrences)
    else:
        prot = F.lit(False)
    dups = (
        wins.select(
            "_id", "_p", (cnt >= min_count).alias("_d"), prot.alias("_prot")
        )
        .filter("_d")
        .select("_id", F.col("_p").cast("bigint").alias("_p"), "_prot")
    )
    spans = _merge_span_islands(dups, id_col, k)
    return spans if keep_first else spans.drop("protected")


def _span_windows(
    df: DataFrame, id_col: str | None, text_col: str, k: int
) -> DataFrame:
    """Map-only k-token window enumeration shared by the span family:
    one xxhash64 per window via transform(sequence) + posexplode, all
    inside codegen.  ``id_col=None`` emits a constant id (the
    index-build path needs only the hashes — same convention as
    :func:`_passages`).  Output: _id, _p (0-based pos), _h (hash)."""
    df = ensure_parallelism(df)
    tok = tokens_expr(F.col(text_col))
    id_expr = F.lit(0).cast("bigint") if id_col is None else F.col(id_col)
    base = df.select(id_expr.alias("_id"), tok.alias("_tok")).filter(
        F.size("_tok") >= k
    )
    return base.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_tok") - F.lit(k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_tok", i, k))),
            )
        ).alias("_p", "_h"),
    )


def _merge_span_islands(dups: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated window positions into
    maximal spans, shared by the batch and incremental span operators.

    ``dups``: _id, _p (bigint), _prot.  Islands merge WITHIN each
    (doc, class): removal subtracts the protected union from the
    duplicated union token-wise, so merging per class loses nothing.
    The window partitions by DOC only (classes are contiguous under
    the (_prot, _p) order, and the running ends are class-conditional)
    so downstream per-doc aggregates — the removal step's span-array
    groupBy — reuse this exchange instead of adding one on
    (_id, _prot).  Output keeps the ``protected`` column; callers in
    detect-all mode drop it."""
    from pyspark.sql.window import Window

    w_doc = Window.partitionBy("_id").orderBy("_prot", "_p")
    prev = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    end_false = F.max(
        F.when(~F.col("_prot"), F.col("_p") + F.lit(k))
    ).over(prev)
    end_true = F.max(
        F.when(F.col("_prot"), F.col("_p") + F.lit(k))
    ).over(prev)
    prev_end = F.when(F.col("_prot"), end_true).otherwise(end_false)
    brk = (F.col("_p") >= F.coalesce(prev_end, F.lit(-1))).cast("bigint")
    marked = dups.select("_id", "_p", "_prot", brk.alias("_brk"))
    island = F.sum("_brk").over(
        w_doc.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        marked.select("_id", "_p", "_prot", island.alias("_isl"))
        .groupBy("_id", "_prot", "_isl")
        .agg(
            F.min("_p").alias("span_start"),
            (F.max("_p") + F.lit(k)).cast("bigint").alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
            F.col("_prot").alias("protected"),
        )
    )


def window_hash_index(df: DataFrame, text_col: str, k: int = 8) -> DataFrame:
    """Build the stored window-hash index a corpus persists at ingest
    so later batches can run :func:`duplicated_spans_incremental`
    without re-windowing history — the span-tier analog of the digest
    index behind :func:`exact_dedup_incremental` and the stored
    signatures behind :func:`lsh_incremental_pairs`.

    One map-only window enumeration + a groupBy on the 8-byte hash —
    map-side partial aggregation collapses a hot window's occurrences
    per task, so no reducer sees a pathological key's full row set.
    Store it bucketed by ``win_hash`` (``bucketBy``) and the daily
    batch's probe join needs no index-side shuffle at all.

    Output: win_hash, n_occurrences.
    """
    # Reuse the EXACT window expression the batch side enumerates with
    # (_span_windows) — any drift between the two would silently make
    # every batch hash miss the index, classifying all history as new.
    wins = _span_windows(df, None, text_col, k)
    return wins.groupBy(F.col("_h").alias("win_hash")).agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


def duplicated_spans_incremental(
    new_df: DataFrame,
    index_df: DataFrame | WindowHashIndex,
    id_col: str,
    text_col: str,
    k: int | None = None,
    min_count: int = 2,
    keep_first: bool = False,
    max_occurrences: "int | None" = UNSET,
) -> DataFrame:
    """Incremental ExactSubstr: duplicated spans for a NEW batch
    against a stored :func:`window_hash_index` of the historical
    corpus, plus within-batch repeats — the daily-crawl path that
    completes the incremental story for all three dedup granularities
    (whole-doc :func:`exact_dedup_incremental`, near-dup
    :func:`lsh_incremental_pairs`, and now spans).  History is touched
    only through its hash index; the corpus is never re-windowed.

    A batch window is duplicated when its batch occurrences plus its
    stored ``n_occurrences`` reach ``min_count``.  ``keep_first=True``
    applies the all-but-one rule with TEMPORAL-first semantics, the
    natural incremental reading: a window already in the index had its
    kept copy at ingest time, so every batch occurrence is duplicated
    and unprotected; a window NEW to the corpus protects its
    batch-first (min (doc, pos)) occurrence.  ``max_occurrences`` caps
    on the TOTAL (batch + historical) count, same boilerplate policy
    as :func:`duplicated_spans`.  With a telemetry collector armed,
    the fence count re-runs the batch enumeration + index join — one
    extra batch-sized pass per armed run (see :mod:`.telemetry`).

    Plan shape, batch-sized on the batch side: map-only window
    enumeration → ONE batch-hash exchange (count + min-struct first
    marker, unordered) → equi-join the index on the 8-byte hash
    (broadcast while the index is small; with the index stored
    bucketed by ``win_hash`` only the batch side shuffles at scale) →
    the shared doc-keyed islands merge.  Old×old spans are never
    enumerated — that is the point.

    Output: one row per maximal batch-doc span — id, span_start,
    span_end, span_tokens [, protected].
    """
    from pyspark.sql.window import Window

    max_occurrences = _resolve_fence(
        "max_occurrences", max_occurrences, "duplicated_spans_incremental"
    )
    if max_occurrences is not None and max_occurrences < min_count:
        raise ValueError(
            "max_occurrences must be >= min_count (a capped window is "
            "still a duplicated one)"
        )
    index_df, k = _adopt_index_params(index_df, WindowHashIndex, "k", k, 8)
    wins = _span_windows(new_df, id_col, text_col, k)
    w_hash = Window.partitionBy("_h")
    cnt = F.count("*").over(w_hash)
    first = F.struct("_id", "_p") == F.min(F.struct("_id", "_p")).over(w_hash)
    counted = wins.select(
        "_id", "_p", "_h", cnt.alias("_bcnt"), first.alias("_first")
    )
    idx = index_df.select(
        F.col("win_hash").alias("_h"),
        F.col("n_occurrences").cast("bigint").alias("_hist"),
    )
    joined = counted.join(idx, "_h", "left")
    total = F.col("_bcnt") + F.coalesce(F.col("_hist"), F.lit(0))
    if keep_first:
        prot = F.col("_hist").isNull() & F.col("_first")
        if max_occurrences is not None:
            telemetry.record_fence(
                "duplicated_spans_incremental",
                "max_occurrences",
                joined.filter(total > max_occurrences).groupBy("_h").count(),
                rows_col="count",
            )
            prot = prot & (total <= max_occurrences)
    else:
        prot = F.lit(False)
    dups = (
        joined.select(
            "_id", "_p", (total >= min_count).alias("_d"), prot.alias("_prot")
        )
        .filter("_d")
        .select("_id", F.col("_p").cast("bigint").alias("_p"), "_prot")
    )
    spans = _merge_span_islands(dups, id_col, k)
    return spans if keep_first else spans.drop("protected")


def remove_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    keep_first: bool = False,
) -> DataFrame:
    """Apply :func:`duplicated_spans` — rebuild each document WITHOUT
    the tokens inside its duplicated spans (the ExactSubstr removal
    step).  With detect-all spans every copy is dropped; with
    ``keep_first=True`` spans (which carry a ``protected`` column) a
    token is removed only if a duplicated span covers it AND no
    protected span does — the token-level subtraction that guarantees
    the kept first occurrence survives even when self-overlapping
    repeats make the two classes overlap ("a a a a", k=2 keeps
    exactly one "a a").

    Plan: spans are aggregated to per-doc ``array<struct<s,e>>``
    columns (tiny — rows exist only for docs WITH spans) and joined
    back; the token filter is a single indexed higher-order ``filter``
    with ``exists`` probes per token, entirely inside codegen.  Docs
    with no spans pass through the left join unchanged.  One spans
    aggregate + one doc_id equi-join on top of the audited spans plan;
    the rebuild itself is map-only.

    Pass ``keep_first=True`` when the spans came from
    ``duplicated_spans(..., keep_first=True)``: it REQUIRES the
    ``protected`` column, so a projection that silently dropped it
    (which would delete the kept copies) fails loudly instead.

    Output: id, n_tokens, n_removed, cleaned_text.
    """
    df = ensure_parallelism(df)
    has_prot = "protected" in spans.columns
    if keep_first and not has_prot:
        raise ValueError(
            "keep_first removal requires the 'protected' span column "
            "(was it projected away after duplicated_spans(..., "
            "keep_first=True)?)"
        )
    prot_col = F.col("protected") if has_prot else F.lit(False)
    span_struct = F.struct(
        F.col("span_start").alias("s"), F.col("span_end").alias("e")
    )
    # collect_list skips NULLs, so each class collapses to its own array
    sp = spans.groupBy(F.col(id_col).alias("_id")).agg(
        F.collect_list(F.when(~prot_col, span_struct)).alias("_spans"),
        F.collect_list(F.when(prot_col, span_struct)).alias("_keep"),
    )
    # NULL text -> empty token array (size(NULL) and concat_ws(NULL)
    # would otherwise leak engine-specific null semantics)
    tok = F.coalesce(
        tokens_expr(F.col(text_col)), F.array().cast("array<string>")
    )
    base = df.select(F.col(id_col).alias("_id"), tok.alias("_tok"))
    joined = base.join(sp, "_id", "left")

    def _covered(arr: str, i):
        return F.exists(
            F.col(arr), lambda sp_: (i >= sp_["s"]) & (i < sp_["e"])
        )

    # indexed HOF filter: token i is removed iff a duplicated span
    # covers it and no protected span does (filter's (x, i) lambda
    # exposes the 0-based element index)
    kept = F.when(F.col("_spans").isNull(), F.col("_tok")).otherwise(
        F.filter(
            F.col("_tok"),
            lambda x, i: ~_covered("_spans", i) | _covered("_keep", i),
        )
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_tok").cast("bigint").alias("n_tokens"),
        (F.size("_tok") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )
