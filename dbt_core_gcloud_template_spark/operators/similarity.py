"""Similarity search over embedding columns (north-star; SURVEY.md §7.6).

Two tiers:

- **Brute-force cosine top-k** — the correctness baseline.  Query
  vectors are broadcast (they're the small side by construction); the
  scan side computes dot products with array higher-order functions
  (zip_with + aggregate) entirely in the JVM, then a per-query window
  takes top-k.  At 100 TB this is one pass over the corpus with no
  shuffle except the final per-query top-k (k rows per partition via
  AQE partial top-k).
- **Random-hyperplane LSH buckets** — the scale path.  Each vector maps
  to a b-bit bucket id (map-only); ANN search = brute force within the
  probe's bucket (and optionally neighboring buckets).  Hyperplane
  weights derive deterministically from MD5 so the DuckDB oracle
  reproduces bucket assignments bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_int28_py
from ..sources.registry import ensure_parallelism
from . import telemetry
from .fences import UNSET, resolve as _resolve_fence

# Above this many constant doubles (k*dim centroids, out_dim*dim JL
# signs), a matrix stops riding the plan as a LITERAL array: Catalyst
# analysis cost and plan size scale with the literal count (k=4096
# lists x dim=768 ~ 3.1M literal nodes — minutes of analysis and a
# plan too big to ship), so past the threshold the same array travels
# as DATA instead — one broadcast row crossJoined onto the scan.  Both
# strategies are map-only over the corpus (no shuffle) and share the
# per-row arithmetic, so results are bit-identical.
MAX_LITERAL_CENTROIDS = 65536


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _sql_double(x: float) -> str:
    """Render a Python float as a Spark SQL DOUBLE literal that parses
    to the bit-identical value ``F.lit(x)`` would produce (shortest
    repr round-trips exactly through Java's Double.parseDouble).

    Why strings: assembling a k×dim constant matrix through the column
    DSL costs one py4j round trip PER ``F.lit`` — ~0.5 s of pure driver
    time per query construction at 8×64, paid again on every bench run
    and every Lloyd iteration.  One ``F.expr`` over a pre-rendered
    string is a single round trip + one parser call (guide §1.2 step 2:
    per-task/driver work; measured in OPTIMIZATION_r13.md)."""
    v = float(x)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    r = repr(v)
    if "e" in r or "E" in r:
        return f"CAST('{r}' AS DOUBLE)"
    return r + "D"


def _sql_double_array(vals) -> str:
    """``array(<double literals>)`` SQL fragment (see :func:`_sql_double`)."""
    return "array(" + ",".join(_sql_double(x) for x in vals) + ")"


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _norm_py(vec) -> float:
    """Driver-side :func:`_norm`: the same sequential fold from 0.0,
    so the double is bit-identical to the column expression's."""
    acc = 0.0
    for x in vec:
        acc += x * x
    return math.sqrt(acc)


def _cos_div(num, den):
    """Total cosine division: ``try_divide`` yields NULL instead of an
    ANSI DIVIDE_BY_ZERO error on a zero divisor.  Zero-norm rows are
    already removed by :func:`_valid_vectors`, but Catalyst's
    InferFiltersFromConstraints can push an inferred
    ``isnotnull(<derived col>)`` predicate THROUGH the projection and
    evaluate the inlined division ahead of the validity filter's
    conjunct — with a raising `/` that kills the job on dirty rows the
    query would never emit.  On every valid row the result is
    bit-identical to plain division."""
    return F.try_divide(num, den)


def _valid_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Drop rows for which cosine geometry is undefined: NULL ids, NULL
    or empty arrays, and all-zero vectors (norm 0 → division by zero,
    a hard error under ANSI mode).  Dirty rows like these are routine
    in a 100 TB corpus and must not kill the job; they cannot be a
    neighbor of anything, so dropping is the only correct semantics.
    Map-only filter — clean inputs pass through unchanged."""
    v = F.col(vec_col)
    return df.filter(
        F.col(id_col).isNotNull()
        & v.isNotNull()
        & (F.size(v) > 0)
        & (
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
            > 0
        )
    )


def _topk_per_query(
    scored: DataFrame, id_col: str, k: int, score_col: str = "cosine"
) -> DataFrame:
    """TWO-PHASE per-query top-k (the distributed-heap pattern).

    A window partitioned by q_id concentrates the ENTIRE scored
    candidate set onto |queries| reducers and sorts it there — the
    parallelism collapse that kills brute-force/ANN scoring at scale.
    Instead each scan partition reduces to its own local top-k per
    query (group key (q_id, partition_id): sort state bounded by
    partition size, shuffle spread over queries × partitions keys),
    and a second tiny aggregation merges the ≤ partitions·k candidates
    per query.  Only narrow (q_id, id, score) rows ever shuffle.

    ``scored`` must have columns (q_id, <id_col>, <score_col>).
    Output: q_id, <id_col>, <score_col>, rank — deterministic via
    (score desc, id asc) ordering, identical to
    ``row_number() OVER (PARTITION BY q_id ORDER BY score DESC, id)``.
    """
    packed = scored.select(
        "q_id",
        F.struct(
            (-F.col(score_col)).alias("_neg"), F.col(id_col).alias("_id")
        ).alias("_s"),
    )
    local = packed.groupBy("q_id", F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list("_s")), 1, k).alias("_top")
    )
    merged = local.groupBy("q_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, k).alias("_top")
    )
    return merged.select("q_id", F.posexplode("_top").alias("_pos", "_s")).select(
        "q_id",
        F.col("_s._id").alias(id_col),
        # + 0.0 normalizes the IEEE -0.0 a double negation can produce
        (-F.col("_s._neg") + F.lit(0.0)).alias(score_col),
        (F.col("_pos") + 1).alias("rank"),
    )


def cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id, via the
    two-phase distributed top-k (see :func:`_topk_per_query`) — the
    embedding arrays are dropped map-side, so only narrow scored rows
    shuffle.

    Scoring stays on `_dot`/`_norm` higher-order functions by design:
    unrolling the dot product into a flat expression tree was tried
    and REJECTED — at dim=64 the generated method exceeds Janino's
    64 KB limit, codegen fails, and the whole stage falls back to
    interpreted execution (measured 10× SLOWER than the HOF form).

    Output: q_id, <id_col>, cosine (6dp), rank — deterministic via
    (cosine desc, id) ordering.
    """
    base = (
        ensure_parallelism(_valid_vectors(emb, id_col, vec_col))
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        # norm hoisted: one fold per corpus row, not one per (row, query)
        .withColumn("_n", _norm(F.col("_v")))
    )
    # The query block builds from its OWN pruned scan, not from `base`:
    # deriving it from base made the broadcast build execute the
    # ensure_parallelism round-robin exchange — a full corpus shuffle to
    # pick |query_ids| rows.  A direct scan pushes `id IN (...)` into
    # the parquet reader (PushedFilters → row-group skipping at scale)
    # and drops the exchange; the selected rows, cast, and norm
    # arithmetic are identical to the base-derived form.
    q = (
        _valid_vectors(emb, id_col, vec_col)
        .filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .select(
            F.col(id_col).alias("q_id"),
            F.col("_v").alias("_qv"),
            F.col("_n").alias("_qn"),
        )
    )
    joined = base.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("q_id"))
    cos = _cos_div(_dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn"))
    scored = joined.select("q_id", F.col(id_col), F.round(cos, 6).alias("cosine"))
    if len(set(query_ids)) == 1:
        # Single-query fast path (r14): global top-k IS
        # orderBy().limit(k) — TakeOrderedAndProject, per-partition
        # top-k merged on the driver, NO exchange — so the two
        # aggregation exchanges of the generic per-query path
        # disappear.  Same (cosine desc, id asc) total order, same
        # selected rows; `+ 0.0` normalizes a -0.0 cosine exactly like
        # the two-phase path's double negation does.
        top = scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)
        w = Window.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        return top.withColumn("rank", F.row_number().over(w)).select(
            "q_id",
            id_col,
            (F.col("cosine") + F.lit(0.0)).alias("cosine"),
            "rank",
        )
    return _topk_per_query(scored, id_col, k)


def quantize_int8(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-vector int8 scalar quantization (the standard ANN-index
    compression: 4× smaller than float32, public FAISS-style SQ8).

    Each vector stores (lo, hi, 256-level codes); dequantized value is
    ``lo + q·(hi-lo)/255``.  Map-only array expressions — quantizing a
    100 TB embedding table is one shuffle-free pass, and the codes
    column parquet-encodes to ~1 byte/dim.

    Rounding is ``floor(x + 0.5)`` — NOT round() — because IEEE
    half-even vs half-up disagreements between engines would flip codes
    on exact .5 boundaries; floor is exact in both.

    Output: <id_col>, n_dims, lo, hi (6dp), codes (array<int>),
    mse, max_abs_err (8dp reconstruction error).
    """
    base = ensure_parallelism(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    lo = F.array_min(F.col("_v"))
    hi = F.array_max(F.col("_v"))
    span = hi - lo
    scale = span / F.lit(255.0)
    codes = F.transform(
        F.col("_v"),
        lambda x: F.when(span > 0, F.floor((x - lo) / scale + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    with_codes = base.select(
        F.col(id_col),
        F.size("_v").alias("n_dims"),
        F.round(lo, 6).alias("lo"),
        F.round(hi, 6).alias("hi"),
        codes.alias("codes"),
        F.col("_v"),
        lo.alias("_lo"),
        scale.alias("_scale"),
    )
    err = F.zip_with(
        F.col("_v"),
        F.col("codes"),
        lambda x, q: x - (F.col("_lo") + q.cast("double") * F.col("_scale")),
    )
    mse = (
        F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e * e)
        / F.col("n_dims").cast("double")
    )
    max_abs = F.array_max(F.transform(err, lambda e: F.abs(e)))
    return with_codes.select(
        id_col,
        "n_dims",
        "lo",
        "hi",
        "codes",
        F.round(mse, 8).alias("mse"),
        F.round(max_abs, 8).alias("max_abs_err"),
    )


def hyperplane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5].

    w[i][j] = md5_int28(f"p{i}_d{j}") / 2^28 - 0.5 — reproducible from
    Python, Spark SQL, and DuckDB alike (the oracle embeds the literal
    values).
    """
    out = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = md5_int28_py(f"p{i}_d{j}")
            row.append(h / float(1 << 28) - 0.5)
        out.append(row)
    return out


def lsh_bucket_ids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
) -> DataFrame:
    """Assign each vector a sign-bucket id from n random hyperplanes.

    Map-only (one codegen pass); bucket id = Σ (dot(v, w_i) >= 0) << i.
    Output: <id_col>, bucket_id.
    """
    emb = ensure_parallelism(emb)
    v = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.col(id_col), _bucket_expr(v, n_planes, dim).alias("bucket_id")
    )


def _bucket_expr(v, n_planes: int, dim: int):
    """Sign-bucket id column for a double-array vector column:
    Σ (dot(v, w_i) >= 0) << i over the frozen MD5-derived hyperplanes
    (oracle-reproducible).  Pure map expression — shared by the bucket
    table, the near-dup prefilter, and the incremental path."""
    weights = hyperplane_weights(n_planes, dim)
    bucket = F.lit(0).cast("bigint")
    for i in range(n_planes):
        # weight row as ONE parsed expression, not dim F.lit round
        # trips (see _sql_double — the analyzed literals are identical)
        w_arr = F.expr(_sql_double_array(weights[i]))
        bit = F.when(_dot(v, w_arr) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("bigint") * F.lit(1 << i)
    return bucket


def label_centroids(
    emb: DataFrame,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Dimension-wise mean vector per label — the k-means update step /
    class-prototype computation, long form (one row per label, dim).

    posexplode fans each vector to (label, dim, component); the groupBy
    is ONE shuffle keyed on (label, dim) with full map-side combine.
    Components accumulate as DECIMAL(28,9) — float/double sums depend
    on partition order, so across-row aggregation must be exact for the
    result to be reproducible (same discipline as every float SUM in
    the oracle-gated queries); the division back to double happens once
    per group in a fixed order.

    Output: label, dim (0-based), centroid (6dp), n_vectors.
    """
    emb = ensure_parallelism(emb)
    comp = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<decimal(28,9)>")).alias("dim", "_x"),
    )
    return (
        comp.groupBy("label", "dim")
        .agg(
            F.round(F.sum("_x").cast("double") / F.count("*"), 6).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


def _stage_centroids(
    base: DataFrame,
    centroids: "list[list[float]] | DataFrame",
    max_literal_centroids: int = MAX_LITERAL_CENTROIDS,
    with_norm: bool = False,
) -> DataFrame:
    """Append ``_cents`` = the codebook as an array of ``(c_id, _cv)``
    structs sorted by ``c_id`` (plus the centroid norm ``_cn`` when
    ``with_norm``) to every row of ``base``.

    ``centroids`` is either the in-memory ``k x dim`` list (c_id = list
    index) or a centroid table with columns ``c_id``, ``_cv``.  A list
    of at most ``max_literal_centroids`` doubles rides the plan as ONE
    parsed literal expression (see :func:`_sql_double`); a larger list
    or a table travels as a one-row broadcast instead — the
    bloom-bitmap trick: big constants travel as DATA, not as plan
    literals.  Literal norms use the same sequential fold as
    :func:`_norm`, so the arithmetic is bit-identical either way.
    """
    if isinstance(centroids, DataFrame):
        cents_df = centroids
    else:
        if not centroids:
            raise ValueError(
                "centroids must be non-empty — an empty model cannot "
                "define an assignment"
            )
        if len(centroids) * len(centroids[0]) <= max_literal_centroids:

            def entry(i, c):
                norm = f",'_cn',{_sql_double(_norm_py(c))}" if with_norm else ""
                return f"named_struct('c_id',{int(i)},'_cv',{_sql_double_array(c)}{norm})"

            cents = ",".join(entry(i, c) for i, c in enumerate(centroids))
            return base.withColumn("_cents", F.expr(f"array({cents})"))
        cents_df = base.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "c_id int, _cv array<double>",
        )
    fields = [F.col("c_id"), F.col("_cv")]
    if with_norm:
        fields.append(_norm(F.col("_cv")).alias("_cn"))
    packed = cents_df.agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("_cents")
    )
    return base.crossJoin(F.broadcast(packed))


def _with_nearest_list(
    base: DataFrame,
    centroids: "list[list[float]] | DataFrame",
    vec_col: str = "_v",
    list_col: str = "list_id",
    max_literal_centroids: int = MAX_LITERAL_CENTROIDS,
) -> DataFrame:
    """Append ``list_col`` = id of the max-cosine centroid (6dp-rounded
    cosine, ties to the lower centroid id — the ivf_assign discipline)
    to ``base`` (which carries the vector as ``vec_col``) as a MAP-ONLY
    pass: the codebook (a ``k x dim`` list, or a table with columns
    ``c_id``, ``_cv``) is staged onto every row with its norms by
    :func:`_stage_centroids` — literals or one broadcast row, the rule
    :func:`_nearest_centroid` uses — and each corpus row takes an
    argmin over the staged array.

    This replaces the earlier crossJoin → row_number() formulation,
    which materialized corpus × k rows and hash-shuffled ALL of them by
    id for the window (guide §2.4: remove shuffles outright).  The
    cosine arithmetic is bit-identical: same sequential fold order per
    pair, and each centroid norm is computed once with the same fold
    the per-pair expression used.

    Ordering parity with ``ORDER BY round(cos, 6) DESC, c_id``
    including degenerate rows: NaN cosines sort FIRST (desc puts NaN
    above every number), NULL cosines LAST (desc NULLS LAST) — encoded
    in the leading group field of the argmin struct.  An EMPTY centroid
    table yields zero output rows, matching the inner-join semantics of
    the join formulation (and the oracles' CROSS JOIN).

    The intermediate ``_nv`` column (the row vector's norm, hoisted so
    the k per-centroid cosines share one fold) survives on the output —
    callers that need the norm reuse it; others drop it.
    """
    staged = _stage_centroids(
        base, centroids, max_literal_centroids, with_norm=True
    ).withColumn("_nv", _norm(F.col(vec_col)))

    def _entry(s):
        rcos = F.round(
            _cos_div(_dot(F.col(vec_col), s["_cv"]), F.col("_nv") * s["_cn"]),
            6,
        )
        return F.struct(
            F.when(rcos.isNull(), F.lit(2))
            .when(F.isnan(rcos), F.lit(0))
            .otherwise(F.lit(1))
            .alias("_g"),
            F.coalesce(-rcos, F.lit(0.0)).alias("_negcos"),
            s["c_id"].alias("_c"),
        )

    best = F.array_min(F.transform(F.col("_cents"), _entry))
    return (
        staged.filter(F.size(F.col("_cents")) > 0)
        .withColumn(list_col, best["_c"])
        .drop("_cents")
    )


def _centroid_source(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    centroids: "list[list[float]] | DataFrame | None",
) -> "list[list[float]] | DataFrame":
    """The codebook :func:`_with_nearest_list` assigns against: a
    ``k x dim`` list as given, a stored ``(c_id, vector)`` table as
    ``(c_id, _cv)``, or — for ``None`` — the ``n_lists`` smallest-id
    vectors as the stand-in.  The stand-in reads a DIRECT pruned scan
    of ``emb``, not the caller's ``ensure_parallelism`` frame: building
    the packed broadcast from that frame would execute its round-robin
    exchange — a corpus shuffle to select n_lists rows.  The id
    predicate pushes into the parquet reader; rows and cast are
    identical."""
    if centroids is None:
        return emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ).filter(F.col(id_col) < n_lists).select(
            F.col(id_col).alias("c_id"), F.col("_v").alias("_cv")
        )
    if isinstance(centroids, DataFrame):
        return centroids.select(
            F.col("c_id"), F.col("vector").cast("array<double>").alias("_cv")
        )
    return centroids


def ivf_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF inverted-list assignment: each vector joins the list of its
    nearest centroid (max cosine, ties to the lower centroid id).

    By default centroids are the vectors with the ``n_lists`` smallest
    ids — a deterministic stand-in for offline k-means training.  Pass
    the TRAINED centroid table as ``centroids`` (columns ``c_id``,
    ``vector`` — e.g. :func:`kmeans_fit` output pivoted to arrays, or
    any stored training artifact) to assign against a real model; the
    table is broadcast either way as ONE packed struct-array row and
    the assignment is a per-row argmin over it
    (:func:`_with_nearest_list`) — a map-only pass, no corpus-sized
    intermediate and no shuffle at any scale.

    Output: <id_col>, list_id.
    """
    base = ensure_parallelism(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    cents = _centroid_source(emb, id_col, vec_col, n_lists, centroids)
    return _with_nearest_list(base, cents).select(F.col(id_col), "list_id")


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    n_lists: int = 8,
    nprobe: int = 2,
    max_literal_centroids: int | None = None,
    centroids: "DataFrame | None" = None,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest inverted lists per query,
    brute-force cosine only within them.

    ``centroids`` (optional): a stored ``(c_id, vector)`` codebook —
    the production shape, the training artifact from the ingest job
    (:func:`kmeans_fit_replayable` / the engine's ``codebook`` stage).
    Default ``None`` keeps the ``id < n_lists`` stand-in (oracle-
    reproducible); the plan shape is identical either way — the
    codebook is collected to the driver (k rows, bounded by
    construction) and rides the scan as literals or one broadcast row.

    The scale path complement to :func:`lsh_ann_topk`: candidate count
    per query ≈ nprobe/n_lists of the corpus, reached via a broadcast
    of the probe set onto the corpus scan.

    The inverted-list assignment is computed INLINE on the scan, not by
    a join: centroids are collected to the driver (n_lists rows — at
    scale they come from an offline training job anyway) and embedded
    as literal vectors, so ``list_id`` is an argmax over an n_lists-
    element struct array per row.  The naive formulation (crossJoin
    corpus × centroids → row_number window → join assignment back)
    shuffles corpus×n_lists rows TWICE; this one shuffles the corpus
    zero times before the final top-k aggregation (local wall-clock is
    arithmetic-bound and unchanged; the win is the shuffle shape at
    cluster scale).  Centroid norms are precomputed driver-side with the same
    sequential-sum order the column expression uses, so the doubles
    are bit-identical to the window formulation (and the oracle).

    Output: q_id, <id_col>, cosine (6dp), rank.
    """
    base0 = (
        ensure_parallelism(_valid_vectors(emb, id_col, vec_col))
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        # norm hoisted to one per-row fold shared by all n_lists
        # centroid scores AND the final candidate cosine
        .withColumn("_n", _norm(F.col("_v")))
    )
    # Tiny-set derivations (stand-in centroids, query vectors) read a
    # DIRECT pruned scan, not base0 (r14): deriving them from base0
    # made the eager centroid collect and every probe-broadcast build
    # execute the ensure_parallelism round-robin exchange — a full
    # corpus shuffle to select a handful of ids.  The id predicates
    # push into the parquet reader instead (row-group skipping at
    # scale); selected rows, cast, and norm arithmetic are identical.
    pruned = (
        _valid_vectors(emb, id_col, vec_col)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
    )
    if centroids is not None:
        cent_rows = sorted(
            centroids.select(
                F.col("c_id").cast("int"),
                F.col("vector").cast("array<double>").alias("_v"),
            ).collect(),
            key=lambda r: (r[0] is None, r[0]),
        )
        # a stored codebook is a trusted artifact — a dirty row (NULL
        # id/vector, empty or zero-norm vector) means the artifact is
        # corrupt, so fail actionably here instead of with an opaque
        # TypeError in plan construction or a 0/0 downstream
        for r in cent_rows:
            vec = r["_v"]
            if (
                r[0] is None
                or vec is None
                or len(vec) == 0
                or any(x is None for x in vec)
                or not any(x != 0.0 for x in vec)
            ):
                raise ValueError(
                    "ivf_topk: invalid codebook row "
                    f"(c_id={r[0]!r}): centroid vectors must be "
                    "non-NULL, non-empty, and nonzero-norm"
                )
    else:
        cent_rows = sorted(
            pruned.filter(F.col(id_col) < n_lists).collect(),
            key=lambda r: r[0],
        )
    if not cent_rows:
        raise ValueError(
            "ivf_topk: empty centroid set — "
            + (
                "the supplied codebook has no rows"
                if centroids is not None
                else f"no centroid rows with {id_col} < {n_lists}"
            )
            + " — cannot define inverted lists"
        )
    nv = F.col("_n")
    # per-centroid rounded cosine, packed with -c_id so array_max picks
    # (max cosine, then min c_id) — identical to ORDER BY cos DESC, c_id.
    # Same plan-size ceiling as the L2 sites (MAX_LITERAL_CENTROIDS):
    # under the threshold the centroid vectors + norms ride as
    # literals; above it the same (c_id, vector, norm) structs travel
    # as ONE broadcast row — identical arithmetic (driver-side norms
    # use the same sequential-sum order either way).
    max_lits = (
        MAX_LITERAL_CENTROIDS
        if max_literal_centroids is None
        else max_literal_centroids
    )
    if len(cent_rows) * len(cent_rows[0]["_v"]) <= max_lits:
        scored_cents = F.array(
            *[
                F.struct(
                    F.round(
                        _cos_div(
                            # centroid as ONE parsed expression, not
                            # dim F.lit round trips (see _sql_double)
                            _dot(F.col("_v"), F.expr(_sql_double_array(r["_v"]))),
                            nv * F.lit(_norm_py(r["_v"])),
                        ),
                        6,
                    ).alias("cos"),
                    F.lit(-int(r[0])).alias("neg_id"),
                )
                for r in cent_rows
            ]
        )
        base = base0.withColumn("list_id", -F.array_max(scored_cents)["neg_id"])
    else:
        packed = base0.sparkSession.createDataFrame(
            [(
                [
                    (
                        int(r[0]),
                        [float(x) for x in r["_v"]],
                        _norm_py(r["_v"]),
                    )
                    for r in cent_rows
                ],
            )],
            "_cents: array<struct<c_id:int,_cv:array<double>,_cn:double>>",
        )
        scored_cents = F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                F.round(
                    _cos_div(_dot(F.col("_v"), s["_cv"]), nv * s["_cn"]), 6
                ).alias("cos"),
                (-s["c_id"]).alias("neg_id"),
            ),
        )
        base = (
            base0.crossJoin(F.broadcast(packed))
            .withColumn("list_id", -F.array_max(scored_cents)["neg_id"])
            .drop("_cents")
        )
    if centroids is not None:
        # same sequential-fold norm the corpus side computes, so probe
        # cosines are bit-identical to the stand-in formulation
        cents = centroids.select(
            F.col("c_id").cast("int").alias("c_id"),
            F.col("vector").cast("array<double>").alias("_cv"),
        ).withColumn("_cn", _norm(F.col("_cv")))
    else:
        cents = pruned.filter(F.col(id_col) < n_lists).select(
            F.col(id_col).alias("c_id"), F.col("_v").alias("_cv"), F.col("_n").alias("_cn")
        )
    qv = pruned.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col("_v").alias("_qv"), F.col("_n").alias("_qn")
    )
    qcos = _cos_div(_dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn"))
    wq = Window.partitionBy("q_id").orderBy(F.col("_qcos").desc(), F.col("c_id"))
    probes = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("_qcos", F.round(qcos, 6))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("q_id", "_qv", "_qn", F.col("c_id").alias("probe_list"))
    )
    joined = base.join(
        F.broadcast(probes),
        (F.col("list_id") == F.col("probe_list")) & (F.col(id_col) != F.col("q_id")),
    )
    cos = _cos_div(_dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn"))
    scored = joined.select("q_id", F.col(id_col), F.round(cos, 6).alias("cosine"))
    # two-phase top-k: the probed lists are still nprobe/n_lists of the
    # corpus per query — never funnel them through one reducer
    return _topk_per_query(scored, id_col, k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    prefilter_planes: int | None = None,
    dim: int | None = None,
    allow_exhaustive: bool = False,
    exhaustive_row_limit: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b) with a < b and
    cosine(a, b) ≥ threshold (compared on the 6dp-rounded value so no
    float boundary flips between engines).

    ``prefilter_planes`` switches on the scale path: candidate pairs
    are restricted to vectors sharing an LSH sign-bucket
    (:func:`lsh_bucket_ids`), turning the O(n²) cross join into a
    per-bucket self-join — the same recall/cost trade as ANN search.
    Exhaustive mode (None) is the correctness baseline and is FENCED:
    the O(n²) cross join is quadratic in the corpus, so without
    ``allow_exhaustive=True`` inputs above ``exhaustive_row_limit``
    rows raise instead of launching a job that cannot finish at scale
    (100k rows ≈ 5e9 candidate pairs — already the practical ceiling;
    callers at corpus scale must pass ``prefilter_planes``).  The
    probe is a LocalLimit-capped count, not a full scan — but note it
    IS an eager Spark job launched at plan-CONSTRUCTION time, an
    exception to this module's otherwise-lazy builders, and repeated
    unfenced exhaustive calls pay it each time (cache the input or
    pass ``allow_exhaustive=True`` after the first check to skip it).
    Output: id_a, id_b, cosine.
    """
    emb = _valid_vectors(emb, id_col, vec_col)
    if prefilter_planes is None and not allow_exhaustive:
        # limit(N+1).count() short-circuits at N+1 rows — O(limit),
        # not O(corpus) — so the fence itself stays cheap.
        probed = emb.limit(exhaustive_row_limit + 1).count()
        if probed > exhaustive_row_limit:
            raise ValueError(
                f"embedding_near_dup_pairs: exhaustive mode on >"
                f"{exhaustive_row_limit} rows is O(n²); pass "
                f"prefilter_planes=<p> for the LSH-bucketed scale path "
                f"or allow_exhaustive=True to override"
            )
    # Precompute each side's norm ONCE per row before the pairwise
    # join: the per-PAIR cosine then costs 1 array fold (the dot) + a
    # multiply instead of 3 folds — on the exhaustive O(n²) baseline
    # that is the dominant term (A/B at sf0.1: 50.7 s → 17.6 s).
    base = ensure_parallelism(emb).select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("_va")
    ).withColumn("_na", _norm(F.col("_va")))
    right = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("_vb")
    ).withColumn("_nb", _norm(F.col("_vb")))
    if prefilter_planes:
        if dim is None:
            raise ValueError("dim is required when prefilter_planes is set")
        # bucket ids are a pure map expression (_bucket_expr) computed
        # INLINE on each join side — the earlier formulation built a
        # separate lsh_bucket_ids frame and JOINED it back by id, which
        # cost two extra corpus scans plus two id-keyed shuffles before
        # the bucket equi-join even started (guide §2.4; the
        # incremental variant below always had the inline form)
        base = base.withColumn(
            "bucket_id", _bucket_expr(F.col("_va"), prefilter_planes, dim)
        )
        right = right.withColumn(
            "_bb", _bucket_expr(F.col("_vb"), prefilter_planes, dim)
        )
        pairs = base.join(
            right,
            (F.col("id_a") < F.col("id_b")) & (F.col("bucket_id") == F.col("_bb")),
        )
    else:
        pairs = base.join(right, F.col("id_a") < F.col("id_b"))
    cos = _cos_div(_dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_incremental(
    emb_new: DataFrame,
    emb_old: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 4,
    max_bucket_size: "int | None" = UNSET,
) -> DataFrame:
    """Incremental embedding-cosine near-dup: pairs for a NEW batch of
    vectors against an already-deduped corpus — the embedding-tier
    daily-crawl path beside :func:`dedup.exact_dedup_incremental`,
    :func:`dedup.lsh_incremental_pairs`,
    :func:`dedup.duplicated_spans_incremental`, and
    :func:`dedup.passage_dedup_incremental`.  Every emitted pair
    touches at least one new vector; old×old pairs were settled when
    the corpus was ingested.

    The sign-bucket prefilter is MANDATORY here (there is no
    exhaustive incremental mode — a daily batch against 100 TB of
    history is exactly the regime the fence on
    :func:`embedding_near_dup_pairs` exists for).  The join keeps the
    BATCH on the probe side only: left = new vectors, right = new ∪
    old, condition ``same bucket AND (right is old OR id_a < id_b)``
    — so each new×old pair is enumerated once from its new side and
    old×old combinations never pair.  In production ``emb_old`` is
    the stored vector table with bucket ids persisted at ingest
    (bucketed by ``bucket_id``, only the batch's keys shuffle).

    Skew fence — ``max_bucket_size``: a sign-bucket holding more than
    the cap of STORED vectors (a degenerate all-same-orientation
    region) is dropped whole before the probe join — its members are
    mutually near-identical mass whose pairs only make one m×batch
    task hot; raise ``n_planes`` to sharpen buckets instead of raising
    the cap.  In production the per-bucket counts ship with the stored
    bucket table so the fence is free; here it is one tiny aggregate
    over the old side.  Left unset, the fence follows the profile: OFF by default (exact published semantics), the production cap under the strict profile (operators/fences.py); an explicit ``None`` keeps it off unconditionally.

    Output: id_a, id_b (a < b), cosine (6dp, >= threshold),
    pair_type ('new_new' | 'new_old').
    """
    max_bucket_size = _resolve_fence(
        "max_bucket_size", max_bucket_size, "embedding_near_dup_incremental"
    )
    new = _valid_vectors(emb_new, id_col, vec_col)
    old = _valid_vectors(emb_old, id_col, vec_col)
    v = F.col(vec_col).cast("array<double>")

    def _side(df: DataFrame, is_new: bool, suffix: str) -> DataFrame:
        return ensure_parallelism(df).select(
            F.col(id_col).alias(f"_id{suffix}"),
            v.alias(f"_v{suffix}"),
            _norm(v).alias(f"_n{suffix}"),
            _bucket_expr(v, n_planes, dim).alias(f"_bkt{suffix}"),
            F.lit(is_new).alias(f"_new{suffix}"),
        )

    left = _side(new, True, "a")
    right = _side(new, True, "b").unionByName(_side(old, False, "b"))
    if max_bucket_size is not None:
        # the bucket counts feed the telemetry count plus TWO broadcast
        # anti-joins; armed telemetry pins them (counting the fenced
        # buckets on the same job) so the old-side count-agg runs once.
        over = F.col("count") > max_bucket_size
        hot = (
            telemetry.checkpoint_fenced(
                _side(old, False, "b").groupBy("_bktb").count(),
                "embedding_near_dup_incremental",
                "max_bucket_size",
                over=over,
                rows=F.col("count"),
            )
            .filter(over)
            .select("_bktb")
        )
        right = right.join(F.broadcast(hot), "_bktb", "left_anti")
        left = left.join(
            F.broadcast(hot.withColumnRenamed("_bktb", "_bkta")),
            "_bkta",
            "left_anti",
        )
    cond = (
        (F.col("_bkta") == F.col("_bktb"))
        & (~F.col("_newb") | (F.col("_ida") < F.col("_idb")))
        # best-effort guard: an id in BOTH inputs must not self-pair.
        # PRECONDITION: inputs are id-disjoint (a crawl's ids are new
        # by construction) — an overlapping id would still emit its
        # other pairs once per copy; dedupe upstream, not here.
        & (F.col("_ida") != F.col("_idb"))
    )
    pairs = left.join(right, cond)
    cos = _cos_div(_dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb"))
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "cosine",
            F.when(F.col("_newb"), F.lit("new_new"))
            .otherwise(F.lit("new_old"))
            .alias("pair_type"),
        )
    )


def lsh_ann_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """ANN: brute-force cosine only within the query's LSH bucket.

    The bucket equi-join replaces the cross join — at scale each query
    touches corpus/2^b candidates on average.
    Output: q_id, <id_col>, cosine (6dp), rank.
    """
    emb = _valid_vectors(emb, id_col, vec_col)
    # norms AND bucket ids hoisted to per-row column expressions on one
    # pass (r14): the earlier shape built a separate lsh_bucket_ids
    # frame and JOINED it back by id — an id-keyed shuffle of the
    # corpus against its own projection purely to glue a map-only
    # column on (guide §2.4; same inline discipline as
    # embedding_near_dup_pairs).  _bucket_expr over the identical cast
    # gives bit-identical bucket ids.
    base = (
        ensure_parallelism(emb)
        .select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .withColumn("bucket_id", _bucket_expr(F.col("_v"), n_planes, dim))
    )
    # query block from its own pruned scan (id filter pushed to the
    # reader), not from the corpus frame
    q = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .filter(F.col(id_col).isin(query_ids))
        .withColumn("_n", _norm(F.col("_v")))
        .select(
            F.col(id_col).alias("q_id"),
            F.col("_v").alias("_qv"),
            F.col("_n").alias("_qn"),
            _bucket_expr(F.col("_v"), n_planes, dim).alias("q_bucket"),
        )
    )
    joined = base.join(
        F.broadcast(q), (F.col("bucket_id") == F.col("q_bucket")) & (F.col(id_col) != F.col("q_id"))
    )
    cos = _cos_div(_dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn"))
    scored = joined.select("q_id", F.col(id_col), F.round(cos, 6).alias("cosine"))
    # two-phase top-k: bucket candidate sets shrink the corpus 2^b-fold
    # but are still unbounded — same distributed-heap merge as brute force
    return _topk_per_query(scored, id_col, k)


def rademacher_signs(out_dim: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 sign matrix from MD5 parity (Achlioptas-style
    database-friendly JL projections: Rademacher entries satisfy the
    Johnson-Lindenstrauss distance-preservation guarantee; no Gaussian
    sampling needed, reproducible from Python, Spark, and DuckDB)."""
    out = []
    for i in range(out_dim):
        row = []
        for j in range(dim):
            h = md5_int28_py(f"r{i}_d{j}")
            row.append(1.0 if h % 2 == 0 else -1.0)
        out.append(row)
    return out


def random_projection(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    out_dim: int = 16,
    max_literal_signs: int = MAX_LITERAL_CENTROIDS,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    vector onto ``out_dim`` deterministic ±1 directions, scaled by
    1/sqrt(out_dim) so pairwise L2 distances are preserved in
    expectation.  The cheap front half of any 100 TB ANN pipeline:
    cluster/bucket in 16 dims, refine in the original space.

    Map-only array expressions — zero shuffle at any scale.  Under
    ``max_literal_signs`` total entries the sign matrix rides the plan
    as literals; above it (e.g. dim=768 → out_dim=128 is ~98k doubles)
    the matrix travels as a one-row broadcast instead — same
    plan-size ceiling as the centroid sites (see
    ``MAX_LITERAL_CENTROIDS``), identical per-row arithmetic either
    way.  out_dim=16 makes the scale factor exactly 0.25, so the
    rounded output is bit-identical across engines.

    Output: <id_col>, proj_dim (0-based), value (6dp).
    """
    signs = rademacher_signs(out_dim, dim)
    scale = 1.0 / math.sqrt(out_dim)
    v = F.col(vec_col).cast("array<double>")
    base = ensure_parallelism(emb)
    if out_dim * dim <= max_literal_signs:
        comps = F.array(
            *[
                F.round(
                    # sign row as ONE parsed expression, not dim F.lit
                    # round trips (see _sql_double)
                    _dot(v, F.expr(_sql_double_array(signs[i])))
                    * F.lit(scale),
                    6,
                )
                for i in range(out_dim)
            ]
        )
        staged = base
    else:
        packed = base.sparkSession.createDataFrame(
            [([list(r) for r in signs],)], "_signs: array<array<double>>"
        )
        staged = base.crossJoin(F.broadcast(packed))
        comps = F.transform(
            F.col("_signs"),
            lambda row: F.round(_dot(v, row) * F.lit(scale), 6),
        )
    return (
        staged.select(
            F.col(id_col), F.posexplode(comps).alias("proj_dim", "value")
        )
        .select(id_col, F.col("proj_dim").cast("int").alias("proj_dim"), "value")
    )


def _kcenter_init_sample(
    base: DataFrame, k: int, sample_n: int | None = None
) -> list[list[float]]:
    """Deterministic k-center greedy init on a hash-ordered sample —
    ONE corpus pass, independent of k.

    The sample is the ``sample_n`` rows with the smallest
    ``xxhash64(id)`` (a content-addressed reservoir: deterministic
    across runs, engines, and partitioning; never RNG).  ``orderBy +
    limit`` plans as TakeOrderedAndProject — per-partition top-N then a
    driver merge, NOT a global sort shuffle.  Greedy farthest-point
    selection then runs driver-side on the ≤``sample_n`` × dim matrix:
    seed with the smallest id in the sample, then repeatedly take the
    point farthest from its nearest chosen centroid (ties to the
    smaller id).  Sampled k-center keeps the 2-approximation character
    of farthest-point init in practice while replacing k full corpus
    scans with one bounded pass — the same trade Spark MLlib makes with
    k-means|| oversampling.
    """
    n = sample_n or max(2048, 64 * k)
    rows = (
        base.select("_id", "_v")
        .withColumn("_h", F.xxhash64(F.col("_id").cast("string")))
        .orderBy("_h", "_id")
        .limit(n)
        .collect()
    )
    pts = sorted(rows, key=lambda r: r._id)
    if not pts:
        raise ValueError("kmeans_fit: empty input")
    import numpy as np

    vecs = np.asarray([p._v for p in pts], dtype=np.float64)
    chosen = [0]  # smallest sample id seeds
    # nearest-chosen-centroid squared distance per sample point
    nd = ((vecs - vecs[0]) ** 2).sum(axis=1)
    while len(chosen) < k:
        if len(chosen) == len(pts):
            # Sample exhausted before reaching k: every remaining
            # nearest-distance is 0 and argmax would keep returning
            # index 0, silently padding with DUPLICATE centroids
            # (degenerate empty clusters downstream).  Return the
            # distinct points we have — k-means with fewer, distinct
            # centroids is well-defined; duplicated ones are not.
            break
        far_i = int(np.argmax(nd))  # argmax keeps the FIRST (smaller id) on ties
        chosen.append(far_i)
        nd = np.minimum(nd, ((vecs - vecs[far_i]) ** 2).sum(axis=1))
    return [[round(float(x), 9) for x in vecs[i]] for i in chosen]


def _nearest_centroid(
    base: DataFrame,
    centroids: "list[list[float]] | DataFrame",
    max_literal_centroids: int = MAX_LITERAL_CENTROIDS,
    round_dp: int | None = None,
) -> DataFrame:
    """Append ``_best`` = struct(d: squared-L2 to the nearest centroid,
    c: its id — ties to the LOWER id via struct ordering) to ``base``
    (which carries the vector as ``_v``).

    ``round_dp`` rounds the distance BEFORE the argmin (near-ties then
    break to the lower centroid id on the rounded grid) — the knob the
    SQL-replayable trainer uses so a DuckDB oracle replicating the
    assignment with ``round(d, 6)`` agrees even when the two engines'
    fold arithmetic differs in the last ulp.

    ``centroids`` is either the in-memory ``k x dim`` list (literal
    path under the threshold, one-row broadcast above it) or a stored
    centroid TABLE with columns ``c_id``, ``vector`` (always the
    broadcast path — a trained IVF codebook never round-trips through
    driver literals).
    """
    if isinstance(centroids, DataFrame):
        # assumed non-empty (a trained codebook); an empty table would
        # yield NULL assignments, not an error — validate upstream
        centroids = centroids.select(
            F.col("c_id").cast("int").alias("c_id"),
            F.col("vector").cast("array<double>").alias("_cv"),
        )
    staged = _stage_centroids(base, centroids, max_literal_centroids)

    def _entry(s):
        d = F.aggregate(
            F.zip_with(
                F.col("_v"), s["_cv"], lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if round_dp is not None:
            d = F.round(d, round_dp)
        return F.struct(d.alias("d"), s["c_id"].alias("c"))

    best = F.array_min(F.transform(F.col("_cents"), _entry))
    return staged.withColumn("_best", best).drop("_cents")


def kmeans_fit(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iter: int = 5,
    max_literal_centroids: int = MAX_LITERAL_CENTROIDS,
    return_history: bool = False,
) -> "list[list[float]] | tuple[list[list[float]], list[float]]":
    """Distributed Lloyd's k-means over an embedding column (the real
    IVF training job that ``ivf_assign``'s stand-in centroids model).

    Each iteration is two DataFrame passes, both scale-safe:
      1. assignment — the k centroids ride the scan (literals or one
         broadcast row), per-row top-1 by squared L2 (map-only; no
         corpus shuffle);
      2. update — ONE wide aggregate keyed on the cluster, dim AVG
         columns per row (k result rows).
    Only the k x dim centroid matrix ever reaches the driver — the
    standard k-means driver loop, legitimate at any corpus size.  The
    returned list can feed :func:`semdedup` / :func:`kmeans_assign`
    directly, so the codebook never round-trips through a table.

    Deterministic: sample-based farthest-point init (ONE corpus pass —
    see ``_kcenter_init_sample``; the earlier formulation ran one full
    corpus scan PER centroid, i.e. k passes before training started — a
    scale-killer at k=1024 lists); ties in assignment break to the
    lower cluster id; means rounded to 9dp between iterations to
    stabilize FP addition order.

    ``return_history=True`` additionally returns the per-iteration
    inertia (sum of best squared distances under that iteration's
    centroids, BEFORE its update) — one extra sum-aggregate job per
    iteration, used by callers asserting Lloyd's monotone-descent
    invariant.  Non-increasing up to the 9dp mean rounding.
    """
    base = _valid_vectors(emb, id_col, vec_col).select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    cents = _kcenter_init_sample(base, k)
    inertias: list[float] = []
    for _ in range(max_iter):
        # squared L2 to each centroid; argmin with lower-id tie-break.
        # _nearest_centroid switches the centroid matrix from plan
        # literals to a one-row broadcast above max_literal_centroids
        # (see MAX_LITERAL_CENTROIDS) — identical arithmetic either way.
        nearest = _nearest_centroid(base, cents, max_literal_centroids)
        if return_history:
            inertias.append(
                float(
                    nearest.agg(F.sum(F.col("_best")["d"])).first()[0] or 0.0
                )
            )
        assigned = nearest.select(
            "_v", F.col("_best")["c"].alias("_cl")
        )
        # update as ONE wide aggregate keyed on the cluster alone:
        # per-dimension means come from dim AVG columns over direct
        # element extraction, so the map side combines each partition
        # down to ≤ k rows before the exchange — the earlier
        # posexplode → groupBy(_cl, _d) formulation shuffled
        # corpus × dim (cluster, dim, value) rows (guide §2.3:
        # aggregate before you shuffle).  AVG skips NULLs, so a ragged
        # short vector contributes to exactly the dimensions it has —
        # the same rows posexplode produced for it.
        dim = max(len(c) for c in cents)
        # F.expr strings: one py4j round trip per agg column instead of
        # ~5 nested DSL calls each (identical analyzed expressions)
        per_cl = (
            assigned.groupBy("_cl")
            .agg(*[F.expr(f"avg(_v[{d}]) AS _m{d}") for d in range(dim)])
            .collect()
        )
        new_cents = list(cents)
        for r in per_cl:
            new_cents[r._cl] = [
                round(r[f"_m{d}"], 9) if r[f"_m{d}"] is not None
                else cents[r._cl][d]
                for d in range(len(cents[r._cl]))
            ]
        if new_cents == cents:
            break
        cents = new_cents
    if return_history:
        return cents, inertias
    return cents


def kmeans_fit_replayable(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
    quant_scale: float = 1e6,
    max_literal_centroids: int = MAX_LITERAL_CENTROIDS,
) -> DataFrame:
    """Lloyd's k-means whose every step is bit-reproducible in ANSI SQL
    — the trainer behind the oracle-gated ``embedding_semdedup_trained``
    registry entry: a DuckDB oracle can unroll the same
    ``n_iter`` iterations and land on the exact same codebook, so the
    full SemDeDup-with-training path sits under the driver's value-hash
    gate instead of a rows-only check.

    Three deterministic choices make cross-engine equality hold:

    - **Seed**: the ``k`` vectors with the smallest
      ``(md5(cast(id as string)), id)`` — a content-addressed shuffle
      both engines compute identically (``ORDER BY md5(..) LIMIT k``
      plans as TakeOrderedAndProject: per-partition top-k, no global
      sort).  Unlike the id<k stand-in, the seed is spread by hash, and
      unlike :func:`kmeans_fit`'s xxhash64 k-center sample it uses no
      engine-specific hash.
    - **Assignment**: squared-L2 fold over the array in ELEMENT order
      (sequential in both engines), rounded to 6dp before the argmin,
      ties to the lower centroid id — the exact discipline every
      oracle-gated cosine query in this repo already relies on.
    - **Update**: per-(cluster, dim) means go through an INTEGER-MICRO
      sum: ``floor(x * quant_scale)`` per component (floor has no
      half-way boundary, unlike any round()), summed exactly as
      DECIMAL(38,0) — order-independent, so partition layout can't
      perturb it — then ``float(S)/float(n)/quant_scale`` computed with
      the same IEEE operation order on both sides.  The conversion
      S→double is exact while ``|S| < 2^53``, i.e. up to ~4.5e9 rows
      per cluster at the default 1e6 quantization — lower
      ``quant_scale`` for clusters beyond that.  (A plain AVG would
      hang the result on float addition order; the 9dp rounding
      :func:`kmeans_fit` uses stabilizes but cannot guarantee it.)

    Scale shape per iteration = :func:`kmeans_fit`'s: one broadcast
    assignment pass (map-only) + one (k × dim)-row aggregate to the
    driver; the seed is one TakeOrderedAndProject pass.  Training cost
    is ``n_iter`` corpus passes regardless of corpus size.

    Returns the codebook as a DataFrame ``(c_id int, vector
    array<double>)`` — the shape :func:`ivf_assign` / :func:`semdedup`
    accept as ``centroids``.
    """
    base = _valid_vectors(emb, id_col, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    seeds = (
        base.orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r._v] for r in seeds]
    for _ in range(n_iter if cents else 0):
        nearest = _nearest_centroid(
            base, cents, max_literal_centroids, round_dp=6
        )
        # update as ONE wide aggregate keyed on the cluster alone: per-
        # dimension DECIMAL(38,0) sums + per-dimension counts as 2·dim
        # agg columns over direct element extraction.  The map side
        # combines each partition to ≤ k rows before the exchange; the
        # earlier posexplode → groupBy(_cl, _d) formulation shuffled
        # corpus × dim (cluster, dim, value) rows (guide §2.3:
        # aggregate before you shuffle).  BIT-IDENTICAL to it: the
        # summands are the same exact integer-micro DECIMALs (order-
        # independent), and the per-dim count counts exactly the rows
        # whose array reaches that dimension (what posexplode emitted).
        dim = max(len(c) for c in cents)
        # F.expr strings: one py4j round trip per agg column instead of
        # ~6 nested DSL calls each — the analyzed expressions (and so
        # the integer-micro DECIMAL summands) are identical
        qs = _sql_double(quant_scale)
        per_cl = (
            nearest.select(F.col("_best")["c"].alias("_cl"), "_v")
            .groupBy("_cl")
            .agg(
                *[
                    F.expr(
                        f"sum(cast(floor(_v[{d}] * {qs}) as decimal(38,0)))"
                        f" AS _s{d}"
                    )
                    for d in range(dim)
                ],
                *[
                    F.expr(
                        f"count(case when size(_v) > {d} then 1 end)"
                        f" AS _n{d}"
                    )
                    for d in range(dim)
                ],
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cluster keeps its centroid
        for r in per_cl:
            for d in range(len(cents[r._cl])):
                if r[f"_n{d}"]:
                    new_cents[r._cl][d] = (
                        float(r[f"_s{d}"]) / float(r[f"_n{d}"]) / quant_scale
                    )
        cents = new_cents
    return base.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "c_id int, vector array<double>",
    )


def codebook_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    mode: str = "trained",
    k: int = 8,
    iters: int = 2,
) -> "list[list[float]] | DataFrame":
    """Vars-selectable codebook construction for DAG semantic tiers —
    ONE implementation shared by the demo projects.

    - ``trained``: :func:`kmeans_fit` (distributed Lloyd's, ``iters``
      iterations) over ``emb``, returned as the ``k x dim`` list the
      trainer already holds on the driver; raises on an empty corpus
      (an undefined model is an actionable error, per the library
      rule).
    - ``standin``: the ``k`` smallest-id VALID vectors as a ``(c_id,
      vector)`` table — the zero-training deterministic fallback;
      degrades to fewer rows on a tiny corpus.  Validity-filtered like
      the trained path (a NULL or zero-norm row among the smallest ids
      must not become a centroid: downstream cosine assignment would
      try_divide into NULLs for every corpus row) and re-indexed to
      c_id 0..k-1 like the trained path — NOT the raw id, which
      silently overflows an int cast for ids >= 2^31.

    Either form is what :func:`semdedup` accepts as ``centroids``;
    :func:`build_codebook` is the table form for stages that store it.
    """
    if mode == "trained":
        return kmeans_fit(emb, id_col, vec_col, k=k, max_iter=iters)
    if mode == "standin":
        picked = (
            _valid_vectors(emb, id_col, vec_col)
            .orderBy(id_col)
            .limit(k)
            .select(
                F.col(id_col).alias("_sid"),
                F.col(vec_col).cast("array<double>").alias("vector"),
            )
        )
        # <= k rows survive the limit, so the unpartitioned window is a
        # bounded driver-side renumbering, not a parallelism collapse
        w = Window.orderBy("_sid")
        return picked.select(
            (F.row_number().over(w) - 1).cast("int").alias("c_id"),
            "vector",
        )
    raise ValueError(
        f"codebook mode must be 'trained' or 'standin', got {mode!r}"
    )


def build_codebook(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    mode: str = "trained",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """:func:`codebook_centroids` as a table — the shape a stage stores
    and :func:`ivf_assign` / :func:`semdedup` accept as ``centroids``.

    Output: c_id (int), vector (array<double>).
    """
    cents = codebook_centroids(emb, id_col, vec_col, mode=mode, k=k, iters=iters)
    if isinstance(cents, DataFrame):
        return cents
    return emb.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "c_id int, vector array<double>",
    )


def kmeans_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]] | DataFrame",
    max_literal_centroids: int = MAX_LITERAL_CENTROIDS,
) -> DataFrame:
    """Assign each vector to its nearest trained centroid (squared L2,
    lower list id on ties).  Map-only over the corpus either way:
    under ``max_literal_centroids`` total doubles the centroids ride
    the plan as literals; above it (or when ``centroids`` is a stored
    table with columns ``c_id``/``vector`` — the production IVF
    codebook) they travel as a one-row broadcast struct array instead,
    keeping Catalyst analysis and plan size flat in k*dim.
    Output: <id_col>, list_id, sq_dist (6dp)."""
    base = ensure_parallelism(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    best = F.col("_best")
    return _nearest_centroid(base, centroids, max_literal_centroids).select(
        F.col(id_col),
        best["c"].cast("int").alias("list_id"),
        F.round(best["d"], 6).alias("sq_dist"),
    )


def _check_cluster_fence(
    max_cluster_size: int | None, on_oversize: str, dim: int | None
) -> None:
    """Validate the SemDeDup fence arguments before any Spark work, so a
    bad call raises without running (or reporting) the fence."""
    if max_cluster_size is None:
        return
    if on_oversize not in ("drop", "split"):
        raise ValueError(
            f"on_oversize must be 'drop' or 'split', got {on_oversize!r}"
        )
    if on_oversize == "split" and dim is None:
        raise ValueError("dim is required for on_oversize='split'")


def _fence_clusters(
    v: DataFrame,
    operator: str,
    max_cluster_size: int | None,
    on_oversize: str,
    split_planes: int,
    dim: int | None,
    count_cond=None,
):
    """Shared ``max_cluster_size`` fence for the SemDeDup family
    (arguments checked by :func:`_check_cluster_fence`).

    ``v`` is the checkpointed (vector ``_v``, norm, ``list_id``
    [, ``_new``]) frame; ``count_cond`` restricts which rows count
    toward the cap (the incremental path counts the STORED side only).
    The over-cap lists are collected to the driver — at most
    ``n_lists`` rows, a bound set by the codebook, not the corpus — and
    the fence is reported from those rows through :mod:`.telemetry`.
    Returns ``(frame, join_keys)``: under ``"drop"`` the over-cap
    lists leave the frame and pairing stays keyed on ``list_id``;
    under ``"split"`` hot-list members gain a ``_sub`` sign-bucket
    (healthy lists get sub-bucket 0) and pairing is keyed on
    (list_id, _sub).  With no over-cap list the frame is unchanged.
    """
    if max_cluster_size is None:
        return v, ["list_id"]
    counted = v if count_cond is None else v.filter(count_cond)
    hot = (
        counted.groupBy("list_id")
        .count()
        .filter(F.col("count") > max_cluster_size)
        .collect()
    )
    telemetry.record_counts(
        operator,
        "max_cluster_size" if on_oversize == "drop" else "max_cluster_size:split",
        len(hot),
        sum(r["count"] for r in hot),
    )
    if not hot:
        return v, ["list_id"]
    # a NULL list id is never hot: it pairs with nothing either way
    is_hot = F.coalesce(
        F.col("list_id").isin([r["list_id"] for r in hot]), F.lit(False)
    )
    if on_oversize == "drop":
        return v.filter(~is_hot), ["list_id"]
    sub = F.when(
        is_hot, _bucket_expr(F.col("_v"), split_planes, dim)
    ).otherwise(F.lit(0).cast("bigint"))
    return v.withColumn("_sub", sub), ["list_id", "_sub"]


def semdedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 8,
    threshold: float = 0.95,
    max_cluster_size: "int | None" = UNSET,
    on_oversize: str = "drop",
    split_planes: int = 4,
    dim: int | None = None,
    centroids: "list[list[float]] | DataFrame | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then exact cosine pairing
    only WITHIN each cluster and keeping one representative (minimum
    id) per near-duplicate neighborhood.

    This is the scale path for embedding dedup: the all-pairs cost
    drops from O(n²) to O(Σ |cluster|²) ≈ O(n²/k) — the paper's whole
    trick — and the within-cluster join is an equi-join on ``list_id``
    so nothing but same-cluster rows ever meet.  Assignment is a
    map-only argmin on the same pass that materializes the vectors
    (:func:`_with_nearest_list`); the final keep/drop resolution reuses
    :func:`dedup.canonical_ids` (aggregate-then-join min-propagation).

    ``centroids``: the codebook — a ``k x dim`` list as
    :func:`kmeans_fit` returns it (plan literals, or one broadcast row
    above ``MAX_LITERAL_CENTROIDS``), a stored ``(c_id, vector)`` table
    (one broadcast row), or ``None`` for the ``n_lists`` smallest-id
    vectors as a stand-in.

    Skew fence — ``max_cluster_size``: the O(n²/k) shape assumes the
    clustering balances; a degenerate cluster (a bad centroid, or a
    near-dup-saturated corpus collapsing onto one list) concentrates a
    quadratic sort-merge partition in a single task at 100 TB.  Two
    ``on_oversize`` behaviors for a ``list_id`` over the cap, both
    reported through :mod:`.telemetry` (no silent caps):

    - ``"drop"`` (default): the cluster leaves the pair join whole —
      members conservatively KEPT (``is_duplicate=false``, canonical =
      self); the fix for a tripping corpus is more lists, not a bigger
      cap.  Mirrors ``max_bucket_size`` on
      :func:`embedding_near_dup_incremental` and the per-bucket fences
      across the dedup ladder.
    - ``"split"``: members of the hot cluster re-bucket by a
      ``split_planes``-bit sign probe (requires ``dim``) and pair only
      within (list, sub-bucket) — each quadratic partition shrinks
      ~2^planes-fold while near-identical vectors (the mass that made
      the cluster hot) still land together, so dedup coverage inside
      the hot cluster survives at the cost of missing cross-sub-bucket
      pairs.  Healthy clusters are untouched (sub-bucket 0).

    Left unset, the fence follows the profile: OFF by default (exact published semantics), the production cap under the strict profile (operators/fences.py); an explicit ``None`` keeps it off unconditionally.

    Output: <id_col>, list_id, canonical_id, is_duplicate.
    """
    from .dedup import canonical_ids

    max_cluster_size = _resolve_fence(
        "max_cluster_size", max_cluster_size, "semdedup"
    )
    _check_cluster_fence(max_cluster_size, on_oversize, dim)
    emb = _valid_vectors(emb, id_col, vec_col)
    base = ensure_parallelism(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    cents = _centroid_source(emb, id_col, vec_col, n_lists, centroids)
    # Materialize (vector, norm, list) ONCE: the within-cluster self-
    # join has no cross-consumer exchange reuse in Catalyst, so without
    # the checkpoint the whole assignment pipeline executes twice; and
    # precomputing each vector's norm turns the per-PAIR cosine from
    # 3 array folds into 1 fold + a multiply (measured 2.6× together
    # at sf0.1, identical output).  Assignment is computed INLINE on the
    # same pass (:func:`_with_nearest_list` — its hoisted ``_nv`` IS the
    # vector's norm, reused as ``_n``): the former
    # ivf_assign + join-back-by-id formulation paid a corpus × k window
    # shuffle plus an id-keyed join shuffle for the exact same rows.
    v = (
        _with_nearest_list(base, cents)
        .select(F.col(id_col), "_v", F.col("_nv").alias("_n"), "list_id")
        .localCheckpoint(eager=False)
    )
    fenced_v, join_keys = _fence_clusters(
        v, "semdedup", max_cluster_size, on_oversize, split_planes, dim
    )
    a = fenced_v.select(
        F.col(id_col).alias("a_id"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), *join_keys,
    )
    b = fenced_v.select(
        F.col(id_col).alias("b_id"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), *join_keys,
    )
    cos = _cos_div(_dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb"))
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("_cos", F.round(cos, 6))
        .filter(F.col("_cos") >= threshold)
        .select("a_id", "b_id")
    )
    return canonical_ids(v.select(id_col, "list_id"), pairs, id_col)


def semdedup_recall_eval(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    n_lists: int = 8,
    threshold: float = 0.4,
    sample_mod: int | None = None,
) -> DataFrame:
    """Recall of SemDeDup's cluster-scoped pairing against exhaustive
    cosine truth under a GIVEN codebook — the semantic tier's tuning
    telemetry (the companion of :func:`.dedup.lsh_recall_eval`; the
    paper's own diagnostic, Abbas et al. 2023 §4).  The cluster
    approximation can only MISS pairs that straddle a cluster
    boundary, so this one number is what you watch when trading
    n_lists (cost) against dedup coverage.  Operator form (r8 verdict
    #3) so engine DAG diagnostics stages and the registry query share
    one implementation.

    ``centroids`` is the codebook the PRODUCTION assignment uses —
    never derived from the gated sub-corpus (a sparse gate could
    leave it empty, and the recall of a clustering nobody runs is
    noise).  ``sample_mod`` deterministically hash-gates BOTH the
    truth pairs and the assignment input to the same sub-corpus, so
    recall stays an unbiased pair-level estimate at scale; the truth
    side is deliberately O(n²) telemetry (fenced broadcast pair join,
    never a cartesian) — sample it accordingly.

    Output (one row): n_true_pairs, n_captured_pairs, recall.
    """
    if sample_mod is not None and sample_mod > 1:
        emb = emb.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), sample_mod) == 0
        )
    truth = (
        embedding_near_dup_pairs(
            emb, id_col, vec_col, threshold=threshold, allow_exhaustive=True
        )
        .select(F.col("id_a").alias("a_id"), F.col("id_b").alias("b_id"))
        .localCheckpoint(eager=False)
    )
    assign = ivf_assign(
        emb, id_col, vec_col, n_lists=n_lists, centroids=centroids
    )
    cap = (
        truth.join(
            assign.select(F.col(id_col).alias("a_id"),
                          F.col("list_id").alias("_la")), "a_id"
        )
        .join(
            assign.select(F.col(id_col).alias("b_id"),
                          F.col("list_id").alias("_lb")), "b_id"
        )
        .filter(F.col("_la") == F.col("_lb"))
    )
    nt = truth.agg(F.count("*").cast("bigint").alias("n_true_pairs"))
    nc = cap.agg(F.count("*").cast("bigint").alias("n_captured_pairs"))
    return nt.crossJoin(nc).select(
        "n_true_pairs",
        "n_captured_pairs",
        F.when(F.col("n_true_pairs") == 0, F.lit(1.0))
        .otherwise(
            F.round(F.col("n_captured_pairs") / F.col("n_true_pairs"), 6)
        )
        .alias("recall"),
    )


def ann_recall_eval(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    n_lists: int = 8,
    nprobe: int = 2,
    centroids: "DataFrame | None" = None,
) -> DataFrame:
    """Recall@k of IVF approximate top-k against exhaustive cosine
    top-k over the SAME query set — the third leg of the recall-
    diagnostic triad (:func:`.dedup.lsh_recall_eval` for the near-dup
    tier, :func:`semdedup_recall_eval` for the semantic tier, this for
    retrieval): the number you watch when trading nprobe/n_lists
    (candidate cost ≈ nprobe/n_lists of the corpus per query) against
    answer quality.

    ``centroids``: a stored ``(c_id, vector)`` codebook replaces the
    ``id < n_lists`` stand-in on the APPROXIMATE side — the
    diagnostics-stage shape, evaluating the exact artifact production
    retrieval probes (the exhaustive truth side has no centroids).

    Both sides rank deterministically (cosine 6dp DESC, then id), so
    the k-sets are well-defined under ties and reproducible across
    engines.  The exhaustive side is one corpus pass per evaluation
    with the query block broadcast — at 100 TB evaluate on a sampled
    query set (this is per-QUERY cost, not per-pair: no quadratic
    side, unlike the other two evals).

    Output (one row): n_queries, n_exact, n_hits, recall.
    """
    exact = cosine_topk(emb, id_col, vec_col, query_ids, k=k).select(
        "q_id", F.col(id_col)
    )
    approx = ivf_topk(
        emb, id_col, vec_col, query_ids, k=k, n_lists=n_lists,
        nprobe=nprobe, centroids=centroids,
    ).select("q_id", F.col(id_col), F.lit(1).alias("_hit"))
    # ONE aggregate over exact LEFT JOIN approx (r14): the earlier
    # shape ran separate n_exact / n_hits aggregates crossJoined
    # together, executing the exact side twice (hence its checkpoint)
    # plus two broadcast builds.  approx is unique per (q_id, id) by
    # construction (a ranked top-k), so the left join preserves exact's
    # multiplicity and count(_hit) counts precisely the left-semi rows.
    marked = exact.join(approx, ["q_id", id_col], "left")
    return marked.agg(
        F.countDistinct("q_id").cast("bigint").alias("n_queries"),
        F.count("*").cast("bigint").alias("n_exact"),
        F.count("_hit").cast("bigint").alias("n_hits"),
    ).select(
        "n_queries",
        "n_exact",
        "n_hits",
        F.when(F.col("n_exact") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("n_hits") / F.col("n_exact"), 6))
        .alias("recall"),
    )


def semdedup_incremental(
    emb_new: DataFrame,
    emb_old: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 8,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    max_cluster_size: "int | None" = UNSET,
    on_oversize: str = "drop",
    split_planes: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Incremental SemDeDup: keep/drop verdicts for a NEW batch of
    embeddings against an already-deduped corpus — the semantic-tier
    daily-crawl path, completing the incremental story for every dedup
    modality (exact, LSH, spans, passages, embedding-cosine, and now
    cluster-scoped semantic).

    TEMPORAL semantics: a new vector is a duplicate iff it cosine-pairs
    (within its cluster, >= threshold) with ANY stored vector — the
    stored copy is the kept one regardless of id order — or with a
    smaller-id vector of its own batch; ``canonical_id`` is the minimum
    such partner.  Cluster assignment is the same map-only argmin
    semdedup runs (:func:`_with_nearest_list`).  Pass the STORED
    centroid table as ``centroids`` (the production shape — the
    training artifact from the ingest job) so verdicts are stable
    against the stored corpus; the id<n_lists stand-in over new ∪ old
    (default None, oracle-reproducible) re-derives centroids per call,
    so a batch containing small ids shifts the clustering.

    PRECONDITION: inputs are id-disjoint (a crawl's ids are new by
    construction) — an id in both sides would fan out the assignment
    join and emit duplicate verdict rows; dedupe upstream.

    The within-cluster join keeps the BATCH on the output side only:
    old×old combinations never pair, so per-batch cost is
    O(|batch| × cluster), not O(corpus²/k).

    Skew fence — ``max_cluster_size``: a ``list_id`` holding more
    than the cap of STORED vectors (a degenerate centroid region) is
    fenced before the probe join, counted on the OLD side only —
    mirroring ``max_bucket_size`` on
    :func:`embedding_near_dup_incremental` — because the stored
    corpus is what makes a cluster quadratic; in production the
    per-list counts ship with the stored assignment table so the
    fence is free.  ``on_oversize="drop"`` removes the hot list whole
    (batch members conservatively kept, ``is_duplicate=false``);
    ``"split"`` re-buckets its members by a ``split_planes``-bit sign
    probe (requires ``dim``) so verdicts inside the hot list survive
    against same-orientation stored mass.  Either way the fence is
    reported through :mod:`.telemetry`.  Left unset, the fence follows the profile: OFF by default (exact published semantics), the production cap under the strict profile (operators/fences.py); an explicit ``None`` keeps it off unconditionally.

    Output (batch rows only): <id_col>, list_id, canonical_id,
    is_duplicate.
    """
    max_cluster_size = _resolve_fence(
        "max_cluster_size", max_cluster_size, "semdedup_incremental"
    )
    _check_cluster_fence(max_cluster_size, on_oversize, dim)
    new = _valid_vectors(emb_new, id_col, vec_col)
    old = _valid_vectors(emb_old, id_col, vec_col)
    tagged = new.withColumn("_new", F.lit(True)).unionByName(
        old.withColumn("_new", F.lit(False))
    )
    base = ensure_parallelism(tagged).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col("_new"),
    )
    cents = _centroid_source(tagged, id_col, vec_col, n_lists, centroids)
    # one materialization of (vector, norm, list, tag) — the semdedup
    # checkpoint trick; the batch side filters off it for free.  The
    # assignment rides the same map-only pass (inline argmin over the
    # staged centroids; ``_nv`` doubles as the norm) instead of the
    # former ivf_assign + join-back-by-id pair of shuffles.
    v = (
        _with_nearest_list(base, cents)
        .select(
            F.col(id_col), "_v", F.col("_nv").alias("_n"), "list_id", "_new"
        )
        .localCheckpoint(eager=False)
    )
    fenced_v, join_keys = _fence_clusters(
        v, "semdedup_incremental", max_cluster_size, on_oversize,
        split_planes, dim, count_cond=~F.col("_new"),
    )
    x = fenced_v.filter(F.col("_new")).select(
        F.col(id_col).alias("_xid"), F.col("_v").alias("_vx"),
        F.col("_n").alias("_nx"), *join_keys,
    )
    y = fenced_v.select(
        F.col(id_col).alias("_yid"), F.col("_v").alias("_vy"),
        F.col("_n").alias("_ny"), *join_keys,
        F.col("_new").alias("_ynew"),
    )
    cos = _cos_div(_dot(F.col("_vx"), F.col("_vy")), F.col("_nx") * F.col("_ny"))
    partners = (
        x.join(y, join_keys)
        # defensive (mirrors embedding_near_dup_incremental): an id
        # present in BOTH inputs must not self-pair at cosine 1.0
        .filter(
            (~F.col("_ynew") | (F.col("_yid") < F.col("_xid")))
            & (F.col("_yid") != F.col("_xid"))
        )
        .withColumn("_cos", F.round(cos, 6))
        .filter(F.col("_cos") >= threshold)
        .groupBy("_xid")
        .agg(F.min("_yid").alias("_cand"))
    )
    batch = v.filter(F.col("_new")).select(id_col, "list_id")
    return batch.join(
        partners, batch[id_col] == partners["_xid"], "left"
    ).select(
        id_col,
        "list_id",
        F.coalesce(F.col("_cand"), F.col(id_col)).cast("bigint").alias(
            "canonical_id"
        ),
        F.col("_cand").isNotNull().alias("is_duplicate"),
    )
