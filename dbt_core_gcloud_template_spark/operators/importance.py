"""DSIR-style importance weighting for data selection (north-star;
SURVEY.md §7.6 training-data pipeline).

Data Selection via Importance Resampling (Xie et al., 2023,
arXiv:2302.03169): score every source document by how much more likely
its hashed n-gram features are under a TARGET distribution than under
the SOURCE distribution, then resample by weight.  The classic use: up-
sample web data that "looks like" a curated target corpus.

Engineering choices for a distributed, oracle-verifiable build:

- **Features** are unigrams + bigrams hashed into ``n_buckets`` via the
  portable MD5 bucket (``functions.hashing``) so DuckDB reproduces
  assignments exactly.
- **Bucket log-ratios are integerized**: per bucket,
  ``L_b = round(ln(p_b / q_b) · 1e6)`` as BIGINT (add-1 smoothed
  ``p_b = (tc_b + 1)/(T + B)`` against target counts, ``q_b`` likewise
  over the source).  A document's log-weight is then the EXACT integer
  ``Σ n_db · L_b`` — a sum of integers is associative, so Spark's
  arbitrary aggregation order and the oracle agree bit-for-bit (the
  float-sum ordering trap documented for corpus moments).
- **One corpus shuffle**: exploded features aggregate straight to the
  per-doc sum after a broadcast join against the ≤``n_buckets``-row
  ratio table; the two distribution estimates are bucket-keyed
  aggregates whose outputs are tiny (256 rows) regardless of corpus
  size.  At 100 TB nothing but 8-byte bucket ids and partial counts
  ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int28
from ..functions.text import tokens_expr
from ..sources.registry import ensure_parallelism


def feature_buckets_from_tokens(tok: Column, n_buckets: int) -> Column:
    """Hashed unigram+bigram feature buckets from an ALREADY-BOUND token
    array column.

    PUBLIC CONTRACT shared by DSIR importance weighting and the linear
    quality classifier (and both of their DuckDB oracles): changing the
    tokenization, hashing, or bucket arithmetic here changes every
    consumer's scores in lockstep.

    Callers must bind the token array as a real column
    (``tokens_expr(...).alias(...)`` in a preceding projection): the
    bigram lambda references the array per position, and an inline
    tokens-expression tree there re-tokenizes the document once per
    bigram (interpreted HOF lambdas re-evaluate embedded subtrees per
    element — A/B at sf0.1: 1.79 s → 0.41 s for the same rows, r13)."""
    unis = F.transform(tok, lambda t: F.pmod(md5_int28(t), F.lit(n_buckets)))
    bis = F.when(
        F.size(tok) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - 2),
            lambda i: F.pmod(
                md5_int28(
                    F.concat_ws(" ", F.element_at(tok, i + 1), F.element_at(tok, i + 2))
                ),
                F.lit(n_buckets),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(unis, bis)


def log_odds_micro(
    pos: Column, pos_total: Column, neg: Column, neg_total: Column, n_buckets: int
) -> Column:
    """Add-1-smoothed bucket log-odds as BIGINT micro-units:
    ``round(1e6 · ln(p/q))`` with ``p = (pos + 1)/(pos_total + B)`` and
    ``q = (neg + 1)/(neg_total + B)``; the constant bucket count keeps
    never-seen buckets finite.  Shared by DSIR and the quality-classifier
    trainer.  Double arithmetic BEFORE multiplying (bigint products of
    two corpus-scale counts would overflow at 100 TB); the double op
    order mirrors the oracle SQL token-for-token (IEEE-identical)."""
    return (
        F.round(
            F.lit(1e6)
            * F.log(
                (
                    (pos + 1).cast("double")
                    * (neg_total + F.lit(n_buckets)).cast("double")
                )
                / (
                    (neg + 1).cast("double")
                    * (pos_total + F.lit(n_buckets)).cast("double")
                )
            ),
            0,
        )
        .cast("bigint")
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_filter: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Per-document DSIR importance log-weight.

    ``target_filter``: SQL predicate selecting the target subset (the
    corpus the selection should look like, e.g. ``lang = 'en'``); the
    source distribution is the whole input.

    Output: <id_col>, n_feats, log_weight_micro (BIGINT, exact),
    log_weight (double, micro/1e6 rounded 6dp).
    """
    df = ensure_parallelism(df)
    feats = df.select(
        F.col(id_col).alias("_id"),
        F.expr(target_filter).alias("_is_target"),
        tokens_expr(F.col(text_col)).alias("_tok"),
    ).select(
        "_id",
        "_is_target",
        F.explode(
            feature_buckets_from_tokens(F.col("_tok"), n_buckets)
        ).alias("_b"),
    )
    # Collapse raw feature occurrences to per-(doc, bucket) counts
    # FIRST: both downstream aggregates (bucket distributions, per-doc
    # weight sum) hang off this one exchange, so Catalyst's
    # ReuseExchange computes tokenize+hash+explode ONCE (the previous
    # shape keyed the two branches differently — _b vs _id — and
    # re-ran the whole feature scan for each).  Row count is also
    # capped at n_buckets per doc from here on.
    # localCheckpoint (lazy) pins the shared subtree: column pruning
    # would otherwise specialize each branch's plan and defeat
    # ReuseExchange, re-running the feature scan per branch (the
    # semdedup pattern).  Checkpoint size is the capped table, not the
    # raw features.
    dbc = feats.groupBy("_id", "_b").agg(
        F.count("*").alias("_n"),
        F.first("_is_target").alias("_is_target"),
    ).localCheckpoint(eager=False)
    # Two tiny distribution estimates in ONE bucket-keyed aggregate:
    # conditional counts ride the same shuffle.
    buckets = dbc.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_target"), F.col("_n")).otherwise(0)).alias("_tc"),
        F.sum("_n").alias("_sc"),
    )
    totals = buckets.agg(
        F.sum("_tc").alias("_tt"), F.sum("_sc").alias("_st")
    )
    # L_b = round(1e6 * ln(p_b/q_b)), target vs whole-source counts
    ratios = buckets.crossJoin(F.broadcast(totals)).select(
        "_b",
        log_odds_micro(
            F.col("_tc"), F.col("_tt"), F.col("_sc"), F.col("_st"), n_buckets
        ).alias("_L"),
    )
    return (
        dbc.join(F.broadcast(ratios), "_b")
        .groupBy("_id")
        .agg(
            F.sum("_n").cast("bigint").alias("n_feats"),
            F.sum(F.col("_n") * F.col("_L")).cast("bigint").alias("log_weight_micro"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_feats",
            "log_weight_micro",
            F.round(F.col("log_weight_micro") / F.lit(1e6), 6).alias("log_weight"),
        )
    )
