"""SCD Type-2 snapshots (SURVEY.md §2.1 S8; reference
snapshots/example_snapshot.sql:1-12, dbt 1.10 timestamp strategy).

Semantics reproduced (public dbt behavior):
- first run: every source row becomes an open version
  (dbt_valid_from = updated_at, dbt_valid_to = NULL);
- later runs: a source row with updated_at > the open version's
  dbt_updated_at closes the open row (dbt_valid_to = new updated_at)
  and inserts a new open version; brand-new keys are inserted;
  missing keys stay open (timestamp strategy does not hard-delete);
- rerunning the same source is a no-op (idempotent) — FIXTURES.md F4.

Implementation is a pure DataFrame merge computed as joins + unions.
On parquet we rewrite via a staging table (atomic swap); on
Delta/Iceberg the same logic is a single ``MERGE INTO`` — that's the
production path at 100 TB (partition the snapshot by a date of
dbt_valid_from so the merge prunes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SNAPSHOT_META = ["dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to"]


def _with_meta(source: DataFrame, unique_key: str, updated_at: str) -> DataFrame:
    ts = F.col(updated_at).cast("timestamp")
    return source.select(
        "*",
        F.md5(F.concat_ws("|", F.col(unique_key).cast("string"), ts.cast("string"))).alias(
            "dbt_scd_id"
        ),
        ts.alias("dbt_updated_at"),
        ts.alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
    )


def snapshot_merge(
    existing: DataFrame | None,
    source: DataFrame,
    unique_key: str,
    updated_at: str,
    hard_deletes: str = "ignore",
    now: "object" = None,
) -> DataFrame:
    """Compute the next snapshot state (timestamp strategy).

    ``hard_deletes`` (dbt 1.9 semantics): ``ignore`` keeps rows whose
    key vanished from the source open (the classic timestamp-strategy
    behavior); ``invalidate`` closes them at ``now`` (defaults to
    current_timestamp) so history records the deletion."""
    # dedupe source to the latest version per key (defensive, like dbt)
    from pyspark.sql.window import Window

    w = Window.partitionBy(unique_key).orderBy(F.col(updated_at).cast("timestamp").desc())
    latest = (
        source.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    staged = _with_meta(latest, unique_key, updated_at)
    if existing is None:
        return staged

    open_rows = existing.filter(F.col("dbt_valid_to").isNull())
    closed_rows = existing.filter(F.col("dbt_valid_to").isNotNull())

    src_keyed = staged.select(
        F.col(unique_key).alias("_src_key"),
        F.col("dbt_updated_at").alias("_src_updated_at"),
    )
    joined = open_rows.join(
        src_keyed, open_rows[unique_key] == src_keyed["_src_key"], "left"
    )
    is_changed = F.col("_src_key").isNotNull() & (
        F.col("_src_updated_at") > F.col("dbt_updated_at")
    )
    is_deleted = F.col("_src_key").isNull() & F.lit(hard_deletes == "invalidate")
    # open rows that stay open (unchanged; absent keys too under
    # hard_deletes=ignore)
    still_open = joined.filter(~is_changed & ~is_deleted).drop(
        "_src_key", "_src_updated_at"
    )
    now_ts = (
        F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    )
    # open rows being superseded close at the NEW updated_at; hard-
    # deleted keys close at `now`
    newly_closed = (
        joined.filter(is_changed | is_deleted)
        .withColumn(
            "dbt_valid_to",
            F.when(is_changed, F.col("_src_updated_at")).otherwise(now_ts),
        )
        .drop("_src_key", "_src_updated_at")
    )
    # source rows that create a new version: new keys, or changed keys
    open_keyed = open_rows.select(
        F.col(unique_key).alias("_tgt_key"),
        F.col("dbt_updated_at").alias("_tgt_updated_at"),
    )
    src_joined = staged.join(
        open_keyed, staged[unique_key] == open_keyed["_tgt_key"], "left"
    )
    inserts = src_joined.filter(
        F.col("_tgt_key").isNull()
        | (F.col("dbt_updated_at") > F.col("_tgt_updated_at"))
    ).drop("_tgt_key", "_tgt_updated_at")

    return (
        closed_rows.unionByName(still_open)
        .unionByName(newly_closed)
        .unionByName(inserts, allowMissingColumns=True)
    )


def snapshot_merge_check(
    existing: DataFrame | None,
    source: DataFrame,
    unique_key: str,
    check_cols: list[str] | str,
    now: "object" = None,
) -> DataFrame:
    """Compute the next snapshot state (dbt ``check`` strategy).

    A row is a new version when any of ``check_cols`` (or every
    non-meta column for ``'all'``) differs from the open version —
    null-safe comparison, like dbt's.  ``dbt_valid_from`` of new
    versions is the run timestamp ``now`` (dbt uses the invocation
    time; pass it explicitly for idempotent tests/backfills).
    """
    from datetime import datetime, timezone

    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    now_col = F.lit(now).cast("timestamp")

    if check_cols == "all" or check_cols is None:
        cols = [c for c in source.columns if c != unique_key]
    else:
        cols = list(check_cols)

    staged = source.select(
        "*",
        F.md5(
            F.concat_ws(
                "|",
                F.col(unique_key).cast("string"),
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
            )
        ).alias("dbt_scd_id"),
        now_col.alias("dbt_updated_at"),
        now_col.alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
    ).dropDuplicates([unique_key])
    if existing is None:
        return staged

    open_rows = existing.filter(F.col("dbt_valid_to").isNull())
    closed_rows = existing.filter(F.col("dbt_valid_to").isNotNull())
    # change detection = scd_id mismatch (scd_id hashes the checked
    # column values, so equal ids ⇔ unchanged payload)
    src_keyed = staged.select(
        F.col(unique_key).alias("_src_key"), F.col("dbt_scd_id").alias("_src_scd")
    )
    joined = open_rows.join(
        src_keyed, open_rows[unique_key] == src_keyed["_src_key"], "left"
    )
    is_changed = F.col("_src_key").isNotNull() & (
        F.col("_src_scd") != F.col("dbt_scd_id")
    )
    still_open = joined.filter(~is_changed).drop("_src_key", "_src_scd")
    newly_closed = (
        joined.filter(is_changed)
        .withColumn("dbt_valid_to", now_col)
        .drop("_src_key", "_src_scd")
    )
    open_keyed = open_rows.select(
        F.col(unique_key).alias("_tgt_key"), F.col("dbt_scd_id").alias("_tgt_scd")
    )
    src_joined = staged.join(
        open_keyed, staged[unique_key] == open_keyed["_tgt_key"], "left"
    )
    inserts = src_joined.filter(
        F.col("_tgt_key").isNull() | (F.col("dbt_scd_id") != F.col("_tgt_scd"))
    ).drop("_tgt_key", "_tgt_scd")

    return (
        closed_rows.unionByName(still_open)
        .unionByName(newly_closed)
        .unionByName(inserts, allowMissingColumns=True)
    )


def run_snapshot(
    spark: SparkSession,
    target_fqn: str,
    source_df: DataFrame,
    unique_key: str,
    updated_at: str | None = None,
    write_fn=None,
    strategy: str = "timestamp",
    check_cols: list[str] | str | None = None,
    now: "object" = None,
    hard_deletes: str = "ignore",
    read_fn=None,
) -> int:
    """Execute a snapshot against a catalog table; returns row count.

    ``write_fn(df, fqn)`` abstracts the sink (runner passes the
    staging-swap parquet writer; a Delta deployment passes MERGE).
    ``read_fn(fqn)`` abstracts the target read — the runner passes a
    PATH-based reader because partitioned catalog tables resolve their
    partition listing at execution time, after the swap's DROP TABLE
    (see ParquetFormat.read_for_merge).
    """
    read = read_fn or spark.table
    existing = (
        read(target_fqn) if spark.catalog.tableExists(target_fqn) else None
    )
    if strategy == "check":
        merged = snapshot_merge_check(existing, source_df, unique_key, check_cols, now)
    else:
        merged = snapshot_merge(
            existing, source_df, unique_key, updated_at, hard_deletes, now
        )
    if write_fn is None:
        raise ValueError("write_fn required")
    # Row count rides the WRITE job as an Observation (CollectMetrics)
    # instead of a post-write `spark.table(...).count()` — which
    # re-scanned the entire just-written table; at 100 TB that second
    # full pass costs as much as the snapshot itself.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    write_fn(merged.observe(obs, F.count(F.lit(1)).alias("n")), target_fqn)
    return int(obs.get["n"])
