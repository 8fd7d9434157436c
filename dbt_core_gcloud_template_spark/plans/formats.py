"""Table-format plugins: the storage seam under the runner.

The runner needs exactly four storage primitives — everything else
(schema evolution, contracts, hooks, partition-scope derivation, the
merge SEMANTICS) is format-independent and stays in ``runner.py``:

  - ``write``: low-level table write (format, layout, bucketing);
  - ``read_for_merge``: how a merge/snapshot reads its own target;
  - ``overwrite_touched_partitions``: partition-scoped rewrite;
  - ``merge``: OPTIONAL native MERGE INTO — return False and the
    runner falls back to its read-modify-swap implementation.

``ParquetFormat`` is the default and carries the exact behavior the
whole test suite pins (external path-based tables, versioned-swap
self-refs, dynamic-partition-overwrite scoped merges).  ``delta`` /
``iceberg`` are drop-ins where their jars + catalog extensions are on
the session (reference parity note at runner.py `# MERGE INTO on
Delta/Iceberg in production`): transactional formats keep the SAME
runner semantics but replace stage-and-swap with a native MERGE and
rely on the format's own snapshot isolation instead of the versioned
directory swap.

Select per target/project with ``table_format: delta`` (profiles.yml
output or project.yml top level); default parquet.
"""

from __future__ import annotations

import re
import shutil
import uuid
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame

if TYPE_CHECKING:  # pragma: no cover
    from .runner import Engine


# Tokens the scan classifies: string literals, dotted references
# (either segment may be backticked — already qualified), backticked
# identifiers, bare identifiers.  Order matters: the dotted alternative
# must win over the single-backtick one so "`t`.col" is seen as one
# qualified reference, not a backtick token plus a bare column.
_PRED_TOKEN_RE = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\""  # string literals (\-escapes)
    r"|(?:[A-Za-z_]\w*|`[^`]+`)(?:\s*\.\s*(?:`[^`]+`|[A-Za-z_]\w*))+"  # a.b
    r"|`[^`]+`"  # backticked identifier (quoted, but maybe unqualified)
    r"|[A-Za-z_]\w*"  # bare identifier (maybe a column)
)

# Words that are SQL datetime-interval/extract units; a target column
# sharing one of these names is still a column everywhere EXCEPT in
# the unit positions the _sub context rules detect.
_DT_UNITS = {
    "year", "years", "quarter", "quarters", "month", "months",
    "week", "weeks", "day", "days", "hour", "hours",
    "minute", "minutes", "second", "seconds",
    "millisecond", "milliseconds", "microsecond", "microseconds",
    "dayofweek", "dayofyear", "doy", "dow", "epoch",
}


def qualify_predicate(pred: str, columns: list[str], alias: str = "t") -> str:
    """Qualify bare column references in a merge predicate with the
    target alias.

    dbt ``incremental_predicates`` are written against the TARGET
    relation, and the parquet fallback applies them via
    ``DataFrame.filter`` on the target — where bare names are
    unambiguous.  Inside ``MERGE INTO t USING s`` the same bare name
    exists on BOTH sides, so an unqualified predicate either errors
    (ambiguous reference) or silently resolves against the wrong side.
    Rewrite every identifier — bare or backticked — that names a
    target column to ``alias.`name``` (backticks QUOTE a name; they do
    not qualify it, so ```date` >= ...`` is just as ambiguous inside
    MERGE as the bare form).  Everything else — functions, literals,
    pre-qualified refs — passes through verbatim, and a target-column
    name is left alone where SQL grammar makes it syntax rather than a
    reference: a cast target (``cast(ts as date)``), a datetime unit
    after a number (``interval 7 day``), or an extract unit
    (``extract(year from ts)``).
    """
    cols = {c.lower() for c in columns}

    def _sub(m: re.Match) -> str:
        tok = m.group(0)
        if tok[0] in "'\"":
            return tok  # string literal
        if tok[0] == "`" and tok[-1] == "`" and tok.count("`") == 2:
            # single backticked identifier: quoted, NOT qualified —
            # same context rules as the bare form (backticks change
            # quoting, not grammar: "cast(ts as `date`)" is still a
            # cast target, not a reference)
            name, quoted = tok[1:-1], True
        elif "." in tok:
            return tok  # already-qualified reference
        else:
            name, quoted = tok, False
        if name.lower() not in cols:
            return tok  # keyword / function name / unrelated identifier
        rest = pred[m.end():].lstrip()
        if rest.startswith("("):
            return tok  # function call
        before = pred[: m.start()].rstrip()
        if re.search(r"(?i)\bas$", before):
            return tok  # cast/alias target type name
        if name.lower() in _DT_UNITS:
            # unit positions only — a column named `day` compared
            # directly ("day >= 3") still qualifies
            if before and (before[-1].isdigit() or before[-1] == "'"):
                return tok  # interval 7 day / interval '7' day
            if re.match(r"(?i)from\b", rest):
                return tok  # extract unit: extract(year from ts)
        return f"{alias}.{tok}" if quoted else f"{alias}.`{tok}`"

    return _PRED_TOKEN_RE.sub(_sub, pred)


def as_list(value) -> list:
    """A config value given as one name or a list of them, as a list."""
    if not value:
        return []
    return [value] if isinstance(value, str) else list(value)


def overwrite_partitions(
    spark, df: DataFrame, fqn: str, fmt: str | None = None
) -> None:
    """Replace exactly the partitions of ``fqn`` that ``df`` has rows
    for: a positional ``insertInto`` (columns in target order) under
    dynamic partition overwrite, which also works on v1 path-based
    parquet tables (``writeTo().overwritePartitions()`` is DSv2-only).
    The mode is set for this write only and then restored: session
    confs are process-global, and a leftover ``dynamic`` would change
    every later static overwrite in the session."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        writer = df.select(*spark.table(fqn).columns).write
        if fmt:
            writer = writer.format(fmt)
        writer.mode("overwrite").insertInto(fqn)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def _table_writer(df, fmt, mode, loc, partition_cols, bucket):
    """An external-table writer at ``loc``.  ``bucket`` is
    ``{"columns": [...], "buckets": n}``: hash-bucketed + sorted files
    let equal-bucketed tables join with NO shuffle on the bucket key
    (the Spark analog of co-located BigQuery clustering; SURVEY §7.7)."""
    writer = df.write.format(fmt).mode(mode).option("path", loc)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if bucket:
        cols = bucket["columns"]
        writer = writer.bucketBy(int(bucket.get("buckets", 8)), *cols).sortBy(*cols)
    return writer


class TableFormat:
    """Base plugin. Subclasses set ``name`` (also the DataSource
    format string) and may override any primitive."""

    name = "base"

    # -- capability probes -------------------------------------------------
    def available(self, spark) -> bool:
        """True when this format can actually run on the session."""
        raise NotImplementedError

    # -- primitives --------------------------------------------------------
    def write(
        self,
        engine: "Engine",
        df: DataFrame,
        fqn: str,
        partition_cols: list[str],
        mode: str,
        bucket: dict[str, Any] | None = None,
        path: str | None = None,
    ) -> None:
        raise NotImplementedError

    def read_for_merge(self, engine: "Engine", fqn: str) -> DataFrame:
        return engine.spark.table(fqn)

    def overwrite_touched_partitions(
        self, engine: "Engine", merged: DataFrame, fqn: str
    ) -> None:
        raise NotImplementedError

    def merge(
        self,
        engine: "Engine",
        fqn: str,
        df: DataFrame,
        key_cols: list[str],
        node_config: dict[str, Any],
    ) -> bool:
        """Native MERGE INTO.  Return True when handled; False defers
        to the runner's format-independent read-modify-swap."""
        return False

    # ``self_ref`` writes (snapshot / merge output over the same
    # relation): transactional formats just overwrite in place.
    def supports_in_place_self_ref(self) -> bool:
        return False


class ParquetFormat(TableFormat):
    """Default: external path-based parquet tables.

    No transaction log, so the runner's versioned-directory swap and
    staged dynamic-partition-overwrite provide the atomicity story;
    this class owns only the physical write shapes.
    """

    name = "parquet"

    def available(self, spark) -> bool:
        return True

    def write(
        self,
        engine: "Engine",
        df: DataFrame,
        fqn: str,
        partition_cols: list[str],
        mode: str,
        bucket: dict[str, Any] | None = None,
        path: str | None = None,
    ) -> None:
        # Always external with an explicit path: idempotent across
        # sessions (catalog.json restore) and overwrite-safe — managed
        # tables error with LOCATION_ALREADY_EXISTS after a restore.
        # When no path is given, prefer the CATALOG-RECORDED location
        # over the conventional one: the versioned-swap rewrite (merge,
        # snapshot, optimize) leaves the live table at a ``__v<hex>``
        # directory, and a later append/full-refresh computed from the
        # conventional path would hit Spark's location-mismatch error
        # (exposed by optimize on an append-materialized delta log).
        loc = (
            path
            or engine._catalog.get(fqn, {}).get("location")
            or engine._relation_path(fqn)
        )
        if bucket and engine.spark.catalog.tableExists(fqn):
            # Overwriting a bucketed table in place requires a drop
            # first (Spark forbids changing bucket spec via path
            # overwrite).
            engine.spark.sql(f"DROP TABLE IF EXISTS {fqn}")
            shutil.rmtree(loc, ignore_errors=True)
        _table_writer(df, self.name, mode, loc, partition_cols, bucket).saveAsTable(fqn)

    def read_for_merge(self, engine: "Engine", fqn: str) -> DataFrame:
        """Read an incremental/merge target by PATH, not through the
        catalog.  The versioned-swap rewrite drops the catalog entry
        before the merge plan executes, and PARTITIONED catalog tables
        resolve their partition listing lazily at execution time
        (CatalogFileIndex.listPartitionsByFilter) — a catalog read dies
        mid-swap with TABLE_OR_VIEW_NOT_FOUND.  A path read snapshots
        the file listing at analysis (InMemoryFileIndex), so the merge
        keeps reading the old files until they are deleted after the
        new version lands.  Bucketed targets keep the catalog read
        (bucket metadata lives only there; their write path is
        stage-and-swap, which has no mid-swap window)."""
        entry = engine._catalog.get(fqn) or {}
        if (
            entry.get("type") == "table"
            and entry.get("format") == "parquet"
            and not entry.get("bucket_by")
            and entry.get("location")
        ):
            try:
                return engine.spark.read.parquet(entry["location"])
            except Exception:
                # a zero-row table's directory has no files to infer a
                # schema from (UNABLE_TO_INFER_SCHEMA) — the catalog
                # read carries the declared schema and there is no
                # mid-swap window to protect when the table is empty
                return engine.spark.table(fqn)
        return engine.spark.table(fqn)

    def overwrite_touched_partitions(
        self, engine: "Engine", merged: DataFrame, fqn: str
    ) -> None:
        """Replace ONLY the partitions present in ``merged``, leaving
        every other partition directory's files physically untouched.

        Parquet can't be read and overwritten in one job, so the
        merged touched-partition rows stage to a side directory first
        (cost scales with the touched partitions, not the table), then
        land via :func:`overwrite_partitions`, which swaps whole
        partition directories.
        """
        target_cols = engine.spark.table(fqn).columns
        stage = f"{engine._relation_path(fqn)}__mstg{uuid.uuid4().hex[:8]}"
        merged.select(*target_cols).write.format("parquet").mode(
            "overwrite"
        ).save(stage)
        try:
            overwrite_partitions(engine.spark, engine.spark.read.parquet(stage), fqn)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        engine.spark.catalog.refreshTable(fqn)


class _TransactionalFormat(TableFormat):
    """Shared shape for log-backed formats (Delta, Iceberg): ACID
    overwrite means no versioned-directory swap, no staging dir, and
    merges go through native MERGE INTO SQL."""

    def write(
        self,
        engine: "Engine",
        df: DataFrame,
        fqn: str,
        partition_cols: list[str],
        mode: str,
        bucket: dict[str, Any] | None = None,
        path: str | None = None,
    ) -> None:
        loc = path or engine._relation_path(fqn)
        writer = _table_writer(df, self.name, mode, loc, partition_cols, bucket)
        if mode == "overwrite":
            writer = writer.option("overwriteSchema", "true")
        writer.saveAsTable(fqn)

    def supports_in_place_self_ref(self) -> bool:
        # The transaction log gives snapshot isolation: a plan that
        # reads the current version can overwrite the table in the
        # same job — no versioned directory swap needed.
        return True

    def overwrite_touched_partitions(
        self, engine: "Engine", merged: DataFrame, fqn: str
    ) -> None:
        # Dynamic partition overwrite is native and transactional in
        # both formats — no staging directory required.
        overwrite_partitions(engine.spark, merged, fqn, fmt=self.name)

    def merge(
        self,
        engine: "Engine",
        fqn: str,
        df: DataFrame,
        key_cols: list[str],
        node_config: dict[str, Any],
    ) -> bool:
        """Native ``MERGE INTO`` preserving the runner's dbt-parity
        semantics: merge_update_columns / merge_exclude_columns pick
        the WHEN MATCHED SET list; incremental_predicates bound the
        TARGET side (rows outside are never matched — the pruning that
        keeps a 100 TB merge from scanning all history)."""
        spark = engine.spark
        src = f"__merge_src_{abs(hash(fqn)) % 10**8}"
        df.createOrReplaceTempView(src)
        try:
            on = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in key_cols)
            for p in as_list(node_config.get("incremental_predicates")):
                # predicates are written against the target relation;
                # qualify bare column refs with the t alias (bare names
                # are ambiguous inside MERGE — both t and s carry them)
                on += f" AND ({qualify_predicate(p, df.columns)})"
            upd_cols = as_list(node_config.get("merge_update_columns"))
            exc_cols = as_list(node_config.get("merge_exclude_columns"))
            cols = [c for c in df.columns if c not in key_cols]
            if upd_cols:
                set_cols = [c for c in cols if c in set(upd_cols)]
            elif exc_cols:
                set_cols = [c for c in cols if c not in set(exc_cols)]
            else:
                set_cols = cols
            set_sql = ", ".join(f"t.`{c}` = s.`{c}`" for c in set_cols)
            matched = f"WHEN MATCHED THEN UPDATE SET {set_sql} " if set_sql else ""
            spark.sql(
                f"MERGE INTO {fqn} t USING {src} s ON {on} "
                f"{matched}"
                f"WHEN NOT MATCHED THEN INSERT *"
            )
            return True
        finally:
            spark.catalog.dropTempView(src)


class DeltaFormat(_TransactionalFormat):
    name = "delta"

    def available(self, spark) -> bool:
        try:
            jvm_ok = spark._jvm.java.lang.Class.forName(
                "org.apache.spark.sql.delta.DeltaLog"
            ) is not None
        except Exception:
            jvm_ok = False
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        return jvm_ok and "DeltaSparkSessionExtension" in ext


class IcebergFormat(_TransactionalFormat):
    name = "iceberg"

    def available(self, spark) -> bool:
        try:
            jvm_ok = spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            ) is not None
        except Exception:
            jvm_ok = False
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        return jvm_ok and "IcebergSparkSessionExtensions" in ext


_FORMATS: dict[str, TableFormat] = {}


def register_format(fmt: TableFormat) -> None:
    _FORMATS[fmt.name] = fmt


register_format(ParquetFormat())
register_format(DeltaFormat())
register_format(IcebergFormat())


def get_format(name: str | None, spark=None) -> TableFormat:
    """Resolve a plugin by name (default parquet).  When a session is
    given, fail fast with an actionable message if the format's jars /
    extensions are missing — better than a mid-DAG ClassNotFound."""
    fmt = _FORMATS.get(name or "parquet")
    if fmt is None:
        raise ValueError(
            f"unknown table_format {name!r}; registered: {sorted(_FORMATS)}"
        )
    if spark is not None and not fmt.available(spark):
        raise ValueError(
            f"table_format {fmt.name!r} is not available on this session "
            f"(missing jars or spark.sql.extensions); install the "
            f"{fmt.name} runtime or drop the table_format override"
        )
    return fmt
