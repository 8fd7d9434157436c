"""Runner: topo-ordered, thread-pooled DAG execution onto the Spark
catalog (SURVEY.md §2.11 E1/E2/E6; reference `dbt build`,
entrypoint.sh:74, profiles threads 4/8).

Materializations (S4-S10):
  view         — CREATE OR REPLACE VIEW (logical, inlined by Catalyst)
  table        — CTAS overwrite, optional time-partitioning (derived
                 day column, BigQuery parity) + cluster sort
  incremental  — append | merge (unique_key) | insert_overwrite
  seed         — CSV → table (header + inferSchema)
  snapshot     — SCD2 timestamp strategy (operators/snapshot.py)
  test         — generic tests run as DAG nodes (A4/A5)

Catalog persistence: Spark's in-memory catalog dies with the session,
so the engine records every relation in ``catalog.json`` and
re-registers on startup (external tables by LOCATION, views by their
SQL).  On a cluster with a real metastore / Delta catalog this layer
is a no-op — the design keeps all state in (warehouse files +
manifest artifacts), never in the session.

Scale notes: node-level parallelism is driver-side threads sharing one
SparkContext (FAIR pools so a long model doesn't starve short ones);
within a node, parallelism is Spark's own.  Partitioned sinks derive a
DATE partition column from the configured timestamp field — BigQuery
day-partition parity (SURVEY §1.3) — so downstream date filters prune.

Structure: ``Engine.build`` schedules nodes; each runs inside
``Engine.node_context(uid)``, the one node-execution seam (job group and
labels, scheduler pool, timeout watchdog, fence/metric collector,
timing, error capture), and is dispatched on its ``resource_type``.
Models share one preamble in ``_run_model`` (frame, contract,
``--empty``, input-bytes estimate, cost guards) and then land through
``_materialize``, which runs the strategy ``_MATERIALIZATIONS`` maps
their materialization or incremental strategy to; a streaming table's
micro-batches land through the same ``_materialize``.  Storage
primitives live in ``formats.py``.
"""

from __future__ import annotations

import contextvars
import json
import os
import re
import shutil
import subprocess
import threading
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from contextlib import contextmanager, suppress
from dataclasses import asdict, dataclass, field
from types import SimpleNamespace
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import arturi
from .formats import as_list, overwrite_partitions

from ..operators import fences as fences_profile
from ..operators import snapshot as snapshot_op
from ..operators import telemetry as fence_telemetry
from ..operators import tests as tests_op
from ..sources.registry import file_bytes, source_schema
from .compiler import CompilerError, compile_project, effective_full_refresh, render
from .manifest import Manifest, Node
from .project import Project, load_project

# Session-keyed memo of unit-test fixture frames on their literal row
# content: `createDataFrame(rows)` pays schema inference and py4j per
# call, and fixtures are version-controlled constants.  Keyed by
# (applicationId, repr(rows)); the temp view is re-registered per run.
_UT_FIXTURE_MEMO: dict[tuple, DataFrame] = {}

# Session-keyed memo of the verified location of each source backing
# table, for the staleness-repoint check when catalog.json has no record
# (it saves a `DESCRIBE FORMATTED` job per source per build).
# register_sources, the only writer of these tables, updates it on every
# create/keep/repoint decision; a new session misses and asks DESCRIBE.
_SOURCE_LOCATION_MEMO: dict[tuple, str] = {}


@dataclass
class NodeResult:
    unique_id: str
    status: str  # success | fail | error | skipped | pass
    execution_time: float = 0.0
    message: str = ""
    rows_affected: int = -1
    # pre-execution input-size estimate (file-listing metadata, the
    # BigQuery dry-run-bytes analog); -1 = not applicable/estimated
    input_bytes: int = -1
    # skew-fence telemetry: one record per fence a dedup/similarity
    # operator tripped while building this node ("no silent caps" —
    # a corpus whose boilerplate overflows a max_bucket_size /
    # max_occurrences / max_cluster_size fence must be visible in
    # run_results.json, not silently short-circuited)
    fences: list = field(default_factory=list)
    # named scalar metrics a node reported via dbt.record_metric /
    # telemetry.record_metric: recall/precision
    # numbers from diagnostics stages land next to the fences so
    # `engine monitor` can threshold them.  Values are float | None —
    # record_metric(None) is a reported-but-unavailable number and
    # every consumer must guard the null (the monitor does).
    metrics: "dict[str, float | None]" = field(default_factory=dict)


@dataclass
class RunResults:
    target: str
    results: list[NodeResult] = field(default_factory=list)
    elapsed: float = 0.0

    def write(self, path: str) -> None:
        with arturi.open_uri(path, "w") as f:
            json.dump(
                {
                    "target": self.target,
                    "elapsed": self.elapsed,
                    "results": [asdict(r) for r in self.results],
                },
                f,
                indent=2,
            )

    @property
    def status_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.results:
            out[r.status] = out.get(r.status, 0) + 1
        return out


class Engine:
    """One project + one SparkSession + one artifact/state directory."""

    def __init__(
        self,
        spark: SparkSession,
        project_dir: str,
        target: str | None = None,
        state_dir: str | None = None,
    ):
        self.spark = spark
        self.project: Project = load_project(project_dir)
        self.target = target or self.project.default_target
        self.target_conf = self.project.targets.get(self.target, {})
        self.threads = int(self.target_conf.get("threads", 4))
        # Storage-format plugin (plans/formats.py): target conf wins
        # over project vars; default parquet.  Resolved against the
        # session so a missing delta/iceberg runtime fails fast here.
        from .formats import get_format

        self.format_plugin = get_format(
            self.target_conf.get("table_format")
            or self.project.vars.get("table_format"),
            spark=spark,
        )
        self.state_dir = state_dir or os.path.join(project_dir, "target")
        arturi.makedirs(self.state_dir)
        # The relation catalog describes the WAREHOUSE (shared by every
        # target/run against it), not one run's artifacts — keep it next
        # to the data so ci/prod builds see each other's relations.
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        self._warehouse = wh.removeprefix("file:")
        os.makedirs(self._warehouse, exist_ok=True)
        self._catalog_path = os.path.join(self._warehouse, "engine_catalog.json")
        self._catalog: dict[str, dict[str, Any]] = {}
        self._lock = threading.Lock()
        # Optimistic fused test gate: per parent relation, one aggregate
        # scan proves (or disproves) every fusable sibling test at once.
        self._fused_gate: dict[str, dict[str, int]] = {}
        self._fused_lock = threading.Lock()
        # dbt --empty for the current build (see build)
        self._empty = False
        if os.path.exists(self._catalog_path):
            with open(self._catalog_path) as f:
                self._catalog = json.load(f)
        self.restore_catalog()
        # BigQuery compat shims (SAFE_DIVIDE etc.) so model SQL lifted
        # from the reference's BigQuery project runs unmodified
        from ..functions.bigquery_compat import register_bigquery_compat

        register_bigquery_compat(spark)

    # ------------------------------------------------------------------ catalog
    def _ensure_schema(self, schema: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")

    def _save_catalog(self) -> None:
        """Persist the catalog (caller holds ``_lock``).  Engines of
        every target share the file, so it is written to a temp file in
        the same directory and renamed over the old one: a failed or
        interleaved dump never leaves a truncated catalog behind."""
        tmp = f"{self._catalog_path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(self._catalog, f, indent=2)
            os.replace(tmp, self._catalog_path)
        except BaseException:
            with suppress(FileNotFoundError):
                os.unlink(tmp)
            raise

    def _record(self, fqn: str, entry: dict[str, Any]) -> None:
        with self._lock:
            self._catalog[fqn] = entry
            self._save_catalog()

    def purge_catalog_schema(self, schema: str) -> list[str]:
        """Remove a schema's relations from the persisted catalog (the
        companion to `drop-schema`): without this, dropped relations
        linger in catalog.json and every later session's restore pays a
        failed CREATE TABLE per stale entry.  Schema identifiers are
        case-insensitive in Spark, so the prefix match is too: a
        differently-cased `drop-schema` name must still purge the
        records."""
        prefix = schema.lower() + "."
        with self._lock:
            gone = [k for k in self._catalog if k.lower().startswith(prefix)]
            for fqn in gone:
                del self._catalog[fqn]
            if gone:
                self._save_catalog()
        return gone

    def restore_catalog(self) -> None:
        """Re-register recorded relations into this session's catalog."""
        tables = {f: e for f, e in self._catalog.items() if e["type"] == "table"}
        views = {f: e for f, e in self._catalog.items() if e["type"] == "view"}
        for fqn, e in tables.items():
            schema = fqn.split(".")[0]
            self._ensure_schema(schema)
            if not self.spark.catalog.tableExists(fqn):
                try:
                    pcols = e.get("partition_cols") or []
                    if pcols and e.get("schema_ddl"):
                        # partitioned external table: declare partitions
                        # then recover them (plain LOCATION registration
                        # would read zero rows)
                        self.spark.sql(
                            f"CREATE TABLE {fqn} ({e['schema_ddl']}) "
                            f"USING {e.get('format', 'parquet')} "
                            f"PARTITIONED BY ({', '.join(pcols)}) "
                            f"LOCATION '{e['location']}'"
                        )
                        self.spark.sql(f"MSCK REPAIR TABLE {fqn}")
                    else:
                        self.spark.sql(
                            f"CREATE TABLE {fqn} USING {e.get('format', 'parquet')} "
                            f"LOCATION '{e['location']}'"
                        )
                except Exception:  # stale entry (files gone)
                    pass
                else:
                    self._apply_comments(
                        fqn, False, e.get("comment"), e.get("column_comments") or {}
                    )
        for fqn, e in views.items():
            schema = fqn.split(".")[0]
            self._ensure_schema(schema)
            try:
                self.spark.sql(f"CREATE OR REPLACE VIEW {fqn} AS {e['sql']}")
            except Exception:
                pass

    def register_sources(self) -> None:
        """S1: external tables registered by LOCATION (scan stays
        declarative → pushdown + pruning reach the parquet reader)."""
        from ..sources.registry import ensure_session_confs

        ensure_session_confs(self.spark)
        for s in self.project.sources:
            self._ensure_schema(s.schema)
            fqn = f"{s.schema}.{s.name}"
            if not s.location:
                continue
            # A declared column type-contract decouples the logical source
            # schema from the file encoding: the external table binds the
            # physical bytes, and a view adapts it to the declared types.
            # Keeps models schema-stable when the feed's writer changes
            # encoding (e.g. events.ts as parquet TIMESTAMP(NANOS), which
            # arrives as an epoch-nanos BIGINT under nanosAsLong, vs
            # TIMESTAMP(MICROS), which arrives as a real timestamp).
            backing = f"{fqn}__raw" if s.column_types else fqn
            loc_key = (self.spark.sparkContext.applicationId, backing)
            if self.spark.catalog.tableExists(backing):
                # Re-point a source whose DECLARED location moved:
                # source locations are env-interpolated at parse time
                # (a nightly feed path, a restated delivery dir), and a
                # long-lived session would otherwise keep scanning the
                # OLD files forever — a build that silently reads last
                # night's corpus.  The external table carries no data,
                # so drop-and-recreate is metadata-only.
                prev = self._catalog.get(backing, {}).get("location")
                if prev is None:
                    prev = _SOURCE_LOCATION_MEMO.get(loc_key)
                if prev is None:
                    try:
                        row = (
                            self.spark.sql(f"DESCRIBE FORMATTED {backing}")
                            .filter(F.col("col_name") == "Location")
                            .first()
                        )
                        prev = row["data_type"] if row is not None else None
                    except Exception:
                        prev = None
                cur = str(s.location).removeprefix("file:")
                # An UNKNOWN previous location (no catalog record, no
                # Location row) re-points too: recreating the external
                # table is metadata-only, while skipping would silently
                # keep scanning a stale path — the exact bug this block
                # exists to prevent.
                if prev is None or str(prev).removeprefix("file:") != cur:
                    self.spark.sql(f"DROP TABLE IF EXISTS {backing}")
            if not self.spark.catalog.tableExists(backing):
                # an explicit column list from the shared schema cache
                # skips the footer inference CREATE TABLE would run; csv
                # keeps its OPTIONS-driven header/inferSchema path, and an
                # unreadable location lets CREATE TABLE report the error
                schema = None
                if s.format != "csv":
                    with suppress(Exception):
                        schema = source_schema(self.spark, s.location, s.format)
                if schema:
                    ddl = ", ".join(
                        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
                    )
                    self.spark.sql(
                        f"CREATE TABLE {backing} ({ddl}) USING {s.format}"
                        f" LOCATION '{s.location}'"
                    )
                else:
                    opts = " OPTIONS (header 'true', inferSchema 'true')" if s.format == "csv" else ""
                    self.spark.sql(
                        f"CREATE TABLE {backing} USING {s.format}{opts} LOCATION '{s.location}'"
                    )
            # the table now verifiably points at the declared location —
            # remember it for this session (see _SOURCE_LOCATION_MEMO)
            _SOURCE_LOCATION_MEMO[loc_key] = str(s.location)
            self._record(
                backing, {"type": "table", "format": s.format, "location": s.location}
            )
            if s.column_types:
                actual = {
                    f.name: f.dataType.simpleString()
                    for f in self.spark.table(backing).schema.fields
                }
                exprs = []
                for col, typ in actual.items():
                    want = (s.column_types.get(col) or "").lower()
                    if not want or want == typ:
                        exprs.append(f"`{col}`")
                    elif typ == "bigint" and want == "timestamp":
                        # only produced by parquet TIMESTAMP(NANOS) under
                        # nanosAsLong: epoch-nanos → micros truncation
                        exprs.append(f"timestamp_micros(`{col}` div 1000) AS `{col}`")
                    else:
                        exprs.append(f"CAST(`{col}` AS {want}) AS `{col}`")
                view_sql = f"SELECT {', '.join(exprs)} FROM {backing}"
                self.spark.sql(f"CREATE OR REPLACE VIEW {fqn} AS {view_sql}")
                self._record(fqn, {"type": "view", "sql": view_sql})

    # ------------------------------------------------------------ write paths
    def _get_table(self, fqn: str):
        try:
            return self.spark.catalog.getTable(fqn)
        except Exception:
            return None

    def _relation_path(self, fqn: str) -> str:
        schema, table = fqn.split(".", 1)
        return os.path.join(self._warehouse, "engine_data", schema, table)

    def write_relation(
        self,
        df: DataFrame,
        fqn: str,
        node_config: dict[str, Any] | None = None,
        mode: str = "overwrite",
        self_ref: bool = False,
    ) -> None:
        """Materialize df as a managed parquet table.

        ``self_ref=True`` (snapshot/incremental-merge reads its own
        target) stages to a side table first — parquet can't be read
        and overwritten in one job.  partition_by derives a DATE column
        (BigQuery day-granularity parity, SURVEY §1.3) named
        ``<field>_day``; cluster_by sorts within partitions (the plain-
        parquet stand-in for Delta ZORDER — data-skipping by min/max).
        """
        cfg = node_config or {}
        partition_cols: list[str] = []
        part = cfg.get("partition_by")
        if part:
            pcol, pexpr = self._derived_partition_col(part)
            if pexpr is not None:
                df = df.withColumn(pcol, pexpr)
            partition_cols = [pcol]
        cluster = as_list(cfg.get("cluster_by"))
        bucket = cfg.get("bucket_by")
        if isinstance(bucket, (list, str)):
            bucket = {"columns": [bucket] if isinstance(bucket, str) else bucket}
        if partition_cols:
            df = df.repartition(*[F.col(c) for c in partition_cols])
        if cluster and not bucket:
            if cfg.get("cluster_strategy") == "zorder" and len(cluster) > 1:
                # multi-column clustering: Morton-interleaved layout so
                # min/max skipping works on every clustered column
                # (operators/zorder.py — the Delta ZORDER analog)
                from ..operators.zorder import zorder_sort

                df = zorder_sort(df, cluster)
            else:
                df = df.sortWithinPartitions(*(partition_cols + cluster))

        schema = fqn.split(".")[0]
        self._ensure_schema(schema)
        existing = self._get_table(fqn)
        if existing is not None and existing.tableType == "VIEW":
            # materialization flip view→table (tracked by schema-diff E15)
            self.spark.sql(f"DROP VIEW IF EXISTS {fqn}")

        target_fqn = fqn
        # Resolve the physical location with the SAME precedence the
        # format plugin's write uses (catalog-recorded location first,
        # conventional path as fallback): after a versioned-swap
        # rewrite (optimize/merge/snapshot) the live table sits at a
        # ``__v<hex>`` directory, and recording the conventional path
        # here would desync catalog.json from where the data actually
        # landed — vacuum() would then delete the LIVE directory as
        # "unreferenced" and a restore would recreate the table over an
        # empty dir.  Non-swap branches below pass this path explicitly
        # so the write and the catalog record can never disagree.
        location = self._catalog.get(target_fqn, {}).get(
            "location"
        ) or self._relation_path(target_fqn)
        if self_ref and self.format_plugin.supports_in_place_self_ref():
            # transactional formats (Delta/Iceberg): the log gives
            # snapshot isolation — overwrite in place, no swap
            self.format_plugin.write(
                self, df, target_fqn, partition_cols, "overwrite", bucket
            )
        elif self_ref and not bucket:
            # Swap pointers, not data (the Iceberg/Delta-commit analog):
            # write the merge output ONCE to a fresh versioned directory
            # — the plan still reads the old files, so there is no
            # read/overwrite conflict — then repoint the table and drop
            # the old directory.  Halves the write cost of every
            # snapshot / incremental MERGE vs. stage-and-swap.  A crash
            # between write and cleanup leaves only an orphan __v dir.
            # Force analysis NOW: a bare spark.table(fqn) plan resolves
            # lazily, and the DROP below would make that resolution fail
            # (merge/snapshot inputs are already analyzed via their
            # .columns accesses; a plain rewrite like `optimize` is not).
            _ = df.schema
            old = location
            location = f"{self._relation_path(target_fqn)}__v{uuid.uuid4().hex[:8]}"
            self.spark.sql(f"DROP TABLE IF EXISTS {target_fqn}")
            self.format_plugin.write(
                self, df, target_fqn, partition_cols, "overwrite", path=location
            )
            if os.path.realpath(old) != os.path.realpath(location):
                shutil.rmtree(old, ignore_errors=True)
        elif self_ref:
            # bucketed self-ref: bucket metadata requires a plain
            # saveAsTable, so keep the stage-and-swap path
            stg = f"{fqn}__stg"
            self.format_plugin.write(self, df, stg, partition_cols, "overwrite")
            df = self.spark.table(stg)
            self.format_plugin.write(
                self, df, target_fqn, partition_cols, "overwrite", bucket, location
            )
            self.spark.sql(f"DROP TABLE IF EXISTS {stg}")
            shutil.rmtree(self._relation_path(stg), ignore_errors=True)
        else:
            self.format_plugin.write(
                self, df, target_fqn, partition_cols, mode, bucket, location
            )
        record = {
            "type": "table",
            "format": self.format_plugin.name,
            "location": location,
            "partition_cols": partition_cols,
            "require_partition_filter": bool(
                cfg.get("require_partition_filter")
            ),
            "bucket_by": bucket,
            "schema_ddl": ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
            ),
        }
        # Maintenance metadata rides ACROSS rewrites: _record replaces
        # the entry wholesale, and a nightly incremental build of a
        # compacted drift log must not erase the recorded compaction
        # horizon (the authoritative copy is the in-band marker row,
        # but the catalog copy must at least never regress silently).
        prior = self._catalog.get(target_fqn) or {}
        if "compact_horizon" in prior:
            record["compact_horizon"] = prior["compact_horizon"]
        self._record(target_fqn, record)

    @staticmethod
    def _derived_partition_col(part) -> tuple[str, Column | None]:
        """Resolve a ``partition_by`` config to (column name, derivation
        expr).  Timestamp/datetime fields partition by a derived DATE
        column ``<field>_<granularity>`` (BigQuery time-partitioning
        parity, SURVEY §1.3); date/other fields partition directly
        (expr None)."""
        fld = part["field"] if isinstance(part, dict) else part
        dtype = part.get("data_type", "date") if isinstance(part, dict) else "date"
        gran = part.get("granularity", "day") if isinstance(part, dict) else "day"
        if dtype in ("timestamp", "datetime"):
            pcol = f"{fld}_{gran}"
            if gran == "day":
                return pcol, F.to_date(F.col(fld))
            return pcol, F.to_date(F.date_trunc(gran, F.col(fld)))
        return fld, None

    def create_view(self, fqn: str, sql: str) -> None:
        self._ensure_schema(fqn.split(".")[0])
        existing = self._get_table(fqn)
        if existing is not None and existing.tableType != "VIEW":
            # materialization flip table→view
            self.spark.sql(f"DROP TABLE IF EXISTS {fqn}")
        self.spark.sql(f"CREATE OR REPLACE VIEW {fqn} AS {sql}")
        self._record(fqn, {"type": "view", "sql": sql})

    # ------------------------------------------------------------- node exec
    @contextmanager
    def node_context(self, uid: str):
        """The node-execution seam: everything one DAG node runs under.

        - job group ``uid`` with a ``<project>:<uid> k=v`` description
          from the target's ``labels`` (BigQuery job labels parity);
        - the scheduler pool named by the target's ``priority``;
        - the ``job_execution_timeout_seconds`` watchdog, which cancels
          the job group (the Spark analog of BigQuery's job timeout);
        - a fence/metric collector, whose records land on the result.

        Job group and local properties are per-thread (pinned-thread
        mode), so concurrent nodes don't clobber each other.  The body
        sets ``run.result``; an exception becomes an ``error`` result.
        Execution time covers the whole body."""
        sc = self.spark.sparkContext
        labels = self.target_conf.get("labels") or {}
        desc = f"{self.project.name}:{uid}" + "".join(
            f" {k}={v}" for k, v in labels.items()
        )
        sc.setJobGroup(uid, desc, interruptOnCancel=True)
        priority = self.target_conf.get("priority")
        if priority:
            sc.setLocalProperty("spark.scheduler.pool", str(priority))
        watchdog = None
        timeout_s = self.target_conf.get("job_execution_timeout_seconds")
        if timeout_s:
            watchdog = threading.Timer(float(timeout_s), lambda: sc.cancelJobGroup(uid))
            watchdog.daemon = True
            watchdog.start()
        # context-local, so concurrent nodes each get their own records;
        # the operators' eager fenced-group counts run inside this
        # node's job group and watchdog like any other job
        collector = fence_telemetry.FenceTelemetry()
        run = SimpleNamespace(result=None)
        t0 = time.time()
        try:
            with collector:
                yield run
        except Exception as e:  # noqa: BLE001
            msg = str(e)[:500]
            if watchdog is not None and not watchdog.is_alive():
                msg = f"cancelled by job_execution_timeout_seconds={timeout_s}: {msg}"
            run.result = NodeResult(uid, "error", message=msg)
        finally:
            if watchdog is not None:
                watchdog.cancel()
        run.result.fences = collector.records
        run.result.metrics = collector.metrics
        run.result.execution_time = time.time() - t0

    def compile(
        self, full_refresh: bool = False, sample: str | None = None
    ) -> Manifest:
        return compile_project(
            self.project,
            self.target,
            full_refresh=full_refresh,
            relation_exists=self.spark.catalog.tableExists,
            sample=sample,
        )

    def lint(self, select: str | None = None) -> list[dict[str, str]]:
        """Static lint of the project (the engine analog of the
        reference's sqlfluff + yamllint pre-commit/CI gate,
        `.sqlfluff:1-8`, `.pre-commit-config.yaml:1-31`,
        `.github/workflows/ci.yml:14-36`).

        Checks, none of which require any relation to exist yet:
          - Jinja render / compile errors (whole-project);
          - SQL parse of every compiled model/snapshot/test through
            Spark's own parser (``sqlParser().parsePlan`` — syntax
            only, no analysis, so it runs pre-first-build);
          - trailing semicolons (break CTAS/subquery wrapping);
          - YAML structure of models/**/*.yml (entries must be named,
            tests well-formed, sources must declare tables);
          - style rules (max line length, keyword case, trailing
            whitespace — sqlfluff L016/L010/L001 analogs, reference
            `.sqlfluff:1-8`) over the RAW model text, at ``warning``
            severity, when project.yml has a ``lint:`` section.

        Returns findings as dicts: node/file, rule, severity, message.
        """
        import glob as _glob

        import yaml

        findings: list[dict[str, str]] = []

        def add(node: str, rule: str, message: str) -> None:
            findings.append(
                {"node": node, "rule": rule, "severity": "error", "message": message}
            )

        try:
            manifest = self.compile()
        except Exception as e:  # CompilerError, yaml errors, ...
            add(self.project.name, "compile", str(e).strip().splitlines()[0][:500])
            return findings
        selected = manifest.select(select) if select else None
        parser = self.spark._jsparkSession.sessionState().sqlParser()
        style_rules = self.project.lint_rules
        for uid, node in sorted(manifest.nodes.items()):
            if selected is not None and uid not in selected:
                continue
            if node.resource_type not in ("model", "snapshot", "test") or not (
                node.compiled_sql or ""
            ).strip():
                continue
            if style_rules is not None and node.resource_type in (
                "model", "snapshot"
            ) and (node.raw_sql or "").strip():
                from .stylelint import style_findings

                findings.extend(style_findings(node.raw_sql, uid, style_rules))
            sql = node.compiled_sql
            if sql.rstrip().endswith(";"):
                add(uid, "trailing-semicolon",
                    "trailing semicolon breaks CTAS/subquery wrapping")
                sql = sql.rstrip().rstrip(";")
            try:
                parser.parsePlan(sql)
            except Exception as e:
                msg = str(getattr(e, "java_exception", e) or e)
                msg = msg.split("JVM stacktrace")[0].strip()
                add(uid, "sql-parse", " ".join(msg.splitlines()[:6])[:500])
        # YAML structure (the yamllint analog, schema-aware)
        for path in sorted(
            _glob.glob(os.path.join(self.project.root, "models", "**", "*.yml"),
                       recursive=True)
        ):
            rel = os.path.relpath(path, self.project.root)
            try:
                with open(path) as f:
                    doc = yaml.safe_load(f) or {}
            except yaml.YAMLError as e:
                add(rel, "yaml-syntax", str(e).strip().splitlines()[0][:500])
                continue
            if not isinstance(doc, dict):
                add(rel, "yaml-structure", "top level must be a mapping")
                continue
            for m in doc.get("models") or []:
                if not isinstance(m, dict) or "name" not in m:
                    add(rel, "yaml-structure",
                        "models entries must be mappings with a name")
                    continue
                for c in m.get("columns") or []:
                    for t in (c.get("tests") or []) if isinstance(c, dict) else []:
                        if not isinstance(t, (str, dict)):
                            add(rel, "yaml-structure",
                                f"{m['name']}: tests must be strings or mappings")
            for s in doc.get("sources") or []:
                if not isinstance(s, dict) or "name" not in s or not s.get("tables"):
                    add(rel, "yaml-structure",
                        "sources must be named and declare tables")
        return findings

    @staticmethod
    def lint_project(
        spark: SparkSession,
        project_dir: str,
        target: str | None = None,
        select: str | None = None,
    ) -> list[dict[str, str]]:
        """Lint entry point that survives a project too broken to load
        (malformed YAML, unnamed model entries): load failures become a
        ``project-load`` finding instead of a stack trace."""
        try:
            eng = Engine(spark, project_dir, target=target)
        except Exception as e:
            return [
                {
                    "node": project_dir,
                    "rule": "project-load",
                    "severity": "error",
                    "message": str(e).strip().splitlines()[0][:500],
                }
            ]
        return eng.lint(select=select)

    def _align_new_columns(self, existing: DataFrame, new: DataFrame) -> DataFrame:
        """S9 append_new_columns: add-only schema evolution — new columns
        appended (NULL backfill), removed columns kept, never retyped."""
        for fld in existing.schema.fields:
            if fld.name not in new.columns:
                new = new.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        return new

    def _persist_docs(self, node: Node) -> None:
        """S10 persist_docs (reference dbt_project.yml:18-20): push
        descriptions into the catalog.  TBLPROPERTIES for the relation,
        ALTER COLUMN COMMENT per column (best-effort: plain-parquet v1
        catalogs accept these; BigQuery did it via API)."""
        cfg = node.config.get("persist_docs") or {}
        if not cfg:
            return
        rel_comment = node.description if cfg.get("relation") else None
        col_comments = (
            {c: d for c, d in node.columns.items() if d} if cfg.get("columns") else {}
        )
        self._apply_comments(node.fqn, node.materialized == "view", rel_comment, col_comments)
        # comments live in the session catalog only — record them so
        # restore_catalog() re-applies after re-registration
        with self._lock:
            entry = self._catalog.get(node.fqn)
            if entry is not None:
                entry["comment"] = rel_comment
                entry["column_comments"] = col_comments
                self._save_catalog()

    def _apply_comments(
        self,
        fqn: str,
        is_view: bool,
        rel_comment: str | None,
        col_comments: dict[str, str],
    ) -> None:
        kind = "VIEW" if is_view else "TABLE"
        if rel_comment:
            desc = rel_comment.replace("'", "''")
            try:
                self.spark.sql(f"COMMENT ON {kind} {fqn} IS '{desc}'")
            except Exception:
                pass
        if col_comments and not is_view:
            for col, desc in col_comments.items():
                desc = desc.replace("'", "''")
                try:
                    self.spark.sql(
                        f"ALTER TABLE {fqn} ALTER COLUMN {col} COMMENT '{desc}'"
                    )
                except Exception:
                    pass

    def _estimate_input_bytes(self, df: DataFrame) -> int:
        """§4 cost guard: pre-execution input-size estimate from the
        plan's file listing (pure metadata — no data is read).  The
        BigQuery analog is the dry-run bytes estimate backing
        maximum_bytes_billed; on Delta/Iceberg this reads snapshot file
        stats instead.  Conservative: column pruning/partition pruning
        reduce the real scan below this figure, same as BigQuery's
        estimate."""
        try:
            files = df.inputFiles()
        except Exception:  # non-file-based plans (views over streams etc.)
            return 0
        return file_bytes(self.spark, files)

    def _check_bytes_cap(self, est: int, uid: str) -> None:
        cap = self.target_conf.get("maximum_bytes_billed")
        if cap and est > int(cap):
            raise RuntimeError(
                f"estimated input bytes {est} exceed maximum_bytes_billed={cap}"
                f" for {uid} (aborted before execution)"
            )

    def _check_partition_filters(self, df: DataFrame, node: Node) -> None:
        """§4 guard: BigQuery `require_partition_filter` parity — the
        only plan-inspection check the reference surface ever needs
        (SURVEY §4; tracked at reference scripts/pr_schema_diff.sh:126).

        A table materialized with ``require_partition_filter: true``
        may only be scanned with a partition predicate: the physical
        plan's FileScan node for that table must carry a non-trivial
        ``PartitionFilters`` entry (isnotnull alone prunes nothing).
        Pure plan metadata — runs before any data is read.  The node's
        own target is exempt (an incremental merge re-reads itself by
        construction).
        """
        flagged = {
            fqn: e.get("partition_cols") or []
            for fqn, e in self._catalog.items()
            if e.get("require_partition_filter") and fqn != node.fqn
        }
        if not flagged:
            return
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:
            return
        for seg in plan.split("FileScan")[1:]:
            head = seg[:4000]
            m = re.match(r"\s+\w+\s+([\w.]+)\[", head)
            if not m:
                continue
            # plan text uses the 3-part name (spark_catalog.schema.table)
            tbl = ".".join(m.group(1).split(".")[-2:])
            if tbl not in flagged:
                continue
            pf = re.search(r"PartitionFilters:\s*\[([^\]]*)\]", head)
            preds = pf.group(1).strip() if pf else ""
            real = [
                p
                for p in preds.split(",")
                if p.strip() and not p.strip().startswith("isnotnull")
            ]
            if not real:
                raise RuntimeError(
                    f"{node.unique_id}: scan of {tbl} must filter on its "
                    f"partition column(s) {flagged[tbl]} "
                    "(require_partition_filter=true; aborted before execution)"
                )

    def _run_streaming_table(self, node: Node, full_refresh: bool) -> NodeResult:
        """``materialized='streaming_table'`` — a model maintained by
        Structured Streaming instead of batch rebuilds (the DLT-style
        streaming table, the engine's scale path for continuously
        arriving sources).

        The node's FIRST source dependency becomes a file-source stream
        (new files only, tracked by the stream checkpoint under the
        state dir); the model's SQL runs over the stream as a temp
        view.  Each micro-batch lands exactly like an incremental run
        whose frame is that batch (:meth:`_materialize`): the first
        creates the table, later ones take the node's
        ``incremental_strategy`` (default merge on ``unique_key``,
        partition-scoped on a partitioned target, native MERGE on
        Delta/Iceberg) after ``on_schema_change``.  Trigger is
        ``availableNow``: each `build` drains what's new and stops, so
        the node fits the batch DAG while only ever paying for NEW
        data — rerunning a built project re-reads nothing.

        ``--full-refresh`` drops the checkpoint + target and replays
        the source from scratch.  Watermarked windowed aggregations
        work through update-mode micro-batches (pair with unique_key =
        the window/group key so reopened windows upsert).
        """
        from ..sources.registry import stream_from_path
        from ..streaming.events import run_available_now

        src_uids = [u for u in node.depends_on if u.startswith("source.")]
        if not src_uids:
            return NodeResult(
                node.unique_id, "error",
                message="streaming_table requires a source() dependency",
            )
        src_name, tbl_name = src_uids[0].split(".", 1)[1].split(".", 1)
        src = next(
            s for s in self.project.sources
            if s.source_name == src_name and s.name == tbl_name
        )
        if not src.location:
            return NodeResult(
                node.unique_id, "error",
                message="streaming_table source needs an external location",
            )
        fqn = node.fqn
        # Streaming checkpoints must live on a Hadoop-FS-reachable path;
        # when the artifact state dir is a memory:// (or other pure-
        # artifact) URI, checkpoints fall back beside the warehouse.
        ckpt_root = (
            self.state_dir
            if not arturi.is_uri(self.state_dir)
            else os.path.join(os.path.dirname(self._catalog_path), "state")
        )
        ckpt = os.path.join(ckpt_root, "checkpoints", node.name)
        if full_refresh:
            shutil.rmtree(ckpt, ignore_errors=True)
            self.spark.sql(f"DROP TABLE IF EXISTS {fqn}")
        stream = stream_from_path(self.spark, src.location, src.format)
        # apply the source's declared column type-contract like the
        # batch-side adapting view does
        for col, typ in (src.column_types or {}).items():
            if col in stream.columns:
                stream = stream.withColumn(col, F.col(col).cast(typ))
        view = f"__stream_{node.name}"
        stream.createOrReplaceTempView(view)
        sql = re.sub(
            rf"\b{re.escape(src.schema)}\.{re.escape(src.name)}\b", view,
            node.compiled_sql,
        )
        sdf = self.spark.sql(sql)
        self._ensure_schema(node.schema)
        n_batches = 0

        def _micro_batch(batch: DataFrame, batch_id: int) -> None:
            nonlocal n_batches
            n_batches += 1
            exists = self.spark.catalog.tableExists(fqn)
            res = self._materialize(node, batch, exists=exists)
            if isinstance(res, NodeResult):
                raise RuntimeError(res.message)

        mode = "update" if node.config.get("aggregated") else "append"
        run_available_now(
            sdf, output_mode=mode, foreach_batch=_micro_batch, checkpoint=ckpt
        )
        self._persist_docs(node)
        return NodeResult(
            node.unique_id, "success",
            message=f"STREAMING TABLE ({n_batches} micro-batches)",
        )

    def _mat_microbatch(self, node: Node, df: DataFrame, inc):
        """dbt 1.9 microbatch incremental strategy (public semantics),
        partition-aligned for Spark.

        The model's output is carved into ``batch_size`` periods of its
        ``event_time`` column; each run (re)processes only the periods
        from ``max(event_time in target) - lookback`` forward, replacing
        those partitions atomically via dynamic partition overwrite.
        This is THE 100 TB incremental shape: the target is partitioned
        on the period, so a nightly run rewrites a handful of
        partitions — never scans or merges against history — and late
        data within the lookback window self-heals on the next run.

        ``begin`` bounds the first (cold) build, dbt's initial-load
        semantics.
        """
        cfg = node.config
        event_time = cfg["event_time"]
        gran = cfg.get("batch_size", "day")
        lookback = int(cfg.get("lookback", 1))
        fqn = node.fqn
        pcol = f"{event_time}_{gran}"
        part_cfg = dict(cfg)
        part_cfg["partition_by"] = {
            "field": event_time,
            "data_type": "timestamp",
            "granularity": gran,
        }
        if not node.incremental:
            begin = cfg.get("begin")
            if begin:
                df = df.filter(F.col(event_time) >= F.lit(str(begin)).cast("timestamp"))
            self.write_relation(df, fqn, part_cfg)
            self._persist_docs(node)
            return "CREATE TABLE (microbatch)"
        # incremental: periods at/after the watermark period minus lookback
        if gran not in ("day", "month", "year"):
            raise ValueError(f"unsupported batch_size: {gran}")
        wm = self.spark.table(fqn).agg(F.max(pcol)).collect()[0][0]
        if gran == "day":
            start = F.date_sub(F.lit(wm), lookback)
        elif gran == "month":
            start = F.add_months(F.lit(wm), -lookback)
        else:
            start = F.add_months(F.lit(wm), -12 * lookback)
        batch = df.withColumn(
            pcol, F.to_date(F.date_trunc(gran, F.col(event_time)))
        )
        if wm is not None:
            batch = batch.filter(F.col(pcol) >= start)
        overwrite_partitions(self.spark, batch, fqn)
        # the replaced-period set is named by its lower bound rather
        # than counted: counting it would cost an extra pass over the
        # staged batch on every incremental run
        return f"MICROBATCH ({gran} periods >= watermark - {lookback} replaced)"

    def _enforce_contract(self, df: DataFrame, node: Node) -> None:
        """dbt model contracts: with config contract.enforced, the
        model's output schema must exactly match the declared columns
        and data_types (pre-flight on the ANALYZED plan — no data read;
        a violation fails the node before anything materializes)."""
        contract = node.config.get("contract") or {}
        if not (isinstance(contract, dict) and contract.get("enforced")):
            return
        declared = node.config.get("contract_types") or {}
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        problems = []
        for col, typ in declared.items():
            if col not in actual:
                problems.append(f"missing declared column {col}")
            elif typ and actual[col] != str(typ).lower().replace(" ", ""):
                problems.append(f"{col}: {actual[col]} != declared {typ}")
        for col in actual:
            if col not in declared:
                problems.append(f"undeclared column {col}")
        if problems:
            raise RuntimeError(
                f"contract violation on {node.unique_id}: " + "; ".join(problems)
            )

    def _exec_python_model(self, node: Node) -> DataFrame:
        """dbt Python-model execution (dbt 1.3 semantics, Spark-native):
        import the model file, call ``model(dbt, session)``, and hand the
        returned DataFrame to the normal materialization paths.  The
        ``dbt`` object resolves ref()/source() to the relations the
        compiler bound (so deferral and custom schemas hold), and
        ``is_incremental()`` is compile's decision (``node.incremental``)."""
        import importlib.util

        path = os.path.join(self.project.root, node.config["path"])
        spec = importlib.util.spec_from_file_location(f"_pymodel_{node.name}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        if not hasattr(mod, "model"):
            raise RuntimeError(f"{path}: python model must define model(dbt, session)")
        engine = self

        class _Dbt:
            this = node.fqn

            @staticmethod
            def ref(name: str) -> DataFrame:
                rel = (node.config.get("ref_relations") or {}).get(name)
                if rel is None:
                    raise RuntimeError(
                        f"dbt.ref({name!r}) was not discovered at parse time "
                        "(refs must be literal strings)"
                    )
                return engine.spark.table(rel)

            @staticmethod
            def source(src: str, tbl: str) -> DataFrame:
                rel = (node.config.get("source_relations") or {}).get(f"{src}.{tbl}")
                if rel is None:
                    raise RuntimeError(f"dbt.source({src!r}, {tbl!r}) not declared")
                return engine.spark.table(rel)

            class _ConfigAccessor:
                """dbt 1.3 Python-model runtime config surface:
                ``dbt.config(...)`` is a parse-time-captured no-op at
                runtime, while ``dbt.config.get(key, default)`` reads
                the node's resolved config (with project vars as the
                fallback namespace, so ``vars:`` tune Python models the
                way ``{{ var(...) }}`` tunes SQL ones)."""

                def __call__(self, **kw) -> None:
                    return None

                def get(self, key: str, default=None):
                    if key in node.config:
                        return node.config[key]
                    return engine.project.vars.get(key, default)

            config = _ConfigAccessor()

            @staticmethod
            def is_incremental() -> bool:
                return node.incremental

            @staticmethod
            def record_metric(name: str, value) -> None:
                """Report a named scalar metric for THIS node — it
                lands in the node's ``metrics`` dict in
                run_results.json next to the fence records, where
                ``engine monitor`` alert policies can threshold it
                (the hook diagnostics stages use for recall numbers)."""
                fence_telemetry.record_metric(name, value)

        df = mod.model(_Dbt(), self.spark)
        if not isinstance(df, DataFrame):
            raise RuntimeError(f"{path}: model() must return a DataFrame")
        return df

    def _run_model(self, node: Node, full_refresh: bool) -> NodeResult:
        """Materialize one model: a shared preamble, then
        :meth:`_materialize` with the compiler's ``is_incremental()``
        answer.  A strategy returns its success message and raises on
        failure."""
        mat = node.materialized
        if mat == "ephemeral":
            # never materialized — consumers carry the SQL as a CTE
            return NodeResult(node.unique_id, "success", message="EPHEMERAL (inlined)")
        if mat == "streaming_table":
            return self._run_streaming_table(
                node, effective_full_refresh(node.config, full_refresh)
            )
        if node.config.get("language") == "python":
            df = self._exec_python_model(node)
        else:
            df = self.spark.sql(node.compiled_sql)
        self._enforce_contract(df, node)
        # a view reads nothing when it is created: no cost guards
        if mat != "view" and self._empty:
            df = df.limit(0)
        est = self._estimate_input_bytes(df)
        if mat != "view":
            self._check_bytes_cap(est, node.unique_id)
            self._check_partition_filters(df, node)
        msg = self._materialize(node, df, exists=node.incremental)
        if isinstance(msg, NodeResult):
            return msg
        return NodeResult(node.unique_id, "success", message=msg, input_bytes=est)

    def _materialize(self, node: Node, df: DataFrame, exists: bool):
        """Land ``df`` as the node's relation: pick the strategy
        ``_MATERIALIZATIONS`` maps the node's materialization (or, when
        an incremental or streaming target ``exists``, its incremental
        strategy) to, reconcile an existing target's schema, and run
        it.  Returns the strategy's success message, or an error
        NodeResult."""
        mat = node.materialized
        strategy = node.config.get("incremental_strategy", "merge")
        inc = None
        if mat not in ("incremental", "streaming_table"):
            # python models have no views
            view = mat == "view" and node.config.get("language") != "python"
            key = mat if mat == "table" or view else None
        elif mat == "incremental" and strategy == "microbatch":
            key = strategy
        elif exists:
            df, inc = self._reconcile_schema(node, df)
            if isinstance(inc, NodeResult):
                return inc
            # schema drift and every other strategy take the merge path
            append_like = strategy in ("append", "insert_overwrite")
            key = strategy if append_like and not inc.new_cols else "merge"
        else:
            key = "table"
        fn = self._MATERIALIZATIONS.get(key)
        if fn is None:
            return NodeResult(
                node.unique_id, "error", message=f"unknown materialization {mat}"
            )
        return fn(self, node, df, inc)

    def _mat_view(self, node: Node, df: DataFrame, inc):
        self.create_view(node.fqn, node.compiled_sql)
        self._persist_docs(node)
        return "CREATE VIEW"

    def _mat_table(self, node: Node, df: DataFrame, inc):
        self.write_relation(df, node.fqn, node.config)
        self._persist_docs(node)
        return f"CREATE TABLE ({node.materialized})"

    def _reconcile_schema(self, node: Node, df: DataFrame):
        """Read an existing incremental target and apply dbt's
        ``on_schema_change`` to the batch (public dbt 1.10 behavior;
        the reference pins append_new_columns project-wide,
        dbt_project.yml:17):
          ignore             — insert through the target's schema
          fail               — error on any drift
          append_new_columns — add-only evolution (S9)
          sync_all_columns   — target adopts the model's schema
                               (adds AND removes)
        Returns the batch and the target plus its drift, or an error
        NodeResult."""
        existing = self.format_plugin.read_for_merge(self, node.fqn)
        # The engine-derived partition column (e.g. created_at_ts_month)
        # exists on the target but not in the model output — derive it
        # onto the batch up front so it is never counted as schema
        # drift and partition-scoped merges can match on it.
        part = node.config.get("partition_by")
        if part:
            pcol, pexpr = self._derived_partition_col(part)
            if (
                pexpr is not None
                and pcol in existing.columns
                and pcol not in df.columns
            ):
                df = df.withColumn(pcol, pexpr)
        on_schema_change = node.config.get("on_schema_change", "append_new_columns")
        new_cols = [c for c in df.columns if c not in existing.columns]
        removed_cols = [c for c in existing.columns if c not in df.columns]
        if on_schema_change == "fail" and (new_cols or removed_cols):
            return df, NodeResult(
                node.unique_id,
                "error",
                message=(
                    "on_schema_change=fail: schema drift "
                    f"(new={new_cols}, removed={removed_cols})"
                ),
            )
        if on_schema_change == "ignore":
            df = df.select(
                *[
                    F.col(c)
                    if c in df.columns
                    else F.lit(None).cast(existing.schema[c].dataType).alias(c)
                    for c in existing.columns
                ]
            )
            new_cols = []
        return df, SimpleNamespace(
            existing=existing,
            new_cols=new_cols,
            removed_cols=removed_cols,
            on_schema_change=on_schema_change,
        )

    def _mat_append(self, node: Node, df: DataFrame, inc):
        self.write_relation(df, node.fqn, node.config, mode="append")
        return "INSERT APPEND"

    def _mat_insert_overwrite(self, node: Node, df: DataFrame, inc):
        part = node.config.get("partition_by")
        if part:
            pcol, pexpr = self._derived_partition_col(part)
            if pexpr is not None:
                df = df.withColumn(pcol, pexpr)
        overwrite_partitions(self.spark, df, node.fqn)
        return "INSERT OVERWRITE"

    def _mat_merge(self, node: Node, df: DataFrame, inc):
        """Merge (also the landing for schema drift under any strategy):
        read-modify-swap on parquet; native MERGE INTO on Delta/Iceberg
        (plans/formats.py).  dbt delete+insert is the same operation —
        under whole-row replacement the matched-key delete + insert is
        exactly this merge, with incremental_predicates as the delete
        scope."""
        fqn, cfg = node.fqn, node.config
        strategy = cfg.get("incremental_strategy", "merge")
        if strategy == "delete+insert":
            strategy = "merge"
        existing = inc.existing
        drift = bool(inc.new_cols or inc.removed_cols)
        key_cols = as_list(cfg.get("unique_key"))
        if key_cols and not drift and self.format_plugin.merge(
            self, fqn, df, key_cols, cfg
        ):
            return f"MERGE (native {self.format_plugin.name})"
        if inc.on_schema_change == "sync_all_columns":
            # target adopts the model's schema: removed columns are
            # dropped from kept history, new columns null-backfill
            existing = existing.select(
                *[c for c in existing.columns if c in df.columns]
            )
        else:
            df = self._align_new_columns(existing, df)
        # Partition-scoped merge (the parquet analog of Delta MERGE
        # file pruning): when the target is partitioned, derive the
        # touched-partition set from the staged batch and rewrite
        # ONLY those partitions via dynamic partition overwrite —
        # untouched partition directories are never read or
        # replaced.  Without this, a predicate-less nightly merge
        # rewrites the whole table: a scale-killer at 100 TB.
        # Semantic caveat (same as user-written
        # incremental_predicates): a matched key whose target row
        # lives in an UNtouched partition is not replaced — the
        # standard dbt assumption that a key's partition value is
        # stable.  Opt out with `partition_scoped_merge: false`.
        part = cfg.get("partition_by")
        scope_vals: list | None = None
        if (
            key_cols
            and part
            and not drift
            and not cfg.get("bucket_by")
            and cfg.get("partition_scoped_merge", True)
        ):
            pcol, pexpr = self._derived_partition_col(part)
            if pexpr is not None:
                df = df.withColumn(pcol, pexpr)
            if pcol in df.columns and pcol in existing.columns:
                scope_vals = [r[0] for r in df.select(pcol).distinct().collect()]
        if scope_vals is not None and not scope_vals:
            # empty staged batch: nothing to merge, nothing to write
            return f"MERGE ({strategy}, 0 partitions)"
        if scope_vals is not None:
            non_null = [v for v in scope_vals if v is not None]
            scope_cond = F.col(pcol).isin(non_null)
            if None in scope_vals:
                scope_cond = scope_cond | F.col(pcol).isNull()
            existing = existing.filter(scope_cond)
        if key_cols:
            keys = df.select(*key_cols).distinct()
            # incremental_predicates (dbt parity): bound the target
            # side of the merge — rows outside the predicates are
            # never matched (kept untouched even on key collision).
            # At scale this is what keeps a merge from scanning all
            # history: the predicate prunes target partitions.
            preds = as_list(cfg.get("incremental_predicates"))
            if preds:
                cond = " AND ".join(f"({p})" for p in preds)
                in_scope = existing.filter(cond)
                out_scope = existing.filter(f"NOT ({cond})")
            else:
                in_scope, out_scope = existing, None
            kept = in_scope.join(keys, key_cols, "left_anti")
            # dbt merge_update_columns / merge_exclude_columns:
            # matched rows update ONLY the listed columns (or all but
            # the excluded); unlisted columns keep their target value.
            upd_cols = as_list(cfg.get("merge_update_columns"))
            exc_cols = as_list(cfg.get("merge_exclude_columns"))
            if upd_cols or exc_cols:
                upd = set(upd_cols) or {
                    c for c in df.columns if c not in key_cols + exc_cols
                }
                t, s = in_scope.alias("t"), df.alias("s")
                non_key = [c for c in in_scope.columns if c not in key_cols]
                updated = t.join(s, key_cols, "inner").select(
                    *key_cols,
                    *[
                        (F.col(f"s.{c}") if c in upd and c in df.columns else F.col(f"t.{c}")).alias(c)
                        for c in non_key
                    ],
                )
                inserted = s.join(
                    in_scope.select(*key_cols).distinct(), key_cols, "left_anti"
                )
                merged = kept.unionByName(updated, allowMissingColumns=True).unionByName(
                    inserted, allowMissingColumns=True
                )
            else:
                merged = kept.unionByName(df, allowMissingColumns=True)
            if out_scope is not None:
                merged = merged.unionByName(out_scope, allowMissingColumns=True)
        else:
            merged = existing.unionByName(df, allowMissingColumns=True)
        if scope_vals is not None:
            self.format_plugin.overwrite_touched_partitions(self, merged, fqn)
            return f"MERGE ({strategy}, {len(scope_vals)} partitions)"
        self.write_relation(merged, fqn, cfg, self_ref=True)
        return f"MERGE ({strategy})"

    # materialization or incremental strategy -> strategy.  Any other
    # incremental strategy (delete+insert, ...) runs _mat_merge.
    _MATERIALIZATIONS = {
        "view": _mat_view,
        "table": _mat_table,
        "microbatch": _mat_microbatch,
        "append": _mat_append,
        "insert_overwrite": _mat_insert_overwrite,
        "merge": _mat_merge,
    }

    def _run_seed(self, node: Node) -> NodeResult:
        reader = (
            self.spark.read.option("header", "true")
            .option("inferSchema", "true")
        )
        delim = node.config.get("delimiter")
        if delim:
            reader = reader.option("sep", delim)
        df = reader.csv(node.config["path"])
        # dbt `column_types` seed config: explicit casts win over CSV
        # type inference (BigQuery-parity trap in SURVEY §7.5 — `1`
        # must be INT64-able yet declarable NUMERIC/STRING)
        for col, typ in (node.config.get("column_types") or {}).items():
            if col in df.columns:
                df = df.withColumn(col, F.col(col).cast(typ))
        self.write_relation(df, node.fqn, {})
        return NodeResult(
            node.unique_id, "success", rows_affected=df.count(), message="SEED"
        )

    def _run_snapshot(self, node: Node) -> NodeResult:
        cfg = node.config
        source_df = self.spark.sql(node.compiled_sql)
        rows = snapshot_op.run_snapshot(
            self.spark,
            node.fqn,
            source_df,
            unique_key=cfg["unique_key"],
            updated_at=cfg.get("updated_at"),
            strategy=cfg.get("strategy", "timestamp"),
            check_cols=cfg.get("check_cols"),
            hard_deletes=(
                "invalidate"
                if cfg.get("invalidate_hard_deletes")  # dbt <1.9 spelling
                else cfg.get("hard_deletes", "ignore")
            ),
            # stage-and-swap only when the merge actually read the target
            # (first run has no existing table — write once, directly)
            write_fn=lambda df, fqn: self.write_relation(
                df, fqn, node.config, self_ref=self.spark.catalog.tableExists(fqn)
            ),
            read_fn=lambda fqn: self.format_plugin.read_for_merge(self, fqn),
        )
        return NodeResult(node.unique_id, "success", rows_affected=rows, message="SNAPSHOT")

    def _fused_gate_result(self, parent_uid: str, manifest: Manifest) -> dict[str, int]:
        """Violation signal per fusable test on ``parent_uid``'s relation,
        computed lazily in ONE aggregate job and memoized for siblings.

        Siblings all become runnable at the same instant (they share the
        one parent dependency), so the first test thread to arrive scans
        for everyone; the rest block briefly on the lock and read the
        cache.  A lone fusable test gets an empty dict — its individual
        path is already a single scan.
        """
        parent = manifest.nodes[parent_uid]
        with self._fused_lock:
            cached = self._fused_gate.get(parent.fqn)
            if cached is not None:
                return cached
            sibs = []
            for n in manifest.nodes.values():
                if (
                    n.resource_type != "test"
                    or not n.depends_on
                    or n.depends_on[0] != parent_uid
                ):
                    continue
                p = dict(n.config.get("params") or {})
                p.pop("config", None)
                e = tests_op.fused_violation_expr(
                    n.config["test"], n.config.get("column"), p
                )
                if e is not None:
                    sibs.append((n.unique_id, e))
            if len(sibs) < 2:
                out: dict[str, int] = {}
            else:
                row = (
                    self.spark.table(parent.fqn)
                    .agg(*[e.alias(f"t{i}") for i, (_, e) in enumerate(sibs)])
                    .collect()[0]
                )
                out = {uid: int(row[i] or 0) for i, (uid, _) in enumerate(sibs)}
            self._fused_gate[parent.fqn] = out
            return out

    def _run_hooks(self, node: Node, key: str) -> None:
        """Model-level pre/post hooks (dbt `pre-hook`/`post-hook`):
        SQL statements executed around the node's materialization,
        rendered in the shared context with `this` set (e.g. GRANT,
        ANALYZE, audit INSERT)."""
        hooks = node.config.get(key) or node.config.get(key.replace("_", "-")) or []
        if isinstance(hooks, (str, dict)):
            hooks = [hooks]
        for h in hooks:
            sql = h.get("sql") if isinstance(h, dict) else h
            if not sql:
                continue
            rendered = render(
                self.project, self.target, str(sql), f"{node.unique_id} {key}",
                this=node.fqn,
            )
            self.spark.sql(rendered)

    def _run_test(self, node: Node, manifest: Manifest) -> NodeResult:
        cfg = node.config
        parent_uid = node.depends_on[0]
        parent = manifest.nodes[parent_uid]

        def resolve(name: str) -> str:
            for n in manifest.nodes.values():
                if n.name == name and n.resource_type in ("model", "seed", "snapshot"):
                    return n.fqn
            return name

        params = dict(cfg.get("params") or {})
        tcfg = dict(params.get("config") or {})
        store = bool(
            params.pop("store_failures", None)
            or tcfg.get("store_failures")
            or self.target_conf.get("store_failures")
        )
        params.pop("config", None)
        # dbt severity config: severity / warn_if / error_if, either
        # directly on the test or under its config block
        severity = str(params.pop("severity", None) or tcfg.get("severity") or "error")
        warn_if = str(params.pop("warn_if", None) or tcfg.get("warn_if") or "!=0")
        error_if = str(params.pop("error_if", None) or tcfg.get("error_if") or "!=0")
        default_sev = (severity.lower(), warn_if, error_if) == ("error", "!=0", "!=0")
        # Optimistic fused gate: one aggregate scan over the parent
        # relation evaluates every fusable sibling test at once (at
        # 100 TB, N tests would otherwise be N full scans).  Exact
        # violation counts/samples are only needed on FAILURE, so the
        # precise per-test path below runs just when the gate fires.
        # Custom thresholds can warn at 0 failures (e.g. warn_if '<5'),
        # so only the default severity takes the fast path.
        if default_sev and tests_op.fused_violation_expr(cfg["test"], cfg.get("column"), params) is not None:
            gate = self._fused_gate_result(node.depends_on[0], manifest)
            if gate.get(node.unique_id) == 0:
                return NodeResult(
                    node.unique_id,
                    "pass",
                    rows_affected=0,
                    message=f"{cfg['test']}({cfg['column']})",
                )
        res = tests_op.run_generic_test(
            self.spark,
            cfg["test"],
            parent.fqn,
            cfg["column"],
            params,
            resolve_relation=resolve,
        )
        msg = res.message or f"{cfg['test']}({cfg['column']})"
        if store and res.violations is not None:
            # dbt store_failures parity: persist the (bounded) violating
            # rows to <schema>_dbt_test__audit.<test_name> for triage
            audit_fqn = f"{parent.schema}_dbt_test__audit.{node.name}"
            self.write_relation(res.violations.limit(1000), audit_fqn, {})
            msg += f" [failures stored: {audit_fqn}]"
        status = res.status
        if status != "error":
            status = tests_op.threshold_status(
                res.failures, severity, warn_if, error_if
            )
            if status == "warn":
                msg += f" [warn: severity={severity} warn_if={warn_if}]"
        return NodeResult(
            node.unique_id,
            status,
            rows_affected=res.failures,
            message=msg,
        )

    def _run_unit_test(self, node: Node, manifest: Manifest) -> NodeResult:
        """dbt 1.8 unit test: render the model's SQL with every
        ref()/source() swapped for a temp view built from the declared
        fixture rows, execute, and compare against the expected rows on
        the expected columns (order-insensitive).

        No warehouse state is read or written — the whole run is
        driver-local plan + a few-row execution, so unit tests cost
        milliseconds regardless of production table sizes (the point of
        the feature at 100 TB: logic tests that never scan the lake).
        """
        cfg = node.config
        model = manifest.nodes[cfg["model_uid"]]
        ref_re = re.compile(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)")
        src_re = re.compile(
            r"source\(\s*['\"]([^'\"]+)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)"
        )
        # ("ref", name) / ("source", src, table) -> fixture view
        fixtures: dict[tuple[str, ...], str] = {}
        for i, given in enumerate(cfg.get("given") or []):
            inp = str(given.get("input", ""))
            rows = given.get("rows") or []
            if not rows:
                return NodeResult(
                    node.unique_id, "error", message=f"fixture {inp!r} has no rows"
                )
            view = f"__ut_{node.name}_{i}"
            fkey = (
                self.spark.sparkContext.applicationId,
                repr(rows),
            )
            fixture = _UT_FIXTURE_MEMO.get(fkey)
            if fixture is None:
                fixture = self.spark.createDataFrame(rows)
                _UT_FIXTURE_MEMO[fkey] = fixture
            fixture.createOrReplaceTempView(view)
            m_ref = ref_re.fullmatch(inp.strip())
            m_src = src_re.fullmatch(inp.strip())
            if m_ref:
                fixtures[("ref", m_ref.group(1))] = view
            elif m_src:
                fixtures[("source", m_src.group(1), m_src.group(2))] = view
            else:
                return NodeResult(
                    node.unique_id, "error", message=f"bad fixture input: {inp!r}"
                )

        def _fixture(kind: str, *key: str) -> str:
            # dbt unit tests mock ALL inputs: a missing one is an error
            if (kind, *key) not in fixtures:
                call = f"{kind}({', '.join(map(repr, key))})"
                raise CompilerError(f"unit test: no fixture given for {call}")
            return fixtures[(kind, *key)]

        try:
            sql = render(
                self.project,
                self.target,
                model.raw_sql,
                "unit test render",
                ref=lambda name: _fixture("ref", name),
                source=lambda src, tbl: _fixture("source", src, tbl),
                this="__unit_test_self__",
            ).strip()
            actual = self.spark.sql(sql)
        except Exception as e:  # noqa: BLE001
            return NodeResult(node.unique_id, "error", message=str(e)[:500])
        expect = cfg.get("expect") or []
        exp_cols = list(expect[0].keys()) if expect else []
        missing = [c for c in exp_cols if c not in actual.columns]
        if missing:
            return NodeResult(
                node.unique_id,
                "fail",
                message=f"expected columns missing from model output: {missing}",
            )

        def canon(v) -> str:
            import datetime as _dt
            from decimal import Decimal as _D

            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return str(int(v))
            if isinstance(v, (_D, float)):
                return f"{float(v):.6g}"
            if isinstance(v, (_dt.date, _dt.datetime)):
                return v.isoformat()
            return str(v)

        got = sorted(
            "|".join(canon(r[c]) for c in exp_cols)
            for r in actual.select(*exp_cols).collect()
        )
        want = sorted("|".join(canon(r.get(c)) for c in exp_cols) for r in expect)
        if got == want:
            return NodeResult(
                node.unique_id, "pass", message=f"unit test ({len(expect)} rows)"
            )
        extra = [x for x in got if x not in want][:3]
        absent = [x for x in want if x not in got][:3]
        return NodeResult(
            node.unique_id,
            "fail",
            message=(
                f"unit test mismatch on {exp_cols}: "
                f"actual-only={extra} expected-only={absent}"
            ),
        )

    # ------------------------------------------------------------------- show
    def show_inline(self, sql: str, limit: int = 5) -> list[dict[str, Any]]:
        """dbt `show --inline` parity: render an ad-hoc jinja SQL
        string ({{ ref(...) }}/{{ source(...) }} resolve against this
        project) and preview N rows."""
        manifest = self.compile()
        by_name = {
            n.name: n.fqn
            for n in manifest.nodes.values()
            if n.resource_type in ("model", "seed", "snapshot")
        }
        src = {
            (u.split(".")[1], n.name): n.fqn
            for u, n in manifest.nodes.items()
            if n.resource_type == "source"
        }
        rendered = render(
            self.project,
            self.target,
            sql,
            "show --inline",
            ref=lambda name: by_name[name],
            source=lambda s, t: src[(s, t)],
        )
        self.register_sources()
        return [r.asDict() for r in self.spark.sql(rendered).limit(limit).collect()]

    def show(self, select: str, limit: int = 5) -> list[dict[str, Any]]:
        """dbt `show` parity (public semantics): compile the selected
        model and preview N rows of its result — from the materialized
        relation when it exists (cheap), else by executing the compiled
        SELECT with a LIMIT pushed into the plan."""
        manifest = self.compile()
        matches = [
            n
            for n in manifest.nodes.values()
            if n.resource_type in ("model", "seed", "snapshot")
            and (n.name == select or n.unique_id == select)
        ]
        if not matches:
            raise ValueError(f"show: no node named {select!r}")
        node = matches[0]
        if self.spark.catalog.tableExists(node.fqn):
            df = self.spark.table(node.fqn).limit(limit)
        else:
            self.register_sources()
            df = self.spark.sql(node.compiled_sql).limit(limit)
        return [r.asDict() for r in df.collect()]

    # ------------------------------------------------------------------ clone
    def clone(self, state_manifest: Manifest, select: str | None = None) -> dict[str, str]:
        """dbt `clone` parity (public semantics): materialize pointer
        clones of relations from another environment's manifest into
        this target's schemas.  BigQuery uses zero-copy table clones;
        the documented adapter fallback — and the natural Spark analog
        over parquet — is a VIEW over the source relation, which is what
        this creates (zero data movement at any scale)."""
        manifest = self.compile()
        selected = manifest.select(select)
        out: dict[str, str] = {}
        for uid in sorted(selected):
            node = manifest.nodes.get(uid)
            src = state_manifest.nodes.get(uid)
            if (
                node is None
                or src is None
                or node.resource_type not in ("model", "seed", "snapshot")
            ):
                continue
            if not self.spark.catalog.tableExists(src.fqn):
                out[uid] = f"skipped (source relation missing: {src.fqn})"
                continue
            if node.fqn == src.fqn:
                out[uid] = "skipped (same relation)"
                continue
            self.create_view(node.fqn, f"SELECT * FROM {src.fqn}")
            out[uid] = f"cloned {src.fqn} -> {node.fqn} (view)"
        return out

    # ------------------------------------------------------------------ retry
    def retry(self) -> tuple[RunResults, Manifest]:
        """dbt 1.6 `retry` parity (public semantics): re-run exactly the
        nodes that errored, failed, or were skipped in the previous
        invocation, reading the prior statuses from the state dir's
        ``run_results.json``.  Successful nodes are not re-run — their
        relations are already materialized, so downstream retried nodes
        read them from the catalog.
        """
        path = arturi.join(self.state_dir, "run_results.json")
        if not arturi.exists(path):
            raise FileNotFoundError(f"nothing to retry: {path} missing")
        with arturi.open_uri(path) as f:
            prior = json.load(f)
        bad = {
            r["unique_id"]
            for r in prior.get("results", [])
            if r.get("status") in ("error", "fail", "skipped")
        }
        if not bad:
            return RunResults(target=self.target), self.compile()
        return self.build(select_uids=bad)

    # ------------------------------------------------------------------ build
    def build(
        self,
        select: str | None = None,
        full_refresh: bool = False,
        defer_manifest: Manifest | None = None,
        prior_manifest: Manifest | None = None,
        resource_types: set[str] | None = None,
        select_uids: set[str] | None = None,
        exclude: str | None = None,
        empty: bool = False,
        fail_fast: bool = False,
        sample: str | None = None,
    ) -> tuple[RunResults, Manifest]:
        """E1 `build`: seeds → models → tests → snapshots in DAG order,
        ``threads`` nodes in flight (E2), state selection (E3) and
        deferral (E4) applied."""
        t_start = time.time()
        # dbt 1.8 --empty: schema-only dry run (models execute with
        # zero-row inputs; CI validates DDL/contracts without data cost)
        self._empty = empty
        self._fused_gate.clear()  # relations may be rebuilt this run
        self.register_sources()
        self._run_python_hook("pre_run")
        for cmd in self.project.on_run_start:
            subprocess.run(cmd, shell=True, check=False, cwd=self.project.root)

        manifest = self.compile(full_refresh=full_refresh, sample=sample)
        selected = manifest.select(select, prior=prior_manifest)
        if exclude:
            selected -= manifest.select(exclude, prior=prior_manifest)
        if select_uids is not None:
            selected = {u for u in selected if u in select_uids}
        if resource_types:
            selected = {
                u
                for u in selected
                if manifest.nodes[u].resource_type in resource_types
            }
        # tests run iff their parent runs
        for uid, node in manifest.nodes.items():
            if node.resource_type == "test" and set(node.depends_on) & selected:
                selected.add(uid)
            # unit tests run iff their model runs (they gate it: the
            # model depends_on them, so a fail skips the build)
            if (
                node.resource_type == "unit_test"
                and node.config.get("model_uid") in selected
            ):
                selected.add(uid)

        # deferral (E4): refs to unselected, unbuilt models resolve to the
        # deferred manifest's relation
        if defer_manifest is not None:
            for uid in selected:
                node = manifest.nodes[uid]
                new_sql = node.compiled_sql
                for dep_uid in node.depends_on:
                    dep = manifest.nodes.get(dep_uid)
                    if (
                        dep is not None
                        and dep.resource_type in ("model", "seed", "snapshot")
                        and dep_uid not in selected
                        and not self.spark.catalog.tableExists(dep.fqn)
                        and dep_uid in defer_manifest.nodes
                    ):
                        new_sql = new_sql.replace(
                            dep.fqn, defer_manifest.nodes[dep_uid].fqn
                        )
                node.compiled_sql = new_sql

        results = RunResults(target=self.target)
        universe = {
            u
            for u in selected
            if manifest.nodes[u].resource_type != "source"
        }
        order = manifest.topo_order(
            universe
            | {
                d
                for u in universe
                for d in manifest.nodes[u].depends_on
                if d in universe
            }
        )
        statuses: dict[str, str] = {}

        indeg = {
            uid: sum(1 for d in manifest.nodes[uid].depends_on if d in universe)
            for uid in order
        }
        children: dict[str, list[str]] = {uid: [] for uid in order}
        for uid in order:
            for d in manifest.nodes[uid].depends_on:
                if d in children:
                    children[d].append(uid)

        steps = {
            "model": lambda n: self._run_model(n, full_refresh),
            "seed": self._run_seed,
            "snapshot": self._run_snapshot,
            "test": lambda n: self._run_test(n, manifest),
            "unit_test": lambda n: self._run_unit_test(n, manifest),
        }

        def run_node(uid: str) -> NodeResult:
            node = manifest.nodes[uid]
            if not node.enabled:
                return NodeResult(uid, "skipped", message="disabled")
            upstream_bad = any(
                statuses.get(d) in ("error", "fail", "skipped")
                for d in node.depends_on
                if d in universe
            )
            if upstream_bad:
                return NodeResult(uid, "skipped", message="upstream failure")
            with self.node_context(uid) as run:
                materializes = node.resource_type in ("model", "seed", "snapshot")
                if materializes:
                    # dbt creates target schemas before running nodes,
                    # so hooks may reference them
                    self._ensure_schema(node.schema)
                    self._run_hooks(node, "pre_hook")
                step = steps.get(node.resource_type)
                run.result = step(node) if step else NodeResult(uid, "success", message="noop")
                if materializes and run.result.status == "success":
                    self._run_hooks(node, "post_hook")
            return run.result

        # Strict-fence safety profile: `strict_fences: true`
        # in project vars or the profile target arms the production fence
        # defaults for every node this run executes.  Both sources are
        # parsed as STRICT booleans (a YAML-quoted "false" must not
        # arm the profile) and precedence-resolved — project
        # vars win over the profile target, so `vars: strict_fences:
        # false` can disable a target-level default and vice versa.
        # Arming is context-scoped (operators/fences.py): this run's
        # context is copied into each pool submission below, so worker
        # threads see it while concurrent runs in other threads don't;
        # disarmed even on abort.
        _v_vars = fences_profile.parse_flag(
            self.project.vars.get("strict_fences"), "vars.strict_fences"
        )
        _v_target = fences_profile.parse_flag(
            self.target_conf.get("strict_fences"), "target.strict_fences"
        )
        _fences_armed = _v_vars if _v_vars is not None else bool(_v_target)
        if _fences_armed:
            fences_profile.arm_strict()
        try:
            pool = ThreadPoolExecutor(max_workers=self.threads)
            futures = {}
            # driver-side ready queue: at most `threads` tasks live in the
            # pool, so the pool's internal queue is always empty and
            # --fail-fast can stop cleanly between node starts (dbt's
            # scheduler pops one node per free worker the same way)
            ready_q = [uid for uid in order if indeg[uid] == 0]
            submitted: set[str] = set()
            aborted = False

            def top_up():
                while ready_q and len(futures) < self.threads:
                    uid = ready_q.pop(0)
                    submitted.add(uid)
                    # fresh context copy per submission (a Context can
                    # only run one frame at a time): the worker thread
                    # inherits this run's strict-fence scope — and any
                    # other context-local run state — without leaking
                    # it to concurrent runs in the same process
                    ctx = contextvars.copy_context()
                    futures[pool.submit(ctx.run, run_node, uid)] = uid

            top_up()
            while futures:
                done, _ = wait(list(futures), return_when=FIRST_COMPLETED)
                for fut in done:
                    uid = futures.pop(fut)
                    res = fut.result()
                    statuses[uid] = res.status
                    results.results.append(res)
                    if fail_fast and res.status in ("error", "fail"):
                        # dbt --fail-fast: in-flight nodes drain; nothing
                        # new starts
                        aborted = True
                    if aborted:
                        continue
                    for child in children.get(uid, []):
                        indeg[child] -= 1
                        if indeg[child] == 0 and child not in submitted:
                            ready_q.append(child)
                if not aborted:
                    top_up()
            if aborted:
                for uid in order:
                    if uid not in statuses:
                        statuses[uid] = "skipped"
                        results.results.append(
                            NodeResult(uid, "skipped", message="fail-fast abort")
                        )
            pool.shutdown()
        finally:
            if _fences_armed:
                fences_profile.disarm_strict()

        results.elapsed = time.time() - t_start
        manifest.write(arturi.join(self.state_dir, "manifest.json"))
        results.write(arturi.join(self.state_dir, "run_results.json"))
        for cmd in self.project.on_run_end:
            subprocess.run(cmd, shell=True, check=False, cwd=self.project.root)
        self._run_python_hook("post_run", results)
        return results, manifest

    def _run_python_hook(self, name: str, results: "RunResults | None" = None) -> None:
        """Invocation-level Python hooks (reference entrypoint.sh:61-62,
        194-195 runs ``hooks/pre_run.py`` before and ``hooks/post_run.py``
        after the dbt call — the ingestion / reverse-ETL / notification
        attachment points).  If ``<project>/hooks/<name>.py`` exists it
        runs as a subprocess with the project root as cwd; the post
        hook sees the run outcome via SPARK_GRAFT_RUN_STATUS (error
        count) so it can branch on failure.  Hook failures are logged,
        never fatal — a notification bug must not fail the build."""
        path = os.path.join(self.project.root, "hooks", f"{name}.py")
        if not os.path.exists(path):
            return
        env = dict(os.environ)
        if results is not None:
            env["SPARK_GRAFT_RUN_STATUS"] = str(
                results.status_counts.get("error", 0)
                + results.status_counts.get("fail", 0)
            )
        import sys as _sys

        proc = subprocess.run(
            [_sys.executable, path], cwd=self.project.root, env=env, check=False
        )
        if proc.returncode != 0:
            print(f"[engine] {name} hook exited {proc.returncode}")

    # -------------------------------------------------------------- freshness
    def source_freshness(self, select: str | None = None) -> dict[str, Any]:
        """E7: freshness over declared sources; writes sources.json."""
        self.register_sources()
        out: dict[str, Any] = {}
        for s in self.project.sources:
            if not s.loaded_at_field or not s.freshness:
                continue
            uid = s.unique_id
            if select and select not in (uid, f"source:{s.source_name}.{s.name}", f"source:{s.source_name}"):
                continue
            out[uid] = tests_op.freshness_check(
                self.spark,
                f"{s.schema}.{s.name}",
                s.loaded_at_field,
                s.freshness.get("warn_after"),
                s.freshness.get("error_after"),
                filter_sql=s.freshness.get("filter"),
            )
        with arturi.open_uri(arturi.join(self.state_dir, "sources.json"), "w") as f:
            json.dump(out, f, indent=2)
        return out

    def vacuum(self, schema: str | None = None) -> dict[str, Any]:
        """Delta-VACUUM analog: delete orphaned ``__v<hash>`` version
        directories (and ``__stg`` staging dirs) that a crash between a
        pointer-swap write and its cleanup can leave behind.  Only paths
        NOT referenced as any relation's current location are removed."""
        root = os.path.join(self._warehouse, "engine_data")
        current = {
            os.path.realpath(e["location"])
            for e in self._catalog.values()
            if e.get("location")
        }
        removed: list[str] = []
        if os.path.isdir(root):
            for sch in sorted(os.listdir(root)):
                if schema and sch != schema:
                    continue
                sdir = os.path.join(root, sch)
                if not os.path.isdir(sdir):
                    continue
                for tbl in sorted(os.listdir(sdir)):
                    path = os.path.join(sdir, tbl)
                    if ("__v" in tbl or tbl.endswith("__stg")) and os.path.realpath(
                        path
                    ) not in current:
                        shutil.rmtree(path, ignore_errors=True)
                        removed.append(path)
        return {"removed": removed, "kept_current": len(current)}

    # ---------------------------------------------------------------- analyze
    @staticmethod
    def _layout_config(entry: dict[str, Any]) -> dict[str, Any]:
        """The write config that keeps a recorded table's layout
        (partitioning, buckets, partition-filter guard) on a rewrite."""
        cfg: dict[str, Any] = {}
        pcols = entry.get("partition_cols") or []
        if pcols:
            cfg["partition_by"] = pcols[0]  # already a materialized column
        if entry.get("bucket_by"):
            cfg["bucket_by"] = entry["bucket_by"]
        if entry.get("require_partition_filter"):
            cfg["require_partition_filter"] = True
        return cfg

    @staticmethod
    def _require_delta_log(df: DataFrame, table: str, verb: str) -> None:
        need = {"feature", "bucket", "n", "ingest_lo", "spec_hash"}
        missing = need - set(df.columns)
        if missing:
            raise ValueError(
                f"{verb}: {table} is not a count-delta log "
                f"(missing columns {sorted(missing)})"
            )

    def _raise_horizon(self, table: str, horizon: int) -> None:
        """Record a drift log's compaction horizon; it never moves back."""
        entry = self._catalog.get(table)
        if entry is not None:
            prev = int(entry.get("compact_horizon") or 0)
            entry["compact_horizon"] = max(prev, horizon)
            self._record(table, entry)

    def optimize(
        self,
        table: str,
        zorder: list[str] | None = None,
        target_file_mb: int = 128,
        compact_deltas_through: int | None = None,
    ) -> dict[str, Any]:
        """OPTIMIZE-style maintenance (the Delta `OPTIMIZE [ZORDER BY]`
        analog on plain parquet): rewrite a table's files so partitions
        hold ~target-size files instead of the small-file spray that
        incremental writes and fine-grained day partitioning accumulate
        — at 100 TB, scan cost tracks file COUNT as much as bytes.

        Partitioning and bucket layout are preserved from the catalog
        record; ``zorder`` re-sorts within partitions (Morton order for
        2+ columns) so min/max data skipping works on those columns.
        Uses the pointer-swap write path — readers never see a partial
        rewrite.

        ``compact_deltas_through`` additionally ROW-compacts a drift
        count-delta log (the ``incremental_drift_model`` stored-state
        schema) during the rewrite: days tagged below the horizon
        collapse to one row per (feature, bucket, spec generation)
        plus retry-tag tombstones (operators/drift.py:
        compact_count_deltas) — the nightly maintenance pairing for
        the diagnostics stages, in the same job that fixes their
        small-file spray.  Refused with a clear error on tables that
        don't carry the delta-log schema.
        """

        def _file_stats(loc: str) -> tuple[int, int]:
            n = b = 0
            for dirpath, _, files in os.walk(loc):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n += 1
                        b += os.path.getsize(os.path.join(dirpath, fn))
            return n, b

        entry = self._catalog.get(table) or {}
        loc = entry.get("location") or self._relation_path(table)
        pcols = entry.get("partition_cols") or []
        before_files, before_bytes = _file_stats(loc)
        # Read by PATH, not through the catalog: the pointer-swap write
        # drops and recreates the table entry, and a catalog-bound plan
        # would fail re-analysis mid-swap.  Partition columns come back
        # via parquet partition discovery on the same directory layout.
        df = self.spark.read.parquet(loc)
        rows_before = rows_after = None
        if compact_deltas_through is not None:
            from ..operators.drift import compact_count_deltas

            self._require_delta_log(df, table, "optimize --compact-deltas-through")
            rows_before = df.count()
            # lazy checkpoint + count = one materialization job
            df = compact_count_deltas(
                df, through_lo=int(compact_deltas_through)
            ).localCheckpoint(eager=False)
            rows_after = df.count()
        cfg = self._layout_config(entry)
        if not pcols:
            n_files = max(1, -(-before_bytes // (target_file_mb << 20)))
            df = df.repartition(n_files)
        if zorder:
            cfg["cluster_by"] = list(zorder)
            if len(zorder) > 1:
                cfg["cluster_strategy"] = "zorder"
        self.write_relation(df, table, cfg, self_ref=True)
        new_loc = self._catalog.get(table, {}).get("location") or loc
        after_files, after_bytes = _file_stats(new_loc)
        out: dict[str, Any] = {
            "table": table,
            "files_before": before_files,
            "files_after": after_files,
            "bytes_before": before_bytes,
            "bytes_after": after_bytes,
            "zorder": list(zorder or []),
        }
        if rows_before is not None:
            out["rows_before"] = rows_before
            out["rows_after"] = rows_after
            out["compacted_through"] = int(compact_deltas_through)
            # Record the horizon so restate_drift_day can refuse days
            # whose own delta rows no longer exist, and warn when the
            # caller compacts days that may still be retried — a retry
            # below the horizon stays append-idempotent (tombstones)
            # but recomputes PSI from the compacted fold, which can
            # diverge from the original run's recorded metrics.
            self._raise_horizon(table, int(compact_deltas_through))
            from ..operators.drift import _is_horizon_marker

            # newest DAY tag: genuine rows and tombstones count, the
            # in-band horizon marker (tagged AT the horizon) does not
            newest = (
                self.spark.read.parquet(new_loc)
                .filter(~_is_horizon_marker())
                .agg(F.max("ingest_lo"))
                .collect()[0][0]
            )
            if newest is not None and int(compact_deltas_through) > int(newest):
                out["warning"] = (
                    f"compaction horizon {int(compact_deltas_through)} is past "
                    f"the newest stored tag {int(newest)}: every stored day is "
                    "now fold-only, so a retry of ANY day will recompute its "
                    "PSI from the compacted fold (append idempotency is kept "
                    "by tombstones, but recorded metrics may diverge)"
                )
        return out

    def restate_drift_day(self, table: str, lo: int) -> dict[str, Any]:
        """Restatement verb for a count-delta drift log (the
        ``incremental_drift_model`` stored-state schema): evict one
        ingested day's rows so a CORRECTED re-delivery of that day can
        re-ingest — without this, the model's (ingest_lo, spec_hash)
        retry anti-join silently keeps the stale counts.

        Eviction is day-scoped, NOT spec-scoped: the day's rows leave
        the log for EVERY spec generation (documented contract).  A restated day is a statement that the day's
        delivery was wrong at the source, which taints every
        generation's fold of it; a deployment that rebaselines back to
        an earlier fingerprint re-ingests the corrected day under that
        spec on its next run.

        Mirrors the passage-dedup index's restatement semantics:
        eviction is a versioned-swap rewrite of the log minus the
        day's rows; the next incremental run of the model then sees an
        unseen tag and folds the corrected delivery.  A day below the
        compaction horizon (``engine optimize
        --compact-deltas-through``) no longer has its own rows — its
        counts live inside the fold — so restating it requires a
        ``--full-refresh`` rebuild of the model; this verb refuses
        with that instruction rather than corrupting the fold.
        """
        from ..operators.drift import _is_horizon_marker, stored_compact_horizon

        entry = self._catalog.get(table) or {}
        loc = entry.get("location") or self._relation_path(table)
        df = self.spark.read.parquet(loc)
        self._require_delta_log(df, table, "restate")
        # The AUTHORITATIVE horizon is the in-band marker row the
        # compaction writes into the log itself (operators/drift.py:
        # HORIZON_SPEC) — it survives catalog rewrites, restores, and
        # loss.  The catalog copy is a cross-check; the max of the two
        # governs.
        marker_h = stored_compact_horizon(df)
        cat_h = entry.get("compact_horizon")
        horizon = max(
            (int(h) for h in (marker_h, cat_h) if h is not None),
            default=None,
        )
        if horizon is not None and int(lo) < horizon:
            raise ValueError(
                f"restate: day {int(lo)} is below the compaction horizon "
                f"{horizon} — its delta rows were folded away and "
                "cannot be evicted individually.  Rebuild the model with "
                "--full-refresh to restate a compacted day."
            )
        if horizon is None:
            # Tombstones but no horizon anywhere: a log compacted by
            # pre-marker code whose catalog record is gone.  A folded
            # row is indistinguishable from an original delta, so
            # evicting ANY tag could silently remove multiple days'
            # folded counts — refuse outright rather than guess.
            has_tombstone = (
                df.filter(F.col("bucket").isNull()).limit(1).count() > 0
            )
            if has_tombstone:
                raise ValueError(
                    f"restate: {table} has compaction tombstones but no "
                    "recorded compaction horizon, so folded rows cannot "
                    "be distinguished from restatable day deltas.  Re-run "
                    "`engine optimize --compact-deltas-through <N>` (which "
                    "records the horizon in-band) or rebuild the model "
                    "with --full-refresh."
                )
        evict_cond = (F.col("ingest_lo") == int(lo)) & ~_is_horizon_marker()
        evicted = df.filter(evict_cond).count()
        if evicted == 0:
            raise ValueError(
                f"restate: day {int(lo)} has no stored rows in {table} — "
                "nothing to evict (check the day tag; a re-delivery of "
                "this day would currently be a first ingest, not a "
                "restatement)"
            )
        kept = df.filter(~evict_cond).localCheckpoint(eager=True)
        self.write_relation(kept, table, self._layout_config(entry), self_ref=True)
        if horizon is not None:
            self._raise_horizon(table, horizon)
        return {"table": table, "day": int(lo), "evicted_rows": int(evicted)}

    def analyze(self, select: str | None = None) -> dict[str, Any]:
        """Collect table + column statistics for the cost-based optimizer.

        BigQuery maintains table metadata (row counts, per-column
        cardinality) automatically; Spark's CBO needs an explicit
        ``ANALYZE TABLE``.  At 100 TB these stats are what let Catalyst
        reorder multi-way joins and pick broadcast sides from DATA,
        not from the 64 MB static threshold — run after each nightly
        build the way the reference's warehouse refreshes metadata.

        Enables ``spark.sql.cbo.enabled`` + join reordering for the
        session and returns the recorded stats line per table.
        """
        self.spark.conf.set("spark.sql.cbo.enabled", "true")
        self.spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        out: dict[str, Any] = {}
        for fqn, e in sorted(self._catalog.items()):
            if e.get("type") != "table" or not self.spark.catalog.tableExists(fqn):
                continue
            if select and select not in fqn:
                continue
            self.spark.sql(
                f"ANALYZE TABLE {fqn} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
            rows = (
                self.spark.sql(f"DESCRIBE TABLE EXTENDED {fqn}")
                .filter(F.col("col_name") == "Statistics")
                .collect()
            )
            out[fqn] = rows[0]["data_type"] if rows else None
        return out

    # ------------------------------------------------------------------ debug
    def debug(self) -> dict[str, Any]:
        """E9: connectivity / profile smoke check."""
        info = {
            "spark_version": self.spark.version,
            "master": self.spark.sparkContext.master,
            "target": self.target,
            "schema": self.target_conf.get("schema"),
            "threads": self.threads,
            "warehouse": self.spark.conf.get("spark.sql.warehouse.dir", ""),
            "sources_found": {},
        }
        for s in self.project.sources:
            ok = bool(s.location and os.path.exists(s.location))
            info["sources_found"][s.unique_id] = ok
        return info
