"""Materialization-layer replay entries under the cross-engine value
hash (r11 verdict tasks #2 and stretch #7, plus the r12 S9
continuation): the runner's ``insert_overwrite`` and ``microbatch``
incremental strategies, both schema-evolution modes that change data
(``append_new_columns`` / ``sync_all_columns``), and the seed loader
— the materialization semantics that were previously gated only by
pytest.

Unlike the other registry entries (pure DataFrame builders), these
drive the REAL Engine code path (``plans/runner.py``) over an
ephemeral project in a temp directory: deliveries replay as successive
``build()`` calls steered by a ``delivery`` var, the final table is
pinned (``localCheckpoint``) and the schema / temp dirs are torn down
before returning — so the hash certifies the production
materialization path end-to-end, not a re-implementation of it.  Each
replay applies its final delivery TWICE: rerun idempotency is asserted
by the hash itself (a non-idempotent overwrite would emit duplicate
rows and mismatch the oracle).

Reference analog: ``/root/reference/dbt_project.yml:17`` (the
project-wide incremental defaults delegating these semantics to
BigQuery); the semantics themselves are public dbt-bigquery
``insert_overwrite`` and dbt 1.9 ``microbatch`` behavior.

At 100 TB these are THE incremental shapes that keep nightly runs
O(touched partitions): dynamic partition overwrite replaces only the
partition directories present in the staged batch, and microbatch
bounds the staged batch to ``lookback`` event-time periods behind the
stored watermark — history is never scanned, merged, or rewritten.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register

_PROFILES = """t:
  target: dev
  outputs:
    dev:
      schema: {schema}
      threads: 2
"""

_PROJECT = """name: t
profile: t
vars:
  delivery: d1
"""

_SRC = """sources:
  - name: raw
    schema: {raw_schema}
    tables:
      - name: {table}
        external:
          location: {sf_dir}/{table}.parquet
          format: parquet
"""


def _make_project(files: dict[str, str]) -> str:
    root = tempfile.mkdtemp(prefix="engine_replay_")
    for rel, content in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(content)
    return root


def _engine(spark: SparkSession, root: str, schema: str):
    """Engine over the ephemeral project, with a CLEAN slate for its
    schema: any prior run's session tables, warehouse files, and
    catalog records are purged first so the replay is deterministic no
    matter what ran before in this session/warehouse."""
    from ..plans.runner import Engine

    eng = Engine(spark, root)
    spark.sql(f"DROP SCHEMA IF EXISTS {schema} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), "engine_data", schema),
        ignore_errors=True,
    )
    eng.purge_catalog_schema(schema)
    return eng


def _replay(eng, deliveries: list[str], select: str) -> None:
    """Run one build per delivery tag (the stored table carries state
    between builds — exactly the nightly-run cycle)."""
    for i, tag in enumerate(deliveries):
        eng.project.vars["delivery"] = tag
        results, _ = eng.build(select=None if i == 0 else select)
        errs = [
            (r.unique_id, r.message)
            for r in results.results
            if r.status in ("error", "fail")
        ]
        if errs:
            raise RuntimeError(f"replay delivery {tag} failed: {errs}")


def _teardown(spark: SparkSession, eng, schema: str, root: str) -> None:
    spark.sql(f"DROP SCHEMA IF EXISTS {schema} CASCADE")
    spark.sql(f"DROP SCHEMA IF EXISTS {schema}_raw CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), "engine_data", schema),
        ignore_errors=True,
    )
    eng.purge_catalog_schema(schema)
    eng.purge_catalog_schema(f"{schema}_raw")
    shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# incremental_insert_overwrite — dbt-bigquery insert_overwrite under
# the value hash (plans/runner.py insert_overwrite branch: dynamic
# partition overwrite via insertInto).  Two deliveries over orders,
# quarter-partitioned (quarter rather than day/month keeps local-mode
# partition-commit overhead off the bench without changing ANY of the
# semantics under test — partition-dir count is incidental):
#   - delivery 1 = every order, tag d1;
#   - delivery 2 = only orders from 1999-01 onward whose key is not
#     ≡0 (mod 5), price bumped, tag d2 — so touched quarters must (a)
#     REPLACE updates, (b) DELETE the dropped ≡0 keys (the semantics
#     merge cannot express), while (c) untouched quarters keep
#     delivery 1 byte-for-byte;
#   - delivery 2 replays a second time: overwriting the same
#     partitions with the same batch must be a no-op under the hash.
# The oracle is exact about "touched": a quarter is replaced iff the
# batch has ≥1 row in it (dynamic overwrite replaces only partitions
# PRESENT in the written data), not "every quarter past the cutoff".
# ---------------------------------------------------------------------------
_IOW_MODEL = """{{ config(materialized='incremental',
          incremental_strategy='insert_overwrite',
          partition_by='period') }}
select o_orderkey as id,
       to_date(date_trunc('quarter', o_orderdate)) as period,
       o_orderstatus as status,
       o_totalprice {% if var('delivery') == 'd2' %} + 1.0 {% endif %} as price,
       '{{ var("delivery") }}' as tag
from {{ source('raw', 'orders') }}
{% if var('delivery') == 'd2' %}
where o_orderdate >= timestamp '1999-01-01' and o_orderkey % 5 <> 0
{% endif %}
"""

_IOW_ORACLE = """
WITH d1 AS (
  SELECT o_orderkey AS id,
         CAST(date_trunc('quarter', o_orderdate) AS DATE) AS period,
         o_orderstatus AS status, o_totalprice AS price, 'd1' AS tag
  FROM orders
),
d2 AS (
  SELECT o_orderkey AS id,
         CAST(date_trunc('quarter', o_orderdate) AS DATE) AS period,
         o_orderstatus AS status, o_totalprice + 1.0 AS price, 'd2' AS tag
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderkey % 5 <> 0
)
SELECT id, period, status, CAST(price AS DOUBLE) AS price, tag
FROM d1 WHERE period NOT IN (SELECT DISTINCT period FROM d2)
UNION ALL
SELECT id, period, status, CAST(price AS DOUBLE) AS price, tag FROM d2
"""


@register("incremental_insert_overwrite", oracle=_IOW_ORACLE)
def incremental_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "eng_replay_iow"
    root = _make_project(
        {
            "project.yml": _PROJECT,
            "profiles.yml": _PROFILES.format(schema=schema),
            "models/src.yml": _SRC.format(
                raw_schema=f"{schema}_raw", table="orders", sf_dir=sf_dir
            ),
            "models/fct_iow.sql": _IOW_MODEL,
        }
    )
    eng = _engine(spark, root, schema)
    try:
        _replay(eng, ["d1", "d2", "d2"], select="fct_iow")
        out = (
            spark.table(f"{schema}.fct_iow")
            .select(
                "id",
                F.col("period").cast("date").alias("period"),
                "status",
                F.col("price").cast("double").alias("price"),
                "tag",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _teardown(spark, eng, schema, root)
    return out


# ---------------------------------------------------------------------------
# incremental_microbatch — dbt 1.9 microbatch under the value hash
# (plans/runner.py _mat_microbatch: event-time periods, stored
# watermark, lookback window, dynamic partition overwrite).  Replay
# over events (2024-01-01..2024-01-30 at every SF):
#   - delivery 1 (cold build) = every event EXCEPT a "late" subset
#     (user_id ≡3 mod 17 with ts ≥ 2024-01-26), tag d1 — the target's
#     watermark lands on the true max day because other users' events
#     exist on it;
#   - delivery 2 = ALL events, tag d2, run incrementally: with
#     lookback=1 only periods ≥ watermark−1 day (2024-01-29) restage —
#     late rows on days 29–30 self-heal, late rows on days 26–28 stay
#     MISSING (outside the lookback window: exactly the documented
#     microbatch semantics, and the property a plain append or merge
#     replay could not distinguish);
#   - delivery 2 replays a second time: the watermark is unchanged, so
#     the same periods re-overwrite with identical content (hash-
#     certified idempotency).
# The oracle mirrors the exact replacement rule: a day is replaced iff
# the delivery-2 batch (days ≥ 2024-01-29) contains it.
# ---------------------------------------------------------------------------
_MB_MODEL = """{{ config(materialized='incremental',
          incremental_strategy='microbatch',
          event_time='ts', batch_size='day', lookback=1) }}
select event_id as id, ts, user_id, event_type, value,
       '{{ var("delivery") }}' as tag
from {{ source('raw', 'events') }}
{% if var('delivery') == 'd1' %}
where not (user_id % 17 = 3 and ts >= timestamp '2024-01-26')
{% endif %}
"""

_MB_ORACLE = """
WITH d1 AS (
  SELECT event_id AS id, ts, user_id, event_type, value, 'd1' AS tag,
         CAST(date_trunc('day', ts) AS DATE) AS ts_day
  FROM events
  WHERE NOT (user_id % 17 = 3 AND ts >= TIMESTAMP '2024-01-26')
),
d2 AS (
  SELECT event_id AS id, ts, user_id, event_type, value, 'd2' AS tag,
         CAST(date_trunc('day', ts) AS DATE) AS ts_day
  FROM events
  WHERE CAST(date_trunc('day', ts) AS DATE) >= DATE '2024-01-29'
)
SELECT id, ts, user_id, event_type, value, tag, ts_day
FROM d1 WHERE ts_day NOT IN (SELECT DISTINCT ts_day FROM d2)
UNION ALL
SELECT id, ts, user_id, event_type, value, tag, ts_day FROM d2
"""


@register("incremental_microbatch", oracle=_MB_ORACLE)
def incremental_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "eng_replay_mb"
    root = _make_project(
        {
            "project.yml": _PROJECT,
            "profiles.yml": _PROFILES.format(schema=schema),
            "models/src.yml": _SRC.format(
                raw_schema=f"{schema}_raw", table="events", sf_dir=sf_dir
            ),
            "models/fct_mb.sql": _MB_MODEL,
        }
    )
    eng = _engine(spark, root, schema)
    try:
        _replay(eng, ["d1", "d2", "d2"], select="fct_mb")
        out = (
            spark.table(f"{schema}.fct_mb")
            .select(
                "id",
                "ts",
                "user_id",
                "event_type",
                "value",
                "tag",
                F.col("ts_day").cast("date").alias("ts_day"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _teardown(spark, eng, schema, root)
    return out


# ---------------------------------------------------------------------------
# incremental_schema_evolution — S9 (on_schema_change=
# append_new_columns, the mode the reference pins project-wide:
# /root/reference/dbt_project.yml:17) under the value hash, replayed
# through the runner's real merge path:
#   - delivery 1 = every order with (id, status, price);
#   - delivery 2 = orders from 1999-01 onward, price bumped, plus a
#     NEW COLUMN (priority) — the keyed merge must null-backfill the
#     kept delivery-1 rows, replace matched keys, and adopt the
#     widened schema in one versioned-swap rewrite;
#   - delivery 2 replays a second time: matched keys re-replace with
#     identical payloads (hash-certified idempotency).
# ---------------------------------------------------------------------------
_EVO_MODEL = """{{ config(materialized='incremental',
          incremental_strategy='merge', unique_key='id',
          on_schema_change='append_new_columns') }}
select o_orderkey as id,
       o_orderstatus as status,
       o_totalprice {% if var('delivery') == 'd2' %} + 1.0 {% endif %} as price
{% if var('delivery') == 'd2' %}
     , o_orderpriority as priority
{% endif %}
from {{ source('raw', 'orders') }}
{% if var('delivery') == 'd2' %}
where o_orderdate >= timestamp '1999-01-01'
{% endif %}
"""

_EVO_ORACLE = """
WITH d1 AS (
  SELECT o_orderkey AS id, o_orderstatus AS status,
         o_totalprice AS price
  FROM orders
),
d2 AS (
  SELECT o_orderkey AS id, o_orderstatus AS status,
         o_totalprice + 1.0 AS price, o_orderpriority AS priority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
)
SELECT id, status, CAST(price AS DOUBLE) AS price,
       CAST(NULL AS VARCHAR) AS priority
FROM d1 WHERE id NOT IN (SELECT id FROM d2)
UNION ALL
SELECT id, status, CAST(price AS DOUBLE) AS price, priority FROM d2
"""


@register("incremental_schema_evolution", oracle=_EVO_ORACLE)
def incremental_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "eng_replay_evo"
    root = _make_project(
        {
            "project.yml": _PROJECT,
            "profiles.yml": _PROFILES.format(schema=schema),
            "models/src.yml": _SRC.format(
                raw_schema=f"{schema}_raw", table="orders", sf_dir=sf_dir
            ),
            "models/fct_evo.sql": _EVO_MODEL,
        }
    )
    eng = _engine(spark, root, schema)
    try:
        _replay(eng, ["d1", "d2", "d2"], select="fct_evo")
        out = (
            spark.table(f"{schema}.fct_evo")
            .select(
                "id",
                "status",
                F.col("price").cast("double").alias("price"),
                "priority",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _teardown(spark, eng, schema, root)
    return out


# ---------------------------------------------------------------------------
# incremental_schema_sync — S9's sync_all_columns mode (public dbt
# semantics: the target ADOPTS the model's schema — added columns
# null-backfill kept history, REMOVED columns are dropped from it),
# the only evolution mode that discards data, replayed through the
# same real keyed-merge path:
#   - delivery 1 = (id, status, price, cust);
#   - delivery 2 = orders from 1998-01 onward with (id, status,
#     price+1, priority) — `cust` is gone (dropped from kept rows
#     too), `priority` is new (NULL on kept rows);
#   - delivery 2 replays a second time (hash-certified idempotency).
# ---------------------------------------------------------------------------
_SYNC_MODEL = """{{ config(materialized='incremental',
          incremental_strategy='merge', unique_key='id',
          on_schema_change='sync_all_columns') }}
select o_orderkey as id,
       o_orderstatus as status,
       o_totalprice {% if var('delivery') == 'd2' %} + 1.0 {% endif %} as price
{% if var('delivery') == 'd2' %}
     , o_orderpriority as priority
{% else %}
     , o_custkey as cust
{% endif %}
from {{ source('raw', 'orders') }}
{% if var('delivery') == 'd2' %}
where o_orderdate >= timestamp '1998-01-01'
{% endif %}
"""

_SYNC_ORACLE = """
WITH d1 AS (
  SELECT o_orderkey AS id, o_orderstatus AS status,
         o_totalprice AS price
  FROM orders
),
d2 AS (
  SELECT o_orderkey AS id, o_orderstatus AS status,
         o_totalprice + 1.0 AS price, o_orderpriority AS priority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
)
SELECT id, status, CAST(price AS DOUBLE) AS price,
       CAST(NULL AS VARCHAR) AS priority
FROM d1 WHERE id NOT IN (SELECT id FROM d2)
UNION ALL
SELECT id, status, CAST(price AS DOUBLE) AS price, priority FROM d2
"""


@register("incremental_schema_sync", oracle=_SYNC_ORACLE)
def incremental_schema_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "eng_replay_sync"
    root = _make_project(
        {
            "project.yml": _PROJECT,
            "profiles.yml": _PROFILES.format(schema=schema),
            "models/src.yml": _SRC.format(
                raw_schema=f"{schema}_raw", table="orders", sf_dir=sf_dir
            ),
            "models/fct_sync.sql": _SYNC_MODEL,
        }
    )
    eng = _engine(spark, root, schema)
    try:
        _replay(eng, ["d1", "d2", "d2"], select="fct_sync")
        final = spark.table(f"{schema}.fct_sync")
        # sync dropped the column from the target entirely
        assert "cust" not in final.columns, final.columns
        out = final.select(
            "id",
            "status",
            F.col("price").cast("double").alias("price"),
            "priority",
        ).localCheckpoint(eager=True)
    finally:
        _teardown(spark, eng, schema, root)
    return out


# ---------------------------------------------------------------------------
# engine_seed_load — the seed materialization (S3; reference
# seeds/example_seed.csv + entrypoint.sh `dbt seed`) under the value
# hash: the ONLY §2 source that was still pytest-only.  The ephemeral
# project carries a richer CSV than the demo's two-rower so the hash
# also certifies header parsing, type inference, the `column_types`
# cast override (a `1` must be INT64-able yet declarable NUMERIC —
# SURVEY §7.5), and NULL handling on empty fields.  Seeds are
# version-controlled constants, so the oracle is a VALUES literal of
# the same rows — no filesystem dependence at oracle time.
# ---------------------------------------------------------------------------
_SEED_ROWS = [
    (1, "alpha", "12.50", "2024-01-03", "true"),
    (2, "beta", "0.75", "2024-02-14", "false"),
    (3, "gamma", "99.99", "2024-03-01", "true"),
    (4, "delta", "", "2024-04-22", "false"),
    (5, "epsilon", "7.25", "", "true"),
    (6, "zeta", "3.00", "2024-06-30", "false"),
]

_SEED_CSV = "id,name,score,joined,flag\n" + "\n".join(
    ",".join(str(v) for v in row) for row in _SEED_ROWS
)

_SEED_PROJECT = """name: t
profile: t
seeds:
  ratings:
    +column_types:
      score: decimal(9,2)
      joined: date
"""

_SEED_ORACLE = """
SELECT CAST(id AS INT) AS id, name,
       CAST(CAST(score AS DECIMAL(9,2)) AS DOUBLE) AS score,
       CAST(joined AS DATE) AS joined, CAST(flag AS BOOLEAN) AS flag
FROM (VALUES
  (1, 'alpha',   '12.50', DATE '2024-01-03', 'true'),
  (2, 'beta',    '0.75',  DATE '2024-02-14', 'false'),
  (3, 'gamma',   '99.99', DATE '2024-03-01', 'true'),
  (4, 'delta',   NULL,    DATE '2024-04-22', 'false'),
  (5, 'epsilon', '7.25',  NULL,              'true'),
  (6, 'zeta',    '3.00',  DATE '2024-06-30', 'false')
) AS t(id, name, score, joined, flag)
"""


@register("engine_seed_load", oracle=_SEED_ORACLE)
def engine_seed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = "eng_replay_seed"
    root = _make_project(
        {
            "project.yml": _SEED_PROJECT,
            "profiles.yml": _PROFILES.format(schema=schema),
            "seeds/ratings.csv": _SEED_CSV,
        }
    )
    eng = _engine(spark, root, schema)
    try:
        results, _ = eng.build()
        errs = [
            (r.unique_id, r.message)
            for r in results.results
            if r.status in ("error", "fail")
        ]
        if errs:
            raise RuntimeError(f"seed build failed: {errs}")
        out = (
            spark.table(f"{schema}.ratings")
            .select(
                F.col("id").cast("int").alias("id"),
                "name",
                F.col("score").cast("double").alias("score"),
                F.col("joined").cast("date").alias("joined"),
                F.col("flag").cast("boolean").alias("flag"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _teardown(spark, eng, schema, root)
    return out
