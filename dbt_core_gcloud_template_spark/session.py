"""SparkSession bootstrap.

Defaults chosen for BigQuery-parity correctness and 100 TB-scale habits:

- The SQL confs our semantics depend on (UTC session timeZone, parquet
  nanos and timestamp inference, excluded optimizer rules) are set by
  ``sources.registry.ensure_session_confs``, which also runs on
  sessions built elsewhere.
- AQE on (+ coalesce partitions + skew join): at scale the static
  shuffle-partition count is always wrong for somebody; AQE re-plans
  from runtime stats.
- ``spark.sql.shuffle.partitions``: sized for the local test harness via
  ``SPARK_GRAFT_CPUS``; on a real cluster AQE coalescing makes the
  initial number a ceiling, not a commitment.
- Arrow enabled: every Pandas-UDF boundary (multimodal, text ops) is
  Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.registry import ensure_session_confs


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "dbt-core-gcloud-template-spark",
    master: str | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine defaults applied."""
    cpus = cpu_count()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    return spark
