"""One schema cache at the source boundary (``sources.registry.source_schema``).

A re-read of an unchanged file runs no Spark job; a rewritten file or a
directory that gains a file re-infers; engine source registration and
``load_table`` share the cache.  Job counts come from the job group each
step runs under, so they hold whatever the box load."""

import datetime
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dbt_core_gcloud_template_spark.plans.runner import Engine
from dbt_core_gcloud_template_spark.queries import queries
from dbt_core_gcloud_template_spark.sources.registry import load_table, source_schema

# Spark jobs of one warm run into the noop sink (identical over 3 runs
# at sf0.001); a re-added inference job, or any other, exceeds it.
QUERY_JOB_BUDGETS = {"q5_region_revenue": 9}


def jobs_in(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"ssc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_file_rereads_without_a_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    first, n_first = jobs_in(spark, lambda: load_table(spark, str(tmp_path), "orders").schema)
    again, n_again = jobs_in(spark, lambda: load_table(spark, str(tmp_path), "orders").schema)
    assert (n_first, n_again) == (1, 0)
    assert first == again
    # the key is the qualified URI, so a file: URI finds the same entry
    uri, n_uri = jobs_in(spark, lambda: source_schema(spark, f"file://{tmp_path}/orders.parquet"))
    assert (uri, n_uri) == (first, 0)
    with pytest.raises(ValueError):
        source_schema(spark, str(tmp_path / "orders.parquet"), "csv")


def test_rewritten_file_returns_its_new_schema(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t.parquet")
    shutil.copy(os.path.join(sf_dir, "region.parquet"), path)
    assert "r_regionkey" in source_schema(spark, path).names
    mtime_ns = os.stat(path).st_mtime_ns
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), path)
    # same modification time: the new length alone must miss the cache
    os.utime(path, ns=(mtime_ns, mtime_ns))
    assert source_schema(spark, path) == spark.read.parquet(path).schema
    assert "n_nationkey" in load_table(spark, str(tmp_path), "t").columns
    assert load_table(spark, str(tmp_path), "t").count() == 25


def test_directory_gaining_a_file_reinfers(spark, tmp_path):
    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    _, n_first = jobs_in(spark, lambda: source_schema(spark, d))
    _, n_again = jobs_in(spark, lambda: source_schema(spark, d))
    spark.range(3).withColumn("extra", F.lit(1)).write.mode("append").parquet(d)
    schema, n_grown = jobs_in(spark, lambda: source_schema(spark, d))
    assert n_first > 0 and n_again == 0 and n_grown > 0
    assert schema == spark.read.parquet(d).schema


def test_engine_sources_and_load_table_infer_once(spark, sf_dir, tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), data / "orders.parquet")
    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "project.yml").write_text("name: ssc\nprofile: ssc\n")
    (root / "profiles.yml").write_text(
        "ssc:\n  target: dev\n  outputs:\n    dev:\n      schema: ssc_main\n      threads: 1\n"
    )
    (root / "models" / "src.yml").write_text(
        "sources:\n  - name: raw\n    schema: ssc_raw\n    tables:\n"
        "      - name: orders\n        external:\n"
        f"          location: {data}/orders.parquet\n"
        "          format: parquet\n"
    )
    spark.sql("DROP TABLE IF EXISTS ssc_raw.orders")
    eng = Engine(spark, str(root), state_dir=str(tmp_path / "state"))

    def both():
        eng.register_sources()
        return load_table(spark, str(data), "orders")

    df, n = jobs_in(spark, both)
    assert n == 1
    assert spark.table("ssc_raw.orders").schema == df.schema


def test_events_ts_stays_a_timestamp(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 5, 1, 12, 0, 0, 123456)
    pq.write_table(
        pa.table({"ts": pa.array([ts], type=pa.timestamp("ns")), "v": [1]}),
        str(tmp_path / "events.parquet"),
    )
    for d in (sf_dir, str(tmp_path), str(tmp_path)):  # the last read is cached
        assert dict(load_table(spark, d, "events").dtypes)["ts"] == "timestamp"
    got = load_table(spark, str(tmp_path), "events").select(F.unix_micros("ts")).first()[0]
    assert got == int(ts.replace(tzinfo=datetime.timezone.utc).timestamp()) * 10**6 + 123456


@pytest.mark.parametrize("name", sorted(QUERY_JOB_BUDGETS))
def test_warm_query_job_budget(spark, sf_dir, name):
    def run():
        queries()[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # the session's first read of each table may infer its schema
    _, n = jobs_in(spark, run)
    assert 0 < n <= QUERY_JOB_BUDGETS[name], (name, n)
