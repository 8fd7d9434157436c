"""Source-scan layer (SURVEY.md §2.1 S1-S3, S11-S13).

The reference reads raw external tables via dbt ``source()``
(reference ``models/staging/stg_example.sql:4``); here a source is a
parquet path registered in the Spark catalog.  Scans stay declarative
(``spark.read.parquet``) so Catalyst gets predicate pushdown, column
pruning and partition pruning for free — at 100 TB the scan is the
operator that matters most.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def ensure_session_confs(spark: SparkSession) -> None:
    """Set the SQL confs our semantics depend on, even on a session we
    didn't build (the driver hands ``queries()`` its own session).

    All are runtime-settable session confs:
    - UTC timezone (BigQuery TIMESTAMP parity; SURVEY §7.5),
    - parquet TIMESTAMP(NANOS) read as long (events.ts),
    - no TIMESTAMP_NTZ inference (timestamps are UTC instants),
    - InferFiltersFromGenerate excluded: for explode(<expensive expr>)
      it infers `size(e)>0 AND isnotnull(e)` and pushes it below the
      projection, re-evaluating the generator expression 3x per input
      row.  Our dominant explode pattern (shingles, MinHash bands,
      LSH buckets) generates from interpreted higher-order-function
      expressions with no common-subexpression elimination — measured
      ~2x the whole ngram pipeline's cost at sf0.1.  The rule only
      saves generating from already-empty arrays, which our operators
      pre-filter explicitly where it matters.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan is under-parallel.

    Small single-file inputs (like the local testdata) plan as one task,
    leaving every other core idle for CPU-heavy map work (MinHash,
    SimHash, dot products).  At 100 TB the scan already yields thousands
    of splits and this is a no-op.

    The probe uses ``inputFiles()`` and ``file_bytes`` (pure metadata)
    — NOT ``df.rdd``, whose eager physical planning measurably slowed
    downstream execution (~2× on the LSH pipeline).  Heuristic: few
    files AND small total bytes ⇒ the scan can't parallelize ⇒
    repartition.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    # one 128MB split per partition is Spark's own default split sizing
    if file_bytes(df.sparkSession, files) < target * 128 * 1024 * 1024:
        return df.repartition(target)
    return df


def file_bytes(spark: SparkSession, files: list[str]) -> int:
    """Total size of ``df.inputFiles()`` entries, from file metadata
    only (no Spark job).  Each entry is a percent-encoded URI
    (``file:///a%20b/x.parquet``, ``s3a://...``) resolved through the
    session's Hadoop FileSystem; an unreadable entry counts 0."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    Path, URI = jvm.org.apache.hadoop.fs.Path, jvm.java.net.URI
    total = 0
    for f in files:
        try:
            path = Path(URI(f))
            total += path.getFileSystem(conf).getFileStatus(path).getLen()
        except Py4JError:  # vanished file, unknown scheme, no credentials
            pass
    return total


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Plain parquet scan → full pushdown/pruning.

    Parquet TIMESTAMP(NANOS) columns (events.ts) arrive as epoch-nanos
    longs under ``spark.sql.legacy.parquet.nanosAsLong``; convert to a
    proper TIMESTAMP (truncating to micros, same as DuckDB/pyarrow).
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def stream_from_path(
    spark: SparkSession,
    location: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source STREAM over an external location (the streaming face
    of a declared source): schema from a batch probe, nanos timestamps
    normalized like the batch path.

    File-stream sources need a directory (in production the source IS a
    directory of arriving files); a single-file location is exposed
    through a symlinked dir so local testdata works unchanged.
    """
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    ensure_session_confs(spark)
    probe = spark.read.format(fmt)
    if fmt == "csv":
        probe = probe.option("header", "true").option("inferSchema", "true")
    schema = probe.load(location).schema
    path = location
    if os.path.isfile(path):
        d = os.path.join(
            tempfile.gettempdir(),
            f"stream_src_{hashlib.md5(path.encode()).hexdigest()[:10]}",
        )
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, os.path.basename(path))
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format(fmt).load(path)
    # TIMESTAMP(NANOS) parquet arrives as epoch-nanos BIGINT under
    # nanosAsLong — normalize any *ts*-named bigint column like the
    # batch reader does
    for name, dtype in stream.dtypes:
        if dtype == "bigint" and name in ("ts", "timestamp"):
            stream = stream.withColumn(
                name, F.timestamp_micros(F.expr(f"{name} div 1000"))
            )
    return stream
