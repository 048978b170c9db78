"""Engine IO surface: readers and sinks (SURVEY.md §2.1).

The reference's only connector is PostgreSQL JDBC with hand-rolled
id-range batching (OMTZHModifier.java:23-25, 130-137) and per-row batched
UPDATE write-back (:156-169). Here:

- file-lake readers (Parquet primary; CSV/JSON for ingest) — splits replace
  manual ranges; footers carry the schema, so "discovery" is free.
- ``read_jdbc_partitioned`` reproduces the reference's exact BETWEEN-range
  scan: Spark's partitioned JDBC read generates
  ``WHERE idField BETWEEN lo AND hi`` per task — the same SQL the
  reference emits, but issued concurrently from executors.
- writers: partitioned/bucketed Parquet (the 100 TB path), batched JDBC
  inserts, and ``execute_jdbc_update`` for the server-side keyed UPDATE.
  The keyed lake write-back (the equivalent of an indexed UPDATE) is
  ``operators.cow_table.cow_merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ------------------------------------------------------------------ readers


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": "false", **options}
    return spark.read.options(**opts).csv(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    id_field: str,
    num_partitions: int = 100,
    lower: int | None = None,
    upper: int | None = None,
    **options,
) -> DataFrame:
    """Range-partitioned JDBC scan (S3). When bounds are not given, probe
    min/max with one scalar query (the reference's getMaxID, S4/A1) — the
    only eager step; everything else stays lazy.

    numPartitions≈100 mirrors the reference's maxID/100 heuristic for
    sparse osm_id key spaces (B2): Spark distributes empty ranges across
    tasks and AQE coalesces them after the scan."""
    if lower is None or upper is None:
        probe = spark.read.jdbc(url, table, properties=dict(options))
        row = probe.agg(
            F.min(id_field).alias("lo"), F.max(id_field).alias("hi")
        ).first()
        lower = row["lo"] if lower is None else lower
        upper = row["hi"] if upper is None else upper
    return spark.read.jdbc(
        url,
        table,
        column=id_field,
        lowerBound=int(lower),
        upperBound=int(upper) + 1,
        numPartitions=num_partitions,
        properties=dict(options),
    )


# ------------------------------------------------------------------- sinks


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` gives directory-level partition
    pruning on the listed columns for every downstream reader."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink: co-locates join/agg keys so repeated
    joins on ``bucket_cols`` are exchange-free (the lake answer to the
    reference's temp b-tree index, SURVEY.md §2.10 B3)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 20_000,
    **options,
) -> None:
    """JDBC sink. batchsize=20000 matches the reference's executeBatch
    granularity (OMTZHModifier.java:122) — per-partition batched inserts."""
    df.write.mode(mode).options(batchsize=str(batchsize), **options).jdbc(
        url, table
    )


def execute_jdbc_update(
    spark: SparkSession,
    url: str,
    driver: str,
    sql: str,
    properties: dict[str, str] | None = None,
) -> int:
    """Run one server-side DML statement over py4j's java.sql (the same
    JVM-side connection path catalog discovery uses) and return the update
    count — the reference's ``executeBatch`` tally (OMTZHModifier.java:
    156-169) for set-based UPDATE statements Spark's JDBC sink cannot
    express. One statement, one connection: the heavy lifting (computing
    the changed rows) already happened distributed; this is the final
    keyed apply, which belongs on the database server."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(driver)
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        st = conn.createStatement()
        try:
            return st.executeUpdate(sql)
        finally:
            st.close()
    finally:
        conn.close()


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a fragmented parquet dataset into
    ~target-sized files, optionally range-sorted for min/max pruning.

    The streaming/incremental ingest pattern leaves thousands of tiny
    files per table; every downstream scan then pays per-file open cost
    and tiny row groups defeat predicate skipping. Compaction sizes the
    output from the ACTUAL input bytes (not row counts — row width
    varies), and ``repartitionByRange`` on the sort columns produces
    non-overlapping min/max ranges per file, the layout Z-order
    approximates for one key. Returns the number of output files.
    """
    import math

    from pyspark.sql.functions import spark_partition_id

    df = spark.read.parquet(path)
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = sum(
        st.getLen()
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(out_path)
    out = spark.read.parquet(out_path)
    return out.select(spark_partition_id()).distinct().count()


def read_json_audited(
    spark: SparkSession, path: str, schema: str, **options
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """PERMISSIVE JSONL ingestion with an explicit schema and a corrupt-
    record audit — the production posture for crawl/ingest files where
    some fraction of lines is always broken: good rows parse into the
    declared schema, bad lines land intact in ``_corrupt_record``
    instead of killing the job (FAILFAST) or vanishing (DROPMALFORMED).
    Returns (clean_rows, corrupt_rows, raw): callers route the corrupt
    frame to a quarantine sink, alert on its rate, and — once both
    frames are consumed — ``raw.unpersist()`` to release the cache
    (the cache is load-bearing, see below, so this helper cannot drop
    it itself; without the handle, repeated ingestion calls would pin
    one cached frame per file for the session lifetime).

    Scale note: schema is REQUIRED — schema inference is a full extra
    pass over the data at 100 TB; an ingestion contract should never
    pay it. The corrupt column must be materialized (cached or
    re-selected from the raw read) per Spark's semantics: predicates on
    it alone can't be pushed into the scan."""
    full_schema = schema + ", _corrupt_record string"
    df = (
        spark.read.options(
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt_record",
            **options,
        )
        .schema(full_schema)
        .json(path)
        .cache()  # Spark requires materialization before filtering on
        # the corrupt column alone (SPARK-21610)
    )
    clean = df.where(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = df.where(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, corrupt, df


def read_csv_audited(
    spark: SparkSession, path: str, schema: str, **options
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """CSV twin of ``read_json_audited``: PERMISSIVE parse against an
    explicit schema with malformed lines quarantined verbatim. CSV adds
    the failure modes JSONL doesn't have — wrong column COUNT and
    per-column type-cast failures — both of which land the raw line in
    ``_corrupt_record`` instead of silently null-padding (the default
    PERMISSIVE behavior without the corrupt column is exactly that
    silent null-pad, which is how bad rows poison aggregates).
    Same (clean, corrupt, raw) contract: unpersist ``raw`` when done."""
    full_schema = schema + ", _corrupt_record string"
    df = (
        spark.read.options(
            header="true",
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt_record",
            **options,
        )
        .schema(full_schema)
        .csv(path)
        .cache()
    )
    clean = df.where(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = df.where(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, corrupt, df
