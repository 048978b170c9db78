"""Engine IO surface: readers and sinks (SURVEY.md §2.1).

The reference's only connector is PostgreSQL JDBC with hand-rolled
id-range batching (OMTZHModifier.java:23-25, 130-137) and per-row batched
UPDATE write-back (:156-169). Here:

- file lakes are read with ``spark.read.parquet`` directly — splits
  replace manual ranges; footers carry the schema, so discovery needs no
  catalog, but each read without a schema runs one schema-inference job
  over the footers.
- ``read_jdbc_partitioned`` reproduces the reference's exact BETWEEN-range
  scan: Spark's partitioned JDBC read generates
  ``WHERE idField BETWEEN lo AND hi`` per task — the same SQL the
  reference emits, but issued concurrently from executors.
- writers: partitioned Parquet (the 100 TB path), batched JDBC inserts,
  and ``execute_jdbc_update`` for the server-side keyed UPDATE.
  The keyed lake write-back (the equivalent of an indexed UPDATE) is
  ``operators.cow_table.cow_merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ------------------------------------------------------------------ readers


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
