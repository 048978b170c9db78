"""Runtime table discovery and structural classification.

The reference discovers tables from JDBC catalog metadata
(OMTZHModifier.java:36-43) and classifies each by which columns it has
(OMTZHModifier.java:48-74): ``id``+``name``+``tags`` → id-keyed table, else
``osm_id``+``name``+``tags`` → osm-keyed table, else skipped. The precedence
is load-bearing (B4, SURVEY.md §2.10): a table with BOTH ``id`` and
``osm_id`` is keyed by ``id``.

Here discovery is a pure function over self-describing schemas: Parquet
footers / the Spark catalog replace ``DatabaseMetaData``. The classifier is
pure ``schema → id_field | None`` so it needs no IO and no session to test.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

NAME_COL = "name"
TAGS_COL = "tags"
ID_COL = "id"
OSM_ID_COL = "osm_id"


@dataclass(frozen=True)
class TableClass:
    """Classification result for one table."""

    table: str
    id_field: str  # "id" or "osm_id"


def classify_schema(schema: StructType, table: str = "") -> TableClass | None:
    """Pure classifier: which key column drives the zh back-fill, if any.

    Mirrors OMTZHModifier.java:69-73 if/else-if precedence: ``id`` wins over
    ``osm_id`` when both are present (B4). Returns None when the table does
    not qualify (no name+tags, or neither key column).
    """
    cols = set(schema.fieldNames())
    if NAME_COL not in cols or TAGS_COL not in cols:
        return None
    if ID_COL in cols:
        return TableClass(table, ID_COL)
    if OSM_ID_COL in cols:
        return TableClass(table, OSM_ID_COL)
    return None


def discover_parquet_tables(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """Lake-mode catalog scan: every ``*.parquet`` under ``root`` is a table.

    Replaces the reference's ``getTables`` loop (OMTZHModifier.java:39-43).
    Not free: each ``spark.read.parquet`` without a schema runs one Spark
    job that infers the schema from the footers (``ParquetUtils.inferSchema``
    → ``SchemaMergeUtils.mergeSchemasInParallel`` → ``RDD.collect``). The
    job reads footers only, so its cost does not grow with the data, but
    on a small lake it is most of a run's jobs and a large share of its
    driver CPU.
    """
    out: dict[str, DataFrame] = {}
    for p in sorted(Path(root).glob("*.parquet")):
        out[p.stem] = spark.read.parquet(str(p))
    return out


def classify_all(tables: dict[str, DataFrame]) -> list[TableClass]:
    """Classify every discovered table; unqualified tables are dropped
    (parity with the reference skipping them, OMTZHModifier.java:69-74)."""
    out = []
    for name, df in sorted(tables.items()):
        tc = classify_schema(df.schema, name)
        if tc is not None:
            out.append(tc)
    return out


def discover_jdbc_tables(
    spark: SparkSession,
    url: str,
    driver: str,
    schema_pattern: str | None = None,
    properties: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """JDBC-mode catalog scan — the reference's LITERAL discovery path
    (``DatabaseMetaData.getTables(null, null, "%", {"TABLE"})``,
    OMTZHModifier.java:36-43) through the JVM's java.sql API, then one
    lazy ``spark.read.jdbc`` frame per discovered table (whose schema
    fetch replaces the reference's per-table ``getColumns``, :49-68).

    Keys are the schema-qualified names exactly as the metadata reports
    them (two schemas may hold same-named tables); reads use QUOTED
    identifiers built from those exact names, so mixed-case/reserved
    names resolve on any engine. ``properties`` carries credentials
    (user/password) to both the metadata connection and the table reads
    — never embed them in the URL, it leaks into job descriptions.
    Tested with the bundled Derby; ``schema_pattern`` narrows discovery
    to matching schemas (system tables never show: the type filter is
    ``TABLE``)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(driver)
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        arr = spark.sparkContext._gateway.new_array(jvm.java.lang.String, 1)
        arr[0] = "TABLE"
        rs = conn.getMetaData().getTables(None, schema_pattern, "%", arr)
        found: list[tuple[str | None, str]] = []
        while rs.next():
            found.append((rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME")))
    finally:
        conn.close()

    def quoted(schema: str | None, name: str) -> str:
        return ".".join('"' + p.replace('"', '""') + '"' for p in (schema, name) if p)

    out: dict[str, DataFrame] = {}
    for schema, name in sorted(found):
        key = f"{schema}.{name}" if schema else name
        reader = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", quoted(schema, name))
            .option("driver", driver)
        )
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        out[key] = reader.load()
    return out
