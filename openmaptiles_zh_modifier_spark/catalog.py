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

import json
from dataclasses import dataclass

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
    """Lake-mode catalog scan: every ``*.parquet`` entry of ``root`` is a
    table, keyed by its name without the suffix.

    Replaces the reference's ``getTables`` loop (OMTZHModifier.java:39-43).
    ``root`` is listed through its Hadoop ``FileSystem``, so a plain path,
    a ``file://`` URI and an ``hdfs://`` or ``s3a://`` lake are all
    discovered. Runs no Spark job: each table's schema is read from its
    parquet footers on the driver (:func:`_footer_schemas`) and handed to
    the read, which then infers nothing."""
    out: dict[str, DataFrame] = {}
    for table, schema in _footer_schemas(spark, root).items():
        reader = spark.read if schema is None else spark.read.schema(schema)
        out[table] = reader.parquet(f"{root.rstrip('/')}/{table}.parquet")
    return out


# Parquet summary files: read for their schema, never as data.
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Spark's file-index name filter (``InMemoryFileIndex``): ``_*`` and
    ``.*`` entries are skipped (``_SUCCESS``, ``.crc`` sidecars,
    ``_temporary``), except partition directories (``_k=v``) and the
    summary files."""
    skip = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return (skip or name.endswith("._COPYING_")) and not name.startswith(_SUMMARY_FILES)


def _footer_schemas(spark: SparkSession, root: str) -> dict[str, StructType | None]:
    """Table name → the schema ``spark.read.parquet`` would infer for
    each ``*.parquet`` entry of ``root``, read from footers on the
    driver with Spark's own footer reader and Parquet→Spark converter
    (``ParquetFileFormat.readParquetFootersInParallel`` and
    ``readSchema``), fed the files ``ParquetUtils.inferSchema`` picks.
    Without ``spark.sql.parquet.mergeSchema`` that is ``_common_metadata``,
    else ``_metadata``, else the first data file by path; with it, every
    data file (none under ``spark.sql.parquet.respectSummaryFiles``) plus
    the summary files. Spark's inference runs the same read as a job;
    here it is a call. One difference: ``readSchema`` merges column names
    case-sensitively, so files of one table whose columns differ only in
    case merge into two columns where Spark's job, under the default
    case-insensitive analysis, would merge them into one.

    None for a table without a file to read: the caller then lets Spark
    infer, so an empty table raises exactly as ``spark.read.parquet``
    does."""
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = jroot.getFileSystem(conf)
    get = spark.conf.get
    merge = get("spark.sql.parquet.mergeSchema").lower() == "true"
    respect = get("spark.sql.parquet.respectSummaryFiles").lower() == "true"
    ignore_corrupt = get("spark.sql.files.ignoreCorruptFiles").lower() == "true"
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    pff = getattr(getattr(parquet, "ParquetFileFormat$"), "MODULE$")
    to_seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq

    out: dict[str, StructType | None] = {}
    entries = {e.getPath().getName(): e for e in fs.listStatus(jroot)}
    for name in sorted(n for n in entries if n.endswith(".parquet")):
        entry = entries[name]
        leaves = []
        todo = [(entry.getPath(), entry)]
        while todo:
            path, st = todo.pop()
            if not st.isDirectory():
                leaves.append((path.toString(), st))
                continue
            for child in fs.listStatus(path):
                child_path = child.getPath()
                if not _hidden(child_path.getName()):
                    todo.append((child_path, child))
        leaves.sort(key=lambda leaf: leaf[0])
        kinds = [path.rsplit("/", 1)[-1] for path, _ in leaves]
        data = [st for (_, st), k in zip(leaves, kinds) if k not in _SUMMARY_FILES]
        common, metadata = (
            [st for (_, st), k in zip(leaves, kinds) if k == summary]
            for summary in _SUMMARY_FILES
        )
        if merge:
            touch = ([] if respect else data) + metadata + common
        else:
            touch = (common or metadata or data)[:1]
        schema = None
        if touch:
            footers = pff.readParquetFootersInParallel(conf, to_seq(touch), ignore_corrupt)
            found = pff.readSchema(footers, spark._jsparkSession)
            if found.isDefined():
                schema = StructType.fromJson(json.loads(found.get().json()))
        out[name[: -len(".parquet")]] = schema
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
