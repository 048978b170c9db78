"""The engine's end-to-end zh-backfill run — the reference's ``main``
(OMTZHModifier.java:19-32) re-expressed as: discover -> classify -> one lazy
plan per table -> write back.

The reference processes tables sequentially on one connection with manual
id-range batching; here tables are still processed one after another, but
each table is ONE DataFrame plan whose parallelism comes from file splits
(or JDBC range partitions) rather than a client-side batching loop.
Metrics (S6) come from the engine, not hand-counted batches.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.catalog import (
    classify_all,
    discover_jdbc_tables,
    discover_parquet_tables,
)
from openmaptiles_zh_modifier_spark.operators.zh_backfill import (
    _counts,
    _rewrite,
    _updates_with_tags,
    _zh_exprs,
)
from openmaptiles_zh_modifier_spark.sources.io import (
    execute_jdbc_update,
    read_jdbc_partitioned,
    write_jdbc,
    write_parquet,
)


@dataclass
class TableResult:
    table: str
    id_field: str
    n_rows: int
    n_updated: int
    seconds: float


@dataclass
class RunReport:
    """S6 telemetry: per-table update counts + records/s (the reference's
    recPerSec log line, OMTZHModifier.java:172-176, as data)."""

    tables: list[TableResult] = field(default_factory=list)

    @property
    def total_updated(self) -> int:
        return sum(t.n_updated for t in self.tables)

    def records_per_sec(self) -> float:
        secs = sum(t.seconds for t in self.tables) or 1e-9
        return self.total_updated / secs


def run_backfill(
    spark: SparkSession,
    lake_root: str,
    out_root: str | None = None,
    compat_names_typo: bool = False,
) -> RunReport:
    """Discover every parquet table under ``lake_root``, classify by schema
    (id/osm_id precedence B4), back-fill qualifying tables, and (optionally)
    write the rewritten tables under ``out_root``. Non-qualifying tables are
    skipped exactly like the reference skips them.

    One pass per table, like the reference's scan → derive → UPDATE loop
    that tallies update counts as it writes: ``n_updated`` and ``n_rows``
    come from an ``Observation`` on the frame being written (without
    ``out_root``, from one aggregate over the source), not from extra
    count and read-back jobs. The observed counts are exact: the
    back-fill plan is shuffle-free (pinned by
    tests/test_zh_backfill.py::test_backfill_plans_are_shuffle_free), so
    the metrics are collected in the write's result stage, where Spark
    applies each successful task's accumulator update exactly once, even
    when a task is retried.

    The derivation is built once per run, the way the reference sets its
    conversion up once before its table loop: the count aggregates and
    the ``tags`` rewrite are unresolved Columns that each table's plan
    binds to its own frame."""
    tables = discover_parquet_tables(spark, lake_root)
    report = RunReport()
    e = _zh_exprs(compat_names_typo, None)
    counts, rewrite = _counts(e), _rewrite(e)
    for tc in classify_all(tables):
        df = tables[tc.table]
        t0 = time.perf_counter()
        if out_root is not None:
            obs = Observation()
            result = df.observe(obs, *counts).withColumn("tags", rewrite)
            write_parquet(result, f"{out_root}/{tc.table}.parquet")
            got = obs.get
            n_updated, n_rows = got["n_updated"], got["n_rows"]
        else:
            n_updated, n_rows = df.agg(*counts).first()
        report.tables.append(
            TableResult(
                tc.table,
                tc.id_field,
                n_rows,
                n_updated,
                round(time.perf_counter() - t0, 4),
            )
        )
    return report


def hstore_text_to_map(col):
    """Parse PostgreSQL hstore TEXT output (``"k"=>"v", "k2"=>NULL``) into
    a MapType column — how the reference's ``tags`` column surfaces over
    plain JDBC without a custom dialect. Regex-based, NOT a naive
    ``str_to_map`` split: values may contain ``, `` and ``=>``; unquoted
    ``NULL`` values become real SQL nulls; ``\"`` and ``\\`` escapes in
    keys/values are unescaped. Duplicate keys collapse LAST_WIN (matches
    hstore || and the session's mapKeyDedupPolicy)."""
    # Mark unquoted NULL values with a sentinel that cannot appear in
    # hstore text (U+0000: PostgreSQL text types reject NUL), so
    # extraction sees uniformly-quoted values. The match is anchored to
    # the start of the text or the ", " pair separator, then a full
    # QUOTED KEY, then the arrow: a bare `=>NULL` (or even a
    # quoted-key-anchored one) would also fire on the literal text
    # '=>NULL' INSIDE a quoted value — e.g. "k"=>"=>NULL", where
    # `"=>"` spanning the key-close and value-open quotes parses as a
    # quoted string. Key positions are exactly (start | separator) in
    # well-formed hstore text, and quotes inside keys/values are always
    # escaped, so the anchored pattern cannot start mid-value. Leading
    # whitespace before the first key (or after any comma) is tolerated
    # the way lenient hstore producers emit it.
    marked = F.regexp_replace(
        col,
        r'(^\s*|,\s*)("(?:[^"\\]|\\.)*")\s*=>\s*NULL',
        '$1$2=>"\u0000"',
    )
    entry = r'"((?:[^"\\]|\\.)*)"\s*=>\s*"((?:[^"\\]|\\.)*)"'
    keys = F.regexp_extract_all(marked, F.lit(entry), F.lit(1))
    vals = F.regexp_extract_all(marked, F.lit(entry), F.lit(2))

    def unescape(c):
        return F.replace(
            F.replace(c, F.lit('\\"'), F.lit('"')),
            F.lit("\\\\"),
            F.lit("\\"),
        )

    return F.map_from_arrays(
        F.transform(keys, unescape),
        F.transform(
            vals,
            lambda v: F.when(v == "\u0000", F.lit(None)).otherwise(unescape(v)),
        ),
    )


def map_to_hstore_text(col):
    """Serialize a MapType column back to PostgreSQL hstore TEXT
    (``"k"=>"v", "k2"=>NULL``) — the exact inverse of hstore_text_to_map,
    with ``\\`` and ``\"`` escaping and unquoted NULL for null values.
    Pure codegen expressions (map_entries -> transform -> array_join)."""
    def esc(c):
        return F.replace(
            F.replace(c, F.lit("\\"), F.lit("\\\\")),
            F.lit('"'),
            F.lit('\\"'),
        )

    entries = F.transform(
        F.map_entries(col),
        lambda e: F.concat(
            F.lit('"'),
            esc(e["key"]),
            F.lit('"=>'),
            F.when(e["value"].isNull(), F.lit("NULL")).otherwise(
                F.concat(F.lit('"'), esc(e["value"]), F.lit('"'))
            ),
        ),
    )
    return F.array_join(entries, ", ")


def _apply_update_sql(
    table: str, staging: str, id_field: str, url: str
) -> str:
    """The final server-side keyed apply — the statement the reference
    executes row-batched (``UPDATE ... SET tags = tags || hstore(...)
    WHERE id = ?``, OMTZHModifier.java:156-169), set-based.

    PostgreSQL gets the native hstore-concat form (``||`` right-wins on the
    two zh keys, exactly the reference's expression); every other engine
    gets the ANSI correlated-subquery form over the staged full
    ``new_tags`` text (Derby-compatible; hstore-as-TEXT transport).

    Column identifiers are QUOTED lowercase: the engine lowercases every
    discovered column, the staging table is written by Spark's JDBC sink
    (which quotes, preserving that lowercase), and the reference's own
    PostgreSQL schema is lowercase-folded — so quoted-lowercase resolves
    on both transports. PostgreSQL table names are quoted per dot-part
    (discovery lowercased them, which is what unquoted PG names fold to,
    so quoting is safe and also covers reserved words). The generic
    branch leaves table names unquoted so they fold to whatever the
    engine's catalog holds (Derby folds UP — quoted-lowercase would not
    resolve); it therefore assumes non-reserved table names, like the
    reference's own schema. The staging alias is deliberately obscure so
    it cannot collide with a user table's bare name in the correlation."""
    bare = table.split(".")[-1]
    q = f'"{id_field}"'
    a = "zh_stg_"  # staging correlation alias; bare table names won't match
    if url.startswith("jdbc:postgresql"):
        qtable = ".".join(f'"{p}"' for p in table.split("."))
        qstaging = ".".join(f'"{p}"' for p in staging.split("."))
        qbare = f'"{bare}"'
        return (
            f'UPDATE {qtable} SET "tags" = "tags" || '
            f"hstore(ARRAY['name:zh-Hans','name:zh-Hant'], "
            f'ARRAY[{a}."hans", {a}."hant"]) '
            f"FROM {qstaging} {a} WHERE {a}.{q} = {qbare}.{q}"
        )
    return (
        f'UPDATE {table} SET "tags" = '
        f'(SELECT {a}."new_tags" FROM {staging} {a} '
        f"WHERE {a}.{q} = {bare}.{q}) "
        f"WHERE EXISTS (SELECT 1 FROM {staging} {a} "
        f"WHERE {a}.{q} = {bare}.{q})"
    )


def _staging_exprs(
    compat_names_typo: bool,
) -> tuple[Column, dict[str, Column], Column]:
    """The Columns of the JDBC write-back, built once per run or streaming
    query and shared by its tables or micro-batches: the parse of the
    hstore-text ``tags``, the derivation, and the staged ``new_tags``
    text."""
    return (
        hstore_text_to_map(F.col("tags")),
        _zh_exprs(compat_names_typo, None),
        map_to_hstore_text(F.col("new_tags_map")).alias("new_tags"),
    )


def _stage_and_apply(
    df: DataFrame,
    url: str,
    driver: str,
    table: str,
    id_field: str,
    exprs: tuple[Column, dict[str, Column], Column],
    staging: str,
    opts: dict[str, str],
) -> int:
    """The JDBC write-back of one source frame (a table scan or one
    micro-batch) whose ``tags`` column is hstore TEXT: parse it to a map,
    derive ``(id, hans, hant, new_tags)`` in ONE projection over ONE scan
    (a join of the updates frame back onto the source would be a second
    scan, and over a live database two scans are two snapshots), overwrite
    the ``staging`` table with it, then run ONE set-based server-side
    ``UPDATE … FROM staging``. ``exprs`` is :func:`_staging_exprs`.
    Returns the update count the server reports — the telemetry the
    reference logs per executeBatch."""
    parse, e, new_tags = exprs
    mapped = df.withColumn("tags", parse)
    staged = _updates_with_tags(mapped, e, id_field).select(
        id_field, "hans", "hant", new_tags
    )
    write_jdbc(staged, url, staging, mode="overwrite", driver=driver, **opts)
    return execute_jdbc_update(
        df.sparkSession,
        url,
        driver,
        _apply_update_sql(table, staging, id_field, url),
        properties=opts or None,
    )


def run_backfill_jdbc(
    spark: SparkSession,
    url: str,
    driver: str,
    schema_pattern: str | None = None,
    compat_names_typo: bool = False,
    staging_suffix: str = "_zh_staging",
    properties: dict[str, str] | None = None,
    num_partitions: int = 16,
) -> RunReport:
    """The reference's ENTIRE program over a live database: JDBC catalog
    discovery (S1/S2 via DatabaseMetaData), structural classification
    (B4 precedence), hstore-text -> map parsing, the derivation chain
    over a PARTITIONED BETWEEN-range scan (S3/S4), batched write-back of
    the changed-rows frame to a schema-qualified staging table, and the
    final server-side ``UPDATE ... FROM staging`` executed through the
    same JVM java.sql path discovery uses (S5 — the statement the
    reference runs row-batched, OMTZHModifier.java:156-169, applied
    set-based; Spark's JDBC sink cannot express keyed UPDATE, so the
    apply runs as ONE statement on the server where it belongs).

    Telemetry counts the rows the server reports UPDATED (the statement's
    update count — the reference's executeBatch tally, :169-176), not a
    separate pre-write scan, and ``n_rows`` is observed on the same
    partitioned scan the staging write reads (no second scan). Tables
    whose name already ends with ``staging_suffix`` are skipped (the
    distinctive default makes a user-table collision unlikely; pass
    another suffix if needed).
    Column/table case is normalized to lowercase for classification
    (Derby folds up, PostgreSQL folds down; the reference compares
    lowercase PG names); staging tables are created unquoted next to
    their source schema."""
    raw = discover_jdbc_tables(spark, url, driver, schema_pattern, properties)
    tables: dict[str, DataFrame] = {}
    for name, df in raw.items():
        if name.split(".")[-1].lower().endswith(staging_suffix):
            continue  # never re-process staging output
        tables[name.lower()] = df.toDF(*[c.lower() for c in df.columns])
    report = RunReport()
    opts = dict(properties or {})
    exprs = _staging_exprs(compat_names_typo)
    for tc in classify_all(tables):
        t0 = time.perf_counter()
        # S3/S4: re-read the qualifying table as a partitioned range scan
        # (the discovery frame is a single-connection unpartitioned read)
        scan = read_jdbc_partitioned(
            spark,
            url,
            tc.table,
            tc.id_field,
            num_partitions=num_partitions,
            driver=driver,
            **opts,
        ).toDF(*[c.lower() for c in tables[tc.table].columns])
        # n_rows is observed during the staging write: the same snapshot
        # the update is derived from, without a second scan
        obs = Observation()
        scan = scan.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        n_updated = _stage_and_apply(
            scan,
            url,
            driver,
            tc.table,
            tc.id_field,
            exprs,
            f"{tc.table}{staging_suffix}",
            opts,
        )
        report.tables.append(
            TableResult(
                tc.table,
                tc.id_field,
                obs.get["n_rows"],
                n_updated,
                round(time.perf_counter() - t0, 4),
            )
        )
    return report


def stream_backfill_to_jdbc(
    stream_df: DataFrame,
    url: str,
    table: str,
    id_field: str,
    driver: str,
    compat_names_typo: bool = False,
    staging_suffix: str = "_zh_staging",
    properties: dict[str, str] | None = None,
) -> int:
    """The CDC-shaped deployment of the back-fill (SURVEY §2.1 S5 as a
    stream): source rows arrive as a STREAMING frame (in production a
    change feed of inserted/updated rows; the reference's batch program
    re-scans instead, OMTZHModifier.java:120-140), and every micro-batch
    runs the IDENTICAL staging-write + server-side ``UPDATE … FROM
    staging`` path the batch program uses — ``foreachBatch`` hands each
    micro-batch over as a batch DataFrame, so both call the one
    ``_stage_and_apply`` — shared, not reimplemented. The staging table
    is OVERWRITTEN per batch (it is a transport buffer, not a log).

    Delivery is at-least-once, with no exactly-once stamp: the
    checkpoint lives in a fresh temporary directory and is thrown away
    when the query ends, so a failed run does not resume — a re-run
    starts over from the beginning of the source. That is safe because
    the keyed UPDATE is idempotent: re-deriving a row writes the same
    tags. A row the back-fill already completed no longer qualifies, so
    a source that carries it in its back-filled state stages nothing and
    counts nothing; a replayed change that still carries the old tags
    is re-applied with identical values and counted again.

    Returns the total server-reported update count across batches (the
    reference's executeBatch tally, OMTZHModifier.java:169-176)."""
    opts = dict(properties or {})
    staging = f"{table}{staging_suffix}"
    exprs = _staging_exprs(compat_names_typo)
    counts: list[int] = []

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts.append(
            _stage_and_apply(
                batch_df,
                url,
                driver,
                table,
                id_field,
                exprs,
                staging,
                opts,
            )
        )

    checkpoint = tempfile.mkdtemp(prefix="omt-jdbc-ckpt-")
    try:
        q = (
            stream_df.writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return sum(counts)


def run_backfill_cow(
    spark: SparkSession,
    root: str,
    compat_names_typo: bool = False,
) -> tuple[int, int]:
    """Back-fill a COW table IN PLACE — the reference's batched keyed
    ``UPDATE ... SET tags = tags || hstore(...) WHERE id = ?``
    (OMTZHModifier.java:156-169) as a file-pruned in-place UPDATE
    (``cow_update``): each row's new tags come from that row alone, so
    one predicate scan of the pinned version picks the data files
    holding rows the back-fill changes, only those files are rewritten
    (``backfill_table``'s SET expression, no join, no shuffle of table
    rows), and version N+1 is published atomically via the manifest
    commit protocol. The result equals ``backfill_table`` of the same
    snapshot; a duplicate id is back-filled from its own row. The
    schema classifier picks ``id``/``osm_id`` with B4 precedence,
    exactly like the parquet and JDBC paths.

    Conflict contract (unchanged from the MERGE form): the snapshot is
    pinned once and the update commits with ``base_version`` = that
    version, so a concurrent commit landing after the pin makes the
    publish raise ``CowConflictError`` instead of clobbering it with
    tags derived from the older version (the reference's per-batch
    commit had no such guard). The caller retries from the new version,
    like Delta.

    Returns ``(committed_version, n_updated)``; when nothing qualifies
    the table is untouched and the CURRENT version is returned (an empty
    update must not burn a version number — readers use version deltas
    as a change signal, e.g. the cowtable streaming source).
    """
    from openmaptiles_zh_modifier_spark.catalog import classify_schema
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _latest_version,
        _logical_schema,
        _read_manifest,
        cow_update,
    )

    base = _latest_version(root)
    tc = classify_schema(_logical_schema(_read_manifest(root, base)), root)
    if tc is None:
        raise ValueError(
            f"cow table at {root} does not qualify for zh back-fill "
            "(needs name + tags and an id/osm_id column)"
        )
    e = _zh_exprs(compat_names_typo, None)
    return cow_update(
        spark,
        root,
        condition=e["applies"],
        assignments={"tags": e["new_tags"]},
        base_version=base,
    )


def stream_upsert_to_cow(
    stream_df: DataFrame,
    root: str,
    on: str,
    order_by: str,
    update_cols: list[str],
    tiebreak: str | None = None,
    checkpoint_location: str | None = None,
) -> list[int]:
    """Streaming CDC apply: every micro-batch MERGEs into the cow table —
    the upsert twin of the cowtable streaming APPEND sink (which can only
    add rows). The batch is first collapsed latest-wins per key (max
    ``order_by``; equal-``order_by`` races inside one batch break on
    ``tiebreak`` when given, else on a content hash of the whole row —
    DETERMINISTIC either way, so task retries re-elect the same winner),
    then fed through the transactional ``cow_merge`` (matched -> update
    ``update_cols`` plus ``order_by``, unmatched -> insert). Each batch
    lands as one atomic version.

    Exactly-once across restarts: every merge commits the stamp
    ``(query id, batch_id)``, the same one the cowtable streaming sink
    writes (``cow_table._commit_next``). The query id is the one Spark
    persists in ``<checkpoint>/metadata``, so it is stable across
    restarts from that checkpoint. A batch replayed after a failure
    between the merge's commit and Spark recording the batch finds its
    stamp and commits nothing, without reading or writing a table file;
    its entry in the returned list is the version the merge read.

    Out-of-order safety: the matched-update is CONDITIONAL on
    ``s.order_by > t.order_by`` — a stale change arriving after a newer
    one (reordered or late source partitions) leaves the row untouched,
    so the table converges to the per-key MAXIMUM order_by regardless of
    arrival order. ``order_by`` is force-included in the updated columns
    for exactly this reason: if the stored row's order_by never
    advanced, a stale change could pass the check and clobber newer
    data. A concurrent non-stream writer can steal a version; cow_merge
    then raises CowConflictError and the batch is retried by the
    caller/engine rather than applied on a stale base.

    ``checkpoint_location`` defaults to ``<root>/_upsert_checkpoint``:
    re-invocations RESUME from the recorded source offsets instead of
    re-reading the whole source, and nothing leaks outside the table
    directory. Pass an explicit path to run several independent upsert
    streams against one table.

    Returns the committed version per micro-batch."""
    import json
    import os

    from pyspark.sql import Window

    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_merge

    if checkpoint_location is None:
        checkpoint_location = os.path.join(root, "_upsert_checkpoint")
    versions: list[int] = []
    # the stored order_by must advance with every applied change, or the
    # s.order_by > t.order_by guard stops guarding (see docstring)
    effective_update_cols = list(dict.fromkeys([*update_cols, order_by]))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tb = (
            F.desc(tiebreak)
            if tiebreak is not None
            else F.desc(F.xxhash64(*batch_df.columns))
        )
        w = Window.partitionBy(on).orderBy(F.desc(order_by), tb)
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if batch_df.isEmpty():
            return  # empty batch: no version burned
        with open(os.path.join(checkpoint_location, "metadata")) as f:
            query_id = json.loads(f.readline())["id"]
        spark = batch_df.sparkSession
        newer = F.col(f"s.{order_by}") > F.col(f"t.{order_by}")
        versions.append(
            cow_merge(
                spark,
                root,
                latest,
                on=on,
                matched_update={
                    c: F.when(newer, F.col(f"s.{c}")).otherwise(
                        F.col(f"t.{c}")
                    )
                    for c in effective_update_cols
                },
                not_matched_insert={
                    c: F.col(f"s.{c}") for c in latest.columns
                },
                txn=(query_id, batch_id),
            )
        )

    q = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )
    q.awaitTermination()
    return versions
