"""Tests for the Spark 4 Python DataSource over the COW table format:
batch read parity with cow_read, time travel via option, partition
pruning through pushFilters, and the streaming commit-log replay.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    cow_create,
    cow_merge,
    cow_read,
)
from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
    register_cow_datasource,
)


@pytest.fixture()
def cow_root(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cowtab")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cow_create(spark, root, nation, partition_by="n_regionkey")
    register_cow_datasource(spark)
    return root


def _n_files(parts):
    """File count across read tasks — round 14 packs per-file
    partitions into bundles (CowBundle), so pruning assertions count
    FILES, not tasks."""
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowBundle,
    )

    return sum(
        len(p.items) if isinstance(p, CowBundle) else 1 for p in parts
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_read_matches_cow_read(spark, cow_root):
    via_ds = spark.read.format("cowtable").option("path", cow_root).load()
    assert _rows(via_ds) == _rows(cow_read(spark, cow_root))
    assert via_ds.schema == cow_read(spark, cow_root).schema


def test_time_travel_option(spark, cow_root):
    v1 = _rows(spark.read.format("cowtable").option("path", cow_root).load())
    updates = spark.createDataFrame(
        [(0, "RENAMED", 0)], "n_nationkey long, n_name string, n_regionkey int"
    )
    cow_merge(
        spark, cow_root, updates, on="n_nationkey",
        matched_update={"n_name": F.col("s.n_name")},
    )
    latest = spark.read.format("cowtable").option("path", cow_root).load()
    pinned = (
        spark.read.format("cowtable")
        .option("path", cow_root)
        .option("version", "1")
        .load()
    )
    assert _rows(pinned) == v1
    assert ("RENAMED",) in {
        (r.n_name,) for r in latest.where(F.col("n_nationkey") == 0).collect()
    }
    assert _rows(latest) != v1


def test_partition_pruning_reduces_files_scanned(spark, cow_root):
    full = spark.read.format("cowtable").option("path", cow_root).load()
    one = full.where(F.col("n_regionkey") == 2)
    expect = _rows(
        cow_read(spark, cow_root, partition_values=[2]).where(
            F.col("n_regionkey") == 2
        )
    )
    assert _rows(one) == expect
    # pruning is observable at the reader: pushFilters keeps only files
    # whose manifest partition == '2' (the DataFrame-level partition
    # count is not a faithful probe for Python scans, so assert on the
    # planning object itself)
    from pyspark.sql.datasource import EqualTo

    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowBatchReader,
    )

    rdr = CowBatchReader(cow_root, None)
    n_full = _n_files(rdr.partitions())
    leftover = list(rdr.pushFilters([EqualTo(("n_regionkey",), 2)]))
    n_pruned = _n_files(rdr.partitions())
    assert n_pruned < n_full, (n_pruned, n_full)
    assert leftover  # filters stay row-level: pruning is file-granular


def test_filter_on_absent_partition_returns_empty(spark, cow_root):
    """Pruning to ZERO files must yield an empty frame, not crash: the
    worker substitutes [None] for an empty partition list and still
    calls read (review finding)."""
    df = (
        spark.read.format("cowtable")
        .option("path", cow_root)
        .load()
        .where(F.col("n_regionkey") == 99)
    )
    assert df.count() == 0


def test_writer_rejects_type_changed_append(spark, sf_dir, tmp_path):
    register_cow_datasource(spark)
    root = str(tmp_path / "typed")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.format("cowtable").option("path", root).mode("append").save()
    retyped = nation.withColumn(
        "n_regionkey", F.col("n_regionkey").cast("string")
    )
    with pytest.raises(Exception, match="schema mismatch"):
        retyped.write.format("cowtable").option("path", root).mode(
            "append"
        ).save()


def test_writer_creates_and_appends(spark, sf_dir, tmp_path):
    register_cow_datasource(spark)
    root = str(tmp_path / "written")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # create (append mode on a fresh path => version 1)
    nation.write.format("cowtable").option("path", root).option(
        "partition_by", "n_regionkey"
    ).mode("append").save()
    assert _rows(cow_read(spark, root)) == _rows(nation)
    # append the same rows => doubled, version 2
    nation.write.format("cowtable").option("path", root).mode("append").save()
    assert cow_read(spark, root).count() == 2 * nation.count()
    assert _rows(cow_read(spark, root, version=1)) == _rows(nation)
    # MERGE through the existing cow path still works on written tables
    upd = spark.createDataFrame(
        [(0, "VIA_WRITER", 0)],
        "n_nationkey long, n_name string, n_regionkey int",
    )
    cow_merge(
        spark, root, upd, on="n_nationkey",
        matched_update={"n_name": F.col("s.n_name")},
    )
    names = {
        r.n_name
        for r in cow_read(spark, root)
        .where(F.col("n_nationkey") == 0)
        .collect()
    }
    assert names == {"VIA_WRITER"}


def test_writer_overwrite_and_pruning(spark, sf_dir, tmp_path):
    register_cow_datasource(spark)
    root = str(tmp_path / "overwritten")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.format("cowtable").option("path", root).option(
        "partition_by", "n_regionkey"
    ).mode("append").save()
    small = nation.where(F.col("n_regionkey") == 1)
    small.write.format("cowtable").option("path", root).mode(
        "overwrite"
    ).save()
    assert _rows(cow_read(spark, root)) == _rows(small)
    # written files carry manifest partition values => pruning works
    assert _rows(cow_read(spark, root, partition_values=[1])) == _rows(small)
    assert cow_read(spark, root, partition_values=[2]).count() == 0
    # round-trip through the DataSource reader too
    via_ds = spark.read.format("cowtable").option("path", root).load()
    assert _rows(via_ds) == _rows(small)


def test_stream_writer_sink(spark, sf_dir, tmp_path):
    """writeStream.format('cowtable'): micro-batches append manifest
    versions; the result table equals the streamed source; batch ids are
    stamped for exactly-once replay skipping."""
    register_cow_datasource(spark)
    src_dir = str(tmp_path / "src")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # three source files => up to three micro-batches with maxFilesPerTrigger
    for i in range(3):
        nation.where(F.col("n_nationkey") % 3 == i).write.mode(
            "append"
        ).parquet(src_dir)
    root = str(tmp_path / "stream_sink")
    q = (
        spark.readStream.schema(nation.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.format("cowtable")
        .option("path", root)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    got = cow_read(spark, root)
    assert _rows(got) == _rows(nation)
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
        cow_history,
    )

    versions = cow_history(root)
    assert len(versions) >= 2  # one manifest per non-empty micro-batch
    # stamps live in the cumulative stream_txns map (anonymous key when
    # no txnappid option was passed) carried on the latest manifest
    stamps = _read_manifest(root)["stream_txns"]
    assert max(stamps.values()) >= 1


def test_stream_writer_txn_identity(spark, sf_dir, tmp_path):
    """Replay detection keys on (txnAppId, batchId): a NEW streaming
    query with a fresh checkpoint (batch ids restarting at 0) must NOT
    be dropped as a replay of a previous query's batches, while a replay
    of the SAME query's committed epoch must be skipped. Also proves the
    stamp survives an interleaved batch commit + vacuum (carry-forward:
    the latest manifest always holds the running max per txn)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
        cow_append,
        cow_vacuum,
    )
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowStreamWriter,
    )

    register_cow_datasource(spark)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "t")

    def run_stream(src_rows, ckpt_name, txn_id):
        src_dir = str(tmp_path / ckpt_name) + "-src"
        src_rows.write.mode("overwrite").parquet(src_dir)
        q = (
            spark.readStream.schema(src_rows.schema)
            .parquet(src_dir)
            .writeStream.format("cowtable")
            .option("path", root)
            .option("txnappid", txn_id)
            .option("checkpointLocation", str(tmp_path / ckpt_name))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    first = nation.where(F.col("n_nationkey") < 5)
    second = nation.where(
        (F.col("n_nationkey") >= 5) & (F.col("n_nationkey") < 10)
    )
    run_stream(first, "ckptA", "queryA")
    n_after_a = cow_read(spark, root).count()
    assert n_after_a == first.count()
    # a DIFFERENT query, fresh checkpoint, batchId restarts at 0 — with
    # batchId-only stamping this would be silently dropped as a replay
    run_stream(second, "ckptB", "queryB")
    assert cow_read(spark, root).count() == n_after_a + second.count()
    stamps = _read_manifest(root)["stream_txns"]
    assert stamps["queryA"] == 0 and stamps["queryB"] == 0

    # interleave a batch commit and vacuum away the stream manifests:
    # the carry-forward keeps both stamps on the latest manifest
    cow_append(spark, root, nation.where(F.col("n_nationkey") == 20))
    cow_vacuum(root, keep_versions=1, orphan_grace_seconds=0)
    stamps = _read_manifest(root)["stream_txns"]
    assert stamps["queryA"] == 0 and stamps["queryB"] == 0

    # a true epoch replay of queryA's batch 0 is still skipped
    n_before = cow_read(spark, root).count()
    w = CowStreamWriter(root, nation.schema, None, txn_app_id="queryA")
    w.commit([], batchId=0)  # replayed epoch: must be dropped
    assert cow_read(spark, root).count() == n_before
    # and its NEXT epoch (batchId 1) commits normally
    w.commit([], batchId=1)
    assert _read_manifest(root)["stream_txns"]["queryA"] == 1


def test_stream_writer_replay_commits_nothing(spark, sf_dir, tmp_path):
    """A micro-batch replayed after the sink committed it (Spark's
    ``commits/<N>`` entry lost in a crash) is skipped on restart: the
    history and the row count are unchanged."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_history,
    )
    from tests.test_backfill_cow import _drop_last_commit

    register_cow_datasource(spark)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src_dir = str(tmp_path / "src")
    for i in range(3):
        nation.where(F.col("n_nationkey") % 3 == i).write.mode(
            "append"
        ).parquet(src_dir)
    root, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.schema(nation.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.format("cowtable")
            .option("path", root)
            .option("txnappid", "sink")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in time"

    run()
    history, n_rows = cow_history(root), cow_read(spark, root).count()
    assert n_rows == nation.count()
    _drop_last_commit(ckpt)
    run()
    assert cow_history(root) == history
    assert cow_read(spark, root).count() == n_rows


def test_stream_replays_commit_log(spark, cow_root, tmp_path):
    updates = spark.createDataFrame(
        [(1, "STREAMED", 1)], "n_nationkey long, n_name string, n_regionkey int"
    )
    cow_merge(
        spark, cow_root, updates, on="n_nationkey",
        matched_update={"n_name": F.col("s.n_name")},
    )
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("cowtable")
        .option("path", cow_root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    got = spark.read.parquet(out)
    # commit-log replay of a COW table: v1's files plus v2's rewritten
    # partition files => every CURRENT row appears at least once, and the
    # post-merge image is present
    assert ("STREAMED",) in {(r.n_name,) for r in got.collect()}
    current = {tuple(r) for r in cow_read(spark, cow_root).collect()}
    assert current <= {tuple(r) for r in got.collect()}


def test_datasource_reads_schema_evolved_table(spark, tmp_path):
    """Review regression: pre-evolution files must null-pad evolved
    columns in the Arrow read path instead of raising ArrowInvalid."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_create,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", "US"), (2, "b", "DE")],
        "id long, name string, region string",
    )
    cow_create(spark, root, base, partition_by="region")
    cow_append(
        spark,
        root,
        spark.createDataFrame(
            [(3, "c", "US", "gold")],
            "id long, name string, region string, tier string",
        ),
        evolve_schema=True,
    )
    got = {
        r.id: r.tier
        for r in spark.read.format("cowtable").option("path", root).load().collect()
    }
    assert got == {1: None, 2: None, 3: "gold"}


def test_writer_commit_rejects_concurrent_ddl(spark, tmp_path):
    """ADVICE r11 #1: a rename/drop committed between write PLANNING and
    commit() must raise CowConflictError instead of being absorbed — the
    task files carry plan-time physical names, so adopting the newer
    mapping would publish values under retired physical ids (silent
    NULLs on read). Concurrent plain APPENDS still pass (files-only
    delta, metadata unchanged)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
        cow_append,
        cow_create,
        cow_rename_column,
    )
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowBatchWriter,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a")], "id long, name string")
    cow_create(spark, root, base)

    # plan-time snapshot, then a concurrent DDL before commit
    w = CowBatchWriter(root, base.schema, overwrite=False, partition_by=None)
    cow_rename_column(root, "name", "label")
    with pytest.raises(CowConflictError):
        w.commit([])

    # concurrent APPEND (no metadata change) does not conflict
    root2 = str(tmp_path / "t2")
    cow_create(spark, root2, base)
    w2 = CowBatchWriter(root2, base.schema, overwrite=False, partition_by=None)
    cow_append(spark, root2, spark.createDataFrame([(2, "b")], base.schema))
    w2.commit([])  # publishes v3 on top of the append
    assert sorted(
        (r.id, r.name) for r in cow_read(spark, root2).collect()
    ) == [(1, "a"), (2, "b")]


def test_stream_writer_commit_rejects_mid_stream_ddl(spark, tmp_path):
    """Streaming twin of the DDL-conflict gate: batch files are written
    under STREAM-START physical names, so a mid-stream rename must fail
    the epoch commit rather than tear the table."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
        cow_create,
        cow_rename_column,
    )
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowStreamWriter,
    )

    root = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a")], "id long, name string")
    cow_create(spark, root, base)

    w = CowStreamWriter(root, base.schema, partition_by=None)
    cow_rename_column(root, "name", "label")
    with pytest.raises(CowConflictError):
        w.commit([], batchId=0)


def test_as_of_ts_option(spark, cow_root):
    """DSv2 twin of cow_read(as_of_ts=...): the option resolves through
    cow_resolve_as_of_ts and is exclusive with 'version'."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _effective_commit_ts,
        cow_merge,
    )

    v1_rows = _rows(spark.read.format("cowtable").option("path", cow_root).load())
    ts1 = _effective_commit_ts(cow_root, 1)
    cow_merge(
        spark, cow_root,
        spark.createDataFrame(
            [(0, "RENAMED", 0)],
            "n_nationkey long, n_name string, n_regionkey int",
        ),
        on="n_nationkey",
        matched_update={"n_name": F.col("s.n_name")},
    )
    pinned = (
        spark.read.format("cowtable")
        .option("path", cow_root)
        .option("as_of_ts", str(ts1))
        .load()
    )
    assert _rows(pinned) == v1_rows
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("cowtable")
            .option("path", cow_root)
            .option("version", "1")
            .option("as_of_ts", str(ts1))
            .load()
            .collect()
        )


def test_stream_starting_ts_option(spark, cow_root, tmp_path):
    """starting_ts replays only commits strictly after the snapshot the
    timestamp resolves to; a pre-table timestamp replays everything."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _effective_commit_ts,
        cow_append,
    )

    ts1 = _effective_commit_ts(cow_root, 1)
    cow_append(
        spark,
        cow_root,
        spark.createDataFrame(
            [(990, "NEW", 0)], "n_nationkey int, n_name string, n_regionkey int"
        ),
    )

    def drain(opts):
        reader = (
            spark.readStream.format("cowtable").option("path", cow_root)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        name = f"t{abs(hash(tuple(sorted(opts.items())))) % 10**8}"
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation", str(tmp_path / f"ck{name}")
            )
            .start()
        )
        q.awaitTermination(120)
        return {r.n_nationkey for r in spark.sql(f"SELECT * FROM {name}").collect()}

    # from ts1 -> only the append's rows
    assert drain({"starting_ts": str(ts1)}) == {990}
    # from before the table existed -> everything
    got = drain({"starting_ts": str(ts1 - 10_000)})
    assert 990 in got and 0 in got
    import pytest as _pt

    with _pt.raises(Exception, match="not both"):
        drain({"starting_ts": str(ts1), "startingVersion": "1"})


def test_zone_map_file_skipping(spark, tmp_path):
    """Round-12 data skipping: footer min/max recorded per manifest
    entry prune whole files through pushFilters on ANY column — the
    reader plans fewer InputPartitions AND results stay exact."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
        cow_append,
        cow_create,
    )
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowBatchReader,
        register_cow_datasource,
    )
    from pyspark.sql.datasource import EqualTo, GreaterThan

    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, val string"
    ).coalesce(1)
    cow_create(spark, root, mk(0, 100))
    cow_append(spark, root, mk(100, 200))
    cow_append(spark, root, mk(200, 300))
    m = _read_manifest(root)
    assert all("stats" in e and "id" in e["stats"] for e in m["files"])

    reader = CowBatchReader(root, None)
    assert _n_files(reader.partitions()) == 3
    reader.pushFilters([GreaterThan(("id",), 205)])
    assert _n_files(reader.partitions()) == 1  # only the [200,300) file
    reader2 = CowBatchReader(root, None)
    reader2.pushFilters([EqualTo(("id",), 150)])
    assert _n_files(reader2.partitions()) == 1
    reader3 = CowBatchReader(root, None)
    reader3.pushFilters([EqualTo(("val",), "zzz")])  # string zone maps
    assert _n_files(reader3.partitions()) == 0

    # end-to-end result correctness through the registered source
    register_cow_datasource(spark)
    got = (
        spark.read.format("cowtable")
        .option("path", root)
        .load()
        .where("id > 205 AND id < 210")
    )
    assert sorted(r.id for r in got.collect()) == [206, 207, 208, 209]


def test_zone_maps_survive_rename_and_widen(spark, tmp_path):
    """Stats are keyed by PHYSICAL column name; pruning after a rename
    resolves through the mapping, and a widened column's incomparable
    old stats fall back to keep-the-file (never wrong results)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_create,
        cow_rename_column,
        cow_widen_column,
    )
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowBatchReader,
    )
    from pyspark.sql.datasource import GreaterThan

    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, i * 10) for i in range(lo, hi)], "id long, score int"
    ).coalesce(1)
    cow_create(spark, root, mk(0, 10))
    cow_append(spark, root, mk(10, 20))
    cow_rename_column(root, "score", "points")
    r = CowBatchReader(root, None)
    r.pushFilters([GreaterThan(("points",), 150)])
    assert _n_files(r.partitions()) == 1  # pruned via physical 'score' stats
    cow_widen_column(root, "points", "bigint")
    r2 = CowBatchReader(root, None)
    r2.pushFilters([GreaterThan(("points",), 150)])
    # old int stats still comparable with python ints -> still prunes
    assert _n_files(r2.partitions()) == 1
