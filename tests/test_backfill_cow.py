"""End-to-end zh back-fill against the ACID COW table format
(`plans.pipeline.run_backfill_cow`): the reference's keyed UPDATE
(OMTZHModifier.java:156-169) as a file-pruned in-place `cow_update`.
Asserts the new version equals the plain `backfill_table` rewrite of the
live rows (partitioned, multi-file, deletion-vector, column-mapped and
duplicate-key tables), that only the files holding updated rows are
rewritten, that the previous version stays readable (time travel), that
a no-op run does not burn a version, that a commit landing after the
snapshot pin raises CowConflictError, and that a warm run stays within
three Spark jobs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    cow_create,
    cow_read,
)
from openmaptiles_zh_modifier_spark.operators.zh_backfill import backfill_table
from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill_cow
from tests.test_zh_backfill import LATTICE, SCHEMA, mk


def _canon(df):
    rows = df.collect()
    return sorted(
        (r.id, r.name, None if r.tags is None else sorted(r.tags.items()))
        for r in rows
    )


@pytest.fixture()
def lattice_cow(spark, tmp_path):
    root = str(tmp_path / "zh_cow")
    df = mk(spark, [Row(id=i, name=n, tags=t) for i, n, t, *_ in LATTICE])
    cow_create(spark, root, df)
    return root, df


def test_cow_backfill_matches_plain_rewrite(spark, lattice_cow):
    root, df = lattice_cow
    version, n_updated = run_backfill_cow(spark, root)
    assert version == 2
    assert n_updated == sum(1 for _i, _n, _t, upd, _hs, _ht in LATTICE if upd)
    got = cow_read(spark, root)
    want = backfill_table(df)
    assert _canon(got) == _canon(want)


def test_cow_backfill_time_travel_and_idempotence(spark, lattice_cow):
    root, df = lattice_cow
    v1_before = _canon(cow_read(spark, root))
    version, n_updated = run_backfill_cow(spark, root)
    assert (version, n_updated > 0) == (2, True)
    # the pre-merge version stays readable and unchanged
    assert _canon(cow_read(spark, root, version=1)) == v1_before
    # a second run finds nothing to update and must NOT burn a version
    version2, n2 = run_backfill_cow(spark, root)
    assert (version2, n2) == (2, 0)
    assert _canon(cow_read(spark, root)) == _canon(backfill_table(df))


def test_cow_backfill_partitioned_table(spark, tmp_path):
    """Partitioned COW tables route the rewrite by partition value; the
    back-fill source must carry the partition column (review finding)."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "zh_cow_part")
    df = mk(
        spark, [Row(id=i, name=n, tags=t) for i, n, t, *_ in LATTICE]
    ).withColumn("region", (F.col("id") % 3).cast("int"))
    cow_create(spark, root, df, partition_by="region")
    version, n_updated = run_backfill_cow(spark, root)
    assert version == 2 and n_updated > 0
    got = cow_read(spark, root)
    want = backfill_table(df)
    def canon(frame):
        return sorted(
            (r.id, r.name, r.region,
             None if r.tags is None else sorted(r.tags.items()))
            for r in frame.collect()
        )
    assert canon(got) == canon(want)
    # untouched partitions' files must survive from version 1 (COW
    # granularity is the partition)
    assert cow_read(spark, root, version=1).count() == df.count()


def test_cow_backfill_conflict_on_concurrent_commit(spark, lattice_cow):
    """The base_version pin: a commit that lands between the snapshot
    pin and the update's publish must surface as CowConflictError, not
    a silent clobber (review finding). The competitor commits inside the
    rewrite step, at its first data-file write; it commits through the
    same helpers, so it fires once. Its v2 stays intact: its ``name``
    update holds and no tag is back-filled."""
    import unittest.mock as mock

    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators import cow_table
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
        cow_history,
        cow_merge,
    )

    root, df = lattice_cow
    real_write = cow_table._write_commit
    fired = []

    def racing_write(*args, **kw):
        if not fired:
            # interleave a competing writer AFTER the snapshot was pinned
            fired.append(True)
            upd = spark.createDataFrame([(3, "競")], "id long, name string")
            cow_merge(
                spark, root, upd, on="id",
                matched_update={"name": F.col("s.name")},
            )
        return real_write(*args, **kw)

    with mock.patch.object(cow_table, "_write_commit", side_effect=racing_write):
        with pytest.raises(CowConflictError):
            run_backfill_cow(spark, root)
    assert fired and cow_history(root) == [1, 2]
    want = sorted(
        (r.id, "競" if r.id == 3 else r.name,
         None if r.tags is None else sorted(r.tags.items()))
        for r in df.collect()
    )
    assert _canon(cow_read(spark, root, version=2)) == want


def test_cow_backfill_rejects_unqualified_table(spark, tmp_path):
    root = str(tmp_path / "bad_cow")
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    cow_create(spark, root, df)
    with pytest.raises(ValueError, match="does not qualify"):
        run_backfill_cow(spark, root)


def _rows(spark, rows):
    return mk(spark, [Row(id=i, name=n, tags=t) for i, n, t in rows])


_STILL = [  # lattice rows the back-fill never changes
    (i, n, t) for i, n, t, upd, *_ in LATTICE if not upd
]
_ALL = [(i, n, t) for i, n, t, *_ in LATTICE]


def _entries(root, version):
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
    )

    return _read_manifest(root, version)["files"]


def _assert_backfilled(spark, root, before):
    """Run the back-fill and check the new version equals
    ``backfill_table`` of the live rows at ``before``."""
    want = _canon(backfill_table(cow_read(spark, root, version=before)))
    version, n_updated = run_backfill_cow(spark, root)
    assert version == before + 1 and n_updated > 0
    assert _canon(cow_read(spark, root, version=version)) == want
    return version, n_updated


def test_cow_backfill_rewrites_only_touched_files(spark, tmp_path):
    """An unpartitioned table of three files, only one holding rows the
    back-fill changes: that file alone is rewritten, and every other
    entry carries over byte-identical (file-granular copy-on-write)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_append

    root = str(tmp_path / "t")
    shift = [(i + 100, n, t) for i, n, t in _STILL]
    cow_create(spark, root, _rows(spark, _STILL).coalesce(1))
    cow_append(spark, root, _rows(spark, shift).coalesce(1))
    v = cow_append(
        spark, root,
        _rows(spark, [(i + 200, n, t) for i, n, t in _ALL]).coalesce(1),
    )
    before = _entries(root, v)
    assert len(before) == 3
    version, _ = _assert_backfilled(spark, root, v)
    after = _entries(root, version)
    assert [e for e in after if e in before] == before[:2]
    assert before[2] not in after


def test_cow_backfill_after_dv_delete(spark, tmp_path):
    """A prior deletion-vector delete: deleted rows stay deleted (the
    rewritten file materializes its vector) and the untouched entry
    keeps its ``dv``."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_delete,
    )

    root = str(tmp_path / "t")
    cow_create(
        spark, root,
        _rows(spark, [(i + 100, n, t) for i, n, t in _STILL]).coalesce(1),
    )
    cow_append(spark, root, _rows(spark, _ALL).coalesce(1))
    v = cow_delete(spark, root, "id IN (101, 4)")
    before = _entries(root, v)
    assert all(e.get("dv") for e in before)
    version, _ = _assert_backfilled(spark, root, v)
    after = _entries(root, version)
    assert before[0] in after and before[1] not in after
    assert not any(e.get("dv") for e in after if e != before[0])
    ids = {r.id for r in cow_read(spark, root).collect()}
    assert not ids & {101, 4}


def test_cow_backfill_with_column_mapping(spark, tmp_path):
    """A prior rename of a non-key column: the rewrite reads and writes
    physical names, and the renamed column keeps its values."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_rename_column,
    )

    root = str(tmp_path / "t")
    df = _rows(spark, _ALL).withColumn("note", F.concat(F.lit("n"), F.col("id")))
    cow_create(spark, root, df.coalesce(1))
    v = cow_rename_column(root, "note", "remark")
    version, _ = _assert_backfilled(spark, root, v)
    got = cow_read(spark, root, version=version)
    assert {r.id: r.remark for r in got.collect()} == {
        i: f"n{i}" for i, *_ in _ALL
    }
    new = [e for e in _entries(root, version) if e not in _entries(root, v)]
    assert new and all(
        "note" in pq.read_schema(f"{root}/{e['path']}").names for e in new
    )


def test_cow_backfill_duplicate_id(spark, tmp_path):
    """Two rows sharing an id are each back-filled from their own row,
    like ``backfill_table``. (The earlier MERGE form raised "merge
    source has multiple rows" here.)"""
    root = str(tmp_path / "t")
    cow_create(
        spark, root,
        _rows(spark, [(3, "臺北", {}), (3, "東京", {}), (2, "Berlin", {})]),
    )
    _, n_updated = _assert_backfilled(spark, root, 1)
    assert n_updated == 2


def test_cow_backfill_job_count(spark, tmp_path):
    """A warm back-fill of a partitioned table runs at most three Spark
    jobs: the per-file predicate count (its shuffle map stage and its
    result) and the rewrite."""
    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_clone

    sc = spark.sparkContext
    base = str(tmp_path / "base")
    df = _rows(spark, _ALL).withColumn("region", (F.col("id") % 3).cast("int"))
    cow_create(spark, base, df, partition_by="region")
    cow_clone(base, str(tmp_path / "warm"))
    run_backfill_cow(spark, str(tmp_path / "warm"))
    clone = str(tmp_path / "clone")
    cow_clone(base, clone)
    group = "backfill-cow-census"
    sc.setJobGroup(group, group)
    try:
        version, _ = run_backfill_cow(spark, clone)
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 3, n_jobs
    assert _canon(cow_read(spark, clone, version=version)) == _canon(
        backfill_table(df)
    )


def test_stream_upsert_to_cow_equals_batch_latest_state(spark, sf_dir, tmp_path):
    """CDC apply: streaming per-batch MERGEs converge to exactly the
    batch latest-per-key state, one atomic version per micro-batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_create,
        cow_history,
        cow_read,
    )
    from openmaptiles_zh_modifier_spark.plans.pipeline import (
        stream_upsert_to_cow,
    )

    root = str(tmp_path / "state")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    changes = ev.select(
        "user_id", "event_id", "event_type",
        # ntz -> ltz (session TZ is UTC) -> epoch seconds
        F.col("ts").cast("timestamp").cast("long").alias("seq"),
    )
    # seed the table with an empty-but-typed state
    cow_create(spark, root, changes.limit(0))

    # stream the change feed in several micro-batches
    src_dir = str(tmp_path / "feed")
    changes.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    versions = stream_upsert_to_cow(
        stream, root, on="user_id", order_by="seq",
        update_cols=["event_id", "event_type", "seq"],
        tiebreak="event_id",
    )
    assert versions and versions == sorted(versions)
    assert cow_history(root)[-1] == versions[-1]

    # batch truth: latest change per user (same (seq, user) tie-break)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("seq"), F.desc("user_id")
    )
    # the conditional (s.seq > t.seq) update makes the GLOBAL max-seq row
    # win regardless of which micro-batch carried it; the events fixture
    # has unique (user, ts) pairs, making truth unique
    truth = {
        r.user_id: r.seq
        for r in changes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    got = {r.user_id: r.seq for r in cow_read(spark, root).collect()}
    assert got == truth


_FEED_SCHEMA = "user_id long, event_id long, event_type string, seq long"


def _write_feed(spark, src_dir, n_batches=3):
    """A change feed of ``n_batches`` single-file parts: every part
    updates users 0-3 and inserts one new user, with seq rising across
    parts so each part's changes win."""
    for b in range(n_batches):
        rows = [(u, 10 * b + u, f"e{b}", 100 * b + u) for u in range(4)]
        rows.append((10 + b, b, "new", b))
        spark.createDataFrame(rows, _FEED_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)


def _run_upsert(spark, src_dir, root):
    from openmaptiles_zh_modifier_spark.plans.pipeline import (
        stream_upsert_to_cow,
    )

    stream = (
        spark.readStream.schema(_FEED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    return stream_upsert_to_cow(
        stream, root, on="user_id", order_by="seq",
        update_cols=["event_id", "event_type"], tiebreak="event_id",
    )


def _upsert_table(spark, tmp_path, name):
    root = str(tmp_path / name)
    cow_create(spark, root, spark.createDataFrame([], _FEED_SCHEMA))
    return root


def _drop_last_commit(checkpoint):
    """Forget the last batch Spark recorded as done — the state a crash
    after the sink committed but before Spark wrote ``commits/<N>``
    leaves — so a restart replays that batch."""
    import os

    cdir = os.path.join(checkpoint, "commits")
    last = max(int(f) for f in os.listdir(cdir) if f.isdigit())
    os.remove(os.path.join(cdir, str(last)))
    os.remove(os.path.join(cdir, f".{last}.crc"))


def _commit_dirs(root):
    import os

    return sorted(d for d in os.listdir(root) if d.startswith("commit-"))


def _table_rows(spark, root):
    return sorted(tuple(r) for r in cow_read(spark, root).collect())


def test_stream_upsert_replay_commits_nothing(spark, tmp_path):
    """A micro-batch replayed after its merge committed finds its
    (query id, batch id) stamp: no version, no data file, same table."""
    import os

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_history,
    )

    src = str(tmp_path / "feed")
    _write_feed(spark, src)
    root = _upsert_table(spark, tmp_path, "t")
    versions = _run_upsert(spark, src, root)
    assert len(versions) == 3
    history, dirs = cow_history(root), _commit_dirs(root)
    rows = _table_rows(spark, root)

    _drop_last_commit(os.path.join(root, "_upsert_checkpoint"))
    assert _run_upsert(spark, src, root) == [history[-1]]
    assert cow_history(root) == history
    assert _commit_dirs(root) == dirs
    assert _table_rows(spark, root) == rows


def test_stream_upsert_failure_before_commit_matches_clean_run(
    spark, tmp_path, monkeypatch
):
    """A merge that fails before its commit fails the query; the restart
    re-runs that batch from the checkpoint, and the history and the
    table equal a clean run's."""
    from openmaptiles_zh_modifier_spark.operators import cow_table
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_history,
    )

    src = str(tmp_path / "feed")
    _write_feed(spark, src)
    clean = _upsert_table(spark, tmp_path, "clean")
    _run_upsert(spark, src, clean)

    root = _upsert_table(spark, tmp_path, "t")
    real_merge = cow_table.cow_merge
    calls = []

    def failing_merge(*args, **kwargs):
        calls.append(kwargs["txn"])
        if len(calls) == 2:
            raise RuntimeError("injected failure before commit")
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(cow_table, "cow_merge", failing_merge)
    with pytest.raises(Exception, match="injected failure"):
        _run_upsert(spark, src, root)
    assert len(cow_history(root)) == 2  # create + the first batch
    _run_upsert(spark, src, root)
    # the restart re-ran the failed batch under the same query id
    assert calls[2] == calls[1]
    assert len(cow_history(root)) == len(cow_history(clean))
    assert _table_rows(spark, root) == _table_rows(spark, clean)
