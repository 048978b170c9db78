"""Merge-on-read DML for the COW format (round 13, VERDICT r12 #4):
``cow_merge(strategy="dv")`` routes matched UPDATE/DELETE through a
deletion-vector sidecar + ordinary appends instead of rewriting the
touched partitions. Pins: (a) result parity with the copy-on-write
strategy, (b) ZERO pre-existing data files rewritten, (c) the CDF emits
IDENTICAL deltas under both strategies (hash-pinned), (d) write
amplification tracks matched+inserted rows, not partition size."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    cow_changes,
    cow_compact,
    cow_create,
    cow_merge,
    cow_read,
)


def _data_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        if "_manifests" in dirpath or "/dv-" in dirpath:
            continue
        out += [
            os.path.relpath(os.path.join(dirpath, f), root)
            for f in files
            if f.endswith(".parquet")
        ]
    return sorted(out)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("id", "val", "amt", "part").collect()
    )


def _base_df(spark):
    return spark.createDataFrame(
        [(i, f"v{i}", float(i), f"p{i % 2}") for i in range(20)],
        "id long, val string, amt double, part string",
    ).coalesce(1)


def _source_df(spark):
    # matches ids 0,3,6,9,12,15,18 (multiples of 3 < 20); inserts 21,24
    return spark.createDataFrame(
        [(i, f"s{i}", float(i) * 10.0, f"p{i % 2}") for i in range(0, 27, 3)],
        "id long, val string, amt double, part string",
    )


def _clauses():
    # built lazily: F.col needs an active session on pyspark classic
    return dict(
        matched_update={"val": F.col("s.val"), "amt": F.col("s.amt")},
        matched_delete=F.col("s.id") % 9 == 0,  # 0, 9, 18 deleted
        not_matched_insert={
            "id": F.col("s.id"),
            "val": F.col("s.val"),
            "amt": F.col("s.amt"),
            "part": F.col("s.part"),
        },
    )


@pytest.fixture()
def twin_tables(spark, tmp_path):
    roots = []
    for name in ("cowside", "dvside"):
        root = str(tmp_path / name)
        cow_create(spark, root, _base_df(spark), partition_by="part")
        roots.append(root)
    return roots


def test_dv_merge_matches_cow_merge(spark, twin_tables):
    cow_root, dv_root = twin_tables
    v1 = cow_merge(
        spark, cow_root, _source_df(spark), on="id",
        strategy="cow", **_clauses(),
    )
    before = _data_files(dv_root)
    v2 = cow_merge(
        spark, dv_root, _source_df(spark), on="id",
        strategy="dv", **_clauses(),
    )
    assert v1 == v2 == 2
    # zero pre-existing data files rewritten under dv
    after = _data_files(dv_root)
    assert set(before) <= set(after)
    # both strategies agree with each other and with the declarative spec
    got_cow = _rows(cow_read(spark, cow_root))
    got_dv = _rows(cow_read(spark, dv_root))
    assert got_cow == got_dv
    expect = sorted(
        [
            (i, f"v{i}", float(i), f"p{i % 2}")
            for i in range(20)
            if i % 3 != 0
        ]
        + [
            (i, f"s{i}", i * 10.0, f"p{i % 2}")
            for i in range(0, 27, 3)
            if i % 9 != 0
        ]
    )
    assert got_dv == expect


def test_dv_merge_cdf_parity(spark, twin_tables):
    cow_root, dv_root = twin_tables
    cow_merge(spark, cow_root, _source_df(spark), on="id",
              strategy="cow", **_clauses())
    cow_merge(spark, dv_root, _source_df(spark), on="id",
              strategy="dv", **_clauses())
    cols = ["id", "val", "amt", "part", "_change_type"]

    def cdf(root):
        return sorted(
            tuple(r)
            for r in cow_changes(spark, root, 1, 2).select(*cols).collect()
        )

    a, b = cdf(cow_root), cdf(dv_root)
    assert a == b
    # the deltas are exactly the semantic changes: deletes = old images
    # of all matched rows; inserts = updated images + true inserts
    deletes = [t for t in a if t[-1] == "delete"]
    inserts = [t for t in a if t[-1] == "insert"]
    assert sorted(t[0] for t in deletes) == [0, 3, 6, 9, 12, 15, 18]
    assert sorted(t[0] for t in inserts) == [3, 6, 12, 15, 21, 24]


def test_dv_merge_write_amplification_tracks_changes(spark, twin_tables):
    """The appended files hold ONLY matched-updates + inserts; the DV
    sidecar holds ONLY the matched positions — never the partition."""
    import pyarrow.parquet as pq

    _, dv_root = twin_tables
    before = set(_data_files(dv_root))
    cow_merge(spark, dv_root, _source_df(spark), on="id",
              strategy="dv", **_clauses())
    new_rows = sum(
        pq.ParquetFile(os.path.join(dv_root, f)).metadata.num_rows
        for f in set(_data_files(dv_root)) - before
    )
    assert new_rows == 6  # 4 updated survivors + 2 inserts
    dv_rows = 0
    for dirpath, _dirs, files in os.walk(dv_root):
        if "/dv-" not in dirpath and not os.path.basename(dirpath).startswith("dv-"):
            continue
        for f in files:
            if f.endswith(".parquet"):
                dv_rows += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    assert dv_rows == 7  # all matched positions (updated + deleted)


def test_dv_merge_composes_with_compact_and_second_merge(spark, twin_tables):
    _, dv_root = twin_tables
    cow_merge(spark, dv_root, _source_df(spark), on="id",
              strategy="dv", **_clauses())
    # second DV merge touching the same files exercises sidecar union
    src2 = spark.createDataFrame(
        [(1, "z1", 111.0, "p1")], "id long, val string, amt double, part string"
    )
    cow_merge(
        spark, dv_root, src2, on="id", strategy="dv",
        matched_update={"val": F.col("s.val"), "amt": F.col("s.amt")},
    )
    got = {r.id: (r.val, r.amt) for r in cow_read(spark, dv_root).collect()}
    assert got[1] == ("z1", 111.0)
    assert got[3] == ("s3", 30.0)
    # compaction materializes the vectors; contents survive
    pre = _rows(cow_read(spark, dv_root))
    cow_compact(spark, dv_root)
    assert _rows(cow_read(spark, dv_root)) == pre


def test_dv_merge_source_uniqueness_enforced(spark, tmp_path):
    root = str(tmp_path / "uniq")
    cow_create(spark, root, _base_df(spark), partition_by="part")
    dup = spark.createDataFrame(
        [(0, "a", 1.0, "p0"), (0, "b", 2.0, "p0")],
        "id long, val string, amt double, part string",
    )
    with pytest.raises(ValueError, match="multiple rows"):
        cow_merge(
            spark, root, dup, on="id", strategy="dv",
            matched_update={"val": F.col("s.val")},
        )


def test_dv_merge_insert_only_and_delete_only(spark, tmp_path):
    root = str(tmp_path / "io")
    cow_create(spark, root, _base_df(spark), partition_by="part")
    ins = spark.createDataFrame(
        [(100, "new", 1.0, "p0")], "id long, val string, amt double, part string"
    )
    cow_merge(
        spark, root, ins, on="id", strategy="dv",
        not_matched_insert={c: F.col(f"s.{c}") for c in ins.columns},
    )
    assert 100 in {r.id for r in cow_read(spark, root).collect()}
    before = _data_files(root)
    cow_merge(
        spark, root, ins, on="id", strategy="dv",
        matched_delete=F.lit(True),
    )
    assert _data_files(root) == before  # delete-only: sidecar commit
    assert 100 not in {r.id for r in cow_read(spark, root).collect()}


def test_restore_reverts_dv_and_cow_commits(spark, tmp_path):
    """RESTORE republishes the target manifest: contents revert exactly,
    history stays readable, CDF emits the re-inserts, appends continue."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_changes,
        cow_delete,
        cow_restore,
        cow_vacuum,
    )

    root = str(tmp_path / "r")
    cow_create(spark, root, _base_df(spark), partition_by="part")
    cow_delete(spark, root, "id % 4 = 0")                  # v2 (DV)
    cow_merge(                                             # v3 (COW rewrite)
        spark, root, _source_df(spark), on="id",
        strategy="cow", matched_update={"val": F.col("s.val")},
    )
    v = cow_restore(root, 1)
    assert v == 4
    assert _rows(cow_read(spark, root)) == _rows(cow_read(spark, root, version=1))
    # history intact
    assert len(_rows(cow_read(spark, root, version=3))) == 15
    # CDF v3 -> v4 re-inserts what the delete+merge changed, nothing else
    cdf = cow_changes(spark, root, 3, 4)
    ins = {r.id for r in cdf.where(F.col("_change_type") == "insert").collect()}
    assert {0, 4, 8, 12, 16} <= ins  # the DV-deleted rows come back
    # appends continue normally after a restore
    cow_append(
        spark, root,
        spark.createDataFrame(
            [(99, "z", 9.0, "p1")], "id long, val string, amt double, part string"
        ),
    )
    assert 99 in {r.id for r in cow_read(spark, root).collect()}
    # a restore target whose files were vacuumed is rejected
    cow_vacuum(root, keep_versions=1, orphan_grace_seconds=0)
    import pytest as _pytest

    with _pytest.raises((FileNotFoundError, ValueError)):
        cow_restore(root, 3)


def test_restore_rejects_noop_and_missing_target(spark, tmp_path):
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_restore

    root = str(tmp_path / "n")
    cow_create(spark, root, _base_df(spark), partition_by="part")
    with pytest.raises(ValueError, match="already at version"):
        cow_restore(root, 1)
    with pytest.raises(FileNotFoundError):
        cow_restore(root, 7)
