"""Deletion vectors for the COW format (round 12): DELETE as a sidecar
commit — no data file rewritten, readers drop the marked positions with
one anti-join; compaction materializes; CDF surfaces DV deletes; vacuum
respects sidecar liveness; the DSv2 reader masks the same positions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    cow_append,
    cow_changes,
    cow_compact,
    cow_create,
    cow_delete,
    cow_merge,
    cow_read,
    cow_vacuum,
)


def _ids(df):
    return sorted(r.id for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", f"p{i % 2}") for i in range(10)],
        "id long, val string, part string",
    ).coalesce(1)  # one task -> one multi-ROW file per partition, so
    # positions exercise more than index 0 and a rewrite always has
    # surviving rows to write
    cow_create(spark, root, df, partition_by="part")
    return root


def _data_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        if "_manifests" in dirpath or "/dv-" in dirpath:
            continue
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def test_dv_delete_is_metadata_plus_sidecar_only(spark, table):
    before = _data_files(table)
    v = cow_delete(spark, table, "id % 3 = 0")
    assert v == 2
    assert _data_files(table) == before  # zero data files rewritten
    assert _ids(cow_read(spark, table)) == [1, 2, 4, 5, 7, 8]
    # time travel still sees the pre-delete rows
    assert _ids(cow_read(spark, table, version=1)) == list(range(10))
    # timestamp resolution composes too
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _effective_commit_ts,
    )

    assert _ids(
        cow_read(spark, table, as_of_ts=_effective_commit_ts(table, 1))
    ) == list(range(10))


def test_dv_union_across_repeated_deletes(spark, table):
    cow_delete(spark, table, "id = 0")
    cow_delete(spark, table, "id = 2")  # same files touched again
    cow_delete(spark, table, "id = 9")
    assert _ids(cow_read(spark, table)) == [1, 3, 4, 5, 6, 7, 8]
    # each version in between is still exact
    assert _ids(cow_read(spark, table, version=2)) == [1, 2, 3, 4, 5, 6, 7, 8, 9]
    assert _ids(cow_read(spark, table, version=3)) == [1, 3, 4, 5, 6, 7, 8, 9]
    # re-deleting an already-deleted row is a no-op (no version burned)
    v = cow_delete(spark, table, "id = 2")
    assert v == 4


def test_dv_null_predicate_rows_are_kept(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, val string"
    )
    cow_create(spark, root, df)
    cow_delete(spark, root, F.col("val") == "a")  # NULL -> not TRUE -> kept
    assert _ids(cow_read(spark, root)) == [2, 3]


def test_dv_rewrite_mode_materializes(spark, table):
    cow_delete(spark, table, "id = 1")  # leaves a vector behind
    before = _data_files(table)
    cow_delete(spark, table, "id = 3", rewrite=True)
    assert _data_files(table) != before  # files DID change this time
    assert _ids(cow_read(spark, table)) == [0, 2, 4, 5, 6, 7, 8, 9]
    # the rewritten files carry no dv (prior vector materialized where
    # the rewrite touched; id=1's file was touched: 1 and 3 share p1)
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
    )

    m = _read_manifest(table)
    rewritten = [e for e in m["files"] if e.get("dv")]
    for e in rewritten:
        # any surviving dv entry must still exclude only id=1
        assert e["partition"] == "p0" or e["dv"] is None


def test_dv_compact_materializes_and_cdf_cancels(spark, table):
    cow_delete(spark, table, "id IN (0, 1)")
    v_before = 2
    v_after = cow_compact(spark, table, min_files_per_partition=1)
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
    )

    assert all(not e.get("dv") for e in _read_manifest(table)["files"])
    assert _ids(cow_read(spark, table)) == [2, 3, 4, 5, 6, 7, 8, 9]
    # OPTIMIZE across a vector is still a semantic no-op
    assert cow_changes(spark, table, v_before, v_after).count() == 0


def test_dv_cdf_shows_exactly_the_deleted_rows(spark, table):
    cow_delete(spark, table, "id IN (4, 7)")
    ch = cow_changes(spark, table, 1, 2).collect()
    assert sorted((r.id, r._change_type) for r in ch) == [
        (4, "delete"),
        (7, "delete"),
    ]


def test_dv_merge_does_not_resurrect(spark, table):
    cow_delete(spark, table, "id = 5")
    src = spark.createDataFrame(
        [(6, "SIX", "p0")], "id long, val string, part string"
    )
    cow_merge(
        spark, table, src, on="id",
        matched_update={"val": F.col("s.val")},
    )
    got = {r.id: r.val for r in cow_read(spark, table).collect()}
    assert 5 not in got and got[6] == "SIX"


def test_dv_vacuum_keeps_live_sidecars_reclaims_dead(spark, table):
    cow_delete(spark, table, "id = 0")  # v2, dv A
    cow_delete(spark, table, "id = 1")  # v3, dv B (union for touched file)
    dv_dirs = sorted(
        d for d in os.listdir(table) if d.startswith("dv-")
    )
    assert len(dv_dirs) == 2
    cow_vacuum(table, keep_versions=1, orphan_grace_seconds=0)
    # v3's sidecars survive; v2-only sidecar files are reclaimed
    alive = [
        d
        for d in sorted(os.listdir(table))
        if d.startswith("dv-")
        and any(f.endswith(".parquet") for f in os.listdir(os.path.join(table, d)))
    ]
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _read_manifest,
    )

    live_refs = {
        e["dv"] for e in _read_manifest(table)["files"] if e.get("dv")
    }
    assert set(alive) == live_refs
    assert _ids(cow_read(spark, table)) == list(range(2, 10))


def test_dv_datasource_read_masks_positions(spark, table):
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        register_cow_datasource,
    )

    cow_delete(spark, table, "id % 2 = 1")
    register_cow_datasource(spark)
    via_ds = spark.read.format("cowtable").option("path", table).load()
    assert _ids(via_ds) == [0, 2, 4, 6, 8]
    assert _ids(via_ds) == _ids(cow_read(spark, table))


def test_dv_after_rename_reads_logical_names(spark, table):
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_rename_column,
    )

    cow_rename_column(table, "val", "label")
    cow_delete(spark, table, F.col("label") == "v3")
    got = cow_read(spark, table)
    assert "label" in got.columns and _ids(got) == [
        0, 1, 2, 4, 5, 6, 7, 8, 9,
    ]


def test_dv_schema_evolution_appends_still_filter(spark, table):
    cow_delete(spark, table, "id = 8")
    cow_append(
        spark,
        table,
        spark.createDataFrame(
            [(100, "x", "p0", "gold")],
            "id long, val string, part string, tier string",
        ),
        evolve_schema=True,
    )
    got = {r.id: r.tier for r in cow_read(spark, table).collect()}
    assert 8 not in got and got[100] == "gold" and got[0] is None


def test_dv_read_construction_runs_no_job(spark, table):
    """Building a read over a DV'd version is job-free: the sidecars are
    read under a pinned schema, so no schema-inference job runs while
    the plan is built."""
    cow_delete(spark, table, "id % 3 = 0")
    sc = spark.sparkContext
    group = "dv-read-construction"
    sc.setJobGroup(group, group)
    try:
        df = cow_read(spark, table)
        changes = cow_changes(spark, table, 1)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert _ids(df) == [1, 2, 4, 5, 7, 8]
    assert sorted(r.id for r in changes.collect()) == [0, 3, 6, 9]
