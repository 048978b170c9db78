"""Copy-on-write table format: ACID MERGE, partition-pruned rewrites,
optimistic-concurrency conflicts, time travel, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    CowConflictError,
    _read_manifest,
    cow_create,
    cow_history,
    cow_merge,
    cow_read,
    cow_vacuum,
)


def _base_df(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0, "US"), (2, "b", 20.0, "US"),
         (3, "c", 30.0, "DE"), (4, "d", 40.0, "DE"),
         (5, "e", 50.0, "JP")],
        "id long, name string, bal double, region string",
    )


def _rows(df):
    return {
        r.id: (r.name, r.bal, r.region)
        for r in df.collect()
    }


def test_cow_merge_three_clauses_and_pruning(spark, tmp_path):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    m1 = _read_manifest(root, 1)
    jp_files_v1 = {e["path"] for e in m1["files"] if e["partition"] == "JP"}
    assert jp_files_v1  # partitioned layout materialized

    source = spark.createDataFrame(
        [(2, 99.0, "US"),   # matched -> update
         (3, -1.0, "DE"),   # matched + delete condition
         (6, 60.0, "US")],  # not matched -> insert
        "id long, bal double, region string",
    )
    v = cow_merge(
        spark, root, source, on="id",
        matched_update={"bal": F.col("s.bal")},
        matched_delete=F.col("s.bal") < 0,
        not_matched_insert={
            "id": F.col("s.id"), "name": F.lit("new"),
            "bal": F.col("s.bal"), "region": F.col("s.region"),
        },
    )
    assert v == 2
    got = _rows(cow_read(spark, root))
    assert got[2] == ("b", 99.0, "US")          # updated
    assert 3 not in got                          # deleted
    assert got[6] == ("new", 60.0, "US")        # inserted
    assert got[1] == ("a", 10.0, "US") and got[4] == ("d", 40.0, "DE")

    # copy-on-write proof: the untouched JP partition's files are the
    # SAME entries in v2 — not rewritten, not even re-listed from disk
    m2 = _read_manifest(root, 2)
    jp_files_v2 = {e["path"] for e in m2["files"] if e["partition"] == "JP"}
    assert jp_files_v2 == jp_files_v1


def test_cow_time_travel_and_partition_scan(spark, tmp_path):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    cow_merge(
        spark, root,
        spark.createDataFrame([(1, 11.0, "US")], "id long, bal double, region string"),
        on="id", matched_update={"bal": F.col("s.bal")},
    )
    assert cow_history(root) == [1, 2]
    assert _rows(cow_read(spark, root, version=1))[1][1] == 10.0  # old state
    assert _rows(cow_read(spark, root))[1][1] == 11.0             # new state
    # metadata-only file pruning: a partition-value scan reads 2 rows
    de = cow_read(spark, root, partition_values=["DE"])
    assert sorted(r.id for r in de.collect()) == [3, 4]


def test_cow_conflict_detection(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")

    # Interleave the race the way it actually happens: writer A reads v1
    # and prepares its commit; writer B commits v2 BETWEEN A's read and
    # A's manifest publish. Hook the data-file write (which sits exactly
    # in that window) to inject B's winning commit.
    import openmaptiles_zh_modifier_spark.operators.cow_table as cow

    real_write = cow._write_commit
    won = {}

    def race_write(df, r, part_col):
        out = real_write(df, r, part_col)
        if not won:  # only for writer A's first merge
            won["x"] = True
            m = _read_manifest(root, 1)
            m["version"] = 2
            cow._commit_manifest(root, m)  # writer B publishes first
        return out

    monkeypatch.setattr(cow, "_write_commit", race_write)
    src = spark.createDataFrame(
        [(1, 0.0, "US")], "id long, bal double, region string"
    )
    with pytest.raises(CowConflictError):
        cow_merge(spark, root, src, on="id", matched_update={"bal": F.col("s.bal")})

    # the loser re-reads (now v2) and retries; succeeds as v3
    v = cow_merge(
        spark, root,
        spark.createDataFrame([(1, 0.5, "US")], "id long, bal double, region string"),
        on="id", matched_update={"bal": F.col("s.bal")},
    )
    assert v == 3
    assert _rows(cow_read(spark, root))[1][1] == 0.5


def test_cow_unpartitioned_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark).select("id", "name", "bal"))
    cow_merge(
        spark, root,
        spark.createDataFrame([(9, "z", 9.0)], "id long, name string, bal double"),
        on="id",
        not_matched_insert={
            "id": F.col("s.id"), "name": F.col("s.name"), "bal": F.col("s.bal")
        },
    )
    assert cow_read(spark, root).count() == 6
    # dropped-version files are referenced by a DROPPED manifest — dead
    # regardless of age, but the sweep is mtime-gated, so force it
    removed = cow_vacuum(root, keep_versions=1, orphan_grace_seconds=0)
    assert removed > 0                      # v1's files are dead post-rewrite
    assert cow_history(root) == [2]
    assert cow_read(spark, root).count() == 6  # latest still intact


def test_stray_json_in_manifest_dir_is_not_a_version(spark, tmp_path):
    """Only ``v<digits>.json`` names are versions: another file in
    ``_manifests/`` that starts with ``v`` leaves the table readable."""
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark))
    with open(os.path.join(root, "_manifests", "vacuum.json"), "w") as f:
        f.write("{}")
    assert cow_history(root) == [1]
    assert cow_read(spark, root).count() == 5


def test_manifest_recording_another_version_rejected(spark, tmp_path):
    """A manifest whose recorded version is not its file's version is
    refused with ValueError (a check that survives ``python -O``)."""
    import json

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark))
    path = os.path.join(root, "_manifests", "v0000000001.json")
    with open(path) as f:
        m = json.load(f)
    with open(path, "w") as f:
        json.dump({**m, "version": 7}, f)
    with pytest.raises(ValueError, match="records version 7"):
        _read_manifest(root, 1)


def test_vacuum_keep_versions_below_one_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark))
    cow_merge(
        spark, root, _base_df(spark).where("id = 1"), on="id",
        matched_update={"bal": F.col("s.bal") + 1},
    )
    with pytest.raises(ValueError, match="keep_versions"):
        cow_vacuum(root, keep_versions=0, orphan_grace_seconds=0)
    assert cow_history(root) == [1, 2]


def test_cow_null_partition_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    bad = spark.createDataFrame(
        [(1, 1.0, None)], "id long, bal double, region string"
    )
    with pytest.raises(ValueError, match="NULL"):
        cow_merge(spark, root, bad, on="id", matched_update={"bal": F.col("s.bal")})


def test_cow_merge_source_dup_key_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    dup = spark.createDataFrame(
        [(1, 1.0, "US"), (1, 2.0, "US")], "id long, bal double, region string"
    )
    with pytest.raises(ValueError, match="multiple"):
        cow_merge(spark, root, dup, on="id", matched_update={"bal": F.col("s.bal")})


def test_cow_update_in_place(spark, tmp_path):
    """UPDATE ... SET ... WHERE: each matching row is rewritten from
    itself, a NULL verdict does not match, only the one file holding the
    matching row is rewritten, and a no-match update burns no version."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConstraintError,
        cow_add_constraint,
        cow_update,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    v1 = _read_manifest(root, 1)["files"]
    v, n = cow_update(
        spark, root, "region = 'US' AND bal > 15",
        {"bal": F.col("bal") * 2, "name": F.upper("name")},
    )
    assert (v, n) == (2, 1)
    got = _rows(cow_read(spark, root))
    want = _rows(_base_df(spark))
    want[2] = ("B", 40.0, "US")
    assert got == want
    v2 = _read_manifest(root, 2)["files"]
    gone = [e for e in v1 if e not in v2]
    assert len(gone) == 1 and gone[0]["partition"] == "US"
    assert cow_update(spark, root, F.lit(None), {"bal": F.lit(0.0)}) == (2, 0)
    assert cow_update(spark, root, "id > 99", {"bal": F.lit(0.0)}) == (2, 0)
    with pytest.raises(ValueError, match="nope"):
        cow_update(spark, root, "id = 1", {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="partition column"):
        cow_update(spark, root, "id = 1", {"region": F.lit("DE")})
    cow_add_constraint(spark, root, "bal_pos", "bal > 0")
    with pytest.raises(CowConstraintError, match="bal_pos"):
        cow_update(spark, root, "id = 1", {"bal": F.lit(-1.0)})
    assert cow_history(root)[-1] == 3  # the violating update published nothing


def test_cow_changes_cdf(spark, tmp_path):
    """Change data feed: file-diff narrowed, rewritten-unchanged rows
    cancel, updates surface as delete+insert pairs."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_changes

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    source = spark.createDataFrame(
        [(2, 99.0, "US"),   # update in partition US
         (6, 60.0, "US")],  # insert into partition US
        "id long, bal double, region string",
    )
    cow_merge(
        spark, root, source, on="id",
        matched_update={"bal": F.col("s.bal")},
        not_matched_insert={
            "id": F.col("s.id"), "name": F.lit("new"),
            "bal": F.col("s.bal"), "region": F.col("s.region"),
        },
    )
    ch = cow_changes(spark, root, 1, 2)
    by_type = {}
    for r in ch.collect():
        by_type.setdefault(r._change_type, set()).add((r.id, r.bal))
    # row 1 (US, unchanged but rewritten) cancelled out entirely;
    # DE/JP partitions untouched and never part of the diff
    assert by_type["insert"] == {(2, 99.0), (6, 60.0)}
    assert by_type["delete"] == {(2, 20.0)}

    # net diff across a version span composes (v1 -> v2 here is total)
    assert cow_changes(spark, root, 1).count() == 3
    # identity span is empty
    assert cow_changes(spark, root, 2, 2).count() == 0


def test_cow_append_schema_evolution(spark, tmp_path):
    """Append-only versions + metadata-only add-column evolution: old
    files are never rewritten yet serve NULL for the new column."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_append

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    n_files_v1 = len(_read_manifest(root, 1)["files"])

    extra = spark.createDataFrame(
        [(6, "f", 60.0, "US", "gold")],
        "id long, name string, bal double, region string, tier string",
    )
    # evolution must be explicit
    with pytest.raises(ValueError, match="evolve_schema"):
        cow_append(spark, root, extra)
    v = cow_append(spark, root, extra, evolve_schema=True)
    assert v == 2
    # old files untouched (append-only)
    m2 = _read_manifest(root, 2)
    assert {e["path"] for e in _read_manifest(root, 1)["files"]} <= {
        e["path"] for e in m2["files"]
    }
    assert len(m2["files"]) > n_files_v1

    latest = cow_read(spark, root)
    tiers = {r.id: r.tier for r in latest.collect()}
    assert tiers[6] == "gold" and all(
        tiers[i] is None for i in (1, 2, 3, 4, 5)
    )
    # time travel: v1 still reads with the OLD schema
    assert "tier" not in cow_read(spark, root, version=1).columns

    # appends that drop or retype table columns are rejected
    with pytest.raises(ValueError, match="lacks table columns"):
        cow_append(spark, root, extra.drop("tier", "bal"))
    retyped = spark.createDataFrame(
        [(7, "g", "70", "US", "x")],
        "id long, name string, bal string, region string, tier string",
    )
    with pytest.raises(ValueError, match="type mismatch"):
        cow_append(spark, root, retyped)


def test_cow_compact_is_a_semantic_noop(spark, tmp_path):
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_changes,
        cow_compact,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    # fragment the US partition with two appends
    for i in (6, 7):
        cow_append(
            spark,
            root,
            spark.createDataFrame(
                [(i, chr(96 + i), i * 10.0, "US")],
                "id long, name string, bal double, region string",
            ),
        )
    m3 = _read_manifest(root, 3)
    us_before = [e for e in m3["files"] if e["partition"] == "US"]
    assert len(us_before) >= 3
    before = _rows(cow_read(spark, root))

    v = cow_compact(spark, root, min_files_per_partition=2)
    assert v == 4
    m4 = _read_manifest(root, 4)
    us_after = [e for e in m4["files"] if e["partition"] == "US"]
    assert len(us_after) == 1                      # bin-packed
    assert _rows(cow_read(spark, root)) == before  # content identical
    assert cow_changes(spark, root, 3, 4).count() == 0  # CDF-empty
    # fully-compacted table: another compact burns no version
    assert cow_compact(spark, root, min_files_per_partition=2) in (4, 5)


def _frag_table(spark, root, nparts, ncols_extra=0):
    """Create a partitioned table and fragment EVERY partition with two
    appends (3 files per partition)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_append

    sch = "id long, bal double, x long, y long, region string"
    rows = [
        (i, float(i), i % 97, (i * 7) % 89, f"p{i % nparts}")
        for i in range(nparts * 30)
    ]
    cow_create(spark, root, spark.createDataFrame(rows, sch), partition_by="region")
    for j in range(2):
        extra = [
            (10_000 + j * nparts + k, 1.0, (j * 13 + k) % 97, (j * 17 + k) % 89,
             f"p{k}")
            for k in range(nparts)
        ]
        cow_append(spark, root, spark.createDataFrame(extra, sch))


def test_cow_compact_job_count_is_partition_independent(spark, tmp_path):
    """VERDICT r10 #2: OPTIMIZE must not pay a per-partition job-launch
    floor — all fragmented partitions are rewritten by ONE batched write
    (bounds via one grouped aggregate, scatter by (partition, z-bucket)),
    so the Spark job count is a small constant regardless of how many
    partitions are fragmented. The sequential loop this replaces cost
    ~2 jobs PER partition (a .first() bounds probe + a write each)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_compact

    sc = spark.sparkContext

    def jobs(nparts, label, **kw):
        root = str(tmp_path / f"t{label}{nparts}")
        _frag_table(spark, root, nparts)
        group = f"compact-{label}-{nparts}"
        sc.setJobGroup(group, group)
        try:
            cow_compact(spark, root, min_files_per_partition=2, **kw)
        finally:
            sc.setJobGroup(None, None)
        n_files = {
            e["partition"]: 0 for e in _read_manifest(root)["files"]
        }
        for e in _read_manifest(root)["files"]:
            n_files[e["partition"]] += 1
        return len(sc.statusTracker().getJobIdsForGroup(group)), n_files

    j4, f4 = jobs(4, "plain")
    j12, f12 = jobs(12, "plain")
    assert j4 == j12 <= 5          # constant, not O(partitions)
    assert set(f4.values()) == {1} and set(f12.values()) == {1}  # bin-packed
    zj4, _ = jobs(4, "z", zorder_by=("x", "y"))
    zj12, zf12 = jobs(12, "z", zorder_by=("x", "y"))
    assert zj4 == zj12 <= 6        # AQE stage jobs, independent of nparts
    assert all(v >= 1 for v in zf12.values())


def test_cow_compact_after_schema_evolution(spark, tmp_path):
    """VERDICT r10 #6: evolve, then compact. The pick is MATERIALIZE —
    compaction reads fragments through the MANIFEST schema, so rewritten
    pre-evolution rows come out in physical files that carry the evolved
    column (as real NULLs), while untouched versions stay projected.
    Time travel to the pre-evolution version must remain bit-identical
    (compaction never deletes files)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_changes,
        cow_compact,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    v1_rows = _rows(cow_read(spark, root, version=1))
    # evolve with a post-evolution file in US, then fragment US more
    cow_append(
        spark, root,
        spark.createDataFrame(
            [(6, "f", 60.0, "US", "gold")],
            "id long, name string, bal double, region string, tier string",
        ),
        evolve_schema=True,
    )
    cow_append(
        spark, root,
        spark.createDataFrame(
            [(7, "g", 70.0, "US", None)],
            "id long, name string, bal double, region string, tier string",
        ),
    )
    before = {r.id: (r.name, r.bal, r.tier)
              for r in cow_read(spark, root).collect()}

    v = cow_compact(spark, root, min_files_per_partition=2)
    m = _read_manifest(root, v)
    us = [e for e in m["files"] if e["partition"] == "US"]
    assert len(us) == 1
    # the rewritten file PHYSICALLY carries the evolved column: read its
    # footer schema directly, no manifest projection
    raw = spark.read.parquet(os.path.join(root, us[0]["path"]))
    assert "tier" in raw.columns
    by_id = {r.id: r.tier for r in raw.collect()}
    assert by_id[1] is None and by_id[2] is None   # materialized NULLs
    assert by_id[6] == "gold" and by_id[7] is None  # evolved values survive
    # semantic no-op + CDF cancel in the evolved schema space
    after = {r.id: (r.name, r.bal, r.tier)
             for r in cow_read(spark, root).collect()}
    assert after == before
    assert cow_changes(spark, root, v - 1, v).count() == 0
    # pre-evolution time travel is bit-identical (narrow schema, old rows)
    v1 = cow_read(spark, root, version=1)
    assert "tier" not in v1.columns
    assert _rows(v1) == v1_rows


def test_cow_merge_preserves_evolved_columns(spark, tmp_path):
    """Review regression: a partition rewrite must project pre-evolution
    files through the manifest schema, not a sampled footer — otherwise
    evolved column values are silently dropped."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_changes,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark), partition_by="region")
    cow_append(
        spark,
        root,
        spark.createDataFrame(
            [(6, "f", 60.0, "US", "gold")],
            "id long, name string, bal double, region string, tier string",
        ),
        evolve_schema=True,
    )
    # merge touches US (which holds pre- AND post-evolution files)
    v = cow_merge(
        spark, root,
        spark.createDataFrame([(1, 11.0, "US")],
                              "id long, bal double, region string"),
        on="id",
        matched_update={"bal": F.col("s.bal")},
    )
    assert v == 3
    rows = {r.id: (r.bal, r.tier) for r in cow_read(spark, root).collect()}
    assert rows[1] == (11.0, None)      # update applied
    assert rows[6] == (60.0, "gold")    # evolved value SURVIVES the rewrite
    # CDF across the evolution span compares in the evolved schema space
    ch = cow_changes(spark, root, 1, 3)
    assert "tier" in ch.columns
    types = sorted((r._change_type, r.id) for r in ch.collect())
    assert ("insert", 1) in types and ("delete", 1) in types
    assert ("insert", 6) in types


def test_cow_vacuum_reclaims_manifest_orphans(spark, tmp_path):
    """Review regression: files never referenced by ANY manifest (crashed
    or replayed writers) are swept too."""
    root = str(tmp_path / "t")
    cow_create(spark, root, _base_df(spark).select("id", "name", "bal"))
    orphan_dir = os.path.join(root, "commit-deadbeef0000")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    # a FRESH unreferenced file is indistinguishable from a concurrent
    # writer's staged-but-unpublished commit: the grace window keeps it
    removed = cow_vacuum(root, keep_versions=1)
    assert removed == 0 and os.path.exists(orphan)
    # past the window (forced here) it is reclaimed
    removed = cow_vacuum(root, keep_versions=1, orphan_grace_seconds=0)
    assert removed == 1 and not os.path.exists(orphan)
    # the live table is untouched
    assert cow_read(spark, root).count() == 5


def test_schema_evolution_query_versions(spark, sf_dir):
    """q_cow_schema_evolution's build: a v1 time-travel read must see
    the PRE-evolution schema (no o_orderpriority at all — evolution is
    forward-only metadata), while v2 sees the evolved schema with
    exactly the v1 rows NULL."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read
    from openmaptiles_zh_modifier_spark.queries_scale import _se_table

    root, v_latest = _se_table(spark, sf_dir)
    assert v_latest == 3
    v1 = cow_read(spark, root, version=1)
    assert "o_orderpriority" not in v1.columns
    v2 = cow_read(spark, root, version=2)
    assert "o_orderpriority" in v2.columns
    n_v1 = v1.count()
    nulls_v2 = v2.where(v2.o_orderpriority.isNull()).count()
    assert nulls_v2 == n_v1  # exactly the pre-evolution rows serve NULL


def test_cow_compact_size_targeted_binpack(spark, tmp_path):
    """max_rows_per_file: a large partition bin-packs into
    ceil(rows/max) files via deterministic row-hash scatter instead of
    funneling through one writer — content identical, CDF cancels."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_changes,
        cow_compact,
    )

    root = str(tmp_path / "t")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"n{i}", float(i), "US") for i in range(lo, hi)],
        "id long, name string, bal double, region string",
    )
    cow_create(spark, root, mk(0, 40), partition_by="region")
    cow_append(spark, root, mk(40, 70))
    cow_append(spark, root, mk(70, 100))
    before = _rows(cow_read(spark, root))

    v = cow_compact(spark, root, min_files_per_partition=2,
                    max_rows_per_file=30)
    m = _read_manifest(root, v)
    us = [e for e in m["files"] if e["partition"] == "US"]
    assert len(us) == 4  # ceil(100/30), every hash bucket non-empty
    assert _rows(cow_read(spark, root)) == before
    assert cow_changes(spark, root, v - 1, v).count() == 0
    # approximate balance: no file holds more than ~2x the target
    sizes = [
        spark.read.parquet(os.path.join(root, e["path"])).count() for e in us
    ]
    assert sum(sizes) == 100 and max(sizes) <= 60


def test_as_of_ts_resolution_ties_skew_and_fallback(spark, tmp_path):
    """Timestamp time travel (VERDICT r11 #4): Delta timestampAsOf
    semantics — latest version with monotonized commit_ts <= ts; ties
    resolve to the LATEST such version; raw stamp regressions (clock
    skew in external/legacy manifests) are monotonized at read; a
    manifest with no commit_ts falls back to file mtime."""
    import json as _json

    import pytest

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _manifest_path,
        cow_append,
        cow_create,
        cow_read,
        cow_resolve_as_of_ts,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, spark.createDataFrame([(1,)], "id long"))
    cow_append(spark, root, spark.createDataFrame([(2,)], "id long"))
    cow_append(spark, root, spark.createDataFrame([(3,)], "id long"))

    def set_ts(version, ts):
        p = _manifest_path(root, version)
        m = _json.load(open(p))
        if ts is None:
            m.pop("commit_ts", None)
        else:
            m["commit_ts"] = ts
        _json.dump(m, open(p, "w"))

    # injected stamps: v1=50, v2=100, v3=90 (regression — simulated skew)
    set_ts(1, 50.0)
    set_ts(2, 100.0)
    set_ts(3, 90.0)
    assert cow_resolve_as_of_ts(root, 50.0) == 1
    assert cow_resolve_as_of_ts(root, 75.0) == 1
    assert cow_resolve_as_of_ts(root, 99.0) == 1  # v2 eff=100 > 99
    # v3's effective stamp monotonizes to 100 -> tie with v2 -> latest
    assert cow_resolve_as_of_ts(root, 100.0) == 3
    assert cow_resolve_as_of_ts(root, 1e12) == 3
    with pytest.raises(ValueError, match="predates"):
        cow_resolve_as_of_ts(root, 49.9)

    # data read at a historical stamp = that version's content
    assert [r.id for r in cow_read(spark, root, as_of_ts=75.0).collect()] == [1]
    with pytest.raises(ValueError, match="not both"):
        cow_read(spark, root, version=1, as_of_ts=75.0)

    # legacy manifest without commit_ts: mtime fallback keeps it readable
    set_ts(1, None)
    import os as _os

    mt = _os.path.getmtime(_manifest_path(root, 1))
    assert cow_resolve_as_of_ts(root, mt) >= 1


def test_as_of_ts_two_writer_race(spark, tmp_path):
    """Two writers race one version: the loser gets CowConflictError;
    after its retry commits with a SKEWED-EARLY explicit stamp, the
    monotonized timeline still resolves order-consistently."""
    import json as _json

    import pytest

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
        _commit_manifest,
        _effective_commit_ts,
        _read_manifest,
        cow_create,
        cow_resolve_as_of_ts,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, spark.createDataFrame([(1,)], "id long"))
    m1 = _read_manifest(root)

    def manifest_v(version, ts=None):
        m = {
            "version": version,
            "partition_by": None,
            "files": m1["files"],
            "schema": m1["schema"],
        }
        if ts is not None:
            m["commit_ts"] = ts
        return m

    _commit_manifest(root, manifest_v(2))  # writer A wins v2
    with pytest.raises(CowConflictError):
        _commit_manifest(root, manifest_v(2))  # writer B loses the race

    ts2 = _effective_commit_ts(root, 2)
    # spread v1 back so the regression window below has room
    p1 = __import__(
        "openmaptiles_zh_modifier_spark.operators.cow_table",
        fromlist=["_manifest_path"],
    )._manifest_path(root, 1)
    m1_json = _json.load(open(p1))
    m1_json["commit_ts"] = ts2 - 100.0
    _json.dump(m1_json, open(p1, "w"))
    # B retries as v3, carrying a clock 10s BEHIND A's
    _commit_manifest(root, manifest_v(3, ts=ts2 - 10.0))
    # reader monotonization: v3's effective stamp is ts2 (tie -> latest)
    assert cow_resolve_as_of_ts(root, ts2) == 3
    # a timestamp inside the raw regression window resolves below v2
    assert cow_resolve_as_of_ts(root, ts2 - 5.0) == 1

    # an UNSTAMPED commit after the skewed one monotonizes at write time
    _commit_manifest(root, manifest_v(4))
    assert _effective_commit_ts(root, 4) >= ts2 - 10.0


def test_vacuum_age_based_retention(spark, tmp_path):
    """keep_newer_than_ts: versions inside the retention window survive
    (timestamp time travel stays total there); older ones are reclaimed
    subject to keep_versions."""
    import json as _json

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _manifest_path,
        cow_append,
        cow_create,
        cow_history,
        cow_read,
        cow_resolve_as_of_ts,
        cow_vacuum,
    )

    root = str(tmp_path / "t")
    cow_create(spark, root, spark.createDataFrame([(1,)], "id long"))
    for i in range(2, 6):
        cow_append(spark, root, spark.createDataFrame([(i,)], "id long"))

    def set_ts(version, ts):
        p = _manifest_path(root, version)
        m = _json.load(open(p))
        m["commit_ts"] = ts
        _json.dump(m, open(p, "w"))

    for v, ts in ((1, 100.0), (2, 200.0), (3, 300.0), (4, 400.0), (5, 500.0)):
        set_ts(v, ts)

    cow_vacuum(
        root, keep_versions=1, orphan_grace_seconds=0,
        keep_newer_than_ts=300.0,
    )
    assert cow_history(root) == [3, 4, 5]
    # time travel inside the window is total
    assert cow_resolve_as_of_ts(root, 350.0) == 3
    assert cow_read(spark, root, as_of_ts=450.0).count() == 4
    import pytest as _pt

    with _pt.raises((ValueError, FileNotFoundError)):
        cow_read(spark, root, version=1)


# Manifest keys that are table metadata: every commit carries them
# forward unless the commit exists to change them.
_META_KEYS = (
    "partition_by", "schema", "column_mapping", "retired_physical", "constraints",
)


@pytest.fixture(scope="module")
def decorated(spark, tmp_path_factory):
    """A partitioned table carrying every optional metadata key: a
    column mapping (rename), a retired physical name (drop) and a CHECK
    constraint. Each carry case mutates its own shallow clone."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_add_constraint,
        cow_drop_column,
        cow_rename_column,
    )

    root = str(tmp_path_factory.mktemp("carry") / "src")
    cow_create(
        spark,
        root,
        spark.createDataFrame(
            [
                (i, f"n{i}", float(i), ["US", "DE", "JP"][i % 3], i, "j")
                for i in range(12)
            ],
            "id long, name string, bal double, region string, score int,"
            " junk string",
        ),
        partition_by="region",
    )
    cow_rename_column(root, "name", "label")
    cow_drop_column(root, "junk")
    cow_add_constraint(spark, root, "bal_pos", "bal >= 0")
    return root


def _shifted(spark, root, cond, shift):
    df = cow_read(spark, root).where(cond).withColumn("id", F.col("id") + shift)
    return spark.createDataFrame(df.collect(), df.schema)


def _merge(strategy):
    def run(spark, root):
        src = _shifted(spark, root, "id % 4 = 0", 0).withColumn("bal", F.lit(1.0))
        cow_merge(
            spark, root, src, on="id",
            matched_update={"bal": F.col("s.bal")}, strategy=strategy,
        )
    return run


def _dsv2(mode):
    def run(spark, root):
        _shifted(spark, root, "id < 5", 100).write.format("cowtable").option(
            "path", root
        ).mode(mode).save()
    return run


def _stream(spark, root):
    src_dir = root + "-src"
    for i in range(2):
        _shifted(spark, root, f"id % 4 = {i}", 200).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    q = (
        spark.readStream.schema(cow_read(spark, root).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.format("cowtable")
        .option("path", root)
        .option("checkpointLocation", root + "-ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"


def _carry_cases():
    from openmaptiles_zh_modifier_spark.operators import cow_table as ct

    def restore(spark, root):
        ct.cow_widen_column(root, "score", "long")
        ct.cow_restore(root, 1)

    return {
        "merge_cow": (_merge("cow"), ()),
        "merge_dv": (_merge("dv"), ()),
        "delete_dv": (lambda s, r: ct.cow_delete(s, r, "id % 4 = 1"), ()),
        "delete_rewrite": (
            lambda s, r: ct.cow_delete(s, r, "id % 4 = 1", rewrite=True), ()
        ),
        "update": (
            lambda s, r: ct.cow_update(
                s, r, "id % 4 = 1", {"bal": F.col("bal") + 1}
            ),
            (),
        ),
        "restore": (restore, ()),
        "set_partition_spec": (
            lambda s, r: ct.cow_set_partition_spec(r, None), ("partition_by",)
        ),
        "add_constraint": (
            lambda s, r: ct.cow_add_constraint(s, r, "id_nonneg", "id >= 0"),
            ("constraints",),
        ),
        "drop_constraint": (
            lambda s, r: ct.cow_drop_constraint(r, "bal_pos"), ("constraints",)
        ),
        "append": (
            lambda s, r: ct.cow_append(s, r, _shifted(s, r, "id < 3", 100)), ()
        ),
        "append_evolve": (
            lambda s, r: ct.cow_append(
                s, r, _shifted(s, r, "id < 3", 100).withColumn("x", F.lit(1)),
                evolve_schema=True,
            ),
            ("schema", "column_mapping"),
        ),
        "rename_column": (
            lambda s, r: ct.cow_rename_column(r, "label", "title"),
            ("schema", "column_mapping"),
        ),
        "drop_column": (
            lambda s, r: ct.cow_drop_column(r, "label"),
            ("schema", "column_mapping", "retired_physical"),
        ),
        "widen_column": (
            lambda s, r: ct.cow_widen_column(r, "score", "long"), ("schema",)
        ),
        "compact": (
            lambda s, r: ct.cow_compact(s, r, min_files_per_partition=1), ()
        ),
        "dsv2_append": (_dsv2("append"), ()),
        "dsv2_overwrite": (_dsv2("overwrite"), ()),
        "dsv2_stream": (_stream, ()),
    }


@pytest.mark.parametrize("case", sorted(_carry_cases()))
def test_every_commit_carries_table_metadata(spark, decorated, tmp_path, case):
    """Every next-version writer carries each table-metadata key of its
    predecessor unchanged, except the keys it exists to change."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_clone
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        register_cow_datasource,
    )

    register_cow_datasource(spark)
    root = str(tmp_path / "t")
    cow_clone(decorated, root)
    before = _read_manifest(root)
    assert all(k in before for k in _META_KEYS)
    mutate, changes = _carry_cases()[case]
    mutate(spark, root)
    after = _read_manifest(root)
    assert after["version"] > before["version"]
    for k in _META_KEYS:
        if k in changes:
            assert after.get(k) != before.get(k), k
        else:
            assert after.get(k) == before.get(k), k
