"""The one session-scoped store (registry.session_memo): memo frames,
base-table scans, the cow measurement tables and skew stats share one
keyed get-or-build with one eviction path, clear_frame_cache()."""

from __future__ import annotations

import os
from types import SimpleNamespace

from openmaptiles_zh_modifier_spark import queries_scale, registry
from openmaptiles_zh_modifier_spark.operators.salted import key_skew_stats
from openmaptiles_zh_modifier_spark.registry import (
    QUERIES,
    clear_frame_cache,
    memo_frame,
    session_memo,
)

# every cow measurement query's memoized build table
_COW_TABLES = (
    queries_scale._zc_table,
    queries_scale._se_table,
    queries_scale._dv_table,
    queries_scale._pe_table,
    queries_scale._mdv_table,
    queries_scale._restore_table,
    queries_scale._txn_catalog,
    queries_scale._clone_table,
)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_cow_merge_dv_warm_construction_runs_no_job(spark, sf_dir):
    q = QUERIES["q_cow_merge_dv"]
    q(spark, sf_dir)  # cold: builds the memoized table
    n_jobs, df = _jobs(spark, "merge-dv-warm", lambda: q(spark, sf_dir))
    assert n_jobs == 0
    rows = df.collect()
    assert [r.version for r in rows] == [1, 2, 90, 91]


def test_clear_evicts_tables_frames_and_skew_stats(spark, sf_dir):
    clear_frame_cache()
    dirs = []
    for table in _COW_TABLES:
        root, _ = table(spark, sf_dir)
        # warm: the same table, no rebuild
        assert table(spark, sf_dir)[0] == root
        dirs.append(os.path.dirname(root))
    assert len(set(dirs)) == len(_COW_TABLES)
    assert all(os.path.isdir(d) for d in dirs)

    frame = memo_frame(spark, "test:frame", lambda: spark.range(50))
    assert memo_frame(spark, "test:frame", lambda: spark.range(7)) is frame
    assert frame.count() == 50
    assert frame.storageLevel.useMemory

    fact = spark.range(100).selectExpr("id % 3 AS k")
    stats = key_skew_stats(fact, "k")
    assert key_skew_stats(fact, "k") is stats

    clear_frame_cache()
    assert not [d for d in dirs if os.path.exists(d)]
    assert not frame.storageLevel.useMemory
    assert registry._SESSION_MEMO == {}
    # everything rebuilds on the next call
    assert key_skew_stats(fact, "k") is not stats
    clear_frame_cache()


def test_new_app_id_drops_foreign_entries(spark, tmp_path):
    clear_frame_cache()
    stale_dir = tmp_path / "stale-table"
    stale_dir.mkdir()
    unpersisted = []
    # a frame of a stopped context: SparkContext.stop() clears _jsc, and
    # its eviction must not call into it
    stopped_frame = SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None)),
        unpersist=lambda: unpersisted.append(True),
    )
    registry._SESSION_MEMO["app-stopped-123"] = {
        "frame": (stopped_frame, registry._unpersist),
        "table": (str(stale_dir), os.rmdir),
        "stats": (object(), None),
    }
    assert session_memo(spark, "test:live", lambda: 42) == 42
    app_id = spark.sparkContext.applicationId
    assert list(registry._SESSION_MEMO) == [app_id]
    assert not stale_dir.exists()
    assert unpersisted == []
    clear_frame_cache()
