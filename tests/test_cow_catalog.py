"""Multi-table catalog transactions: atomicity across tables, staged
invisibility, per-table optimistic conflicts, disjoint-table retry,
crash recovery via catalog_abort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.cow_catalog import (
    CatalogTxn,
    catalog_abort,
    catalog_commit,
    catalog_create,
    catalog_latest,
    catalog_manifest,
    catalog_read,
    catalog_verify,
)
from openmaptiles_zh_modifier_spark.operators.cow_table import (
    CowConflictError,
    cow_append,
    cow_create,
    cow_delete,
)
from openmaptiles_zh_modifier_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def two_tables(spark, tmp_path):
    """Table a = ids 0..99 (value=id), table b = ids 1000..1009."""
    a_root = str(tmp_path / "a")
    b_root = str(tmp_path / "b")
    cat_root = str(tmp_path / "cat")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    cow_create(spark, a_root, df)
    cow_create(
        spark,
        b_root,
        spark.range(1000, 1010).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    catalog_create(cat_root, {"a": a_root, "b": b_root})
    return cat_root, a_root, b_root


def _sum_v(spark, cat_root, table, cv=None):
    return (
        catalog_read(spark, cat_root, table, catalog_version=cv)
        .agg(F.sum("v"))
        .collect()[0][0]
    )


def test_atomic_move(spark, two_tables):
    cat_root, a_root, b_root = two_tables
    a0, b0 = _sum_v(spark, cat_root, "a"), _sum_v(spark, cat_root, "b")
    total0 = a0 + b0

    txn = CatalogTxn(cat_root)
    moved = txn.read(spark, "a").where(F.col("k") % 10 == 0)
    moved_sum = moved.agg(F.sum("v")).collect()[0][0]
    txn.stage("a", cow_delete(spark, txn.root("a"), "k % 10 = 0"))
    txn.stage("b", cow_append(spark, txn.root("b"), moved))

    # staged but uncommitted: catalog readers still see the base state
    assert _sum_v(spark, cat_root, "a") == a0
    assert _sum_v(spark, cat_root, "b") == b0
    assert catalog_latest(cat_root) == 1

    cv = txn.commit()
    assert cv == 2
    # conservation across the atomic move
    a2, b2 = _sum_v(spark, cat_root, "a", 2), _sum_v(spark, cat_root, "b", 2)
    assert a2 + b2 == total0
    assert b2 == total0 - a2
    assert _sum_v(spark, cat_root, "b", 2) - _sum_v(
        spark, cat_root, "b", 1
    ) == moved_sum
    # old snapshot still consistent
    assert _sum_v(spark, cat_root, "a", 1) + _sum_v(
        spark, cat_root, "b", 1
    ) == total0
    catalog_verify(cat_root)


def test_staged_version_invisible_until_commit(spark, two_tables):
    cat_root, a_root, _ = two_tables
    before = _sum_v(spark, cat_root, "a")
    cow_delete(spark, a_root, "k < 50")  # stage only — no catalog commit
    assert _sum_v(spark, cat_root, "a") == before  # invisible
    # a direct table read DOES see it (documented: the catalog is the
    # commit truth; direct readers bypass it like Iceberg file readers)
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

    assert (
        cow_read(spark, a_root).agg(F.sum("v")).collect()[0][0] != before
    )


def test_same_table_write_write_conflict(spark, two_tables):
    cat_root, a_root, _ = two_tables
    t1 = CatalogTxn(cat_root)
    t2 = CatalogTxn(cat_root)
    t1.stage("a", cow_delete(spark, t1.root("a"), "k = 1"))
    t1.commit()
    # t2 staged nothing yet; its base pin for "a" is stale now
    t2.stage("a", cow_delete(spark, t2.root("a"), "k = 2"))
    with pytest.raises(CowConflictError, match="moved"):
        t2.commit()


def test_disjoint_tables_interleave(spark, two_tables):
    cat_root, a_root, b_root = two_tables
    t1 = CatalogTxn(cat_root)
    t2 = CatalogTxn(cat_root)
    t1.stage("a", cow_delete(spark, t1.root("a"), "k = 3"))
    t2.stage("b", cow_delete(spark, t2.root("b"), "k = 1003"))
    assert t1.commit() == 2
    # t2's base catalog version is stale but its TABLE pin is not:
    # catalog_commit revalidates + retries internally and succeeds
    assert t2.commit() == 3
    m = catalog_manifest(cat_root)
    assert m["tables"]["a"]["version"] == 2
    assert m["tables"]["b"]["version"] == 2
    catalog_verify(cat_root)


def test_crash_recovery_abort(spark, two_tables):
    cat_root, a_root, _ = two_tables
    # txn stages on a, then "crashes" before commit
    v_staged = cow_delete(spark, a_root, "k % 7 = 0")
    assert catalog_manifest(cat_root)["tables"]["a"]["version"] == 1
    removed = catalog_abort(cat_root, "a")
    assert removed == [v_staged]
    # version numbers released: a new txn stages and commits cleanly
    txn = CatalogTxn(cat_root)
    txn.stage("a", cow_delete(spark, txn.root("a"), "k % 9 = 0"))
    txn.commit()
    assert (
        catalog_manifest(cat_root)["tables"]["a"]["version"] == v_staged
    )
    catalog_verify(cat_root)


def test_catalog_versions_past_four_digits(spark, two_tables):
    """Catalog versions are listed by number, not by a fixed width:
    ``cat-10000.json`` and later stay visible, so commits keep
    advancing past version 9999."""
    import json
    import os

    cat_root, a_root, _ = two_tables
    v1 = catalog_manifest(cat_root, 1)
    with open(os.path.join(cat_root, "_catalog", "cat-9999.json"), "w") as f:
        json.dump({**v1, "version": 9999}, f)
    assert catalog_latest(cat_root) == 9999
    v2 = cow_delete(spark, a_root, "k % 10 = 0")
    assert catalog_commit(cat_root, {"a": v2}, {"a": 1}) == 10000
    v3 = cow_delete(spark, a_root, "k % 10 = 1")
    assert catalog_commit(cat_root, {"a": v3}, {"a": v2}) == 10001
    assert catalog_latest(cat_root) == 10001
    assert catalog_manifest(cat_root)["tables"]["a"]["version"] == v3
    assert _sum_v(spark, cat_root, "a") == sum(
        10 * k for k in range(100) if k % 10 not in (0, 1)
    )


def test_broken_chain_rejected(spark, two_tables):
    cat_root, a_root, _ = two_tables
    # claim a staged version that was never published
    with pytest.raises(ValueError, match="chain broken"):
        catalog_commit(cat_root, {"a": 5}, {"a": 1})


def test_commit_requires_known_table(spark, two_tables):
    cat_root, _, _ = two_tables
    with pytest.raises(ValueError, match="not in catalog"):
        catalog_commit(cat_root, {"zz": 2}, {"zz": 1})


def test_stage_must_advance(spark, two_tables):
    cat_root, _, _ = two_tables
    txn = CatalogTxn(cat_root)
    with pytest.raises(ValueError, match="does not advance"):
        txn.stage("a", 1)


# ---------------------------------------------------------------------------
# Cross-PROCESS catalog CAS: the multi-table commit pointer uses the
# same os.link create-if-absent primitive as table manifests, so the
# duel holds across real processes (test_cow_multiprocess.py pattern).


def _race_catalog_commit(args):
    # every writer targets the SAME pinned version — the genuine duel
    # (reading latest inside the worker would serialize the versions
    # as the pool drains and nobody would actually collide)
    cat_root, target_version, writer_id = args
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from openmaptiles_zh_modifier_spark.operators.cow_catalog import (
        _publish,
        catalog_manifest,
    )
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
    )

    cur = catalog_manifest(cat_root, 1)
    nxt = {
        "version": target_version,
        "tables": cur["tables"],
        "writer": writer_id,
    }
    try:
        _publish(cat_root, nxt)
        return ("won", writer_id)
    except CowConflictError:
        return ("conflict", writer_id)


def test_catalog_cas_across_processes(spark, two_tables):
    import multiprocessing as mp

    cat_root, _, _ = two_tables
    with mp.get_context("spawn").Pool(6) as pool:
        results = pool.map(
            _race_catalog_commit, [(cat_root, 2, i) for i in range(6)]
        )
    wins = [r for r in results if r[0] == "won"]
    losses = [r for r in results if r[0] == "conflict"]
    assert len(wins) == 1, results  # exactly one v2 exists
    assert len(losses) == 5
    m = catalog_manifest(cat_root)
    assert m["version"] == 2
    assert m["writer"] == wins[0][1]  # the winner's payload is the truth


def test_cow_txn_conservation(spark):
    rows = QUERIES["q_cow_txn"](spark, SF).collect()
    got = {(r.cat_version, r.tname): r for r in rows}
    assert len(got) == 6
    for cv in (1, 2):
        assert (
            got[(cv, "a")].n_rows + got[(cv, "b")].n_rows
            == got[(cv, "all")].n_rows
        )
        assert (
            got[(cv, "a")].sum_orderkey + got[(cv, "b")].sum_orderkey
            == got[(cv, "all")].sum_orderkey
        )
    # the move conserves the union across versions
    assert got[(1, "all")].n_rows == got[(2, "all")].n_rows
    assert got[(1, "all")].sum_orderkey == got[(2, "all")].sum_orderkey
    # and actually moved something
    assert got[(2, "a")].n_rows < got[(1, "a")].n_rows
    assert got[(2, "b")].n_rows > got[(1, "b")].n_rows
