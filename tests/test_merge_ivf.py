"""Unit tests for the MERGE INTO operator."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.merge import merge_into
from openmaptiles_zh_modifier_spark.queries_merge import q_delta_join_ivm


def _base(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a", bal=10.0), Row(k=2, v="b", bal=20.0), Row(k=3, v="c", bal=30.0)]
    )


def _src(spark):
    # k=2 -> update, k=3 -> delete, k=9 -> insert, k=1 untouched (no row)
    return spark.createDataFrame(
        [Row(key=2, amt=5.0, drop=False), Row(key=3, amt=0.0, drop=True),
         Row(key=9, amt=99.0, drop=False)]
    )


def test_merge_three_clauses(spark):
    out = merge_into(
        _base(spark),
        _src(spark),
        on={"k": "key"},
        matched_update={"bal": F.col("t.bal") + F.col("s.amt")},
        matched_delete=F.col("s.drop"),
        not_matched_insert={"k": F.col("s.key"), "v": F.lit("new"),
                            "bal": F.col("s.amt")},
    )
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {1, 2, 9}          # 3 deleted
    assert rows[1].bal == 10.0 and rows[1].v == "a"   # untouched passthrough
    assert rows[2].bal == 25.0             # updated
    assert rows[9].v == "new" and rows[9].bal == 99.0  # inserted
    assert out.columns == _base(spark).columns  # schema preserved


def test_merge_update_only_downgrades_to_left_join(spark):
    out = merge_into(
        _base(spark), _src(spark), on={"k": "key"},
        matched_update={"bal": F.col("t.bal") + F.col("s.amt")},
        not_matched_insert=None,
    )
    rows = {r.k: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}          # no insert branch, no delete
    assert rows[3].bal == 30.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan
    assert "BroadcastHashJoin" in plan     # small source broadcasts


def test_merge_delete_null_condition_keeps_row(spark):
    # NULL delete-condition must be treated as false, not drop the row.
    src = spark.createDataFrame(
        [(2, 1.0, None)], "key int, amt double, drop boolean"
    )
    out = merge_into(
        _base(spark), src, on={"k": "key"},
        matched_delete=F.col("s.drop"),
        not_matched_insert={"k": F.col("s.key")},
    )
    assert sorted(r.k for r in out.collect()) == [1, 2, 3]


def test_merge_rejects_duplicate_source_keys(spark):
    import pytest

    dup_src = spark.createDataFrame(
        [(2, 1.0, False), (2, 3.0, False)], "key int, amt double, drop boolean"
    )
    with pytest.raises(ValueError, match="multiple rows for merge key"):
        merge_into(
            _base(spark), dup_src, on={"k": "key"},
            matched_update={"bal": F.col("s.amt")},
            not_matched_insert={"k": F.col("s.key")},
        )
    # opt-out path still works for by-construction-unique sources
    out = merge_into(
        _base(spark),
        dup_src.groupBy("key").agg(F.sum("amt").alias("amt")),
        on={"k": "key"},
        matched_update={"bal": F.col("s.amt")},
        not_matched_insert=None,
        validate_source_unique=False,
    )
    assert {r.k: r.bal for r in out.collect()}[2] == 4.0


def test_ivm_branches_are_disjoint_and_exhaustive(spark, sf_dir):
    for r in q_delta_join_ivm(spark, sf_dir).collect():
        assert r.n_old_old + r.n_dr_s + r.n_r_ds + r.n_dr_ds == r.n_orders
