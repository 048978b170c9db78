"""CHECK constraints for the COW format (round 12, Delta parity):
existing data validated on ADD; appends/merges/DSv2 writes validate new
rows BEFORE the manifest publishes (violation = staged files unlinked +
error, readers never saw them); NULL evaluations pass (SQL CHECK);
constraints survive every metadata commit and gate mid-write changes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    CowConstraintError,
    _read_manifest,
    cow_add_constraint,
    cow_append,
    cow_create,
    cow_drop_column,
    cow_drop_constraint,
    cow_merge,
    cow_read,
    cow_rename_column,
    cow_set_partition_spec,
)


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, None, "c")],
        "id long, score int, tag string",
    ).coalesce(1)
    cow_create(spark, root, df)
    return root


def test_add_validates_existing_and_null_passes(spark, table):
    # NULL score passes SQL CHECK semantics
    v = cow_add_constraint(spark, table, "score_pos", "score > 0")
    assert v == 2
    with pytest.raises(CowConstraintError, match="existing row"):
        cow_add_constraint(spark, table, "score_big", "score > 15")
    with pytest.raises(ValueError, match="already exists"):
        cow_add_constraint(spark, table, "score_pos", "score > 0")


def test_append_enforced_and_atomic(spark, table):
    cow_add_constraint(spark, table, "score_pos", "score > 0")

    def files(root):
        return sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet") and "_manifests" not in d
        )

    before = files(table)
    bad = spark.createDataFrame(
        [(9, -5, "x")], "id long, score int, tag string"
    ).coalesce(1)
    with pytest.raises(CowConstraintError, match="score_pos"):
        cow_append(spark, table, bad)
    assert files(table) == before  # staged files unlinked
    assert _read_manifest(table)["version"] == 2  # nothing published
    # NULL rows pass; valid rows land
    ok = spark.createDataFrame(
        [(9, None, "x"), (10, 5, "y")], "id long, score int, tag string"
    ).coalesce(1)
    cow_append(spark, table, ok)
    assert cow_read(spark, table).count() == 5


def test_merge_enforced(spark, table):
    cow_add_constraint(spark, table, "score_pos", "score > 0")
    src = spark.createDataFrame([(2, -1)], "id long, score int")
    with pytest.raises(CowConstraintError, match="score_pos"):
        cow_merge(
            spark, table, src, on="id",
            matched_update={"score": F.col("s.score")},
        )
    # table unchanged
    assert {r.id: r.score for r in cow_read(spark, table).collect()}[2] == 20


def test_drop_constraint_and_metadata_carry(spark, table):
    cow_add_constraint(spark, table, "score_pos", "score > 0")
    cow_rename_column(table, "tag", "label")
    cow_set_partition_spec(table, "label")
    m = _read_manifest(table)
    assert m["constraints"] == {"score_pos": "score > 0"}
    cow_drop_constraint(table, "score_pos")
    assert "constraints" not in _read_manifest(table)
    cow_append(
        spark,
        table,
        spark.createDataFrame(
            [(9, -5, "x")], "id long, score int, label string"
        ).coalesce(1),
    )  # no longer enforced
    with pytest.raises(ValueError, match="no constraint"):
        cow_drop_constraint(table, "nope")


def test_drop_constrained_column_refused(spark, table):
    """Delta refuses a DROP COLUMN a CHECK constraint uses: committing
    it would leave a constraint no later write can evaluate. The drop
    raises naming the constraint, nothing commits, and the table stays
    writable; an unconstrained column still drops."""
    cow_add_constraint(spark, table, "score_pos", "score > 0")
    with pytest.raises(ValueError, match="score_pos"):
        cow_drop_column(table, "score")
    assert _read_manifest(table)["version"] == 2  # nothing published
    cow_append(
        spark,
        table,
        spark.createDataFrame(
            [(9, 5, "x")], "id long, score int, tag string"
        ).coalesce(1),
    )
    cow_drop_column(table, "tag")
    m = _read_manifest(table)
    assert m["constraints"] == {"score_pos": "score > 0"}
    assert [f.name for f in cow_read(spark, table).schema] == ["id", "score"]
    with pytest.raises(CowConstraintError, match="score_pos"):
        cow_append(
            spark,
            table,
            spark.createDataFrame([(10, -1)], "id long, score int").coalesce(1),
        )


def test_rename_constrained_column_refused(spark, table):
    """Delta refuses a RENAME COLUMN a CHECK constraint uses: the
    constraint would name a column the table no longer has. The rename
    raises naming the constraint, nothing commits, and the constraint
    still gates writes; an unconstrained column still renames."""
    cow_add_constraint(spark, table, "score_pos", "score > 0")
    with pytest.raises(ValueError, match="score_pos"):
        cow_rename_column(table, "score", "points")
    assert _read_manifest(table)["version"] == 2  # nothing published
    cow_rename_column(table, "tag", "label")
    m = _read_manifest(table)
    assert m["constraints"] == {"score_pos": "score > 0"}
    assert [f.name for f in cow_read(spark, table).schema] == [
        "id", "score", "label",
    ]
    with pytest.raises(CowConstraintError, match="score_pos"):
        cow_append(
            spark,
            table,
            spark.createDataFrame(
                [(10, -1, "z")], "id long, score int, label string"
            ).coalesce(1),
        )


def test_dsv2_writer_enforces_and_gates(spark, table, tmp_path):
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        CowConflictError,
    )
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        register_cow_datasource,
    )

    cow_add_constraint(spark, table, "score_pos", "score > 0")
    register_cow_datasource(spark)
    bad = spark.createDataFrame(
        [(9, -5, "x")], "id long, score int, tag string"
    )
    with pytest.raises(Exception, match="score_pos"):
        bad.write.format("cowtable").option("path", table).mode(
            "append"
        ).save()
    assert cow_read(spark, table).count() == 3
    ok = spark.createDataFrame(
        [(9, 5, "x")], "id long, score int, tag string"
    )
    ok.write.format("cowtable").option("path", table).mode("append").save()
    assert cow_read(spark, table).count() == 4

    # a constraint added between plan and commit is a metadata conflict
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        CowBatchWriter,
    )

    w = CowBatchWriter(
        table, cow_read(spark, table).schema, overwrite=False,
        partition_by=None,
    )
    cow_add_constraint(spark, table, "id_small", "id < 1000")
    with pytest.raises(CowConflictError, match="constraints"):
        w.commit([])
