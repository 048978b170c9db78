"""IO layer + end-to-end catalog pipeline tests (tmp-dir lake round-trips)."""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from openmaptiles_zh_modifier_spark.catalog import classify_all, discover_parquet_tables
from openmaptiles_zh_modifier_spark.operators import zh_backfill
from openmaptiles_zh_modifier_spark.operators.zh_backfill import updates_frame
from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill
from openmaptiles_zh_modifier_spark.sources.io import write_parquet

ZH_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("tags", MapType(StringType(), StringType())),
    ]
)


@pytest.fixture()
def lake(spark, tmp_path):
    """A mini lake: one qualifying id-table, one osm_id-table, one skipped."""
    root = str(tmp_path / "lake")
    zh_rows = [
        Row(id=1, name="臺灣鐵路", tags={}),
        Row(id=2, name="Berlin", tags={}),
        Row(id=3, name=None, tags={"name:zh": "北京"}),
        Row(id=4, name="頭髮", tags={"name:zh-Hans": "头发", "name:zh-Hant": "頭髮"}),
    ]
    spark.createDataFrame(zh_rows, ZH_SCHEMA).write.parquet(f"{root}/poi.parquet")
    osm_rows = [Row(osm_id=10, name="國語", tags={})]
    osm_schema = StructType(
        [
            StructField("osm_id", LongType()),
            StructField("name", StringType()),
            StructField("tags", MapType(StringType(), StringType())),
        ]
    )
    spark.createDataFrame(osm_rows, osm_schema).write.parquet(
        f"{root}/roads.parquet"
    )
    spark.range(3).write.parquet(f"{root}/plain.parquet")  # no name/tags: skip
    return root


def test_parquet_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    write_parquet(df, p, partition_by=["k"])
    back = spark.read.parquet(p)
    assert back.count() == 100
    # partition column survives with directory-level pruning
    pruned = back.where(F.col("k") == 3)
    assert pruned.count() == 15 or pruned.count() == 14


def test_run_backfill_end_to_end(spark, lake, tmp_path):
    out = str(tmp_path / "out")
    report = run_backfill(spark, lake, out)
    by_table = {t.table: t for t in report.tables}
    # plain is skipped; poi keyed by id; roads keyed by osm_id (B4 classes)
    assert set(by_table) == {"poi", "roads"}
    assert by_table["poi"].id_field == "id"
    assert by_table["roads"].id_field == "osm_id"
    # poi: rows 1 (Han name) and 3 (name:zh) update; 2 (non-Han) and 4
    # (both variants present) do not
    assert by_table["poi"].n_updated == 2
    assert report.total_updated == 3
    poi = spark.read.parquet(f"{out}/poi.parquet")
    got = {r.id: r.tags for r in poi.collect()}
    assert got[1]["name:zh-Hans"] == "台湾铁路"
    assert got[1]["name:zh-Hant"] == "臺灣鐵路"
    assert "name:zh-Hans" not in got[2]
    assert got[3]["name:zh-Hans"] == "北京"
    assert got[4]["name:zh-Hans"] == "头发"  # untouched
    assert report.records_per_sec() > 0


@pytest.mark.parametrize("compat_names_typo", [False, True])
@pytest.mark.parametrize("write", [False, True], ids=["no_out", "out"])
def test_run_backfill_counts_match_recount(
    spark, lake, tmp_path, compat_names_typo, write
):
    """The counts run_backfill takes while writing (an Observation) or
    from one aggregate (no out_root) equal a separate recount: n_updated
    is the updates_frame row count, n_rows the rows read back. The
    extra table holds the B7 '' / NULL mixes and a B1 typo-key row."""
    quirks = [
        Row(id=1, name="理发", tags={"name:zh-Hans": "", "name:zh-Hant": ""}),
        Row(id=2, name="理发", tags={"name:zh-Hans": "", "name:zh-Hant": None}),
        Row(id=3, name="理发", tags={"name:zh-Hant": "X"}),
        Row(id=4, name="理发", tags={"names:zh-Hant": "Y"}),
        Row(id=5, name=None, tags=None),
        Row(id=6, name="", tags={}),
    ]
    spark.createDataFrame(quirks, ZH_SCHEMA).write.parquet(
        f"{lake}/quirks.parquet"
    )
    out = str(tmp_path / "out") if write else None
    report = run_backfill(spark, lake, out, compat_names_typo)
    assert {t.table for t in report.tables} == {"poi", "roads", "quirks"}
    for t in report.tables:
        src = spark.read.parquet(f"{lake}/{t.table}.parquet")
        want = updates_frame(src, t.id_field, compat_names_typo).count()
        assert t.n_updated == want, t
        back = spark.read.parquet(f"{out}/{t.table}.parquet") if write else src
        assert t.n_rows == back.count(), t


@pytest.mark.parametrize("write", [False, True], ids=["no_out", "out"])
def test_run_backfill_builds_derivation_once(
    spark, lake, tmp_path, count_calls, write
):
    """run_backfill builds the derivation once per run, before its table
    loop, and every table reuses its Columns: each build is about a
    thousand py4j round trips. Every form of the derivation starts at
    _predicate_exprs, so counting it counts builds. A second run builds
    again: nothing is cached across runs."""
    quirks = [
        Row(id=1, name="理发", tags={"name:zh-Hans": "", "name:zh-Hant": None}),
        Row(id=2, name="理发", tags={"names:zh-Hant": "Y"}),
    ]
    spark.createDataFrame(quirks, ZH_SCHEMA).write.parquet(
        f"{lake}/quirks.parquet"
    )
    builds = count_calls(zh_backfill, "_predicate_exprs")
    for run in (1, 2):
        out = str(tmp_path / f"out{run}") if write else None
        report = run_backfill(spark, lake, out)
        assert {t.table for t in report.tables} == {"poi", "roads", "quirks"}
        assert builds["_predicate_exprs"] == run


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_backfill_one_job_per_table(spark, lake, tmp_path):
    """One pass per table: discovery reads the schemas from footers on
    the driver (no job) and each qualifying table is written by ONE job
    that also yields its counts — no separate count job and no
    read-back."""
    report, n_jobs = _jobs_in_group(
        spark, "run-backfill-jobs", lambda: run_backfill(spark, lake, str(tmp_path / "out"))
    )
    assert len(report.tables) == 2
    assert n_jobs == len(report.tables), n_jobs


def test_discovery_runs_no_job(spark, lake):
    """Discovering and classifying a lake, schemas included, runs no
    Spark job."""
    def discover_and_classify():
        tables = discover_parquet_tables(spark, lake)
        return tables, classify_all(tables)

    (tables, classes), n_jobs = _jobs_in_group(
        spark, "discovery-jobs", discover_and_classify
    )
    assert sorted(tables) == ["plain", "poi", "roads"]
    assert [c.table for c in classes] == ["poi", "roads"]
    assert n_jobs == 0


def test_discover_uri_root_equals_plain_path(spark, lake):
    """A ``file://`` URI lake root discovers the same tables, with the
    same schemas and rows, as its plain path."""
    plain = discover_parquet_tables(spark, lake)
    uri = discover_parquet_tables(spark, Path(lake).as_uri())
    assert sorted(uri) == sorted(plain) == ["plain", "poi", "roads"]
    for name, df in plain.items():
        assert uri[name].schema == df.schema, name
        assert sorted(uri[name].collect(), key=str) == sorted(df.collect(), key=str), name


def _spark_dir(spark, path):
    spark.createDataFrame(
        [Row(id=1, name="臺灣", tags={"k": "v"}, w=1.5)],
        "id long, name string, tags map<string,string>, w double",
    ).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)


def _partitioned_dir(spark, path):
    spark.range(6).withColumn("k", F.col("id") % 3).write.partitionBy("k").parquet(path)


def _pyarrow_file(spark, path):
    pq.write_table(
        pa.table({"osm_id": pa.array([1, 2], pa.int32()), "name": ["a", None]}), path
    )


def _nanos_file(spark, path):
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "at": ts}), path)


def _merged_dir(spark, path):
    spark.range(2).write.parquet(path)
    spark.range(2).withColumn("extra", F.lit("x")).write.mode("append").parquet(path)


@pytest.mark.parametrize(
    "make, merge",
    [
        (_spark_dir, False),
        (_partitioned_dir, False),
        (_pyarrow_file, False),
        (_nanos_file, False),
        (_merged_dir, True),
    ],
    ids=["spark_dir", "partitioned", "pyarrow_file", "nanos", "merge_schema"],
)
def test_discovered_schema_equals_spark_inference(spark, tmp_path, make, merge):
    """The footer-read schema is the one ``spark.read.parquet`` infers."""
    root = tmp_path / "lake"
    root.mkdir()
    path = str(root / "t.parquet")
    make(spark, path)
    key = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(key)
    spark.conf.set(key, str(merge).lower())
    try:
        got = discover_parquet_tables(spark, str(root))["t"]
        want = spark.read.parquet(path)
        assert got.schema == want.schema
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
        if merge:
            assert want.columns == ["id", "extra"]
    finally:
        spark.conf.set(key, old)


def test_discover_empty_table_raises_like_spark(spark, tmp_path):
    """A table directory without files fails the way Spark's own read
    of it fails."""
    root = tmp_path / "lake"
    (root / "empty.parquet").mkdir(parents=True)
    with pytest.raises(AnalysisException) as ours:
        discover_parquet_tables(spark, str(root))
    with pytest.raises(AnalysisException) as spark_own:
        spark.read.parquet(str(root / "empty.parquet"))
    assert ours.value.getCondition() == spark_own.value.getCondition()
    assert str(ours.value) == str(spark_own.value)
