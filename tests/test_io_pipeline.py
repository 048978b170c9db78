"""IO layer + end-to-end catalog pipeline tests (tmp-dir lake round-trips)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill
from openmaptiles_zh_modifier_spark.sources.io import (
    read_csv,
    read_json,
    read_parquet,
    write_parquet,
)

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
    back = read_parquet(spark, p)
    assert back.count() == 100
    # partition column survives with directory-level pruning
    pruned = back.where(F.col("k") == 3)
    assert pruned.count() == 15 or pruned.count() == 14


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "s string, n long"
    )
    cp, jp = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(cp)
    df.write.json(jp)
    assert sorted(read_csv(spark, cp).collect()) == [
        Row(s="a", n="1"), Row(s="b", n="2")  # csv is stringly without schema
    ]
    jread = read_json(spark, jp).select("s", "n")
    assert sorted(jread.collect()) == [Row(s="a", n=1), Row(s="b", n=2)]


def test_orc_roundtrip(spark, tmp_path):
    from openmaptiles_zh_modifier_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame([("a", 1), ("b", 2)], "s string, n long")
    op = str(tmp_path / "o")
    write_orc(df, op)
    back = read_orc(spark, op).select("s", "n")  # orc keeps types + schema
    assert sorted(back.collect()) == [Row(s="a", n=1), Row(s="b", n=2)]


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
    poi = read_parquet(spark, f"{out}/poi.parquet")
    got = {r.id: r.tags for r in poi.collect()}
    assert got[1]["name:zh-Hans"] == "台湾铁路"
    assert got[1]["name:zh-Hant"] == "臺灣鐵路"
    assert "name:zh-Hans" not in got[2]
    assert got[3]["name:zh-Hans"] == "北京"
    assert got[4]["name:zh-Hans"] == "头发"  # untouched
    assert report.records_per_sec() > 0


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    """50 tiny input files compact to the byte-sized target count; row
    content survives; range-sorted output gives non-overlapping files."""
    import glob

    from openmaptiles_zh_modifier_spark.sources.io import compact_parquet

    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    df.repartition(50).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 50

    n_out = compact_parquet(
        spark, src, out, target_file_bytes=10**9, sort_cols=["k"]
    )
    assert n_out == 1
    got = spark.read.parquet(out)
    assert got.count() == 5000
    assert got.agg(F.sum("k")).collect()[0][0] == 5000 * 4999 // 2


def test_read_json_audited_quarantines_corrupt_lines(spark, tmp_path):
    """Good lines parse into the declared schema; broken lines are
    quarantined verbatim, not dropped and not fatal."""
    from openmaptiles_zh_modifier_spark.sources.io import read_json_audited

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"s": "a", "n": 1}\n'
        "this is not json\n"
        '{"s": "b", "n": 2}\n'
        '{"s": "c", "n": }\n'  # malformed value
        '{"s": "d", "n": 4}\n'
    )
    clean, corrupt, raw = read_json_audited(spark, str(p), "s string, n long")
    rows = sorted((r.s, r.n) for r in clean.collect())
    assert rows == [("a", 1), ("b", 2), ("d", 4)]
    bad = sorted(r._corrupt_record for r in corrupt.collect())
    assert bad == ["this is not json", '{"s": "c", "n": }']
    assert raw.is_cached  # caller-owned cache handle (ADVICE r7)
    raw.unpersist()
    assert not raw.is_cached


def test_read_csv_audited_quarantines_bad_rows(spark, tmp_path):
    """Type-cast failures quarantine the raw line; clean rows parse."""
    from openmaptiles_zh_modifier_spark.sources.io import read_csv_audited

    p = tmp_path / "in.csv"
    p.write_text("s,n\na,1\nb,notanumber\nc,3\n")
    clean, corrupt, raw = read_csv_audited(spark, str(p), "s string, n long")
    assert sorted((r.s, r.n) for r in clean.collect()) == [("a", 1), ("c", 3)]
    assert [r._corrupt_record for r in corrupt.collect()] == ["b,notanumber"]
    raw.unpersist()
