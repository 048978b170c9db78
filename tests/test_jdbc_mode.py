"""End-to-end JDBC mode against embedded Derby (bundled with Spark) —
the reference's native transport (SURVEY.md §2.1 S3/S4/S5): partitioned
BETWEEN-range scan with a min/max bounds probe, derive, and batched
write-back to a staging table."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.registry import zh_backfill_transform
from openmaptiles_zh_modifier_spark.sources.io import (
    read_jdbc_partitioned,
    write_jdbc,
)

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _url(name: str) -> str:
    return f"jdbc:derby:memory:{name};create=true"


def test_jdbc_partitioned_roundtrip_and_writeback(spark):
    url = _url("zh")
    # seed a zh-style source table (sparse ids exercise the range scan:
    # the reference's osm_id case B2 — most BETWEEN ranges are empty)
    rows = [
        (10, "臺灣鐵路", None, None, None),
        (250, "Berlin", None, None, None),
        (500, "頭髮廣場", None, None, "廣場"),
        (900, None, "臺北車站", None, None),
        (1300, "國語學校", None, "国语学校", "國語學校"),
    ]
    src = spark.createDataFrame(
        rows, "id long, name string, zh_tag string, hans_tag string, hant_tag string"
    )
    write_jdbc(src, url, "src", mode="overwrite", driver=DRIVER)

    # S3+S4: partitioned read with probed bounds; Spark generates the
    # reference's `id BETWEEN lo AND hi` predicates, one per partition
    scan = read_jdbc_partitioned(
        spark, url, "src", "id", num_partitions=8, driver=DRIVER
    )
    assert scan.rdd.getNumPartitions() == 8
    assert {r.id for r in scan.collect()} == {10, 250, 500, 900, 1300}

    # derive + changed-rows (P4/P5/F5/F6) over the JDBC frame, then S5:
    # batched write-back to a staging table (the UPDATE ... FROM shape)
    derived = zh_backfill_transform(
        scan.withColumnRenamed("id", "doc_id")
    ).withColumnRenamed("doc_id", "id")
    write_jdbc(derived, url, "updates", mode="overwrite", driver=DRIVER)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "updates")
        .option("driver", DRIVER)
        .load()
    )
    got = {r.id: (r.hans, r.hant) for r in back.collect()}
    # 10: Han name -> both derived; 250: non-Han, no zh source -> absent;
    # 500: hant present, hans derived from Han name; 900: zh_tag source;
    # 1300: hans+hant both present -> filtered out (no update needed)
    assert set(got) == {10, 500, 900}
    assert got[900][0] is not None and got[900][1] is not None


def test_jdbc_explicit_bounds_skip_probe(spark):
    url = _url("zh2")
    src = spark.createDataFrame(
        [(i, f"n{i}") for i in range(100)], "id long, name string"
    )
    write_jdbc(src, url, "t", mode="overwrite", driver=DRIVER)
    df = read_jdbc_partitioned(
        spark, url, "t", "id", num_partitions=4, lower=0, upper=99, driver=DRIVER
    )
    assert df.count() == 100
    assert df.rdd.getNumPartitions() == 4


def test_jdbc_catalog_discovery_and_classification(spark):
    """S1/S2 over real JDBC metadata: DatabaseMetaData.getTables + schema
    classification, the reference's literal discovery loop."""
    from openmaptiles_zh_modifier_spark.catalog import (
        classify_all,
        discover_jdbc_tables,
    )

    url = _url("cat")
    # one id-keyed table, one osm_id-keyed, one unqualified
    write_jdbc(
        spark.createDataFrame(
            [(1, "a", "t")], "id long, name string, tags string"
        ),
        url, "poi", mode="overwrite", driver=DRIVER,
    )
    write_jdbc(
        spark.createDataFrame(
            [(1, "a", "t")], "osm_id long, name string, tags string"
        ),
        url, "roads", mode="overwrite", driver=DRIVER,
    )
    write_jdbc(
        spark.createDataFrame([(1, "a")], "id long, label string"),
        url, "plain", mode="overwrite", driver=DRIVER,
    )
    tables = discover_jdbc_tables(spark, url, DRIVER, schema_pattern="APP")
    # derby uppercases unquoted identifiers; classifier is case-sensitive
    # on purpose (the reference compares lowercase PG names), so normalize
    normalized = {
        name.split(".")[-1].lower(): df.toDF(*[c.lower() for c in df.columns])
        for name, df in tables.items()
    }
    assert {"poi", "roads", "plain"} <= set(normalized)
    classes = {t.table: t.id_field for t in classify_all(normalized)}
    assert classes["poi"] == "id"
    assert classes["roads"] == "osm_id"
    assert "plain" not in classes


def test_run_backfill_jdbc_end_to_end(spark):
    """The whole reference program against a live (embedded) database:
    discover -> classify -> parse hstore text -> derive -> staging
    write-back, with S6 telemetry."""
    from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill_jdbc

    url = _url("full")
    poi = spark.createDataFrame(
        [
            (1, "臺灣鐵路", '"amenity"=>"station"'),           # Han name -> update
            (2, "Berlin", '"amenity"=>"cafe"'),                # non-Han -> skip
            (3, None, '"name:zh"=>"臺北車站"'),                # zh tag -> update
            (4, "頭髮", '"name:zh-Hans"=>"头发", "name:zh-Hant"=>"頭髮"'),  # complete -> skip
        ],
        "id long, name string, tags string",
    )
    roads = spark.createDataFrame(
        [(7, "國語學校", '"highway"=>"primary"')],
        "osm_id long, name string, tags string",
    )
    plain = spark.createDataFrame([(1, "x")], "id long, label string")
    write_jdbc(poi, url, "poi", mode="overwrite", driver=DRIVER)
    write_jdbc(roads, url, "roads", mode="overwrite", driver=DRIVER)
    write_jdbc(plain, url, "plain", mode="overwrite", driver=DRIVER)

    sc = spark.sparkContext
    group = "run-backfill-jdbc-jobs"
    sc.setJobGroup(group, group)
    try:
        report = run_backfill_jdbc(spark, url, DRIVER, schema_pattern="APP")
    finally:
        sc.setJobGroup(None, None)
    by_table = {t.table: t for t in report.tables}
    # keys are schema-qualified (two schemas may hold same-named tables)
    assert set(by_table) == {"app.poi", "app.roads"}  # plain skipped (S2)
    assert by_table["app.poi"].id_field == "id"
    assert by_table["app.roads"].id_field == "osm_id"  # B4 classes
    assert by_table["app.poi"].n_updated == 2
    assert by_table["app.roads"].n_updated == 1
    # n_rows is observed on the scan the staging write reads
    assert by_table["app.poi"].n_rows == poi.count()
    assert by_table["app.roads"].n_rows == roads.count()
    assert report.records_per_sec() > 0               # S6 telemetry
    # per table: the min/max bounds probe (a map and a result job under
    # AQE) and the staging write — no second partitioned scan to count
    # rows after the UPDATE
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) <= 3 * len(report.tables), len(jobs)
    for job in jobs:
        stage_ids = tracker.getJobInfo(job).stageIds
        infos = (tracker.getStageInfo(s) for s in stage_ids)
        # the status store may already have evicted a skipped stage
        names = {i.name for i in infos if i is not None}
        assert all(n.startswith(("first at", "jdbc at")) for n in names), names

    staged = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "app.poi_zh_staging")
        .option("driver", DRIVER).load()
    )
    got = {r.id: (r.hans, r.hant) for r in staged.collect()}
    assert set(got) == {1, 3}
    assert all(h and t for h, t in got.values())

    # S5 completion: the SOURCE table itself was updated server-side —
    # the reference's UPDATE actually ran, not just the staging write.
    from openmaptiles_zh_modifier_spark.plans.pipeline import hstore_text_to_map

    poi_after = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "app.poi")
        .option("driver", DRIVER).load()
    )
    tags_after = {
        r.id: r.m
        for r in poi_after.select(
            "id", hstore_text_to_map(poi_after["tags"]).alias("m")
        ).collect()
    }
    assert tags_after[1]["name:zh-Hans"] and tags_after[1]["name:zh-Hant"]
    assert tags_after[1]["amenity"] == "station"     # untouched keys survive
    assert tags_after[3]["name:zh-Hans"] == "台北车站"
    assert tags_after[3]["name:zh-Hant"] == "臺北車站"
    assert "name:zh-Hans" not in tags_after[2]       # non-qualifying rows
    assert tags_after[4]["name:zh-Hans"] == "头发"    # already-complete row

    # idempotence guard: a second run must not discover the staging tables,
    # and — now that the UPDATE landed — must find nothing left to update.
    report2 = run_backfill_jdbc(spark, url, DRIVER, schema_pattern="APP")
    assert {t.table for t in report2.tables} == {"app.poi", "app.roads"}
    assert all(t.n_updated == 0 for t in report2.tables)


def test_stream_backfill_jdbc_matches_batch(spark, tmp_path):
    """Streaming zh back-fill sink parity: the SAME source rows, streamed
    through foreachBatch into the staging + server-side UPDATE path, must
    leave the database in EXACTLY the state the batch program leaves a
    twin database in — tags maps compared key-for-key."""
    from openmaptiles_zh_modifier_spark.plans.pipeline import (
        hstore_text_to_map,
        run_backfill_jdbc,
        stream_backfill_to_jdbc,
    )

    rows = [
        (1, "臺灣鐵路", '"amenity"=>"station"'),
        (2, "Berlin", '"amenity"=>"cafe"'),
        (3, None, '"name:zh"=>"臺北車站"'),
        (4, "頭髮", '"name:zh-Hans"=>"头发", "name:zh-Hant"=>"頭髮"'),
        (5, "輕鬆廣場", '"leisure"=>"park"'),
    ]
    schema = "id long, name string, tags string"
    poi = spark.createDataFrame(rows, schema)

    # twin databases seeded identically; one gets the batch program, the
    # other gets the stream (multiple micro-batches: one parquet file per
    # row, maxFilesPerTrigger=2 forces at least 3 batches)
    url_b, url_s = _url("parb"), _url("pars")
    for url in (url_b, url_s):
        write_jdbc(poi, url, "poi", mode="overwrite", driver=DRIVER)
    report = run_backfill_jdbc(spark, url_b, DRIVER, schema_pattern="APP")
    assert {t.table: t.n_updated for t in report.tables} == {"app.poi": 3}

    src_dir = str(tmp_path / "cdc")
    poi.repartition(5).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src_dir)
    )
    ckpts = os.path.join(tempfile.gettempdir(), "omt-jdbc-ckpt-*")
    before = set(glob.glob(ckpts))
    n = stream_backfill_to_jdbc(stream, url_s, "app.poi", "id", DRIVER)
    assert n == 3  # same server-side update tally as the batch run
    # the throwaway checkpoint is removed once the query ends
    assert set(glob.glob(ckpts)) == before

    def final_tags(url):
        df = (
            spark.read.format("jdbc")
            .option("url", url).option("dbtable", "app.poi")
            .option("driver", DRIVER).load()
        )
        return {
            r.id: r.m
            for r in df.select("id", hstore_text_to_map(df["tags"]).alias("m")).collect()
        }

    batch_state, stream_state = final_tags(url_b), final_tags(url_s)
    assert stream_state == batch_state
    assert stream_state[5]["name:zh-Hans"] == "轻松广场"
    assert stream_state[5]["name:zh-Hant"] == "輕鬆廣場"


def test_hstore_text_parser_adversarial_values(spark):
    """The cases a naive str_to_map split corrupts: commas and arrows in
    values, unquoted NULL values, escaped quotes/backslashes, duplicate
    keys (hstore last-wins)."""
    from openmaptiles_zh_modifier_spark.plans.pipeline import hstore_text_to_map

    cases = [
        ('"name"=>"Washington, D.C."', {"name": "Washington, D.C."}),
        ('"a"=>"x=>y", "b"=>"z"', {"a": "x=>y", "b": "z"}),
        ('"name:zh"=>NULL, "k"=>"v"', {"name:zh": None, "k": "v"}),
        ('"q"=>"he said \\"hi\\""', {"q": 'he said "hi"'}),
        ('"p"=>"back\\\\slash"', {"p": "back\\slash"}),
        ('"dup"=>"first", "dup"=>"second"', {"dup": "second"}),
        # literal '=>NULL' INSIDE a quoted value must stay text — the
        # unquoted-NULL sentinel fires only at separator positions
        ('"k"=>"=>NULL"', {"k": "=>NULL"}),
        ('"k"=>"x, \\"a\\"=>NULL", "m"=>NULL', {"k": 'x, "a"=>NULL', "m": None}),
        ('"=>NULL"=>"v"', {"=>NULL": "v"}),
        # leading whitespace before the first key still anchors the
        # unquoted-NULL sentinel (lenient producers indent entries)
        ('  "lead"=>NULL, "k"=>"v"', {"lead": None, "k": "v"}),
        ("", {}),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, tags string"
    )
    rows = df.select("i", hstore_text_to_map(df["tags"]).alias("m")).collect()
    for r in rows:
        assert r.m == cases[r.i][1], (r.i, cases[r.i][0], r.m)
