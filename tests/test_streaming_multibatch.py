"""Multi-batch streaming state proofs (VERDICT r4 #4): the
availableNow gate queries drain their single-file sources in ONE
micro-batch, so the state path (carry state across batches, update,
re-emit) is barely exercised there. These tests split the source into
four files and replay with maxFilesPerTrigger=1, forcing >=3 non-empty
micro-batches, then assert the stream's final answer still equals the
batch twin:

- running_user_totals: per-user (count, sum) carried in
  applyInPandasWithState across batches; the LAST emitted row per user
  (max n_events) must equal the batch GROUP BY.
- minhash_bucket_registry: dropDuplicates bucket state across batches;
  the distinct (band, bkey) set must equal the batch computation's.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F


def _run_stream(df, output_mode: str):
    """Execute a streaming frame with availableNow to a memory sink and
    return (result_batch_df, n_nonempty_batches)."""
    spark = df.sparkSession
    name = "mb" + uuid.uuid4().hex[:10]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="omt-mb-"))
        .start()
    )
    q.awaitTermination()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return spark.table(name), n_batches


def _split_source(spark, sf_dir: str, table: str, ts_fix: bool, tmp_path):
    """Write the fixture table as 4 parquet files and return
    (split_dir, batch_df) where batch_df reads the SAME split copy."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if ts_fix and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    out = str(tmp_path / f"{table}_split")
    df.repartition(4).write.mode("overwrite").parquet(out)
    return out, spark.read.parquet(out)


def test_running_totals_multibatch_matches_batch(spark, sf_dir, tmp_path):
    from openmaptiles_zh_modifier_spark.streaming.events import (
        running_user_totals,
    )

    src, batch = _split_source(spark, sf_dir, "events", True, tmp_path)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        # session TZ is UTC so ntz->ltz is value-identical; watermarks
        # require the TZ-aware type (same note as read_events_stream)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out, n_batches = _run_stream(running_user_totals(stream), "update")
    assert n_batches >= 3, f"only {n_batches} micro-batches — not a replay"

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value")
    )
    expected = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    diff = final.exceptAll(expected).union(expected.exceptAll(final))
    assert diff.count() == 0
    # intermediate rows DID flow: users spanning several files emit
    # once per batch they appear in, so update-mode output exceeds the
    # per-user final row count
    assert out.count() > final.count()


def test_minhash_buckets_multibatch_matches_batch(spark, sf_dir, tmp_path):
    from openmaptiles_zh_modifier_spark.streaming.events import (
        minhash_bucket_registry,
    )

    src, batch = _split_source(spark, sf_dir, "documents", False, tmp_path)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out, n_batches = _run_stream(minhash_bucket_registry(stream), "append")
    assert n_batches >= 3, f"only {n_batches} micro-batches — not a replay"

    got = set(
        (r["band"], r["bkey"])
        for r in out.select("band", "bkey").distinct().collect()
    )
    want = set(
        (r["band"], r["bkey"])
        for r in minhash_bucket_registry(batch)
        .select("band", "bkey")
        .distinct()
        .collect()
    )
    assert got == want
    # bucket state held across batches: every (band, bkey) appears once
    assert out.count() == len(got)


def test_trajectory_multibatch_matches_batch(spark, sf_dir, tmp_path):
    """VERDICT r8 #7: legs spanning micro-batch boundaries must chain
    through the carried last-position state. Source split into 4
    TIME-ORDERED files (the operator's documented ordering contract)
    replayed one file per trigger."""
    import os

    from openmaptiles_zh_modifier_spark.queries_geo import q_geo_trajectory
    from openmaptiles_zh_modifier_spark.streaming.events import (
        trajectory_leg_stream,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # time-quartile split, one file each, mtimes forced increasing so
    # the file source replays them in event-time order
    qs = df.select(
        F.expr(
            "percentile_approx(unix_micros(ts), array(0.25, 0.5, 0.75), 10000)"
        )
    ).first()[0]
    src = str(tmp_path / "ev_split")
    os.makedirs(src)
    bounds = [None, *qs, None]
    for i in range(4):
        part = df
        if bounds[i] is not None:
            part = part.where(F.unix_micros("ts") > bounds[i])
        if bounds[i + 1] is not None:
            part = part.where(F.unix_micros("ts") <= bounds[i + 1])
        tmp = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(tmp)
        (f,) = [p for p in os.listdir(tmp) if p.endswith(".parquet")]
        dest = f"{src}/part-{i:02d}.parquet"
        os.replace(f"{tmp}/{f}", dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out, n_batches = _run_stream(trajectory_leg_stream(stream), "append")
    assert n_batches >= 3, f"only {n_batches} micro-batches — not a replay"

    got = (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_legs"),
            F.sum("d_mm").alias("total_mm"),
            F.max("d_mm").alias("longest_leg_mm"),
        )
    )
    want = q_geo_trajectory(spark, sf_dir)
    diff = got.exceptAll(want).union(want.exceptAll(got))
    assert diff.count() == 0
    # cross-batch chaining happened: legs exist whose endpoints landed
    # in different quartile files — if state did not carry, per-user
    # n_legs would drop by (batches the user appears in - 1)
    assert got.agg(F.sum("n_legs")).first()[0] == want.agg(
        F.sum("n_legs")
    ).first()[0]


def test_geofence_multibatch_matches_batch(spark, sf_dir, tmp_path):
    # geofence alerts: the blocked containment join is STATELESS, so a
    # 4-file replay must land on exactly the batch census (complete
    # mode re-emits the whole aggregate; the last snapshot is final).
    from openmaptiles_zh_modifier_spark.queries_geo import (
        _PG_CX,
        _PG_CY,
        _PG_S,
        polygon_contains_pairs,
    )
    from openmaptiles_zh_modifier_spark.streaming.events import (
        _GF_PX,
        _GF_PY,
        geofence_alert_stream,
    )

    src, batch = _split_source(spark, sf_dir, "events", False, tmp_path)
    poly = spark.read.parquet(f"{sf_dir}/nation.parquet").selectExpr(
        "n_nationkey",
        "n_name",
        f"{_PG_S} AS s",
        f"{_PG_CX} AS cx",
        f"{_PG_CY} AS cy",
    )

    def census(frame):
        return frame.groupBy("n_nationkey", "n_name").agg(
            F.count(F.lit(1)).alias("n_pings"),
            F.sum(
                F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
            ).alias("value_cents"),
        )

    sel = [
        "event_id",
        "value",
        f"{_GF_PX} AS px",
        f"{_GF_PY} AS py",
    ]
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .selectExpr(*sel)
    )
    assert stream.isStreaming
    out, n_batches = _run_stream(
        census(geofence_alert_stream(stream, poly)), "complete"
    )
    assert n_batches >= 3, f"only {n_batches} micro-batches — not a replay"
    expected = census(
        polygon_contains_pairs(poly, batch.selectExpr(*sel)).where(
            F.col("inside") == 1
        )
    )
    diff = out.exceptAll(expected).union(expected.exceptAll(out))
    assert diff.count() == 0
    assert out.count() > 0


def test_minhash_buckets_ttl_evicts_and_reregisters(spark, sf_dir, tmp_path):
    """VERDICT r10 #7: state_ttl bounds the bucket registry's unbounded
    key domain via dropDuplicatesWithinWatermark over the source's
    ingestion-time column. Measured eviction timing (pinned by the
    probe this test encodes): state purge at the end of batch K uses
    the watermark computed at K's START, so eviction lags TWO batches —
    hence the shape here: main docs at T0, two disjoint filler batches
    at +3h/+6h advance the watermark past the 1-hour TTL, and the main
    replay at +9h RE-REGISTERS every main bucket. With plain
    dropDuplicates (no TTL) the replay stays suppressed."""
    import datetime
    import glob
    import os
    import shutil
    import time

    from openmaptiles_zh_modifier_spark.streaming.events import (
        minhash_bucket_registry,
    )

    main = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    fill1 = spark.range(10).selectExpr(
        "id + 1000000 AS doc_id",
        "concat_ws(' ', 'axq', 'bxq', 'cxq', CAST(id AS STRING),"
        " CAST(id * 7 AS STRING), CAST(id * 13 AS STRING)) AS text",
        "'xx' AS lang", "'f1' AS source", "CAST(20 AS BIGINT) AS n_chars",
    )
    fill2 = spark.range(10).selectExpr(
        "id + 2000000 AS doc_id",
        "concat_ws(' ', 'dzq', 'ezq', 'fzq', CAST(id AS STRING),"
        " CAST(id * 11 AS STRING), CAST(id * 17 AS STRING)) AS text",
        "'xx' AS lang", "'f2' AS source", "CAST(20 AS BIGINT) AS n_chars",
    )
    t0 = datetime.datetime(2026, 1, 1)
    src = str(tmp_path / "docs_ttl")
    os.makedirs(src)
    now = time.time()
    batches = [(main, 0), (fill1, 3), (fill2, 6), (main, 9)]
    for i, (df, hours) in enumerate(batches):
        out = str(tmp_path / f"b{i}")
        df.select(main.columns).withColumn(
            "ingest_ts",
            F.lit(t0 + datetime.timedelta(hours=hours)).cast("timestamp"),
        ).coalesce(1).write.mode("overwrite").parquet(out)
        dest = f"{src}/part-{i}.parquet"
        shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], dest)
        os.utime(dest, (now - 60 + i, now - 60 + i))
    schema = spark.read.parquet(src).schema

    def sets(df):
        return {
            (r.band, r.bkey)
            for r in minhash_bucket_registry(df).select("band", "bkey").collect()
        }

    m, f1, f2 = sets(main), sets(fill1), sets(fill2)
    assert not (m & f1) and not (m & f2) and not (f1 & f2)

    def run(ttl):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out, n_batches = _run_stream(
            minhash_bucket_registry(
                stream, state_ttl=ttl,
                arrival_ts="ingest_ts" if ttl else None,
            ),
            "append",
        )
        assert n_batches == 4, f"{n_batches} micro-batches"
        return out.count()

    # no TTL: the replay is suppressed forever (unbounded state)
    assert run(None) == len(m) + len(f1) + len(f2)
    # 1-hour TTL: main buckets evicted before batch 4 -> re-register
    assert run("1 hour") == 2 * len(m) + len(f1) + len(f2)


def test_minhash_arrival_ts_without_ttl_refuses(spark, sf_dir):
    """Self-review pin: arrival_ts without state_ttl must raise — a
    silent fallback to plain dropDuplicates would keep exactly the
    unbounded-state problem the caller is configuring away."""
    import pytest

    from openmaptiles_zh_modifier_spark.streaming.events import (
        minhash_bucket_registry,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    with pytest.raises(ValueError, match="arrival_ts without state_ttl"):
        minhash_bucket_registry(docs, arrival_ts="ingest_ts")


class TestRunToMemoryConfScope:
    """run_to_memory's no-data-batch skip must not leak into the caller's
    session state, and append drains must keep the default."""

    def test_conf_restored(self, spark, sf_dir):
        from openmaptiles_zh_modifier_spark.registry import QUERIES

        key = "spark.sql.streaming.noDataMicroBatches.enabled"
        spark.conf.set(key, "true")
        QUERIES["q_stream_tumbling"](spark, sf_dir).count()
        assert spark.conf.get(key) == "true"

    def test_append_drain_default_keeps_nodata_batch(self, spark, sf_dir):
        """A windowed APPEND aggregation emits a window only when the
        watermark passes its end — over an availableNow drain of one
        finite backlog, EVERY emission happens in the trailing no-data
        micro-batch. If run_to_memory ever skipped that batch for a
        default append drain, this output would be empty (ADVICE r13:
        the old test used q_stream_dedup, which opts INTO the skip and
        emits first-seen rows in data batches — it could not detect the
        loss)."""
        from pyspark.sql import functions as F

        from openmaptiles_zh_modifier_spark.streaming.events import (
            read_events_stream,
            run_to_memory,
            windowed_bin_counts,
        )

        out = run_to_memory(
            windowed_bin_counts(read_events_stream(spark, sf_dir)),
            output_mode="append",
        )
        got = {
            (r["wstart"], r["bin"]): r["c"]
            for r in out.collect()
        }
        assert got, "append drain emitted nothing — no-data batch lost"
        # and the finalized windows match the batch twin over CLOSED
        # windows (end <= max_ts - 2h watermark)
        from openmaptiles_zh_modifier_spark.registry import load
        from openmaptiles_zh_modifier_spark.streaming.events import (
            PSI_STREAM_BINS,
            PSI_STREAM_BIN_W,
        )

        ev = load(spark, sf_dir, "events")
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        b = F.least(
            F.floor(F.col("value") / PSI_STREAM_BIN_W).cast("long"),
            F.lit(PSI_STREAM_BINS - 1),
        )
        expected = {
            (r["wstart"], r["bin"]): r["c"]
            for r in (
                ev.withColumn("bin", b)
                .groupBy(F.window("ts", "1 hour"), "bin")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(
                    F.col("window.end")
                    <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
                )
                .select(F.col("window.start").alias("wstart"), "bin", "c")
                .collect()
            )
        }
        assert got == expected
