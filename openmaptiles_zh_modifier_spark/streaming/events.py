"""Structured Streaming over the ``events`` table (SURVEY.md §2.9).

Batch-first design: the streaming queries reuse the SAME column expressions
as queries_events.py — ``readStream`` swaps in for ``read``, watermarks bound
state, and the sink changes; the transformation layer is shared. The
oracle-checked entries run the stream to completion with
``trigger(availableNow=True)`` on a memory sink, proving the streaming plan
computes the identical result the batch oracle does.

Scale notes: tumbling-window aggregation state is bounded by
(watermark horizon / window size) * key cardinality; availableNow processes
a backlog in rate-limited batches exactly like a production catch-up.
dropDuplicatesWithinWatermark bounds dedup state by the watermark horizon —
the streaming twin of q_dedup_exact.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from openmaptiles_zh_modifier_spark.functions.zh import CURATED
from openmaptiles_zh_modifier_spark.operators.zh_backfill import updates_frame
from openmaptiles_zh_modifier_spark.registry import (
    _ZH_HANT,
    ORACLE_SQL,
    load,
    local_frame,
    register,
    zh_fixture,
)

# Parquet streaming source needs an explicit schema. A TIMESTAMP(MICROS)
# ts (the testdata) reads as timestamp_ntz; a TIMESTAMP(NANOS) ts reads
# as BIGINT nanos under the nanosAsLong conf session.py sets. The reader
# below peeks the BATCH schema of the same file and adapts — the same
# dtype branch registry.load() applies — so both produce an identical
# micros-precision frame.
def _events_raw_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", ts_type),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


EVENTS_RAW_SCHEMA = _events_raw_schema(TimestampNTZType())


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded source (file-stream; in production a
    Kafka source with the same downstream plan)."""
    # schema peek via the batch reader (footer-only, no data scan): the
    # declared stream schema must match how THIS Spark reads the file
    batch_ts = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    ).get("ts")
    nanos_as_long = batch_ts == "bigint"
    schema = _events_raw_schema(
        LongType() if nanos_as_long else TimestampNTZType()
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos_as_long:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Session TZ is UTC, so ntz->ltz is value-identical; watermarks and
    # window() want the TZ-aware type (matches the batch frame exactly).
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 1-hour tumbling window aggregation (same expressions as
    the batch q_events_tumbling; window() replaces date_trunc)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_aggregation(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-merged state windows): the streaming
    twin of the batch lag/cumsum sessionization in queries_events.py —
    same 30-minute inactivity rule, but sessions merge incrementally in
    the state store as events arrive. State per key is bounded by the
    watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value total, maintained in the state store
    across micro-batches (the hand-rolled-state escape hatch for logic the
    built-in aggregations can't express). Emits one row per user per
    micro-batch with the updated totals.

    State lifecycle: running TOTALS are meaningful only while the key's
    whole history is retained, so NoTimeout is the honest setting —
    evicting would silently restart counts. On an unbounded user
    population, production bounds this by retention policy (a TTL as in
    trajectory_leg_stream, accepting the reset semantics) or by
    windowed aggregation instead of lifetime totals."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        # emit UNROUNDED: Python round() is banker's half-even, which
        # diverges from F.round/DuckDB ROUND (half away from zero) on
        # exact .xx5 doubles — rounding happens JVM-side below, matching
        # the convention used by every other query.
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumn("total_value", F.round("total_value", 2))
    )


def _ephemeral_checkpoint_dir() -> str:
    """A throwaway checkpoint location for run-to-completion drains.

    These checkpoints exist only for the duration of one availableNow
    drain — nothing ever recovers from them — so fsync durability buys
    nothing. Prefer a tmpfs mount (/dev/shm) when one is writable: the
    offset/commit-log fsyncs per micro-batch are the dominant fixed cost
    of a drain on disk-backed /tmp (measured at sf0.1, warm, median-of-3
    over the 13-query stream block: 27.7 s on /tmp vs 24.0 s on tmpfs;
    RocksDB provider measured 23.6 s — within noise of tmpfs, not
    additive with it, so the default HDFS-backed store stays).
    Long-lived production streams pass their own durable location.

    tmpfs is only chosen when it has real headroom (>=256 MiB free):
    container /dev/shm defaults can be as small as 64 MB, where a
    mid-drain ENOSPC would fail a stream /tmp handles fine — and since
    these checkpoints live in RAM, leaking them is worse than leaking
    disk, so run_to_memory removes the directory after the drain."""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 256 * 1024 * 1024:
                return tempfile.mkdtemp(prefix="omt-ckpt-", dir=shm)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix="omt-ckpt-")


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int = 4,
    no_data_batch: bool | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow) into a memory
    sink and return the materialized result as a batch DataFrame.

    Stateful streaming allocates one state-store instance per shuffle
    partition — a fixed per-partition cost (store init, checkpoint files)
    that dwarfs the work at test scale and is tuned to key cardinality in
    production (measured here: the two-stream join warm time drops
    4.2s -> 2.8s going 8 -> 4 partitions — each stream side owns a
    store per partition; with disk checkpoints 2 was no better, but on
    tmpfs checkpoints the join pair re-bottoms at 2, so the two
    stream-stream entries pass state_partitions=2 and everything else
    keeps 4). The shuffle-partition conf is pinned for the stream's
    plan compilation and restored after."""
    spark = stream_df.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    # retain the minimum checkpoint history: these are run-to-completion
    # drains into throwaway checkpoints, so the default 100-batch
    # retention only adds commit-log file churn (measured: warm tumbling
    # drain 1.45 s -> 1.15 s at sf0.1). Long-lived production streams
    # keep the default for recovery depth.
    prev_retain = spark.conf.get(
        "spark.sql.streaming.minBatchesToRetain", "100"
    )
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    # Skip the trailing no-data micro-batch where it is provably pure
    # overhead: the batch exists to advance the watermark so that
    # operators can FINALIZE (close append windows, emit outer-join
    # unmatched rows, fire event-time/processing-time timeouts).
    # Complete-mode sinks re-emit full state every batch, so the skip
    # is the silent default ONLY for complete mode. Update and append
    # drains must OPT IN with no_data_batch=False after checking their
    # operator (ADVICE r13: the r13 version skipped for all update
    # drains because every update operator here uses NoTimeout state —
    # true, but nothing enforced it for future timeout-bearing update
    # drains; now the call site carries the claim). Current opted-in
    # sites: NoTimeout applyInPandasWithState drains (emissions happen
    # in their data batch), the INNER stream-stream join (matches emit
    # on arrival), and dropDuplicatesWithinWatermark (first-seen rows
    # emit in their data batch). Outer joins / window-close /
    # timeout-bearing operators must never pass False. Cost of the
    # batch: one full plan/state/commit cycle per drain (~0.2-0.5 s at
    # test scale; a no-op for long-lived production streams).
    if no_data_batch is False or (
        no_data_batch is None and output_mode == "complete"
    ):
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )
    ckpt = _ephemeral_checkpoint_dir()
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.minBatchesToRetain", prev_retain)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        # the memory sink owns the rows once the drain terminates; the
        # throwaway checkpoint (possibly RAM-backed tmpfs) is dead weight
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register(
    "q_stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation, run to completion and
    compared against the BATCH oracle — the streaming plan must produce
    exactly what the batch plan does over the same (finite) input."""
    result = run_to_memory(tumbling_counts(read_events_stream(spark, sf_dir)))
    return result.orderBy("window_start", "event_type")


@register(
    "q_stream_dedup",
    oracle="""
SELECT event_type, COUNT(*) AS n_unique
FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events ORDER BY event_id)
GROUP BY event_type
ORDER BY event_type
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id (append mode), then a
    batch count per type over the deduplicated output."""
    deduped = run_to_memory(
        dedup_within_watermark(read_events_stream(spark, sf_dir)),
        output_mode="append",
        # dedup emits first-seen rows in their data batch; the trailing
        # watermark-advance batch only evicts state
        no_data_batch=False,
    )
    return (
        deduped.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


@register(
    "q_stream_session",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, value,
         epoch_us(ts) - LAG(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END
             AS new_session
  FROM seq
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-min gap), run to completion and
    compared against a batch lag/cumsum oracle. Spark's session_window
    opens [ts, ts+gap) per event and merges overlapping windows in the
    state store, so a new session starts exactly when the inter-event gap
    is >= the gap duration, and session_end = last event + gap — the
    oracle spells out both rules. State per user is bounded by the
    watermark horizon; availableNow drains the backlog like a production
    catch-up."""
    result = run_to_memory(session_aggregation(read_events_stream(spark, sf_dir)))
    return result.orderBy("user_id", "session_start")


# streaming must compute the same result: the batch row's oracle verbatim
@register("q_stream_zh_backfill", oracle=ORACLE_SQL["zh_backfill"])
def q_stream_zh_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's native workload (zh back-fill, SURVEY.md §2.1-§2.10)
    as a Structured Streaming pipeline: the product operator
    (``updates_frame``) is stateless column expressions, so it runs
    unmodified under readStream in append mode — the CDC-shaped
    deployment of the back-fill (new rows arrive, derived zh tags stream
    out). Hash-checked against the same DuckDB oracle as the batch
    `zh_backfill` query.

    The small repartition(8) exists because the conversion fold is
    compute-dense relative to its input bytes: a micro-batch that carries
    fewer source splits than cores serializes the map work behind the
    scan (measured at sf0.1: the one-file batch ran the fold on 1
    partition — 2.2 s warm vs 1.45 s with the 8-way fan-out; shuffling a
    CDC-sized batch is noise). This is the common production CDC shape
    too (one small file per trigger). For backfills over many-split
    sources, drop it — the scan already provides the parallelism."""
    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .repartition(8)
    )
    derived = updates_frame(
        zh_fixture(stream, _ZH_HANT), "doc_id", False, tables=CURATED
    )
    return run_to_memory(derived, output_mode="append").orderBy("doc_id")


@register(
    "q_stream_sliding",
    oracle="""
WITH w AS (
  SELECT make_timestamp((epoch_us(ts) // 1800000000 - k.k) * 1800000000)
             AS window_start,
         event_type, value
  FROM events, (VALUES (0), (1)) AS k(k)
)
SELECT window_start, event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM w
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping window (1h size / 30m slide): same window
    expression as the batch q_events_sliding, with a watermark bounding
    state to (horizon / slide) windows per key. Run to completion and
    hash-matched against the batch oracle."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg).orderBy("window_start", "event_type")


def bucketed_click_purchase_join(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """The shared clicks⋈purchases streaming join with the hot-key guard:
    state keyed on (user, click-hour bucket), purchases exploded into the
    exactly-two buckets their 1h look-back can reach. Used by both the
    inner and left-outer registered queries; tests/test_plan_quality.py
    asserts on THIS plan (the Join condition carries both bucket
    columns), so the guard is checked structurally, not by source-string
    match."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
        .withColumn("c_bucket", F.date_trunc("hour", F.col("c_ts")))
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "1 hour")
        .withColumn(
            "p_bucket",
            F.explode(
                F.array(
                    F.date_trunc("hour", F.col("p_ts")),
                    F.date_trunc("hour", F.col("p_ts"))
                    - F.expr("INTERVAL 1 HOUR"),
                )
            ),
        )
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_bucket") == F.col("p_bucket"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


@register(
    "q_stream_stream_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       ROUND(p.value, 2) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY c.user_id, click_id, purchase_id
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: clicks joined to
    purchases by the same user within the following hour. Both sides are
    watermarked and the join condition carries the time-range bound, so
    Spark can expire click state one hour past the watermark instead of
    buffering either stream forever — THE prerequisite for running a
    two-stream join continuously. availableNow drains the backlog and
    must reproduce exactly the batch interval join the oracle states.

    Hot-key guard (round 4, measured on the skewed anchor): the state
    key is (user, HOUR-BUCKET of click time), not user alone. Spark's
    symmetric hash join scans ALL buffered rows under the probe's
    equality key, so a celebrity user with n buffered clicks costs O(n)
    per arriving purchase — O(n*m) per hot key (measured: 20% of 300k
    events on one user made the drain 43 s for 203k output rows). Each
    purchase instead probes the exactly-two buckets its 1h look-back
    can reach (exploded), and each (click, purchase) pair agrees on
    precisely ONE bucket — trunc(c_ts) ∈ {trunc(p_ts),
    trunc(p_ts) - 1h} when c_ts ∈ [p_ts - 1h, p_ts] — so the output is
    duplicate-free and identical to the unbucketed join (same oracle
    hash). Cost: purchase state is doubled (two bucket probes per row);
    state scanned per probe drops from all-of-user to one user-hour.
    Measured: 43.7 s -> 3.7 s on the skewed anchor (12x) at identical
    output (203,158 rows); sf0.1 stays in its 2-3 s state-store-init
    band. The range condition stays in the join, preserving the
    watermark-based state eviction bound."""
    joined = bucketed_click_purchase_join(spark, sf_dir).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.round("value", 2).alias("purchase_value"),
    )
    # state_partitions=2: a stream-stream join owns TWO stores per
    # partition (one per side), so its store-init floor is double the
    # single-input ops'. With tmpfs checkpoints the overhead curve
    # re-bottoms at 2 (warm join pair at sf0.1, median-of-4: 5.1 s at
    # 4 parts, 4.0 s at 2, 4.1 s at 1); key cardinality is revisited
    # at production scale where the data, not store init, dominates.
    return run_to_memory(
        joined,
        output_mode="append",
        state_partitions=2,
        # INNER join: matches emit as they arrive; the trailing
        # watermark-advance batch only evicts buffered state
        no_data_batch=False,
    ).orderBy("user_id", "click_id", "purchase_id")


@register(
    "q_stream_static_join",
    oracle="""
WITH dim AS (
  SELECT DISTINCT user_id, user_id % 3 AS tier FROM events
)
SELECT d.tier,
       e.event_type,
       COUNT(*) AS n,
       ROUND(SUM(e.value), 2) AS total_value
FROM events e JOIN dim d USING (user_id)
GROUP BY d.tier, e.event_type
ORDER BY d.tier, e.event_type
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the unbounded event stream joins a BATCH
    dimension (per-user tier) — the lookup-table pattern every production
    stream uses (user profiles, geo, price books). The static side is a
    plain DataFrame: no watermark, no state store for the join; Spark
    re-plans it per micro-batch (picking up dimension updates) and
    broadcasts it under the join threshold. Stateless join + stateful
    downstream aggregate compose in one plan.

    The oracle is the identical batch join+aggregate, so the gate proves
    the streaming micro-batch execution changes nothing."""
    from openmaptiles_zh_modifier_spark.registry import load

    dim = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.col("user_id") % 3)
    )
    enriched = read_events_stream(spark, sf_dir).join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_to_memory(agg, output_mode="complete").orderBy(
        "tier", "event_type"
    )


@register(
    "q_stream_stream_left",
    oracle="""
WITH bounds AS (
  SELECT least(
           (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
           (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 3 HOUR AS cutoff
)
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       ROUND(p.value, 2) AS purchase_value,
       CASE WHEN p.event_id IS NULL THEN 0 ELSE 1 END AS matched
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
CROSS JOIN bounds
WHERE c.event_type = 'click' AND c.ts <= bounds.cutoff
ORDER BY c.user_id, click_id, purchase_id
""",
)
def q_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, with its within-the-hour
    purchase if one exists — the abandonment/attribution shape (which
    clicks converted, which didn't). Unlike the inner join, the NULL rows
    can only be emitted once the watermark PROVES no matching purchase
    can still arrive, so unmatched results trail the data by the state
    horizon; matched rows stream out immediately.

    Correctness subtlety this query pins down: at stream end the global
    watermark rests at min(max click ts, max purchase ts) - 1h delay, and
    clicks younger than (watermark - 1h join bound) are still in the
    state store, their NULL verdict pending — a terminated availableNow
    run therefore does NOT equal the batch left join on the final sliver
    of event time. Rather than bake Spark's exact eviction strictness
    (<= vs <) into the oracle, both sides restrict to clicks at least 3h
    below the min-side max — provably finalized under any boundary
    convention — making the equivalence exact and hash-checkable. The
    filter sits AFTER the join (a pre-join filter would shift the click
    watermark itself and move the finalization frontier).

    The cutoff is applied as a stream-static broadcast cross join
    against the ONE-ROW cutoff aggregate (not an eager ``.first()``
    probe baked in as a literal): construction stays lazy, and the
    cutoff subplan executes inside the streaming query itself. The
    one-row frame sits under ``memo_frame`` so per-micro-batch
    static-side re-planning reuses the cached row instead of
    re-scanning events.

    Scale shape: identical to q_stream_stream_join (state bounded by the
    1h bound + 1h delay per user-time bucket); the left-outer variant
    additionally holds unmatched left rows until eviction, so left-state
    size tracks the unconverted-click rate times the horizon, not the
    stream length."""
    from openmaptiles_zh_modifier_spark.registry import load, memo_frame

    def build_cutoff() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        return (
            ev.where(F.col("event_type") == "click")
            .agg(F.max("ts").alias("mc"))
            .crossJoin(
                ev.where(F.col("event_type") == "purchase").agg(
                    F.max("ts").alias("mp")
                )
            )
            .select(
                (F.least("mc", "mp") - F.expr("INTERVAL 3 HOUR")).alias("cutoff")
            )
        )

    cutoff_row = memo_frame(spark, f"ssleft_cutoff:{sf_dir}", build_cutoff)
    # hot-key guard: (user, click-hour) state key via the shared bucketed
    # join builder — see its and the inner join's docstrings. Left-outer
    # semantics are unchanged: a (click, purchase) pair agrees on exactly
    # one bucket, and a click with no in-bucket purchase still emits its
    # NULL row once the watermark finalizes it.
    joined = (
        bucketed_click_purchase_join(spark, sf_dir, "left_outer")
        .crossJoin(F.broadcast(cutoff_row))
        .where(F.col("c_ts") <= F.col("cutoff"))
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            F.round("value", 2).alias("purchase_value"),
            F.when(F.col("purchase_id").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("matched"),
        )
    )
    # state_partitions=2: same double-store floor as the inner join —
    # see q_stream_stream_join for the measurement.
    return run_to_memory(
        joined, output_mode="append", state_partitions=2
    ).orderBy("user_id", "click_id", "purchase_id")


@register(
    "q_stream_stream_full",
    oracle="""
WITH bounds AS (
  SELECT least(
           (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
           (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 3 HOUR AS cutoff
),
c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'purchase')
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       ROUND(p.value, 2) AS purchase_value,
       CASE WHEN c.event_id IS NULL THEN 2
            WHEN p.event_id IS NULL THEN 0 ELSE 1 END AS matched
FROM c FULL JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
CROSS JOIN bounds
WHERE COALESCE(c.ts, p.ts) <= bounds.cutoff
  AND COALESCE(p.ts, c.ts) <= bounds.cutoff
ORDER BY user_id, click_id, purchase_id
""",
)
def q_stream_stream_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join (round 12): conversions, abandoned
    clicks, AND orphan purchases in one result — the reconciliation
    shape (which side of the funnel is missing). Spark supports full
    outer stream-stream joins when both sides are watermarked and the
    join carries the event-time bound; each side's unmatched rows emit
    only once the watermark proves no partner can arrive.

    Two correctness subtleties pinned here beyond the left join's:
    (1) the inner/left hot-key bucket guard (purchases exploded into
    their two reachable hour buckets) is INCOMPATIBLE with full outer —
    the two copies are independent join-state rows, so a purchase that
    matched in one bucket would STILL emit an orphan row from its other
    copy (measured: +13 phantom rows at sf0.01). The full-outer variant
    therefore joins on the plain user key; the documented tradeoff is
    that one celebrity user's state lands in one partition — acceptable
    for the reconciliation shape, which is an audit, not the hot path.
    (2) finalization: BOTH unmatched directions trail the watermark, so
    both engines restrict to rows whose present timestamps sit 3h under
    the min-side max — provably finalized under any eviction-boundary
    convention, same argument as the left join.

    Scale shape: per-user join state bounded by the 1h bound + 1h delay
    horizon on both sides, plus held unmatched rows (bounded by the
    orphan rate times the horizon)."""
    from openmaptiles_zh_modifier_spark.registry import load, memo_frame

    def build_cutoff() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        return (
            ev.where(F.col("event_type") == "click")
            .agg(F.max("ts").alias("mc"))
            .crossJoin(
                ev.where(F.col("event_type") == "purchase").agg(
                    F.max("ts").alias("mp")
                )
            )
            .select(
                (F.least("mc", "mp") - F.expr("INTERVAL 3 HOUR")).alias("cutoff")
            )
        )

    cutoff_row = memo_frame(spark, f"ssfull_cutoff:{sf_dir}", build_cutoff)
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "full_outer",
        )
        .crossJoin(F.broadcast(cutoff_row))
        .where(
            (F.coalesce("c_ts", "p_ts") <= F.col("cutoff"))
            & (F.coalesce("p_ts", "c_ts") <= F.col("cutoff"))
        )
        .select(
            F.coalesce("c_user", "p_user").alias("user_id"),
            "click_id",
            "purchase_id",
            F.round("value", 2).alias("purchase_value"),
            F.when(F.col("click_id").isNull(), F.lit(2))
            .when(F.col("purchase_id").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("matched"),
        )
    )
    return run_to_memory(
        joined, output_mode="append", state_partitions=2
    ).orderBy("user_id", "click_id", "purchase_id")


# ---------------------------------------------------------------------------
# Streaming near-dup ingestion: MinHash/LSH bucket registry maintenance
# ---------------------------------------------------------------------------

def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents.parquet`` as an unbounded source (file stream; in
    production the ingestion Kafka topic with the same downstream plan)."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _stream_minhash_oracle() -> str:
    from openmaptiles_zh_modifier_spark.functions.text import (
        LSH_BANDS,
        NUM_PERM,
        h32_sql,
        minhash_sql,
    )

    rpb = NUM_PERM // LSH_BANDS
    sig_cols = ", ".join(
        f"min({minhash_sql(h32_sql('s'), i)}) AS m{i}" for i in range(NUM_PERM)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"m{i}" for i in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ok AS (SELECT doc_id, t FROM toks WHERE len(t) >= 3),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             j -> concat_ws(' ', t[j], t[j+1], t[j+2])))) AS s
  FROM ok
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS (
  {band_selects}
)
SELECT band, COUNT(DISTINCT bkey) AS n_buckets
FROM bands GROUP BY band ORDER BY band
"""


@register("q_stream_minhash_buckets", oracle=_stream_minhash_oracle())
def q_stream_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fuzzy-dedup front half: as documents arrive, each doc's
    MinHash signature is computed STATELESSLY per row (array_min over the
    hashed shingle array — no corpus statistics needed), exploded into
    its LSH band keys, and ``dropDuplicates`` maintains the bucket
    registry: the first doc to claim a (band, key) bucket passes, later
    claimants are the near-dup candidates an ingestion pipeline routes
    to verification. State = one row per DISTINCT bucket (kilobytes per
    million docs), not per doc; production bounds it further with
    ``dropDuplicatesWithinWatermark`` when buckets may expire.

    Which doc wins a bucket is arrival-order-dependent (any batch engine
    ties differently), so the oracle-checked output is the
    order-independent part: DISTINCT bucket count per band, aggregated
    AFTER the stream completes (the memory-sink result is a batch frame).
    Stream == batch equivalence therefore proves signature + banding +
    dedup state, without pinning racy arrival order."""
    docs = read_documents_stream(spark, sf_dir)
    registry = run_to_memory(
        minhash_bucket_registry(docs), output_mode="append"
    )
    return (
        registry.groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .orderBy("band")
    )


def minhash_bucket_registry(
    docs: DataFrame,
    state_ttl: str | None = None,
    arrival_ts: str | None = None,
) -> DataFrame:
    """Per-row MinHash signature -> LSH band keys -> ``dropDuplicates``
    bucket registry, as a reusable transform over any documents frame
    (streaming or batch — the multi-batch replay test drives it over a
    split file source with maxFilesPerTrigger=1).

    State lifecycle (VERDICT r10 #7, the trajectory TTL discipline on
    the built-in operator): the (band, bkey) key domain is UNBOUNDED —
    a continuous deployment grows dropDuplicates state forever.
    ``state_ttl`` (an interval string, e.g. ``"6 hours"``) switches to
    Spark's own eviction primitive for exactly this shape:
    ``dropDuplicatesWithinWatermark`` over an INGESTION-time column, so
    a bucket unseen for longer than the TTL is evicted and its next
    claimant re-registers (the session-gap analog of the trajectory
    TTL; near-dup suppression then holds within the window, which is
    the guarantee an ingestion dedup actually needs — Spark's contract
    is exactly that: duplicates within the delay are suppressed,
    farther apart they may re-emit). ``arrival_ts`` names the source's
    own ingestion-time column when it has one (a Kafka source's
    ``timestamp`` — preferable because the watermark then tracks the
    log, not the executor clock); left ``None``, processing time is
    synthesized per row. Deployment-scoped default ``state_ttl=None``
    keeps plain ``dropDuplicates``: the availableNow gate drain is
    run-to-completion, so its state is bounded by the run's lifetime
    and the gate plan/hashes stay byte-stable; eviction semantics are
    pinned by tests/test_streaming_multibatch.py (note the one-batch
    watermark lag there: a duplicate in the batch right after its
    original is still suppressed even past the TTL, because eviction
    happens once the COMMITTED watermark passes the bucket's
    expiry)."""
    from openmaptiles_zh_modifier_spark.functions.text import (
        LSH_BANDS,
        NUM_PERM,
        P31,
        h32,
        minhash_col,
        shingles,
        tokens,
    )

    rows_per_band = NUM_PERM // LSH_BANDS
    toks = tokens(F.col("text"))
    # ONE md5 per shingle, then ONE fold maintaining all 16 per-perm
    # minima at once: sixteen separate array_min(transform(hs, perm_i))
    # expressions each re-evaluate the hashed-shingle array — 16x the
    # md5 work, measured 9.1 s at sf0.1 vs ~1.4 s for this fold.
    hs = F.transform(shingles(toks), h32)
    sig_arr = F.aggregate(
        hs,
        F.array(*[F.lit(P31).cast("long")] * NUM_PERM),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[minhash_col(h, i) for i in range(NUM_PERM)]),
            lambda a, b: F.least(a, b),
        ),
    )
    band_keys = [
        F.concat_ws(
            "_",
            *[
                F.element_at(F.col("sig"), i + 1).cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(LSH_BANDS)
    ]
    if arrival_ts is not None and state_ttl is None:
        raise ValueError(
            "minhash_bucket_registry: arrival_ts without state_ttl —"
            " the ingestion-time column only exists to bound state; a"
            " silent fallback to plain dropDuplicates would keep the"
            " unbounded-state problem the caller is configuring away"
        )
    extra = [arrival_ts] if (state_ttl is not None and arrival_ts) else []
    keyed = (
        docs.where(F.size(toks) >= 3)
        .select("doc_id", sig_arr.alias("sig"), *extra)
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), band_keys[b].alias("bkey")
                        )
                        for b in range(LSH_BANDS)
                    ]
                )
            ).alias("bb"),
            *extra,
        )
        .select("doc_id", "bb.band", "bb.bkey", *extra)
    )
    if state_ttl is None:
        return keyed.dropDuplicates(["band", "bkey"])
    ts_col = arrival_ts or "_arrival_ts"
    if not arrival_ts:
        keyed = keyed.withColumn(ts_col, F.current_timestamp())
    return (
        keyed.withWatermark(ts_col, state_ttl)
        .dropDuplicatesWithinWatermark(["band", "bkey"])
        .drop(ts_col)
    )


@register(
    "q_stream_running_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator under the oracle gate:
    ``running_user_totals`` maintains per-user (count, sum) in the state
    store via ``applyInPandasWithState`` — the hand-rolled-state escape
    hatch for logic built-in aggregations can't express — emitting the
    updated totals per user per micro-batch (update mode).

    Equivalence argument: with availableNow over the single-file source
    the backlog lands in ONE micro-batch, so each user emits exactly one
    row carrying their final totals — the batch GROUP BY. A multi-batch
    replay emits intermediate rows too; then the LAST row per user (max
    n_events) is the comparable one — the test suite covers the
    incremental path, this gate row pins the state arithmetic itself.
    State is one (long, double) pair per user: bounded by key
    cardinality, the right shape at any scale."""
    ev = read_events_stream(spark, sf_dir)
    totals = running_user_totals(ev)
    # NoTimeout state: totals emit in their data batch, the trailing
    # watermark-advance batch is pure overhead
    # applyInPandasWithState drains are PYTHON-bound per key (attribution:
    # allUpdatesTimeMs ~9.3 s summed across 4 partitions for 1500 keys at
    # sf0.1 vs 550 ms state commit) — 16 state partitions parallelize the
    # per-key Python work across workers (measured min 2.67 s @4 -> 1.83 s
    # @16, flat at 32); built-in state ops keep the r7 4-partition tuning
    # (store-init-bound). Production sizes to key cardinality either way.
    out = run_to_memory(
        totals,
        output_mode="update",
        state_partitions=16,
        no_data_batch=False,
    )
    # collapse to final state per user (no-op in the single-batch case,
    # correct under multi-batch replays)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming drift monitor: per-window PSI vs the corpus baseline
# ---------------------------------------------------------------------------

PSI_STREAM_BINS = 10
PSI_STREAM_BIN_W = 50


def windowed_bin_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked per-hour (window, value-bin) counts — the streaming
    half of the PSI monitor: state is windows x bins longs, emitted on
    window finalization (append mode)."""
    b = F.least(
        F.floor(F.col("value") / PSI_STREAM_BIN_W).cast("long"),
        F.lit(PSI_STREAM_BINS - 1),
    )
    return (
        events.withWatermark("ts", watermark)
        .withColumn("bin", b)
        .groupBy(F.window("ts", "1 hour"), "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("window.start").alias("wstart"), "bin", "c")
    )


@register(
    "q_stream_psi",
    oracle=f"""
WITH e AS (
  SELECT date_trunc('hour', ts) AS wstart,
         LEAST(CAST(FLOOR(value / {PSI_STREAM_BIN_W}) AS BIGINT),
               {PSI_STREAM_BINS - 1}) AS bin
  FROM events
),
wc AS (SELECT wstart, bin, COUNT(*) AS c FROM e GROUP BY 1, 2),
wt AS (SELECT wstart, SUM(c) AS nw FROM wc GROUP BY 1),
gb AS (SELECT bin, SUM(c) AS cg FROM wc GROUP BY 1),
gt AS (SELECT SUM(cg) AS ng FROM gb),
contrib AS (
  SELECT wc.wstart, wc.bin, wt.nw,
         (((wc.c + 1.0) / (wt.nw + {PSI_STREAM_BINS}))
            - ((gb.cg + 1.0) / (gt.ng + {PSI_STREAM_BINS})))
           * ROUND(ln(((wc.c + 1.0) / (wt.nw + {PSI_STREAM_BINS}))
                      / ((gb.cg + 1.0) / (gt.ng + {PSI_STREAM_BINS}))), 6)
           AS x
  FROM wc
  JOIN wt ON wt.wstart = wc.wstart
  JOIN gb ON gb.bin = wc.bin
  CROSS JOIN gt
)
SELECT wstart,
       CAST(nw AS BIGINT) AS n_events,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY bin)),
                         (acc, v) -> acc + v), 6) AS psi
FROM contrib GROUP BY wstart, nw
ORDER BY wstart
""",
)
def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: every finalized hour window's value
    distribution scored with PSI against the whole-corpus baseline —
    the per-window alarm a production metrics pipeline raises when an
    hour's traffic stops looking like the historical mix. The STREAMING
    stage maintains only (window x bin) counts in state (tiny, bounded
    by the watermark horizon); the PSI arithmetic runs batch-side on
    the drained counts exactly as it would on a counts table fed by a
    continuous sink. availableNow over the finite fixture makes the
    baseline equal the full-corpus distribution, so the batch oracle
    states the same computation directly over events.

    Determinism: the q_psi_arms pattern — integer counts, exact
    ratios, rounded-ln pre-product, bin-ordered fold per window."""
    # complete mode: append would hold back the final watermark-horizon
    # windows forever on a drained finite source (q_stream_tumbling's
    # convention)
    counts = run_to_memory(
        windowed_bin_counts(read_events_stream(spark, sf_dir))
    )
    # rename the aggregate-side keys: the memory-sink table self-joined
    # against its own aggregates trips Spark's conflicting-reference
    # check, and distinct key names sidestep the ambiguity outright
    wt = (
        counts.select(F.col("wstart").alias("w_key"), "c")
        .groupBy("w_key")
        .agg(F.sum("c").alias("nw"))
    )
    gb = (
        counts.select(F.col("bin").alias("b_key"), "c")
        .groupBy("b_key")
        .agg(F.sum("c").alias("cg"))
    )
    gt = gb.agg(F.sum("cg").alias("ng"))
    pw = (F.col("c") + F.lit(1.0)) / (F.col("nw") + F.lit(PSI_STREAM_BINS))
    pg = (F.col("cg") + F.lit(1.0)) / (F.col("ng") + F.lit(PSI_STREAM_BINS))
    contrib = (
        counts.join(wt, F.col("wstart") == F.col("w_key"))
        .join(gb, F.col("bin") == F.col("b_key"))
        .crossJoin(F.broadcast(gt))
        .select(
            "wstart", "bin", "nw",
            ((pw - pg) * F.round(F.log(pw / pg), 6)).alias("x"),
        )
    )
    return (
        contrib.groupBy("wstart", "nw")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("bin", "x"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                ),
                6,
            ).alias("psi")
        )
        .select(
            "wstart",
            F.col("nw").cast("long").alias("n_events"),
            "psi",
        )
        .orderBy("wstart")
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters: space-saving top-k per event type
# ---------------------------------------------------------------------------

HH_TOPK = 5
HH_CAP = 4096  # space-saving summary capacity (counters per event type)


def heavy_hitter_topk(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Space-saving heavy hitters (Metwally et al. 2005) per event type
    via ``applyInPandasWithState``: the state is a bounded counter
    summary (at most {HH_CAP} (user, count) pairs per type); when a new
    user arrives at capacity, the minimum counter is evicted and
    inherited (the classic overestimate-bounded replacement, min ties
    broken on smallest user id for determinism). Each micro-batch emits
    the current top-{HH_TOPK} with a state sequence number so a
    multi-batch replay's final summary is identifiable downstream.

    With capacity >= distinct keys the summary is EXACT (no eviction
    ever fires) — true at fixture scale, which is what lets the oracle
    pin the arithmetic; at 100 TB capacity << keys and the guarantee
    degrades gracefully to count error <= N/{HH_CAP} with all true
    heavy hitters retained — the point of the algorithm. State is
    O(capacity) longs per type regardless of stream length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            uids, cnts, seq = state.get
            counts = dict(zip(uids, cnts))
        else:
            counts, seq = {}, 0
        seq += 1
        for pdf in pdfs:
            for u in pdf["user_id"]:
                u = int(u)
                if u in counts:
                    counts[u] += 1
                elif len(counts) < HH_CAP:
                    counts[u] = 1
                else:
                    mu = min(counts, key=lambda k: (counts[k], k))
                    counts[u] = counts.pop(mu) + 1
        state.update((list(counts.keys()), list(counts.values()), seq))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:HH_TOPK]
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(top),
                "user_id": [u for u, _ in top],
                "n_events": [c for _, c in top],
                "rk": list(range(1, len(top) + 1)),
                "seq": [seq] * len(top),
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "event_type string, user_id long, n_events long,"
                " rk int, seq long"
            ),
            stateStructType="uids array<long>, cnts array<long>, seq long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "q_stream_heavy_hitters",
    oracle=f"""
SELECT event_type, user_id, n_events, rk FROM (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY COUNT(*) DESC, user_id) AS INT) AS rk
  FROM events GROUP BY event_type, user_id
) t WHERE rk <= {HH_TOPK}
ORDER BY event_type, rk
""",
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-{HH_TOPK} users per event type from the
    space-saving state summary (see heavy_hitter_topk). The gate
    equivalence: at fixture scale capacity exceeds key cardinality, so
    the summary holds exact counts and the final emission per type
    equals the batch GROUP BY top-k; the multi-batch eviction path is
    pytest-covered separately."""
    ev = read_events_stream(spark, sf_dir)
    # NoTimeout state: top-k rows emit in their data batch
    # python-stateful: 16 state partitions (see running_totals note)
    out = run_to_memory(
        heavy_hitter_topk(ev),
        output_mode="update",
        state_partitions=16,
        no_data_batch=False,
    )
    wmax = Window.partitionBy("event_type")
    return (
        out.withColumn("__smax", F.max("seq").over(wmax))
        .where(F.col("seq") == F.col("__smax"))
        .select("event_type", "user_id", "n_events", "rk")
        .orderBy("event_type", "rk")
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM drift tripwire per event type
# ---------------------------------------------------------------------------

SCUSUM_K = 0.5  # slack in sigma units (matches q_cusum_changepoint)


def streaming_cusum(events: DataFrame, params: dict,
                    watermark: str = "2 hours") -> DataFrame:
    """Per-event-type two-sided CUSUM in ``applyInPandasWithState``:
    state is the (S+, S-, n) triple, advanced over each micro-batch's
    rows in event-time order against FIXED reference (mu, sigma) from
    the training corpus (broadcast as plain Python — a handful of
    floats). Emits the running statistics per batch.

    Ordering contract: rows are sorted by (ts, event_id) WITHIN each
    micro-batch and state carries across batches in arrival order —
    exact for a time-ordered source (production streams are), and
    deterministic for the availableNow gate drain (single batch).

    The per-batch fold is VECTORIZED via the clamped-recurrence
    closed form: for s_i = max(0, s_{i-1} + x_i) with carry s_0,
    s_i = Y_i - min(-s_0, min_{m<=i} Y_m) where Y = cumsum(x) — three
    numpy array ops per micro-batch instead of a per-row Python loop
    (tests/test_streaming_cusum_vec.py proves equivalence to the
    sequential reference fold at the gate's 4-dp surface; literal bit
    equality is unobtainable because the clamp interleaves with the
    additions, so any re-association moves ~1e-10 low-order bits).

    State lifecycle: NoTimeout is DELIBERATE here — the key domain is
    event_type (a bounded enum, unlike trajectory_leg_stream's
    unbounded users), so the state store holds a handful of
    constant-width rows forever by design; evicting would silently
    reset the running statistics."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def clamped_fold(x: "np.ndarray", s0: float) -> float:
        """Final value of s_i = max(0, s_{i-1} + x_i) given carry s0."""
        y = np.cumsum(x)
        return float(y[-1] - min(-s0, np.min(y)))

    def update(key, pdfs, state: GroupState):
        et = key[0]
        mu, sigma = params[et]
        sp, sn, n = state.get if state.exists else (0.0, 0.0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            dev = pdf["cents"].to_numpy(dtype="float64") - mu
            sp = clamped_fold(dev - SCUSUM_K * sigma, sp)
            sn = clamped_fold(-dev - SCUSUM_K * sigma, sn)
            n += len(pdf)
        state.update((sp, sn, n))
        yield pd.DataFrame(
            {
                "event_type": [et],
                "n_events": [n],
                "cusum_hi": [sp],
                "cusum_lo": [sn],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .select(
            "event_type", "ts", "event_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "event_type string, n_events long,"
                " cusum_hi double, cusum_lo double"
            ),
            stateStructType="sp double, sn double, n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "q_stream_cusum",
    oracle=f"""
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
p AS (
  SELECT event_type,
         SUM(cents) / CAST(COUNT(*) AS DOUBLE) AS mu,
         sqrt((SUM(cents * cents)
               - (SUM(cents) / CAST(COUNT(*) AS DOUBLE)) * SUM(cents))
              / (COUNT(*) - 1)) AS sigma
  FROM e GROUP BY 1
),
ser AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         list(CAST(cents AS DOUBLE) ORDER BY ts, event_id) AS xs
  FROM e GROUP BY 1
)
SELECT s.event_type,
       s.n_events,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, s.xs),
               (acc, x) -> GREATEST(0.0, acc + (x - p.mu)
                                         - {SCUSUM_K} * p.sigma))
             / p.sigma, 4) AS cusum_hi_sigma,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, s.xs),
               (acc, x) -> GREATEST(0.0, acc + (p.mu - x)
                                         - {SCUSUM_K} * p.sigma))
             / p.sigma, 4) AS cusum_lo_sigma
FROM ser s JOIN p ON p.event_type = s.event_type
ORDER BY s.event_type
""",
)
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift tripwire: the q_cusum_changepoint
    recurrence moved into the state store, per event type, against
    reference (mu, sigma) computed from the training corpus (the
    stream-static parameter pattern). The gate compares the final
    per-type running statistics against the oracle's replay of the
    identical IEEE sequence — expressed as TWO independent
    scalar-state list folds (S+ and S- never read each other), which
    keeps the oracle linear; the first cut used a recursive CTE whose
    per-step re-join of the 150k-row series made the oracle O(n^2)
    and effectively non-terminating at sf0.1 (measured, killed).

    Scale shape: state is three scalars per event type; each batch
    does one in-group sort + a linear pass. Parameters are a
    per-type pair of floats — at any corpus scale they ride along as
    a broadcast, never a join."""
    ev_batch = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    prow = (
        ev_batch.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s"),
            F.sum(F.col("cents") * F.col("cents")).alias("q"),
        )
        .select(
            "event_type",
            (F.col("s") / F.col("n").cast("double")).alias("mu"),
            F.sqrt(
                (F.col("q") - (F.col("s") / F.col("n").cast("double")) * F.col("s"))
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
        .collect()
    )
    params = {r["event_type"]: (r["mu"], r["sigma"]) for r in prow}
    out = run_to_memory(
        streaming_cusum(read_events_stream(spark, sf_dir), params),
        output_mode="update",
        # python-stateful: 16 state partitions (see running_totals note)
        state_partitions=16,
        # NoTimeout state: CUSUM rows emit in their data batch
        no_data_batch=False,
    )
    sig = local_frame(
        spark,
        [(et, s) for et, (_, s) in sorted(params.items())],
        "event_type string, sigma double",
    )
    wmax = Window.partitionBy("event_type")
    return (
        out.withColumn("__m", F.max("n_events").over(wmax))
        .where(F.col("n_events") == F.col("__m"))
        .join(F.broadcast(sig), "event_type")
        .select(
            "event_type",
            "n_events",
            F.round(F.col("cusum_hi") / F.col("sigma"), 4).alias(
                "cusum_hi_sigma"
            ),
            F.round(F.col("cusum_lo") / F.col("sigma"), 4).alias(
                "cusum_lo_sigma"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming trajectory legs (round 9, VERDICT r8 #7): per-user
# last-position state + watermark; the streaming twin of
# q_geo_trajectory on the new geospatial axis.
# ---------------------------------------------------------------------------

from openmaptiles_zh_modifier_spark.queries_geo import (  # noqa: E402
    TRAJ_LAT,
    TRAJ_LON,
    TRAJ_ORACLE,
    TRAJ_USER_MAX,
    _hav_mm,
)


def trajectory_leg_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Per-user trajectory legs as a custom stateful operator
    (``applyInPandasWithState``): state is ONLY the last seen position
    (ts-micros, event_id, lat, lon); each micro-batch sorts its rows by
    (ts, event_id), chains them onto the carried position, and emits
    one APPEND row per leg with both endpoints. The haversine runs
    JVM-side on the emitted rows (same _hav_mm expression as the batch
    twin), so the stream reuses the batch column expression verbatim —
    the batch/stream reuse story on the geo axis.

    Ordering contract (same as streaming_cusum): exact for a source
    whose micro-batches arrive in event-time order (production ping
    streams are; the availableNow gate drain is a single sorted batch).
    A row older than the carried state position is LATE DATA and is
    dropped — the state-store twin of the watermark discipline — and
    the running per-user drop count rides every emitted leg as
    ``n_dropped`` (the shed-census discipline: at-least-once replay
    divergence from the batch twin is OBSERVABLE, not silent).

    State lifecycle (VERDICT r9 #4): the user key domain is unbounded
    and ``withWatermark`` alone does NOT evict applyInPandasWithState
    state, so continuous deployments pass ``state_ttl_ms`` (recommend
    ~2x the watermark delay) to evict per-key state via
    ProcessingTimeTimeout. A user silent longer than the TTL is
    evicted; their next ping starts a NEW trajectory, so a leg
    spanning a silence gap > TTL is not emitted — session-gap
    semantics, pinned by tests/test_streaming_trajectory_ttl.py.
    ``state_ttl_ms=None`` (default) keeps NoTimeout: MEASURED behavior
    is that an availableNow drain does not terminate while registered
    processing-time timeouts are pending (it idles in 'cleaning up
    state' until they fire), so run-to-completion drains — the gate
    path — must not register TTLs; their state is bounded by the run's
    lifetime instead.

    Scale shape: state per user is one constant-width row (vs the
    batch window's shuffle-sort), bounded in COUNT by the TTL; emitted
    legs are append-only facts, so downstream aggregation is an
    ordinary combinable groupBy."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = state_ttl_ms

    def update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # silent past the TTL: evict
            return
        uid = key[0]
        if state.exists:
            lts, leid, llat, llon, ndrop = state.get
        else:
            lts, leid, llat, llon, ndrop = None, None, None, None, 0
        out_plat, out_plon, out_lat, out_lon = [], [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["tsu", "event_id"])
            for tsu, eid, lat, lon in zip(
                pdf["tsu"], pdf["event_id"], pdf["lat"], pdf["lon"]
            ):
                tsu, eid = int(tsu), int(eid)
                if lts is not None and (tsu, eid) <= (lts, leid):
                    ndrop += 1  # late or duplicate: drop (see contract)
                    continue
                if lts is not None:
                    out_plat.append(llat)
                    out_plon.append(llon)
                    out_lat.append(float(lat))
                    out_lon.append(float(lon))
                lts, leid, llat, llon = tsu, eid, float(lat), float(lon)
        state.update((lts, leid, llat, llon, ndrop))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_lat:
            yield pd.DataFrame(
                {
                    "user_id": uid,
                    "plat": out_plat,
                    "plon": out_plon,
                    "lat": out_lat,
                    "lon": out_lon,
                    "n_dropped": ndrop,
                }
            )

    legs = (
        events.withWatermark("ts", watermark)
        .where(F.col("user_id") < TRAJ_USER_MAX)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("tsu"),
            F.expr(TRAJ_LAT).alias("lat"),
            F.expr(TRAJ_LON).alias("lon"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, plat double, plon double,"
                " lat double, lon double, n_dropped long"
            ),
            stateStructType=(
                "lts long, leid long, llat double, llon double,"
                " ndrop long"
            ),
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if state_ttl_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )
    # leg distance with the SAME JVM-side expression as the batch twin
    return legs.withColumn(
        "d_mm", F.expr(_hav_mm("plat", "plon", "lat", "lon"))
    )


@register("q_stream_trajectory", oracle=TRAJ_ORACLE)
def q_stream_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming q_geo_trajectory: drain the leg stream to completion,
    then aggregate the appended legs per user — the result must equal
    the batch window plan (the oracle IS the batch oracle)."""
    legs = run_to_memory(
        trajectory_leg_stream(read_events_stream(spark, sf_dir)),
        output_mode="append",
        # python-stateful: 16 state partitions (see running_totals note)
        state_partitions=16,
    )
    return (
        legs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_legs"),
            F.sum("d_mm").alias("total_mm"),
            F.max("d_mm").alias("longest_leg_mm"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming geofence (late round 10): point-in-polygon alerts on the
# event stream — the production deployment of the containment join.
# ---------------------------------------------------------------------------

# Ping positions: planar centi-degrees over the admin-star domain
# (queries_geo fixture family), derived from event_id so the stream and
# the batch oracle see identical geometry. event_id is reduced mod the
# modulus BEFORE the multiply — (a*b) mod m == ((a mod m)*b) mod m for
# a >= 0, so the value is unchanged while the intermediate stays below
# 30000*6661 ~ 2e8 for ANY non-negative int64 event_id (the raw
# event_id*6661 form would wrap int64 past event_id ~ 1.38e15, where
# Spark wraps silently but DuckDB errors — the two sides would fork).
_GF_PX = "(-15000 + ((event_id % 30000) * 6661) % 30000)"
_GF_PY = "(-3500 + ((event_id % 7000) * 3209) % 7000)"


def geofence_alert_stream(pings: DataFrame, poly: DataFrame) -> DataFrame:
    """Pings inside an admin polygon, classified by the SAME blocked
    containment pipeline as the batch operator: polygon_contains_pairs
    is stateless (cell key derivation, a static-side explode, one
    stream-static hash equi-join, in-row bbox + ray-cast), so the
    identical function runs on an unbounded DataFrame unchanged — the
    blocked spatial join IS the streaming plan, not a broadcast
    theta-join rewrite. Spark re-plans the static polygon side per
    micro-batch (picking up boundary updates, the geofence-editing
    shape) and broadcasts it under the join threshold.

    Scale shape: per micro-batch cost is the batch operator's (bounded
    cell fan-out into one equi-join, flat in-row verify); no state
    store for the join itself — downstream aggregates own the only
    state. Cited parity: OMTZHModifier.java:40-43's osm_*_polygon
    tables; geofence alerting is the streaming query run against
    them."""
    from openmaptiles_zh_modifier_spark.queries_geo import (
        polygon_contains_pairs,
    )

    return polygon_contains_pairs(poly, pings).where(F.col("inside") == 1)


@register(
    "q_stream_geofence",
    # single source of truth: every fixture rule and extent interpolates
    # from the SAME constants the Spark plan uses (queries_geo._PG_* /
    # _OXMAX / _OYMAX spliced below alongside the ray-cast — this module
    # loads before queries_geo registers, hence the deferred patch)
    oracle=f"""
WITH polys AS (
  SELECT n_nationkey, n_name,
         __PG_S__ AS s,
         __PG_CX__ AS cx,
         __PG_CY__ AS cy
  FROM nation
),
pings AS (
  SELECT event_id, value,
         {_GF_PX} AS px,
         {_GF_PY} AS py
  FROM events
),
hits AS (
  SELECT n_nationkey, n_name, event_id, value
  FROM pings CROSS JOIN polys
  WHERE px BETWEEN cx - __OXMAX__ * s AND cx + __OXMAX__ * s
    AND py BETWEEN cy - __OYMAX__ * s AND cy + __OYMAX__ * s
    AND __RAYCAST__
)
SELECT n_nationkey, n_name,
       CAST(COUNT(*) AS BIGINT) AS n_pings,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS value_cents,
       CAST(SUM(event_id) AS BIGINT) AS sum_eid
FROM hits
GROUP BY n_nationkey, n_name
ORDER BY n_nationkey
""",
)
def q_stream_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-polygon census: which admin areas are
    receiving pings, how many, and their value — the geofence-alert
    deployment of q_geo_polygon_join, running the IDENTICAL blocked
    containment pipeline on the unbounded event stream (see
    geofence_alert_stream). The oracle is the batch cross join with
    the same ray-cast text, so the gate proves micro-batch execution
    changes nothing. Money is quantized to integer cents PER ROW
    before the sum (stream and batch add in different orders; integer
    addition is associative, float addition is not)."""
    from openmaptiles_zh_modifier_spark.queries_geo import (
        _PG_CX,
        _PG_CY,
        _PG_S,
    )

    poly = load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey",
        "n_name",
        f"{_PG_S} AS s",
        f"{_PG_CX} AS cx",
        f"{_PG_CY} AS cy",
    )
    pings = read_events_stream(spark, sf_dir).selectExpr(
        "event_id",
        "value",
        f"{_GF_PX} AS px",
        f"{_GF_PY} AS py",
    )
    alerts = geofence_alert_stream(pings, poly)
    agg = alerts.groupBy("n_nationkey", "n_name").agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.sum(
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")
        ).alias("value_cents"),
        F.sum("event_id").alias("sum_eid"),
    )
    return run_to_memory(agg, output_mode="complete").orderBy("n_nationkey")


# splice the polygon-fixture constants and the exact ray-cast text into
# the geofence oracle (single source of truth: the same queries_geo
# definitions the Spark plan evaluates — a fixture tweak there cannot
# silently diverge the oracle)
def _patch_geofence_oracle() -> None:
    from openmaptiles_zh_modifier_spark.queries_geo import (
        _OXMAX,
        _OYMAX,
        _PG_CX,
        _PG_CY,
        _PG_S,
        _raycast_inside,
    )

    sql = ORACLE_SQL["q_stream_geofence"]
    for ph, text in (
        ("__PG_S__", _PG_S),
        ("__PG_CX__", _PG_CX),
        ("__PG_CY__", _PG_CY),
        ("__OXMAX__", str(_OXMAX)),
        ("__OYMAX__", str(_OYMAX)),
        ("__RAYCAST__", _raycast_inside("px", "py", "cx", "cy", "s")),
    ):
        sql = sql.replace(ph, text)
    ORACLE_SQL["q_stream_geofence"] = sql


_patch_geofence_oracle()


@register(
    "q_stream_cow_changes",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
)
SELECT * FROM (
  SELECT 'delete' AS change_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey
  FROM base
  WHERE o_orderkey % 10 = 0
     OR (NOT o_orderkey % 10 = 0 AND o_custkey % 7 = 0)
  UNION ALL
  SELECT 'insert', CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
  FROM base
)
ORDER BY change_type
""",
)
def q_stream_cow_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING change-data-feed over the COW commit log (round 13,
    VERDICT r12 #6 made externally verified): the DV test table (half
    of orders; two deletion-vector commits — %10, then %7-of-remaining,
    the second repointing sidecars the first created) is drained
    through ``readStream.format("cowtable").option("read_changes",
    "true")`` with availableNow, and the per-change-type census must
    match the declarative filter algebra. The delete leg pins that DV
    repoints stream EXACTLY the newly-deleted positions per commit —
    the v3 rows are (not orderkey%10) AND custkey%7, proving the sidecar-union diff
    (new_dv minus old_dv) emitted no duplicates from v2's rows.

    Scale shape: planning walks version PAIRS (metadata only); each
    change partition reads one file + its sidecar slices via pyarrow
    and ships Arrow batches; the census is a 2-group aggregate. Table
    build memoized per (app, sf_dir) — each call prices the drain."""
    from openmaptiles_zh_modifier_spark.queries_scale import _dv_table
    from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
        register_cow_datasource,
    )

    root, _v = _dv_table(spark, sf_dir)
    register_cow_datasource(spark)
    stream = (
        spark.readStream.format("cowtable")
        .option("path", root)
        .option("read_changes", "true")
        .load()
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_orderkey"),
        )
    )
    return run_to_memory(stream).orderBy("change_type")


# ---------------------------------------------------------------------------
# Streaming SPRT (round 13): the q_sprt_monitor decision walk moved
# into the state store — early-stopping A/B monitoring as a streaming
# operator rather than a batch sweep.
# ---------------------------------------------------------------------------


def streaming_sprt(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-arm Wald SPRT in ``applyInPandasWithState``: state is the
    exact integer (n1, n0) conversion counts plus the frozen crossing
    record (n_cross, llr_cross, decision). Because each Bernoulli step
    adds one of two CONSTANTS, the whole walk is reconstructible from
    cumulative integers — the per-batch scan is a numpy cumsum over the
    batch's conversions shifted by the carried counts, and the first
    boundary exit (if the arm is still undecided) freezes the decision
    exactly where the batch replay of q_sprt_monitor would put it.
    Constants are the SAME Python doubles both SQL engines parse
    (queries_stats.SPRT_*_F), so the streaming fold is bit-identical
    to the batch twin and the one oracle serves both.

    Ordering contract: rows sort by (ts, event_id) within each
    micro-batch and state carries across batches in arrival order —
    exact for a time-ordered source, deterministic for the
    availableNow gate drain.

    State lifecycle: NoTimeout is deliberate — the key domain is the
    two experiment arms (bounded enum, like streaming_cusum's event
    types), a handful of constant-width rows by design."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from openmaptiles_zh_modifier_spark.queries_stats import (
        SPRT_C0_F,
        SPRT_C1_F,
        SPRT_LO_F,
        SPRT_UP_F,
    )

    def update(key, pdfs, state: GroupState):
        arm = key[0]
        if state.exists:
            n1, n0, n_cross, llr_cross, decision = state.get
        else:
            n1, n0, n_cross, llr_cross, decision = 0, 0, 0, 0.0, "continue"
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            conv = (pdf["event_type"] == "purchase").to_numpy(dtype="int64")
            c1 = n1 + np.cumsum(conv)
            n_all = n1 + n0 + 1 + np.arange(len(conv))
            llr = c1 * SPRT_C1_F + (n_all - c1) * SPRT_C0_F
            if decision == "continue":
                outside = (llr >= SPRT_UP_F) | (llr <= SPRT_LO_F)
                if outside.any():
                    i = int(outside.argmax())
                    n_cross = int(n_all[i])
                    llr_cross = float(llr[i])
                    decision = (
                        "accept_h1" if llr[i] >= SPRT_UP_F else "accept_h0"
                    )
            n1 = int(c1[-1])
            n0 = int(n_all[-1] - c1[-1])
        state.update((n1, n0, n_cross, llr_cross, decision))
        yield pd.DataFrame(
            {
                "arm": [arm],
                "n_obs": [n1 + n0],
                "n_cross": [n_cross],
                "llr_cross": [llr_cross],
                "decision": [decision],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .select(
            (F.col("user_id") % 2).alias("arm"),
            "event_type",
            "ts",
            "event_id",
        )
        .groupBy("arm")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "arm long, n_obs long, n_cross long, "
                "llr_cross double, decision string"
            ),
            stateStructType=(
                "n1 long, n0 long, n_cross long, "
                "llr_cross double, decision string"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "q_stream_sprt",
    oracle=ORACLE_SQL["q_sprt_monitor"],
)
def q_stream_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_sprt_monitor — ONE oracle serves both: the
    state-store walk must land on the identical crossing index, LLR
    and decision as the batch window sweep (and DuckDB's replay),
    because the fold is exact integers times shared double constants.
    The gate drain emits one row per arm; the max-n_obs guard keeps
    the final state row if a source ever splits the drain into
    multiple micro-batches.

    Scale shape: state is five scalars per arm; each batch is one
    in-group sort + a numpy cumsum. The undecided->decided transition
    happens exactly once per arm, after which the walk only counts."""
    out = run_to_memory(
        streaming_sprt(read_events_stream(spark, sf_dir)),
        output_mode="update",
        # python-stateful: 16 state partitions (see running_totals note)
        state_partitions=16,
        # NoTimeout state: SPRT rows emit in their data batch
        no_data_batch=False,
    )
    w = Window.partitionBy("arm").orderBy(F.desc("n_obs"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "arm",
            "n_obs",
            F.when(F.col("n_cross") > 0, F.col("n_cross")).alias("n_cross"),
            F.when(
                F.col("n_cross") > 0, F.round(F.col("llr_cross"), 6)
            ).alias("llr_cross"),
            "decision",
        )
        .orderBy("arm")
    )
