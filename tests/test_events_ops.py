"""Event-stream operators: rolling median, debounce bursts and the SES
forecast fold — structural contracts and Python replays beside the
oracle hashes."""

from __future__ import annotations

from openmaptiles_zh_modifier_spark.queries_events import (
    ROLL_MED_N,
    q_event_debounce,
    q_rolling_median,
)


def test_rolling_median_window_contract(spark, sf_dir):
    rows = q_rolling_median(spark, sf_dir).collect()
    assert rows and all(1 <= r.n_in_window <= ROLL_MED_N for r in rows)


def test_debounce_bursts_cover_all_events(spark, sf_dir):
    from openmaptiles_zh_modifier_spark.registry import load

    bursts = q_event_debounce(spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    assert sum(r.burst_size for r in bursts) == n_events
    assert all(r.kept_event_id is not None for r in bursts)


def test_ses_fold_matches_python_reference(spark, sf_dir):
    """The SES recurrence computed by the Spark fold must equal a plain
    Python loop over the same day-ordered integer-cent series (identical
    seed-with-first semantics, same alpha literal)."""
    from openmaptiles_zh_modifier_spark.queries_events import (
        SES_ALPHA,
        q_ses_forecast,
    )
    from openmaptiles_zh_modifier_spark.registry import load
    from pyspark.sql import functions as F

    alpha = float(SES_ALPHA)
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("double")
            .alias("x")
        )
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.user_id, []).append((r.day, r.x))
    expect = {}
    for u, pts in series.items():
        level = None
        for _, x in sorted(pts):
            level = x if level is None else alpha * x + (1.0 - alpha) * level
        expect[u] = round(level, 4)
    got = {r.user_id: r.level_cents for r in q_ses_forecast(spark, sf_dir).collect()}
    assert got == expect


def test_debounce_matches_python_reference(spark, tmp_path):
    """Burst segmentation on a crafted series with exact-threshold gaps,
    chains, and multi-user interleaving, checked against a Python fold."""
    import datetime as dt

    from openmaptiles_zh_modifier_spark.queries_events import (
        DEBOUNCE_GAP_S,
        q_event_debounce,
    )

    base = dt.datetime(2024, 1, 1)
    g = DEBOUNCE_GAP_S
    # user 1: chain where each gap < g but total span > g (one burst);
    # user 2: gap EXACTLY g (boundary -> new burst); user 3: singleton
    rows = [
        (1, 1, "click", base, 0.0, None),
        (2, 1, "click", base + dt.timedelta(seconds=g - 1), 0.0, None),
        (3, 1, "click", base + dt.timedelta(seconds=2 * (g - 1)), 0.0, None),
        (4, 2, "click", base, 0.0, None),
        (5, 2, "click", base + dt.timedelta(seconds=g), 0.0, None),
        (6, 3, "view", base, 0.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string",
    )
    out = str(tmp_path / "ev")
    df.write.parquet(f"{out}/events.parquet")
    bursts = {
        (r.user_id, r.burst_id): (r.kept_event_id, r.burst_size)
        for r in q_event_debounce(spark, out).collect()
    }
    assert bursts == {
        (1, 1): (1, 3),  # sub-threshold chain collapses into ONE burst
        (2, 1): (4, 1),  # gap == threshold starts a new burst...
        (2, 2): (5, 1),
        (3, 1): (6, 1),
    }


def test_nanos_events_ts_reads_as_micros_timestamp(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` reads as BIGINT nanoseconds under
    the session's ``spark.sql.legacy.parquet.nanosAsLong``; the batch
    loader and the stream reader both turn it into a timestamp truncated
    to microseconds. The testdata stores TIMESTAMP(MICROS), so only this
    test runs the BIGINT branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from openmaptiles_zh_modifier_spark.registry import load
    from openmaptiles_zh_modifier_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
    )

    nanos = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "user_id": pa.array([10, 11], pa.int64()),
                "event_type": ["view", "click"],
                "ts": pa.array(nanos, pa.timestamp("ns")),
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        tmp_path / "events.parquet",
    )
    sf = str(tmp_path)
    assert dict(spark.read.parquet(f"{sf}/events.parquet").dtypes)["ts"] == "bigint"
    stream = run_to_memory(read_events_stream(spark, sf), output_mode="append")
    for df in (load(spark, sf, "events"), stream):
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
        assert got == [n // 1000 for n in nanos]
