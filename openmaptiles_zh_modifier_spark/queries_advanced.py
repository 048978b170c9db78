"""Advanced operator queries: as-of join (custom operator) and pivot.

The as-of oracle uses DuckDB's native ASOF JOIN, so the gate proves our
union+window construction implements the standard backward-inclusive
semantics exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.asof_join import asof_join
from openmaptiles_zh_modifier_spark.registry import load, register


@register(
    "q_asof_click_purchase",
    oracle="""
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
),
-- deterministic pick among same-(user, ts) purchases: largest event_id
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM purchases
),
dedup AS (SELECT user_id, ts, event_id, value FROM ranked WHERE rn = 1)
SELECT c.user_id, c.ts, c.event_id,
       p.event_id AS asof_event_id,
       ROUND(p.value, 4) AS asof_value
FROM clicks c
ASOF LEFT JOIN dedup p ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.user_id, c.ts, c.event_id
""",
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the user's most recent purchase at-or-before it.
    One shuffle on user_id; compare with DuckDB's native ASOF JOIN."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        payload_cols=["event_id", "value"],
        tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "asof_event_id",
        F.round("asof_value", 4).alias("asof_value"),
    ).orderBy("user_id", "ts", "event_id")


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_pivot_user_activity",
    oracle=f"""
SELECT user_id,
       {", ".join(
           f"COUNT(*) FILTER (event_type = '{t}') AS n_{t}, "
           f"ROUND(COALESCE(SUM(value) FILTER (event_type = '{t}'), 0), 2) AS sum_{t}"
           for t in _EVENT_TYPES)}
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event types into per-user columns. Explicit value list (no
    extra distinct-scan job) keeps it one shuffle; Catalyst plans pivot as
    a single aggregate with one expression pair per pivot value."""
    ev = load(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("sum"),
        )
    )
    # pivot names columns "<value>_<alias>"; normalize + fill count nulls
    cols = [F.col("user_id")]
    for t in _EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}"))
        cols.append(F.coalesce(F.col(f"{t}_sum"), F.lit(0.0)).alias(f"sum_{t}"))
    return pivoted.select(*cols).orderBy("user_id")


@register(
    "q_pit_feature_join",
    oracle="""
WITH purchases AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
cum AS (
  SELECT user_id, ts, event_id,
         COUNT(*) OVER w AS cum_n,
         SUM(cents) OVER w AS cum_cents
  FROM purchases
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)
),
-- one feature-state row per (user, ts): the LAST update at that instant
state AS (
  SELECT user_id, ts, cum_n, cum_cents FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) AS rn
    FROM cum
  ) WHERE rn = 1
),
clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.event_id,
       CAST(COALESCE(s.cum_n, 0) AS BIGINT) AS n_prior_purchases,
       CAST(COALESCE(s.cum_cents, 0) AS BIGINT) AS prior_spend_cents
FROM clicks c
ASOF LEFT JOIN state s ON c.user_id = s.user_id AND c.ts >= s.ts
ORDER BY c.user_id, c.event_id
""",
)
def q_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — the feature-store primitive
    that keeps training data leakage-free: every click is enriched with
    the user's purchase-derived features (lifetime purchase count and
    spend) EXACTLY as they stood at the click's timestamp, never a
    byte from the future. Mechanically: the purchase stream becomes a
    feature CHANGE LOG (running aggregates per update, collapsed to one
    state row per (user, instant)), and the as-of machinery
    (operators/asof_join.py — union + tag + running-last, one shuffle
    on the key) picks each click's latest state at-or-before it. The
    oracle is DuckDB's native ASOF JOIN over the same state log, so the
    gate proves backward-inclusive PIT semantics exactly.

    Determinism: features fold as exact integer cents in a ROWS frame
    (running accumulation, not an unordered SUM) and ties at one
    instant collapse by event_id before the join.

    Scale shape: the change log is a window over purchases (one shuffle
    on user_id) and the PIT join is the same single-shuffle as-of sort
    — this is precisely the plan a feature platform runs nightly at
    fact-table scale; clicks with no history stay NULL-side and
    COALESCE to zero-state instead of being dropped (left semantics)."""
    from openmaptiles_zh_modifier_spark.operators.asof_join import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = purchases.select(
        "user_id", "ts", "event_id",
        F.count(F.lit(1)).over(w).alias("cum_n"),
        F.sum("cents").over(w).alias("cum_cents"),
    )
    w_last = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    state = (
        cum.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "cum_n", "cum_cents")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        clicks,
        state,
        on="user_id",
        ts="ts",
        payload_cols=["cum_n", "cum_cents"],
        tiebreak="cum_n",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.coalesce("asof_cum_n", F.lit(0)).cast("bigint").alias(
            "n_prior_purchases"
        ),
        F.coalesce("asof_cum_cents", F.lit(0)).cast("bigint").alias(
            "prior_spend_cents"
        ),
    ).orderBy("user_id", "event_id")


# ===========================================================================
# Explicit GROUPING SETS (+ GROUPING() ids), analytic window frames
# (time-RANGE rolling sum, ntile, percent_rank, cume_dist), table-generating
# explode (the UDTF surface of SURVEY.md §2.9), a time-interval self-join on
# events with the bucketed range-join strategy that survives 100 TB (no
# per-key unbounded fanout, no broadcast of a big side), mergeable
# incremental aggregation, exact decimal arithmetic and lateral top-n.
# ===========================================================================

@register(
    "q_grouping_sets",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), (o_orderstatus), ())
ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube, which are
    registered separately) with GROUPING() ids disambiguating the NULL
    placeholder rows. One Expand node multiplies each input row into its
    4 grouping-set copies before a single hash aggregate — one shuffle
    total, same as a plain groupBy."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [
                ["o_orderpriority", "o_orderstatus"],
                ["o_orderpriority"],
                ["o_orderstatus"],
                [],
            ],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
        )
        .orderBy("g_priority", "g_status", "o_orderpriority", "o_orderstatus")
    )


@register(
    "q_window_frames",
    oracle="""
SELECT event_id, user_id,
       ROUND(SUM(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS rolling_1h,
       NTILE(4) OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS quartile,
       ROUND(PERCENT_RANK() OVER (
         PARTITION BY user_id ORDER BY value), 6) AS pct_rank,
       ROUND(CUME_DIST() OVER (
         PARTITION BY user_id ORDER BY value), 6) AS cume
FROM events
WHERE user_id < 40
ORDER BY user_id, event_id
""",
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame-spec coverage: a time-based RANGE frame (rolling 1h
    sum over epoch-micros ordering — value-range frames need a numeric
    sort key in both engines), ntile, percent_rank, cume_dist. All four
    windows share the user_id partitioning, so one exchange feeds every
    Window node; user_id is the natural partition key at any scale (no
    global sort)."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id") < 40)
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = Window.partitionBy("user_id").orderBy("value")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w_range), 4).alias("rolling_1h"),
        F.ntile(4).over(w_seq).alias("quartile"),
        F.round(F.percent_rank().over(w_val), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_val), 6).alias("cume"),
    ).orderBy("user_id", "event_id")


@register(
    "q_explode_tokens",
    oracle="""
SELECT token,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 50
""",
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function surface (SURVEY.md §2.9 UDTF): explode a
    tokenized text column into rows, then aggregate token frequencies —
    the canonical inverted-index / vocabulary build. Generate runs inside
    whole-stage codegen (no Python); the token groupBy is the only
    shuffle. At 100 TB the explode multiplies rows ~1e2, which is why the
    aggregation is partial (map-side combine collapses each partition's
    token counts before the exchange)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ", -1)).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(50)
    )


@register(
    "q_interval_join",
    oracle="""
SELECT p.event_id AS purchase_id,
       COUNT(e.event_id) AS n_prior_views,
       ROUND(COALESCE(SUM(e.value), 0.0), 4) AS prior_view_value
FROM events p
LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.event_type = 'view'
 AND e.ts >= p.ts - INTERVAL 5 MINUTE
 AND e.ts <  p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
ORDER BY purchase_id
""",
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: for each purchase, the views by the same
    user in the preceding 5 minutes.

    Scale strategy — bucketed range join: both sides get a coarse time
    bucket of exactly the interval width (300s); a view can only match
    purchases in its own bucket or the next, so the view side is
    duplicated into those two buckets and the join becomes an EQUI join
    on (user_id, bucket) with the precise range as a residual predicate.
    This keeps the join key-partitioned (sort-merge/shuffle-hash, AQE
    skew-splittable) instead of a nested-loop over each user's full
    history — at 100 TB the per-key work is bounded by 2 buckets, not by
    a user's lifetime event count. left_outer + conditional agg restores
    purchases with zero prior views."""
    ev = load(spark, sf_dir, "events")
    bucket = lambda c: (F.unix_micros(c) / F.lit(300_000_000)).cast("long")  # noqa: E731
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        bucket(F.col("ts")).alias("b"),
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("v_value"),
            bucket(F.col("ts")).alias("vb"),
        )
        .withColumn("b", F.explode(F.array(F.col("vb"), F.col("vb") + 1)))
    )
    in_range = (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES")) & (
        F.col("v_ts") < F.col("p_ts")
    )
    return (
        purchases.join(
            views,
            (F.col("p_user") == F.col("v_user")) & (purchases.b == views.b) & in_range,
            "left_outer",
        )
        .groupBy("purchase_id")
        .agg(
            F.count("v_ts").alias("n_prior_views"),
            F.round(F.coalesce(F.sum("v_value"), F.lit(0.0)), 4).alias(
                "prior_view_value"
            ),
        )
        .orderBy("purchase_id")
    )


# -------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partial states)
# -------------------------------------------------------------------------

@register(
    "q_incremental_agg",
    oracle="""
SELECT o_custkey,
       COUNT(*) AS cnt,
       ROUND(SUM(o_totalprice), 2) AS total,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi,
       FLOOR(100 * ROUND(SUM(o_totalprice), 2) / COUNT(*)) / 100 AS avg_price
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) > 1
ORDER BY o_custkey
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the table arrives as a BASE batch
    plus a DELTA batch (split on o_orderkey % 5 here); each batch is
    reduced to mergeable partial states (count, sum, min, max) and the
    states are merged — never the raw rows. The oracle is the direct
    aggregate over the union, proving state-merge == full recompute.

    This is the incremental shape a 100 TB pipeline runs nightly: the
    base state is a stored table of |keys| rows, only the delta is
    scanned (days, not the full history), and the merge is a groupBy over
    states — all four states here are associative+commutative, the same
    contract Spark's own partial aggregation relies on. AVG is derived
    from (sum, cnt) at finalization — avg itself is NOT mergeable, the
    classic decomposition. avg uses FLOOR-of-cents on the pre-rounded
    sum, not ROUND: sum/cnt of 2-dp money lands systematically on .xx5
    half-way points where the engines' HALF_UP disagree."""
    orders = load(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("s"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )

    base = partial(orders.where(F.col("o_orderkey") % 5 != 0))
    delta = partial(orders.where(F.col("o_orderkey") % 5 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("s").alias("s"),
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    return (
        merged.where(F.col("cnt") > 1)
        .select(
            "o_custkey",
            "cnt",
            F.round("s", 2).alias("total"),
            "lo",
            "hi",
            (F.floor(100 * F.round("s", 2) / F.col("cnt")) / 100).alias("avg_price"),
        )
        .orderBy("o_custkey")
    )


# -------------------------------------------------------------------------
# Exact DECIMAL arithmetic (money without float slack)
# -------------------------------------------------------------------------

@register(
    "q_decimal_exact",
    oracle="""
WITH d AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(price) AS DECIMAL(28,2)) AS total,
       CAST(SUM(CAST(price * 100 AS BIGINT)) // COUNT(*) AS BIGINT) AS avg_cents
FROM d
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money math on the exact-DECIMAL path: prices cast to
    DECIMAL(18,2), summed exactly (no reduction-order slack, no rounding
    discipline needed — the hash matches because the arithmetic IS
    exact), and the average derived in integer cents with integer
    division. This is the financial-reporting mode every other money
    query here avoids by double+ROUND; both paths belong in the engine
    (decimal aggregation costs ~2-3x double in Tungsten but removes the
    entire float-parity problem class).

    Scale shape: plain partial-aggregatable groupBy; decimal(18,2)
    states are 2 longs — still map-side combinable."""
    d = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price").alias("total"),
            F.expr(
                "sum(cast(price * 100 as bigint)) div count(*)"
            ).alias("avg_cents"),
        )
        .orderBy("o_orderpriority")
    )


# -------------------------------------------------------------------------
# LATERAL correlated subquery (top-n per row, SQL surface)
# -------------------------------------------------------------------------

@register(
    "q_lateral_topn",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey % 100 = 0
ORDER BY c.c_custkey, t.o_orderkey
""",
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — per customer, the 2 largest orders —
    running the IDENTICAL SQL text on both engines (the one surface where
    the engine's query language, not the DataFrame API, is the contract).
    Catalyst decorrelates the LATERAL into a ranked join (DeduplicateRight
    + window or rewritten limit), so the executed plan is set-based, not
    nested-loop per row.

    The DataFrame twin of this shape is q_topk_window /
    q_topk_per_group_agg; registering the SQL form proves parser+analyzer
    coverage for correlated table subqueries."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey % 100 = 0
ORDER BY c.c_custkey, t.o_orderkey
"""
    )
