"""Statistics and record linkage: Spearman rank correlation (average-rank
tie handling), autocorrelation over a dense hour grid, Gini concentration
in exact integer cents, Jaro-Winkler linkage scoring against DuckDB's
native implementation, Kendall tau-b over blocked pair joins, bucket-mean
quantile normalization across document sources, a sequential probability
ratio test (Wald SPRT) monitor over an A/B event stream, Theil-Sen trend
slopes and Fellegi-Sunter match weights.

Engine-surface extensions (the reference has no statistics surface at
all — SURVEY.md §2.3/§2.4 document the absence); these fill the gaps a
training-data curation pipeline hits: monotone association, temporal
self-similarity, source concentration and fuzzy identity resolution.

Float discipline: every aggregate that crosses engines is EXACT integer
arithmetic (counts, cents, micro-units) until a final scalar op
(sqrt/divide) both engines execute identically on identical inputs;
constants that would otherwise come from each engine's libm (the SPRT
log-likelihood increments) are embedded as shared DECIMAL LITERALS so
both engines parse the same double.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the PEP-563
                     # stringified type hints against module globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openmaptiles_zh_modifier_spark.registry import load, register


@register(
    "q_spearman_corr",
    oracle="""
WITH ranked AS (
  SELECT l_returnflag,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
             / 2.0 AS rq,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
              - 1) / 2.0 AS rp
  FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CORR(rq, rp), 6) AS spearman
FROM ranked
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation with AVERAGE-rank tie handling (the
    textbook definition — l_quantity has only 50 distinct values, so
    min-rank ties would visibly bias the statistic): per tie group the
    rank is min_rank + (ties-1)/2, built from RANK() + a per-value
    COUNT() window, then Pearson over the ranks. Shared expression on
    both engines; the rank arithmetic is exact (integers + .5), so the
    only float is the final corr, rounded 6dp per repo discipline.

    Scale shape: two window passes partitioned by the group key (no
    global sort — ranks are per-group), then a combinable corr
    aggregate. Skewed groups ride AQE; a 100 TB run would range-
    partition within group exactly like the engine's percentile ops."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def avg_rank(col: str):
        w_rank = Window.partitionBy("l_returnflag").orderBy(col)
        w_ties = Window.partitionBy("l_returnflag", col)
        return F.rank().over(w_rank) + (F.count(F.lit(1)).over(w_ties) - 1) / 2.0

    ranked = li.select(
        "l_returnflag",
        avg_rank("l_quantity").alias("rq"),
        avg_rank("l_extendedprice").alias("rp"),
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.corr("rq", "rp"), 6).alias("spearman"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_acf_lags",
    oracle="""
WITH hours AS (
  SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events GROUP BY 1
), grid AS (
  SELECT UNNEST(generate_series(
    (SELECT MIN(h) FROM hours),
    (SELECT MAX(h) FROM hours),
    INTERVAL 1 HOUR)) AS h
), x AS (
  SELECT grid.h, COALESCE(hours.c, 0) AS c
  FROM grid LEFT JOIN hours ON grid.h = hours.h
), lagged AS (
  SELECT c,
         LAG(c, 1)  OVER (ORDER BY h) AS c1,
         LAG(c, 2)  OVER (ORDER BY h) AS c2,
         LAG(c, 3)  OVER (ORDER BY h) AS c3,
         LAG(c, 24) OVER (ORDER BY h) AS c24
  FROM x
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS lag, CAST(COUNT(c1) AS BIGINT) AS n_pairs,
         ROUND(CORR(c, c1), 6) AS acf FROM lagged
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(COUNT(c2) AS BIGINT),
         ROUND(CORR(c, c2), 6) FROM lagged
  UNION ALL
  SELECT CAST(3 AS BIGINT), CAST(COUNT(c3) AS BIGINT),
         ROUND(CORR(c, c3), 6) FROM lagged
  UNION ALL
  SELECT CAST(24 AS BIGINT), CAST(COUNT(c24) AS BIGINT),
         ROUND(CORR(c, c24), 6) FROM lagged
)
ORDER BY lag
""",
)
def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1/2/3/24
    (the 24 lag reads the diurnal cycle). The series is DENSIFIED first
    — a sequence() hour grid left-joined with the counts, zero-filled —
    so a quiet hour contributes a real 0 instead of silently shrinking
    the lag alignment (the same grid discipline as
    q_resample_interpolate; grid size is bounded by the time SPAN, not
    the event count). Lags via one ordered window pass, ACF as Pearson
    corr per lag, rounded 6dp.

    Scale shape: the groupBy(hour) is the only full shuffle; the grid
    and window run over span-many rows (720 here; one executor even at
    a century of hours). At 100 TB the count aggregation is the work
    and it is map-side combinable."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h")
    )
    hours = ev.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    bounds = hours.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    x = grid.join(hours, "h", "left").select(
        "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.orderBy("h")
    lagged = x.select(
        "c",
        F.lag("c", 1).over(w).alias("c1"),
        F.lag("c", 2).over(w).alias("c2"),
        F.lag("c", 3).over(w).alias("c3"),
        F.lag("c", 24).over(w).alias("c24"),
    )

    def leg(lag: int, col: str) -> DataFrame:
        return lagged.agg(
            F.lit(lag).cast("long").alias("lag"),
            F.count(col).alias("n_pairs"),
            F.round(F.corr("c", col), 6).alias("acf"),
        )

    return (
        leg(1, "c1")
        .unionByName(leg(2, "c2"))
        .unionByName(leg(3, "c3"))
        .unionByName(leg(24, "c24"))
        .orderBy("lag")
    )


@register(
    "q_gini_concentration",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT n.n_name, r.cents,
         ROW_NUMBER() OVER (
           PARTITION BY n.n_name ORDER BY r.cents, r.o_custkey) AS i
  FROM rev r
  JOIN customer c ON c.c_custkey = r.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(
         CAST(2 * SUM(i * cents) - (COUNT(*) + 1) * SUM(cents) AS DOUBLE)
         / (COUNT(*) * SUM(cents)), 6) AS gini
FROM ranked
GROUP BY n_name
ORDER BY n_name
""",
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per nation — the standard
    source-concentration audit for a training-data mixture (a nation
    whose corpus revenue is one whale is a sampling hazard). Computed
    by the rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    with x ascending; revenue is converted to EXACT INTEGER CENTS at
    the row level before any aggregation, so every sum is
    order-independent BIGINT arithmetic and the only float is the final
    ratio (rounded 6dp) — the engine's decimal-exactness discipline.
    Ties broken by custkey so the row_number is deterministic.

    Scale shape: groupBy(custkey) shuffle, two BROADCAST joins to the
    dims (customer at sf is small; at 100 TB customer→nation stays a
    broadcast and the custkey agg is the work), one per-nation window
    sort — the partition key is the 25-value nation, each partition a
    local sort, no global order."""
    from pyspark.sql.functions import broadcast

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ranked = (
        rev.join(broadcast(cust), rev.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "cents",
            F.row_number()
            .over(
                Window.partitionBy("n_name").orderBy("cents", "o_custkey")
            )
            .alias("i"),
        )
    )
    n = F.count(F.lit(1))
    return (
        ranked.groupBy("n_name")
        .agg(
            n.alias("n_customers"),
            F.round(
                (
                    2 * F.sum(F.col("i") * F.col("cents"))
                    - (n + 1) * F.sum("cents")
                ).cast("double")
                / (n * F.sum("cents")),
                6,
            ).alias("gini"),
        )
        .orderBy("n_name")
    )


@register(
    "q_jaro_winkler_linkage",
    oracle="""
WITH pairs AS (
  SELECT a.p_brand,
         jaro_winkler_similarity(a.p_name, b.p_name) AS jw
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN jw > 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       CAST(SUM(CAST(ROUND(jw * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_jw_micro,
       ROUND(MAX(jw), 6) AS max_jw
FROM pairs
GROUP BY p_brand
ORDER BY p_brand
""",
)
def q_jaro_winkler_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler record-linkage scoring, verified against DuckDB's
    NATIVE jaro_winkler_similarity — a true second implementation of
    the whole algorithm (match window, half-transpositions, 0.7 boost
    threshold, 4-char prefix, 0.1 scaling), not a replayed formula.
    Candidate pairs are blocked on (p_brand, p_size) — the
    record-linkage discipline every dedup op here follows: the O(n^2)
    stays inside blocks, never the corpus. Per-pair scores fold to
    integer micros before aggregation (bit-identical across engines on
    all tested inputs; the scores are small-rational arithmetic).

    Scale shape: one equi-join on the block key (AQE-handled skew), one
    Arrow-batched pandas UDF over the pair stream — the same shape as
    q_dedup_edit_distance, whose levenshtein is JVM-native; JW has no
    Spark built-in, so this is the documented Python boundary."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        def jaro(a: str, b: str) -> float:
            l1, l2 = len(a), len(b)
            if l1 == 0 and l2 == 0:
                return 1.0
            if l1 == 0 or l2 == 0:
                return 0.0
            md = max(max(l1, l2) // 2 - 1, 0)
            m2 = [False] * l2
            m1 = [False] * l1
            m = 0
            for i, ch in enumerate(a):
                for j in range(max(0, i - md), min(l2, i + md + 1)):
                    if not m2[j] and b[j] == ch:
                        m1[i] = m2[j] = True
                        m += 1
                        break
            if m == 0:
                return 0.0
            t = 0
            j = 0
            for i in range(l1):
                if m1[i]:
                    while not m2[j]:
                        j += 1
                    if a[i] != b[j]:
                        t += 1
                    j += 1
            t //= 2
            return (m / l1 + m / l2 + (m - t) / m) / 3.0

        def jw(a: str, b: str) -> float:
            sim = jaro(a, b)
            p = 0
            for x, y in zip(a[:4], b[:4]):
                if x == y:
                    p += 1
                else:
                    break
            if sim > 0.7:
                sim = sim + 0.1 * p * (1.0 - sim)
            return sim

        return pd.Series([jw(a, b) for a, b in zip(s1, s2)])

    parts = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a = parts.alias("a")
    b = parts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_brand").alias("p_brand"),
        jw_udf(F.col("a.p_name"), F.col("b.p_name")).alias("jw"),
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("jw") > 0.9, 1).otherwise(0)).alias("n_match"),
            F.sum(F.round(F.col("jw") * 1000000).cast("long")).alias(
                "sum_jw_micro"
            ),
            F.round(F.max("jw"), 6).alias("max_jw"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_kendall_tau",
    oracle="""
WITH m AS (
  SELECT n.n_name,
         date_trunc('month', o.o_orderdate) AS mth,
         CAST(COUNT(*) AS BIGINT) AS x,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), p AS (
  SELECT a.n_name,
         CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
  FROM m a JOIN m b ON a.n_name = b.n_name AND a.mth < b.mth
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       CASE WHEN (COUNT(*) - SUM(tx)) * (COUNT(*) - SUM(ty)) > 0 THEN
         ROUND(
           CAST(SUM(conc) - SUM(disc) AS DOUBLE)
           / SQRT(CAST((COUNT(*) - SUM(tx)) AS DOUBLE)
                  * CAST((COUNT(*) - SUM(ty)) AS DOUBLE)), 6)
       END AS tau_b
FROM p
GROUP BY n_name
ORDER BY n_name
""",
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (tie-corrected) between a nation's monthly order
    count and its monthly revenue — the rank-free sibling of
    q_spearman_corr, measuring monotone association without assuming
    rank linearity. The O(m^2) pair enumeration is confined to each
    nation's MONTHLY series (80 points -> ~3.2k pairs/nation), never
    the raw orders: the pre-aggregation is what a 100 TB run shrinks
    through first, exactly the record-linkage blocking discipline.
    tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with n1/n2 the x-/y-tie
    pair counts; every term is an exact integer (counts + cents), the
    only float is the final ratio (identical scalar ops both engines),
    rounded 6dp.

    Scale shape: groupBy((nation, month)) is the one corpus shuffle
    (map-side combinable); the pair self-join is an equi-join on the
    25-value nation key over month-grain rows — thousands of rows per
    group no matter the corpus size."""
    from pyspark.sql.functions import broadcast

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("mth"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y"),
        )
    )
    a, b = m.alias("a"), m.alias("b")
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.y") - F.col("b.y")
    p = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name"))
        & (F.col("a.mth") < F.col("b.mth")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        F.when(dx * dy > 0, 1).otherwise(0).alias("conc"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("disc"),
        F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0).alias("tx"),
        F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0).alias("ty"),
    )
    n0 = F.count(F.lit(1))
    return (
        p.groupBy("n_name")
        .agg(
            n0.alias("n_pairs"),
            F.sum("conc").alias("concordant"),
            F.sum("disc").alias("discordant"),
            F.when(
                (n0 - F.sum("tx")) * (n0 - F.sum("ty")) > 0,
                F.round(
                    (F.sum("conc") - F.sum("disc")).cast("double")
                    / F.sqrt(
                        (n0 - F.sum("tx")).cast("double")
                        * (n0 - F.sum("ty")).cast("double")
                    ),
                    6,
                ),
            ).alias("tau_b"),
        )
        .orderBy("n_name")
    )


@register(
    "q_quantile_normalize",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
         NTILE(20) OVER (PARTITION BY source
                         ORDER BY n_chars, doc_id) AS bucket
  FROM documents
), per_src AS (
  SELECT source, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(FLOOR(CAST(CAST(SUM(n_chars) AS BIGINT) * 1000000 AS DOUBLE)
                    / COUNT(*)) AS BIGINT) AS src_mean_micro
  FROM ranked GROUP BY source, bucket
)
SELECT source, CAST(bucket AS BIGINT) AS bucket, n_docs, src_mean_micro,
       CAST(FLOOR(CAST(SUM(src_mean_micro) OVER (PARTITION BY bucket)
                       AS DOUBLE)
                  / COUNT(*) OVER (PARTITION BY bucket)) AS BIGINT)
         AS qn_target_micro
FROM per_src
ORDER BY source, bucket
""",
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-mean quantile normalization across document sources — the
    batch-effect correction a multi-source training mixture applies so
    one source's length (or score) distribution doesn't dominate:
    each source is cut into 20 equal-frequency buckets (NTILE over a
    deterministic (n_chars, doc_id) order), and each bucket maps onto
    the CROSS-SOURCE target — the unweighted mean of the per-source
    bucket means (each source votes once, regardless of size; the
    textbook quantile-normalization row-mean over the rank matrix,
    coarsened to bucket grain so unequal source sizes need no
    interpolation). Means are folded to exact integer MICRO-units via
    floor(sum*1e6/n) — both engines run the identical double division
    on identical integers, so the floor is bit-stable.

    Scale shape: one window rank per source partition (range-partition
    friendly at 100 TB — no global sort), two combinable aggregates,
    and a 400-row (source x bucket) window for the target. The output
    is the normalization TABLE a curation pass would broadcast-join
    back onto the corpus."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked = docs.select(
        "source",
        "n_chars",
        F.ntile(20)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("bucket"),
    )
    per_src = ranked.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.floor(
            (F.sum("n_chars") * F.lit(1000000)).cast("double")
            / F.count(F.lit(1))
        ).alias("src_mean_micro"),
    )
    wb = Window.partitionBy("bucket")
    return per_src.select(
        "source",
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "src_mean_micro",
        F.floor(
            F.sum("src_mean_micro").over(wb).cast("double")
            / F.count(F.lit(1)).over(wb)
        ).alias("qn_target_micro"),
    ).orderBy("source", "bucket")


# SPRT constants for H0: p = 0.18 vs H1: p = 0.22, alpha = beta = 0.05.
# EMBEDDED DECIMAL LITERALS cast to DOUBLE, not ln() calls: Spark's ln
# goes through java.lang.Math.log and DuckDB's through C libm — they
# are not guaranteed bit-identical, and the crossing comparison would
# inherit the divergence. Both engines parse the same literal and round
# it to the same double; the walk is then integer*double ops executed
# identically on both sides. (The explicit DOUBLE cast also keeps both
# parsers from treating the literal as DECIMAL, whose product
# scale/precision rules differ between the engines.)
_SPRT_C1 = "CAST(0.2006706955 AS DOUBLE)"   # round(ln(0.22/0.18), 10)
_SPRT_C0 = "CAST(-0.0500104206 AS DOUBLE)"  # round(ln(0.78/0.82), 10)
_SPRT_UP = "CAST(2.9444389792 AS DOUBLE)"   # round(ln(0.95/0.05), 10)
_SPRT_LO = "CAST(-2.9444389792 AS DOUBLE)"  # round(ln(0.05/0.95), 10)
# the same four constants as Python doubles (bit-identical to what
# both SQL parsers produce) — the streaming twin folds with these
SPRT_C1_F = float("0.2006706955")
SPRT_C0_F = float("-0.0500104206")
SPRT_UP_F = float("2.9444389792")
SPRT_LO_F = float("-2.9444389792")


@register(
    "q_sprt_monitor",
    oracle=f"""
WITH base AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
         ts, event_id
  FROM events
), walk AS (
  SELECT arm,
         ROW_NUMBER() OVER w AS n,
         SUM(conv) OVER w * {_SPRT_C1}
           + (ROW_NUMBER() OVER w - SUM(conv) OVER w) * {_SPRT_C0} AS llr
  FROM base
  WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), crossed AS (
  SELECT arm, MIN(n) AS n_cross
  FROM walk WHERE llr >= {_SPRT_UP} OR llr <= {_SPRT_LO}
  GROUP BY arm
), totals AS (
  SELECT arm, MAX(n) AS n_obs FROM walk GROUP BY arm
)
SELECT CAST(t.arm AS BIGINT) AS arm,
       CAST(t.n_obs AS BIGINT) AS n_obs,
       CAST(c.n_cross AS BIGINT) AS n_cross,
       ROUND(w.llr, 6) AS llr_cross,
       CASE WHEN c.n_cross IS NULL THEN 'continue'
            WHEN w.llr >= {_SPRT_UP} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM totals t
LEFT JOIN crossed c ON c.arm = t.arm
LEFT JOIN walk w ON w.arm = c.arm AND w.n = c.n_cross
ORDER BY arm
""",
)
def q_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test over an A/B event stream
    (arm = user_id parity, conversion = 'purchase'): the early-stopping
    discipline an online experiment platform runs INSTEAD of a
    fixed-horizon q_welch_ttest — the cumulative log-likelihood ratio
    walks until it exits the (ln(beta/(1-alpha)), ln((1-beta)/alpha))
    corridor, and the monitor reports the first crossing index and the
    verdict per arm. Because each Bernoulli step adds one of two
    CONSTANTS, the walk is n1*c1 + n0*c0 over exact cumulative counts —
    the whole sequential statistic is two integers times two shared
    decimal literals (see _SPRT_C1 note), so the crossing comparison is
    bit-stable across engines.

    Scale shape: one window pass per arm ordered by (ts, event_id) —
    at 100 TB the per-arm cumulative walk is the genuinely sequential
    part and range-partitions by time like the engine's other
    cumulative ops; everything after is a 2-row aggregate."""
    ev = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
        "ts",
        "event_id",
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c1, c0 = F.expr(_SPRT_C1), F.expr(_SPRT_C0)
    up, lo = F.expr(_SPRT_UP), F.expr(_SPRT_LO)
    walk = ev.select(
        "arm",
        F.row_number()
        .over(Window.partitionBy("arm").orderBy("ts", "event_id"))
        .alias("n"),
        (
            F.sum("conv").over(w) * c1
            + (
                F.row_number()
                .over(Window.partitionBy("arm").orderBy("ts", "event_id"))
                - F.sum("conv").over(w)
            )
            * c0
        ).alias("llr"),
    )
    crossed = (
        walk.where((F.col("llr") >= up) | (F.col("llr") <= lo))
        .groupBy("arm")
        .agg(F.min("n").alias("n_cross"))
        .select(F.col("arm").alias("xarm"), "n_cross")
        .alias("cr")
    )
    totals = (
        walk.groupBy("arm").agg(F.max("n").alias("n_obs")).alias("tot")
    )
    wk = walk.alias("wk")
    # broadcast the 2-row crossing table against the full walk (its
    # stats are opaque behind the window aggregate, so Catalyst would
    # otherwise pick SMJ); same for the 2x2 assembly join below
    at = F.broadcast(crossed).join(
        wk,
        (F.col("cr.xarm") == F.col("wk.arm"))
        & (F.col("cr.n_cross") == F.col("wk.n")),
    ).select(
        F.col("cr.xarm").alias("xarm"),
        F.col("cr.n_cross").alias("n_cross"),
        F.col("wk.llr").alias("llr"),
    )
    return (
        totals.join(F.broadcast(at), F.col("tot.arm") == F.col("xarm"), "left")
        .select(
            F.col("tot.arm").cast("long").alias("arm"),
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("n_cross").cast("long").alias("n_cross"),
            F.round("llr", 6).alias("llr_cross"),
            F.when(F.col("n_cross").isNull(), "continue")
            .when(F.col("llr") >= up, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
        .orderBy("arm")
    )


@register(
    "q_theilsen_trend",
    oracle="""
WITH m AS (
  SELECT n.n_name,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) * 12
              + EXTRACT(MONTH FROM o.o_orderdate) AS BIGINT) AS x,
         SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), slopes AS (
  SELECT a.n_name,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS s
  FROM m a JOIN m b ON a.n_name = b.n_name AND a.x < b.x
), sl AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         MEDIAN(s) AS slope
  FROM slopes GROUP BY n_name
)
SELECT sl.n_name, sl.n_pairs,
       sl.slope AS ts_slope,
       MEDIAN(m.y - sl.slope * m.x) AS ts_intercept
FROM sl JOIN m ON m.n_name = sl.n_name
GROUP BY sl.n_name, sl.n_pairs, sl.slope
ORDER BY sl.n_name
""",
)
def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation — the median of all pairwise
    slopes of the monthly revenue series, with the companion median
    intercept (the estimator with a 29% breakdown point, vs OLS's
    zero: one whale month cannot move it — the robust sibling of
    q_ols_trend). Same blocking discipline as q_kendall_tau: the
    O(m^2) pair join lives on the month-grain pre-aggregate, never the
    fact table. Determinism: each slope is ONE double division of
    exact integers (identical op both engines); MEDIAN over an even
    pair count interpolates the two central values identically
    (multiset semantics — no ordering ambiguity). The outputs are
    deliberately UNROUNDED: every value is bit-identical across
    engines by construction, and it was ROUND itself that diverged in
    testing (the two engines break a ...98000049999 decimal tie
    differently) — rounding here would ADD a cross-engine hazard, not
    remove one.

    Scale shape: one combinable groupBy((nation, month)) corpus pass;
    the pair join is equi-keyed on the 25-value nation; the intercept
    pass re-joins the month grain against the 25-row slope table
    (broadcast)."""
    from pyspark.sql.functions import broadcast

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).cast("long").alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
    )
    a, b = m.alias("a"), m.alias("b")
    slopes = a.join(
        b,
        (F.col("a.n_name") == F.col("b.n_name"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.n_name").alias("n_name"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x"))
        ).alias("s"),
    )
    sl = slopes.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.median("s").alias("slope"),
    )
    return (
        m.join(broadcast(sl), "n_name")
        .groupBy("n_name", "n_pairs", "slope")
        .agg(
            F.median(F.col("y") - F.col("slope") * F.col("x")).alias(
                "ts_intercept"
            )
        )
        .select(
            "n_name",
            "n_pairs",
            F.col("slope").alias("ts_slope"),
            "ts_intercept",
        )
        .orderBy("n_name")
    )


# Fellegi-Sunter field weights for H(match) vs H(non-match), embedded
# as shared decimal literals (same rationale as the SPRT constants —
# engine libm ln() is not bit-identical). Source m/u probabilities:
#   name  m=0.90 u=0.05   type  m=0.85 u=0.15   price m=0.70 u=0.10
_FS_W = {
    "name": ("CAST(2.8903717579 AS DOUBLE)", "CAST(-2.2512917986 AS DOUBLE)"),
    "type": ("CAST(1.7346010554 AS DOUBLE)", "CAST(-1.7346010554 AS DOUBLE)"),
    "price": ("CAST(1.9459101491 AS DOUBLE)", "CAST(-1.0986122887 AS DOUBLE)"),
}
_FS_UP = "CAST(3.0 AS DOUBLE)"
_FS_LO = "CAST(-3.0 AS DOUBLE)"


def _fs_weight_sql(field: str, agree_col: str) -> str:
    a, d = _FS_W[field]
    return f"CASE WHEN {agree_col} = 1 THEN {a} ELSE {d} END"


@register(
    "q_fellegi_sunter",
    oracle=f"""
WITH pairs AS (
  SELECT CASE WHEN string_split(a.p_name, ' ')[1]
              = string_split(b.p_name, ' ')[1] THEN 1 ELSE 0 END AS ag_name,
         CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS ag_type,
         CASE WHEN ABS(CAST(ROUND(a.p_retailprice * 100) AS BIGINT)
                       - CAST(ROUND(b.p_retailprice * 100) AS BIGINT))
                   <= 500 THEN 1 ELSE 0 END AS ag_price
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
   AND a.p_partkey < b.p_partkey
), weighted AS (
  SELECT ag_name, ag_type, ag_price,
         {_fs_weight_sql('name', 'ag_name')}
           + {_fs_weight_sql('type', 'ag_type')}
           + {_fs_weight_sql('price', 'ag_price')} AS w
  FROM pairs
)
SELECT CAST(ag_name AS BIGINT) AS ag_name,
       CAST(ag_type AS BIGINT) AS ag_type,
       CAST(ag_price AS BIGINT) AS ag_price,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(MIN(w), 6) AS weight,
       CASE WHEN MIN(w) >= {_FS_UP} THEN 'match'
            WHEN MIN(w) <= {_FS_LO} THEN 'non_match'
            ELSE 'possible' END AS decision
FROM weighted
GROUP BY ag_name, ag_type, ag_price
ORDER BY ag_name, ag_type, ag_price
""",
)
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969 — the
    canonical match/possible/non-match decision rule every modern
    linkage system descends from): blocked candidate pairs are scored
    by a comparison vector (first-name-token, type, price-within-5.00)
    whose per-field agree/disagree weights are ln(m/u) and
    ln((1-m)/(1-u)) under fixed m/u probabilities. The weights are
    EMBEDDED DECIMAL LITERALS (engine ln() is not bit-identical, the
    same discipline as q_sprt_monitor), so every pattern's total weight
    is the identical sum of three shared doubles — bit-stable; counts
    are exact integers. Output: the 8 agreement patterns with their
    pair counts, weights, and the classic two-threshold decision.

    Scale shape: the same (p_brand, p_size) blocking as
    q_jaro_winkler_linkage — O(n^2) confined to blocks — then one
    map-side-combinable 8-group aggregate. At 100 TB the EM step that
    would LEARN m/u is two more passes of the same grouped counts."""
    parts = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice",
    )
    a, b = parts.alias("a"), parts.alias("b")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.when(
            F.split(F.col("a.p_name"), " ")[0]
            == F.split(F.col("b.p_name"), " ")[0],
            1,
        )
        .otherwise(0)
        .alias("ag_name"),
        F.when(F.col("a.p_type") == F.col("b.p_type"), 1)
        .otherwise(0)
        .alias("ag_type"),
        F.when(
            F.abs(
                F.round(F.col("a.p_retailprice") * 100).cast("long")
                - F.round(F.col("b.p_retailprice") * 100).cast("long")
            )
            <= 500,
            1,
        )
        .otherwise(0)
        .alias("ag_price"),
    )
    w = (
        F.when(F.col("ag_name") == 1, F.expr(_FS_W["name"][0]))
        .otherwise(F.expr(_FS_W["name"][1]))
        + F.when(F.col("ag_type") == 1, F.expr(_FS_W["type"][0])).otherwise(
            F.expr(_FS_W["type"][1])
        )
        + F.when(F.col("ag_price") == 1, F.expr(_FS_W["price"][0])).otherwise(
            F.expr(_FS_W["price"][1])
        )
    )
    up, lo = F.expr(_FS_UP), F.expr(_FS_LO)
    return (
        pairs.withColumn("w", w)
        .groupBy("ag_name", "ag_type", "ag_price")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.min("w"), 6).alias("weight"),
            F.when(F.min("w") >= up, "match")
            .when(F.min("w") <= lo, "non_match")
            .otherwise("possible")
            .alias("decision"),
        )
        .select(
            F.col("ag_name").cast("long").alias("ag_name"),
            F.col("ag_type").cast("long").alias("ag_type"),
            F.col("ag_price").cast("long").alias("ag_price"),
            "n_pairs",
            "weight",
            "decision",
        )
        .orderBy("ag_name", "ag_type", "ag_price")
    )
