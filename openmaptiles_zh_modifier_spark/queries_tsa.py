"""Round-13 time-series analysis batch: dynamic time warping between
event-type diurnal profiles and an unnormalized integer Haar wavelet
decomposition of the hourly event-count series.

Engine-surface extensions (the reference has no time-series surface).
Both operators keep EVERY value in exact integer arithmetic end to end
— the DTW grid is |a-b| costs over count profiles and the Haar
transform uses the unnormalized (sum, difference) butterfly, so the
cross-engine hash match carries no float discipline at all.

Determinism notes:
- DTW's oracle cannot use a recursive CTE (standard SQL forbids the
  min-aggregation the DP needs inside the recursive term), so it runs
  VALUE ITERATION instead: D_k(i,j) = min(D_{k-1}(i,j), cost(i,j) +
  min of the three predecessors, with 2^62 as the unreachable
  sentinel — adding a cell cost to LONG_MAX would overflow BIGINT),
  unrolled as chained MATERIALIZED CTEs (each round references its
  predecessor four times — plain CTEs inline and the plan explodes
  4^rounds); any
  monotone warping path has length <= n+m-1 steps, so n+m-1 rounds
  reach the fixpoint. The Spark side is the classic row-by-row DP in
  an Arrow-batched pandas UDF — a genuinely independent second
  implementation of the same recurrence (the hash match proves the
  value iteration and the tabular DP agree on every pair).
- Haar levels halve the series length; the butterfly is (left + right,
  left - right) with NO normalization (the 1/sqrt(2) factors are a
  presentation choice; the integer variant is lossless and exact).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (pandas_udf resolves hints at runtime)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openmaptiles_zh_modifier_spark.registry import (
    load,
    local_frame,
    register,
    session_memo,
)

# 2-hour diurnal buckets: 12-point profiles keep the value-iteration
# oracle at 23 unrolled rounds (n+m-1) over 144-cell grids.
DTW_BUCKETS = 12


def _dtw_round_sql(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
d{k} AS MATERIALIZED (
  SELECT c.ta, c.tb, c.i, c.j,
         LEAST(
           COALESCE(p0.v, 4611686018427387904),
           c.cost + LEAST(
             COALESCE(p1.v, CASE WHEN c.i = 1 AND c.j = 1
                                 THEN 0 ELSE 4611686018427387904 END),
             COALESCE(p2.v, 4611686018427387904),
             COALESCE(p3.v, 4611686018427387904))) AS v
  FROM cells c
  LEFT JOIN {prev} p0 ON p0.ta = c.ta AND p0.tb = c.tb
                     AND p0.i = c.i AND p0.j = c.j
  LEFT JOIN {prev} p1 ON p1.ta = c.ta AND p1.tb = c.tb
                     AND p1.i = c.i - 1 AND p1.j = c.j - 1
  LEFT JOIN {prev} p2 ON p2.ta = c.ta AND p2.tb = c.tb
                     AND p2.i = c.i - 1 AND p2.j = c.j
  LEFT JOIN {prev} p3 ON p3.ta = c.ta AND p3.tb = c.tb
                     AND p3.i = c.i AND p3.j = c.j - 1
)"""


def _dtw_oracle() -> str:
    n = DTW_BUCKETS
    rounds = 2 * n - 1
    # d0: only the origin cell is reachable (its three predecessor
    # lookups all miss; the CASE seeds cost(1,1) + 0)
    chain = ",\n".join(_dtw_round_sql(k) for k in range(1, rounds + 1))
    return f"""
WITH prof AS (
  SELECT event_type,
         CAST(EXTRACT(HOUR FROM ts) AS BIGINT) // 2 AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT t.event_type, gs.b
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT UNNEST(generate_series(0, {n - 1})) AS b) gs
), series AS (
  SELECT g.event_type, g.b, COALESCE(p.c, 0) AS c
  FROM grid g LEFT JOIN prof p
    ON p.event_type = g.event_type AND p.b = g.b
), pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b
    ON a.event_type < b.event_type
), cells AS MATERIALIZED (
  SELECT p.ta, p.tb, sa.b + 1 AS i, sb.b + 1 AS j,
         ABS(sa.c - sb.c) AS cost
  FROM pairs p
  JOIN series sa ON sa.event_type = p.ta
  JOIN series sb ON sb.event_type = p.tb
), d0 AS (
  SELECT ta, tb, i, j, CAST(NULL AS BIGINT) AS v FROM cells WHERE 1 = 0
),
{chain}
SELECT ta AS type_a, tb AS type_b, v AS dtw
FROM d{rounds}
WHERE i = {n} AND j = {n}
ORDER BY type_a, type_b
"""


@register("q_dtw_profiles", oracle=_dtw_oracle())
def q_dtw_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping distance between every pair of event-type
    diurnal profiles (12 two-hour buckets of total event counts) — the
    elastic similarity measure fixed-lag measures like q_acf_lags
    cannot express (a profile shifted by an hour is "far" in L1 but
    near in DTW). The entire grid is exact integers (|count-count|
    costs), so the result is bit-stable with no rounding anywhere.

    TWO independent implementations must agree: Spark runs the classic
    O(nm) tabular DP inside an Arrow-batched pandas UDF over the
    10-row pair frame (profiles pre-aggregated and array-packed in
    ascending bucket order), while the oracle — which cannot express
    the DP recursion in a recursive CTE (no aggregation allowed in the
    recursive term) — runs VALUE ITERATION over the cell grid, n+m-1
    unrolled rounds, each a LEAST over the three predecessors.

    Scale shape: the corpus pass is one map-side-combinable
    groupBy((type, bucket)); everything after lives on a
    #types x buckets frame. At 100 TB with millions of series (e.g.
    per-user profiles), the same plan holds with the pair generation
    blocked (band join on profile norms) and the pandas UDF batching
    thousands of small DPs per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.hour("ts").cast("long") / 2).cast("long").alias("b"),
    )
    prof = ev.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(DTW_BUCKETS).select(F.col("id").alias("b"))
        )
    )
    series = (
        grid.join(prof, ["event_type", "b"], "left")
        .select(
            "event_type", "b", F.coalesce("c", F.lit(0)).alias("c")
        )
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("b", "c"))
            ).alias("sc")
        )
        .select(
            "event_type",
            F.expr("transform(sc, x -> x.c)").alias("v"),
        )
    )
    a = series.select(
        F.col("event_type").alias("ta"), F.col("v").alias("va")
    )
    b = series.select(
        F.col("event_type").alias("tb"), F.col("v").alias("vb")
    )

    @pandas_udf("long")
    def dtw_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
        def dtw(x, y):
            n, m = len(x), len(y)
            inf = float("inf")
            d = [[inf] * (m + 1) for _ in range(n + 1)]
            d[0][0] = 0
            for i in range(1, n + 1):
                for j in range(1, m + 1):
                    cost = abs(x[i - 1] - y[j - 1])
                    d[i][j] = cost + min(
                        d[i - 1][j - 1], d[i - 1][j], d[i][j - 1]
                    )
            return int(d[n][m])

        return pd.Series(
            [dtw(list(x), list(y)) for x, y in zip(va, vb)]
        )

    return (
        a.join(b, F.col("ta") < F.col("tb"))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            dtw_udf("va", "vb").alias("dtw"),
        )
        .orderBy("type_a", "type_b")
    )


# Haar: 512 = 2^9 hours (the sf0.1 events span ~720; the window is a
# deterministic prefix so every scale uses the same transform length).
HAAR_LEN = 512
HAAR_LEVELS = 9
HAAR_TOP = 20


def _haar_level_sql(lvl: int) -> str:
    prev = f"a{lvl - 1}"
    return f"""
a{lvl} AS (
  SELECT i // 2 AS i, SUM(c) AS c
  FROM {prev} GROUP BY i // 2
),
det{lvl} AS (
  SELECT i // 2 AS pos,
         SUM(CASE WHEN i % 2 = 0 THEN c ELSE -c END) AS coef
  FROM {prev} GROUP BY i // 2
)"""


def _haar_oracle() -> str:
    chain = ",\n".join(
        _haar_level_sql(l) for l in range(1, HAAR_LEVELS + 1)
    )
    dets = "\nUNION ALL\n".join(
        f"SELECT {l} AS level, pos, coef FROM det{l}"
        for l in range(1, HAAR_LEVELS + 1)
    )
    return f"""
WITH hours AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), idx AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS i, c
  FROM hours
), grid AS (
  SELECT UNNEST(generate_series(0, {HAAR_LEN - 1})) AS i
), a0 AS (
  SELECT CAST(g.i AS BIGINT) AS i, COALESCE(x.c, 0) AS c
  FROM grid g LEFT JOIN idx x ON x.i = g.i
),
{chain},
alldet AS (
{dets}
), ranked AS (
  SELECT level, CAST(pos AS BIGINT) AS pos, CAST(coef AS BIGINT) AS coef,
         ROW_NUMBER() OVER (ORDER BY ABS(coef) DESC, level, pos) AS rk
  FROM alldet
)
SELECT * FROM (
  SELECT CAST(level AS BIGINT) AS level, pos, coef, CAST(rk AS BIGINT) AS rk
  FROM ranked WHERE rk <= {HAAR_TOP}
  UNION ALL
  SELECT CAST(99 AS BIGINT), CAST(0 AS BIGINT),
         CAST(c AS BIGINT), CAST(0 AS BIGINT) FROM a{HAAR_LEVELS}
)
ORDER BY rk, level
"""


@register("q_haar_wavelet", oracle=_haar_oracle())
def q_haar_wavelet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized integer Haar decomposition of the hourly
    event-count series (first {HAAR_LEN} hours, zero-padded): nine
    levels of the (left+right, left-right) butterfly, then the top-20
    detail coefficients by |energy| plus the final approximation (the
    series total) tagged level 99 — the multiresolution change/burst
    detector (a big |coef| at level L localizes a rate shift inside a
    2^L-hour window, the wavelet complement of q_cusum_changepoint's
    single global changepoint). Everything is BIGINT: the unnormalized
    butterfly is lossless integer arithmetic, so the cross-engine hash
    carries no float at all.

    Scale shape: one combinable groupBy(hour) corpus pass; the
    transform runs on the span-bounded series (512 rows), nine
    groupBy(i div 2) aggregates that a single executor evaluates in
    microseconds — at 100 TB with per-entity series, the same level
    loop runs partitioned by entity, each butterfly a combinable
    aggregate on (entity, i div 2)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h")
    )
    hours = ev.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    idx = hours.select(
        (F.row_number().over(Window.orderBy("h")) - 1)
        .cast("long")
        .alias("i"),
        "c",
    )
    # The butterfly runs DRIVER-SIDE over the collected series — the
    # transform length is the fixed {HAAR_LEN} BY CONSTRUCTION (a
    # deterministic prefix window, zero-padded; the corpus-sized work
    # is the one combinable groupBy(hour) pass above) and everything is
    # lossless BIGINT, so there is no float-order question at all. The
    # previous in-Spark level loop embedded the corpus-agg lineage into
    # EVERY det level's subtree (det_l re-plans a_{l-1} ⊃ ... ⊃ a0 —
    # ~10 duplicated corpus aggregations in the final plan, 1.6 s
    # warm); the same 1022 integer adds in Python are free. The top-20
    # ranking window stays in Spark.
    def collect_series():
        series = [0] * HAAR_LEN
        for r in idx.where(F.col("i") < HAAR_LEN).collect():
            series[r.i] = r.c
        return tuple(series)

    # memoized per (session, sf_dir): a warm construction runs no job
    series = session_memo(spark, ("haar_series", sf_dir), collect_series)
    det_rows = []
    a_c = series
    for lvl in range(1, HAAR_LEVELS + 1):
        nxt = [
            a_c[2 * p] + a_c[2 * p + 1] for p in range(len(a_c) // 2)
        ]
        det_rows.extend(
            (lvl, p, a_c[2 * p] - a_c[2 * p + 1])
            for p in range(len(a_c) // 2)
        )
        a_c = nxt
    # top-{HAAR_TOP} by (|coef| DESC, level, pos) is a deterministic
    # integer sort over the 511 coefficients — done here so only 21
    # rows enter Spark (a 511-row createDataFrame alone measured 0.43 s
    # through the pickled-parallelize path, plus a global sort window)
    det_rows.sort(key=lambda r: (-abs(r[2]), r[0], r[1]))
    out = [
        (lvl, pos, coef, rk)
        for rk, (lvl, pos, coef) in enumerate(det_rows[:HAAR_TOP], 1)
    ]
    out.append((99, 0, a_c[0], 0))
    return local_frame(
        spark, out, "level long, pos long, coef long, rk long"
    ).orderBy("rk", "level")


@register(
    "q_isotonic_fit",
    oracle="""
WITH m AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS x,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS ycents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
), idx AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY x) AS BIGINT) AS i, x,
         ycents, n
  FROM m
), pre AS (
  SELECT i, x, ycents, n,
         SUM(ycents) OVER (ORDER BY i) AS sy,
         SUM(n) OVER (ORDER BY i) AS sn
  FROM idx
), segavg AS (
  -- mean of the weighted block [j..k]: one double division of exact
  -- integer sums, the SAME division PAVA performs for its pools
  SELECT j.i AS j, k.i AS k,
         CAST(k.sy - j.sy + j.ycents AS DOUBLE)
           / (k.sn - j.sn + j.n) AS avgv
  FROM pre j JOIN pre k ON j.i <= k.i
), minover AS (
  -- min_{k >= i} over blocks starting at j: for each (i, j <= i)
  SELECT p.i, s.j, MIN(s.avgv) AS mn
  FROM pre p JOIN segavg s ON s.j <= p.i AND s.k >= p.i
  GROUP BY p.i, s.j
)
SELECT p.x AS mth_index, p.n AS n_orders,
       MAX(mo.mn) AS iso_fit_cents
FROM pre p JOIN minover mo ON mo.i = p.i
GROUP BY p.i, p.x, p.n
ORDER BY mth_index
""",
)
def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of the monthly mean order value
    (cents) against time — the shape-constrained calibration fit every
    probability-calibration pipeline runs (the non-parametric sibling
    of q_nb_calibration's binning). TWO independent algorithms must
    agree bit-for-bit: Spark runs POOL-ADJACENT-VIOLATORS inside
    applyInPandas (the O(n) stack algorithm), while the oracle
    evaluates the MINIMAX characterization — fitted[i] = max_{j<=i}
    min_{k>=i} weightedMean(y[j..k]) — which is the textbook duality
    theorem for isotonic regression, O(n^3) but set-based. Both sides'
    block means are the same single double division of exact integer
    (cents, count) sums, so when the minimax picks PAVA's optimal
    block the VALUES are bit-identical and the output needs no
    rounding at all.

    Scale shape: the corpus pass is one combinable groupBy(month); the
    fit runs on the span-bounded series (80 points). At 100 TB with
    per-segment calibration curves, PAVA runs per group inside the
    same applyInPandas and the month grain keeps every group small."""
    import pandas as pd

    orders = load(spark, sf_dir, "orders").select(
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = orders.groupBy("x").agg(
        F.sum("cents").alias("ycents"), F.count(F.lit(1)).alias("n")
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x").reset_index(drop=True)
        # stack of blocks: (sum_cents, weight, count_of_points)
        blocks: list[list[int]] = []
        for _, r in pdf.iterrows():
            blocks.append([int(r.ycents), int(r.n), 1])
            while len(blocks) >= 2 and (
                blocks[-2][0] * blocks[-1][1]
                >= blocks[-1][0] * blocks[-2][1]
            ):
                # violator: pool (exact integer cross-mult comparison —
                # no float enters the merge decision)
                s2, w2, c2 = blocks.pop()
                blocks[-1][0] += s2
                blocks[-1][1] += w2
                blocks[-1][2] += c2
        fit = []
        for s, w, c in blocks:
            fit += [float(s) / w] * c
        out = pdf[["x", "n"]].copy()
        out.columns = ["mth_index", "n_orders"]
        out["iso_fit_cents"] = fit
        return out

    return (
        m.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            pava,
            schema="mth_index long, n_orders long, iso_fit_cents double",
        )
        .orderBy("mth_index")
    )
