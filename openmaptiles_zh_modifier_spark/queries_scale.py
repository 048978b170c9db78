"""Scale-infrastructure operators: bloom-filter runtime join pruning and
Merkle-style replica diffing. Both are the 100 TB shapes — a compact
summary structure is built once (small, broadcastable), and the full-size
side is processed with a narrow pass against it instead of a wide join.

Portability: every bit position comes from the md5-derived portable h32
(functions/text.py), masks stay below 2^32 (no BIGINT shift overflow in
either engine), and checksums are integer XOR folds — bit-identical
across engines by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import h32, h32_sql
from openmaptiles_zh_modifier_spark.registry import (
    load,
    memo_frame,
    register,
    session_memo,
)

# ---------------------------------------------------------------- bloom ----

BLOOM_BITS = 1 << 16  # 65536 bits = 2048 x 32-bit words
BLOOM_K = 3
BLOOM_PRICE = 450_000.0  # orders above this form the filter's key set


def _hpos_spark(key: Column, i: int) -> Column:
    return h32(F.concat(key.cast("string"), F.lit(f"#{i}"))) % BLOOM_BITS


def _hpos_sql(key: str, i: int) -> str:
    salted = key + " || '#" + str(i) + "'"
    return f"({h32_sql(salted)} % {BLOOM_BITS})"


@register(
    "q_bloom_join_prune",
    oracle=f"""
WITH keys AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > {BLOOM_PRICE}
),
bits AS (
  SELECT p // 32 AS word, bit_or(1 << (p % 32)) AS bm
  FROM (
    {' UNION ALL '.join(f"SELECT {_hpos_sql('o_orderkey::VARCHAR', i)} AS p FROM keys" for i in range(BLOOM_K))}
  )
  GROUP BY 1
),
probe AS (
  SELECT l.l_orderkey, l.l_returnflag,
         {' AND '.join(f"COALESCE(b{i}.bm, 0) & (1 << ({_hpos_sql('l.l_orderkey::VARCHAR', i)} % 32)) != 0" for i in range(BLOOM_K))}
           AS pass,
         o.o_totalprice > {BLOOM_PRICE} AS truth
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  {' '.join(f"LEFT JOIN bits b{i} ON b{i}.word = {_hpos_sql('l.l_orderkey::VARCHAR', i)} // 32" for i in range(BLOOM_K))}
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE pass) AS n_pass,
       COUNT(*) FILTER (WHERE truth) AS n_true,
       COUNT(*) FILTER (WHERE pass AND NOT truth) AS n_false_pos,
       COUNT(*) FILTER (WHERE truth AND NOT pass) AS n_false_neg
FROM probe
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning, built from scratch with portable
    hashing: the selective side's keys are folded into a {BLOOM_BITS}-bit
    bloom ({BLOOM_K} hashes) stored as <=2048 (word, bitmask) rows via a
    map-side-combinable ``bit_or`` aggregate; the fact side then passes a
    pure narrow filter — {BLOOM_K} broadcast word-lookups and bit tests —
    BEFORE any shuffle. The report counts, per returnflag, how many rows
    pass, how many truly match, and the false-positive overhead;
    false-negatives must be 0 by construction (the oracle proves it).

    This is what Spark's own runtime-filter / Delta bloom indexes do
    internally; building it from relational primitives makes the
    mechanism testable and engine-portable. At 100 TB the bloom build
    reads only the dim side, the probe is embedded in the fact scan
    (no exchange), and the downstream join sees ~selectivity x rows."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    keys = orders.where(F.col("o_totalprice") > BLOOM_PRICE).select("o_orderkey")
    positions = keys.select(
        F.explode(
            F.array(*[_hpos_spark(F.col("o_orderkey"), i) for i in range(BLOOM_K)])
        ).alias("p")
    )
    # NB: Python F.shiftleft requires a literal count; SQL shiftleft takes
    # expressions for both operands — hence F.expr here and below.
    bits = positions.groupBy(F.floor(F.col("p") / 32).alias("word")).agg(
        F.bit_or(F.expr("shiftleft(1, cast(p % 32 as int))")).alias("bm")
    )
    probe = li.join(
        F.broadcast(orders.select("o_orderkey", "o_totalprice")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_returnflag",
        (F.col("o_totalprice") > BLOOM_PRICE).alias("truth"),
    )
    pass_cond = F.lit(True)
    for i in range(BLOOM_K):
        probe = probe.withColumn(
            f"pos{i}", _hpos_spark(F.col("l_orderkey"), i)
        )
        b = bits.select(
            F.col("word").alias(f"word{i}"), F.col("bm").alias(f"bm{i}")
        )
        probe = probe.join(
            F.broadcast(b),
            F.floor(F.col(f"pos{i}") / 32) == F.col(f"word{i}"),
            "left",
        )
        hit = (
            F.coalesce(F.col(f"bm{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(1, cast(pos{i} % 32 as int))")
            )
            != 0
        )
        pass_cond = pass_cond & hit
    return (
        probe.withColumn("pass", pass_cond)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("pass")).alias("n_pass"),
            F.count_if(F.col("truth")).alias("n_true"),
            F.count_if(F.col("pass") & ~F.col("truth")).alias("n_false_pos"),
            F.count_if(F.col("truth") & ~F.col("pass")).alias("n_false_neg"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------------- tablediff ---

DIFF_BUCKETS = 256
DRIFT_MOD = 97  # keys divisible by this get +1.00 price drift in replica B


@register(
    "q_tablediff_checksum",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey AS k, o_orderkey % {DIFF_BUCKETS} AS bucket,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
v2 AS (
  SELECT k, bucket,
         CASE WHEN k % {DRIFT_MOD} = 0 THEN cents + 100 ELSE cents END AS cents
  FROM v1
),
c1 AS (SELECT bucket, bit_xor({h32_sql("k::VARCHAR || ':' || cents::VARCHAR")}) AS cs
       FROM v1 GROUP BY bucket),
c2 AS (SELECT bucket, bit_xor({h32_sql("k::VARCHAR || ':' || cents::VARCHAR")}) AS cs
       FROM v2 GROUP BY bucket),
bad AS (
  SELECT c1.bucket FROM c1 JOIN c2 USING (bucket) WHERE c1.cs <> c2.cs
)
SELECT v1.k AS o_orderkey, v1.bucket, v1.cents AS cents_a, v2.cents AS cents_b
FROM v1 JOIN v2 ON v1.k = v2.k
JOIN bad ON bad.bucket = v1.bucket
WHERE v1.cents <> v2.cents
ORDER BY o_orderkey
""",
)
def q_tablediff_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style replica diff: two table versions (B carries a
    deterministic price drift on keys % {DRIFT_MOD} == 0) are each
    reduced to {DIFF_BUCKETS} per-bucket XOR checksums of portable row
    hashes; only buckets whose checksums disagree are re-scanned row-by-
    row for the actual changed keys.

    Scale rationale: comparing two 100 TB replicas row-by-row is a full
    shuffle join of both; the checksum pass is a map-side-combinable
    aggregate producing {DIFF_BUCKETS} rows per side (XOR is
    associative+commutative — order-free), and the row-level join runs
    only on the O(changed) buckets — with bucket-partitioned storage
    that's partition pruning, reading ~1/{DIFF_BUCKETS} of each replica
    per bad bucket. Deepen the tree (bucket -> sub-bucket) for
    logarithmic drill-down exactly like anti-entropy repair in Dynamo-
    style stores. Row hash uses integer cents, never double-to-string
    (engines format doubles differently)."""
    orders = load(spark, sf_dir, "orders")
    v1 = orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % DIFF_BUCKETS).alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v2 = v1.select(
        "k",
        "bucket",
        F.when(F.col("k") % DRIFT_MOD == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )

    def checksums(v: DataFrame) -> DataFrame:
        rh = h32(
            F.concat(
                F.col("k").cast("string"), F.lit(":"), F.col("cents").cast("string")
            )
        )
        return v.groupBy("bucket").agg(F.bit_xor(rh).alias("cs"))

    bad = (
        checksums(v1)
        .alias("a")
        .join(checksums(v2).alias("b"), "bucket")
        .where(F.col("a.cs") != F.col("b.cs"))
        .select("bucket")
    )
    # prune BOTH replicas to the bad buckets before the row-level join
    # (k equality implies bucket equality, so the extra semi-filter on
    # the v2 side cannot change the result — it only keeps the join
    # shuffle O(changed buckets) on both sides, which is the operator's
    # documented design; previously v2 shipped in full)
    v2_bad = v2.join(F.broadcast(bad), "bucket").select(
        F.col("k").alias("k2"), F.col("cents").alias("cents_b")
    )
    return (
        v1.alias("x")
        .join(F.broadcast(bad), "bucket")
        .join(
            v2_bad,
            F.col("x.k") == F.col("k2"),
        )
        .where(F.col("x.cents") != F.col("cents_b"))
        .select(
            F.col("x.k").alias("o_orderkey"),
            "bucket",
            F.col("x.cents").alias("cents_a"),
            "cents_b",
        )
        .orderBy("o_orderkey")
    )


# ------------------------------------------------------- gdpr cascade ------

ERASE_MOD = 1000  # customers with c_custkey % this == 0 request erasure


@register(
    "q_gdpr_cascade",
    oracle=f"""
WITH victims AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {ERASE_MOD} = 0
),
del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM victims)
),
del_li AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)
)
SELECT 'customer' AS tbl,
       (SELECT COUNT(*) FROM victims) AS n_deleted,
       (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM victims)
         AS n_retained
UNION ALL
SELECT 'lineitem',
       (SELECT COUNT(*) FROM del_li),
       (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM del_li)
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM del_orders),
       (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM del_orders)
ORDER BY tbl
""",
)
def q_gdpr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: a deletion request set on the root
    entity (customers) is propagated through the foreign-key chain
    (orders -> lineitem) with semi-joins, producing the per-table
    deleted/retained manifest a compliance run must log BEFORE the
    destructive write (which would then be anti-join rewrites or Delta
    DELETEs of exactly these row sets).

    Scale shape: the victim set is tiny and broadcasts; each fact table
    is one narrow semi-join scan — no shuffle of the facts themselves.
    The deepest child (lineitem) semi-joins the *derived* order-key set,
    which stays broadcastable because deletions are a sliver of the
    keyspace; were it not, the cascade becomes a shuffle semi-join and
    still never materializes the deleted rows.

    Lazy single plan: the six counts are one-row aggregates cross-joined
    into one row (each cross join is against a broadcast singleton), then
    unpivoted into the three-row manifest by exploding an array of
    structs over that one row — nothing executes at construction, one
    action runs everything. The two frames referenced by more than one
    subtree (victims, del_orders) sit under ``memo_frame`` so the
    duplicated subtrees collapse onto one cached intermediate instead of
    re-scanning their inputs per consumer."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    victims = memo_frame(
        spark,
        f"gdpr_victims:{sf_dir}",
        lambda: cust.where(F.col("c_custkey") % ERASE_MOD == 0).select("c_custkey"),
    )
    del_orders = memo_frame(
        spark,
        f"gdpr_del_orders:{sf_dir}",
        lambda: orders.join(
            F.broadcast(victims), orders.o_custkey == victims.c_custkey, "left_semi"
        ).select("o_orderkey"),
    )
    del_li = li.join(
        F.broadcast(del_orders), li.l_orderkey == del_orders.o_orderkey, "left_semi"
    )

    counts = (
        victims.agg(F.count("*").alias("n_v"))
        .crossJoin(cust.agg(F.count("*").alias("n_c")))
        .crossJoin(del_orders.agg(F.count("*").alias("n_do")))
        .crossJoin(orders.agg(F.count("*").alias("n_o")))
        .crossJoin(del_li.agg(F.count("*").alias("n_dl")))
        .crossJoin(li.agg(F.count("*").alias("n_l")))
    )

    def entry(tbl: str, deleted: str, total: str) -> Column:
        return F.struct(
            F.lit(tbl).alias("tbl"),
            F.col(deleted).alias("n_deleted"),
            (F.col(total) - F.col(deleted)).alias("n_retained"),
        )

    return (
        counts.select(
            F.explode(
                F.array(
                    entry("customer", "n_v", "n_c"),
                    entry("lineitem", "n_dl", "n_l"),
                    entry("orders", "n_do", "n_o"),
                )
            ).alias("m")
        )
        .select("m.*")
        .orderBy("tbl")
    )


# ------------------------------------------------------------- z-order -----

Z_BITS = 16
Z_FILES = 16  # simulated clustered-file count


def _zvalue_sql(d1: str, d2: str) -> str:
    terms = []
    for i in range(Z_BITS):
        # full parens: << binds looser than + in DuckDB (C-style precedence)
        terms.append(f"((({d1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({d2} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _zvalue_spark(d1: Column, d2: Column) -> Column:
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z + F.shiftleft(F.shiftright(d1, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(d2, i).bitwiseAND(1), 2 * i + 1)
    return z


@register(
    "q_zorder_layout",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey,
         o_custkey % {1 << Z_BITS} AS d1,
         CAST(epoch_us(o_orderdate) // 86400000000 % {1 << Z_BITS} AS BIGINT)
           AS d2
  FROM orders
),
z AS (
  SELECT *, {_zvalue_sql('d1', 'd2')} AS zval FROM d
),
f AS (
  SELECT *, NTILE({Z_FILES}) OVER (ORDER BY zval, o_orderkey) AS file_id
  FROM z
)
SELECT file_id, COUNT(*) AS n,
       MIN(d1) AS d1_lo, MAX(d1) AS d1_hi,
       MIN(d2) AS d2_lo, MAX(d2) AS d2_hi,
       MIN(zval) AS z_lo, MAX(zval) AS z_hi
FROM f GROUP BY file_id ORDER BY file_id
""",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering layout: interleave the bits of
    two query dimensions (customer, order-day) into one z-value, split
    the table into {Z_FILES} equal z-ranges ("files"), and report each
    file's min/max envelope on BOTH dimensions — the footer stats a
    lake's data-skipping uses. Sorting by a single column bounds only
    that column per file; the space-filling curve bounds both, so
    predicates on EITHER dimension prune files.

    The bit-interleave is pure integer shift/mask arithmetic (identical
    on both engines); file assignment is ntile over (zval, key) — at
    100 TB that is ``repartitionByRange(zval)`` + per-file parquet
    min/max footers, and this query's output is exactly the skipping
    index. Delta/Iceberg OPTIMIZE ZORDER BY is this same curve."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % (1 << Z_BITS)).alias("d1"),
        (F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86400000000) % (1 << Z_BITS))
        .cast("long")
        .alias("d2"),
    )
    z = d.withColumn("zval", _zvalue_spark(F.col("d1"), F.col("d2")))
    w = Window.orderBy("zval", "o_orderkey")
    return (
        z.withColumn("file_id", F.ntile(Z_FILES).over(w))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("d1").alias("d1_lo"),
            F.max("d1").alias("d1_hi"),
            F.min("d2").alias("d2_lo"),
            F.max("d2").alias("d2_hi"),
            F.min("zval").alias("z_lo"),
            F.max("zval").alias("z_hi"),
        )
        .orderBy("file_id")
    )


# ------------------------------------------------------------ contiguous ids

IDS_BUCKETS = 64  # logical buckets; P >> executor count at scale


@register(
    "q_assign_ids",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source,
         {h32_sql('CAST(doc_id AS VARCHAR)')} AS h
  FROM documents
),
b AS (SELECT doc_id, source, h, h % {IDS_BUCKETS} AS pid FROM keyed)
SELECT doc_id, source,
       CAST(ROW_NUMBER() OVER (ORDER BY pid, h, doc_id) AS BIGINT) AS row_id
FROM b
ORDER BY row_id
""",
)
def q_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids (1..N, no gaps) without a global sort —
    the pretraining-shard / example-numbering primitive. A naive
    ``row_number() OVER (ORDER BY ...)`` funnels every row through ONE
    reducer; ``monotonically_increasing_id`` is gap-ridden and
    partitioning-dependent; ``zipWithIndex`` is an RDD detour. This is
    the two-phase design that scales: (1) bucket rows by a deterministic
    uniform hash (pid = h32(key) % {IDS_BUCKETS}), (2) count rows per
    bucket — a {IDS_BUCKETS}-row aggregate — and prefix-sum the counts
    into bucket offsets, (3) row_number WITHIN each bucket (one shuffle,
    in-bucket sort bounded by N/{IDS_BUCKETS}) plus the broadcast offset.
    The resulting order is (bucket, hash, key) — a deterministic total
    order that is intentionally NOT the natural key order, because
    hash-order numbering has no hot range and doubles as a shuffle
    (training wants example order decorrelated from source order anyway).

    The whole thing is ONE lazy plan: offsets come from a window over the
    {IDS_BUCKETS}-row count table (single-partition is fine at that
    cardinality), broadcast-joined back on pid. The oracle states the
    same total order as one global ROW_NUMBER — the gate proves the
    distributed two-phase construction equals the single-reducer
    semantics it replaces. Implementation: the reusable
    ``operators.ids.assign_contiguous_ids`` (property-tested on seeded
    random frames beyond this oracle pairing)."""
    from openmaptiles_zh_modifier_spark.operators.ids import (
        assign_contiguous_ids,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return assign_contiguous_ids(
        docs, "doc_id", n_buckets=IDS_BUCKETS
    ).select("doc_id", "source", "row_id").orderBy("row_id")


# ------------------------------------------------------------ column stats

_STATS_COLS = [  # (name, SQL expression producing a STRING min/max safely)
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderdate", "strftime(o_orderdate, '%Y-%m-%d')"),
]


@register(
    "q_column_stats",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
{' UNION ALL '.join(
    f'''SELECT '{c}' AS column_name, n.n_rows,
        COUNT(*) - COUNT({c}) AS n_null,
        COUNT(DISTINCT {c}) AS n_distinct,
        MIN({e}) AS min_val, MAX({e}) AS max_val
    FROM orders CROSS JOIN n GROUP BY n.n_rows'''
    for c, e in _STATS_COLS)}
ORDER BY column_name
""",
)
def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics over ``orders`` — row count, null
    count, exact distinct count, and min/max per column: the stats a
    cost-based optimizer feeds on (join-order decisions, broadcast
    thresholds) and the first report any data-quality dashboard shows.
    Values are surfaced as strings via SAFE casts only (integers, dates
    as ISO, strings verbatim) — float-to-string formatting differs
    across engines and is deliberately excluded.

    Scale shape: ONE scan computes every column's aggregates
    side-by-side (count/count-distinct/min/max are all mergeable; Spark
    plans a single aggregate with distinct-expand, not one scan per
    column), then the per-column rows are five trivial projections of
    that single row unioned — NOT a stack() generator: putting Generate
    on top of the wide multi-distinct aggregate measured 10x slower
    (2.1 s vs 0.2 s warm at sf0.1; the generator blocks the aggregate's
    codegen path), while the union's five references to the one-row
    aggregate are exchange-reused. The oracle spells it as a UNION ALL
    of per-column aggregates — same result, the one-scan version is the
    point of doing it in the engine. Exact distinct at 100 TB would
    downgrade to approx_count_distinct (the HLL path q_approx_sketches
    rates)."""
    orders = load(spark, sf_dir, "orders")
    min_max_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "o_orderdate": F.date_format("o_orderdate", "yyyy-MM-dd"),
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, _e in _STATS_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(min_max_exprs[c]).alias(f"{c}__min"),
            F.max(min_max_exprs[c]).alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    rows = None
    for c, _e in _STATS_COLS:
        br = one.select(
            F.lit(c).alias("column_name"),
            "n_rows",
            F.col(f"{c}__null").alias("n_null"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        rows = br if rows is None else rows.unionByName(br)
    return rows.orderBy("column_name")


# ---------------------------------------------------------------------------
# Join-key skew audit: "will this key skew a shuffle?" pre-flight report
# ---------------------------------------------------------------------------


@register(
    "q_skew_audit",
    oracle="""
WITH kc AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f
  FROM orders GROUP BY 1
),
hist AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS m FROM kc GROUP BY 1),
pre AS (
  SELECT f, m,
         SUM(m) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS cum_keys,
         SUM(f * m) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS cum_rows
  FROM hist
),
tot AS (
  SELECT CAST(SUM(f * m) AS BIGINT) AS n_rows,
         CAST(SUM(m) AS BIGINT) AS n_keys,
         CAST(MAX(f) AS BIGINT) AS max_f
  FROM hist
),
-- Gini from the frequency histogram: keys sorted by f ascending occupy
-- rank run [cum_keys-m+1, cum_keys]; sum of ranks in the run is
-- (a+b)*(b-a+1)/2, each weighted by f
gini_num AS (
  -- (a+b)*m is a sum of m consecutive ints times 2, hence always even:
  -- integer // keeps the whole fold in BIGINT (a float /2 is exact only
  -- below 2^53, where engines' double summation orders could diverge)
  SELECT CAST(SUM(f * ((((cum_keys - m + 1) + cum_keys) * m) // 2)) AS BIGINT)
           AS rank_mass
  FROM pre
),
quant AS (
  SELECT MIN(CASE WHEN cum_keys * 2 >= (SELECT n_keys FROM tot)
                  THEN f END) AS p50_f,
         MIN(CASE WHEN cum_keys * 100 >= 99 * (SELECT n_keys FROM tot)
                  THEN f END) AS p99_f
  FROM pre
)
SELECT n_rows, n_keys, max_f,
       ROUND(CAST(max_f AS DOUBLE) / n_rows, 6) AS top1_share,
       CAST(p50_f AS BIGINT) AS p50_f,
       CAST(p99_f AS BIGINT) AS p99_f,
       ROUND(CAST(2 * rank_mass - (n_keys + 1) * n_rows AS DOUBLE)
             / (CAST(n_keys AS DOUBLE) * n_rows), 6) AS gini
FROM tot, gini_num, quant
""",
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight: the one-row report a pipeline reads
    BEFORE shuffling on a key — row/key counts, hottest-key share,
    median and p99 key frequency, and the Gini coefficient of the key
    frequency distribution (0 = uniform, ->1 = one celebrity key owns
    everything). This is the measurement behind the repo's salting/
    AQE-skew-join decisions (q_salted_skew_join, the stream-stream
    bucketing) made into a first-class operator.

    Scale shape: count-per-key (ONE corpus-sized, map-side-combinable
    shuffle), then everything lives on the frequency-of-frequencies
    histogram — a domain of distinct frequency VALUES, not keys. Gini
    needs keys sorted by frequency, but over the histogram a run of m
    equal-frequency keys occupies a contiguous rank interval, so the
    rank mass is the exact integer f*(a+b)*(b-a+1)/2 per histogram row
    and the global sort is over the tiny value domain (same
    histogram-prefix trick as q_mannwhitney_u / q_token_budget_select).
    Quantiles read off the same prefix. All integers until the two
    final divisions."""
    from pyspark.sql import Window

    kc = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("f"))
    )
    hist = kc.groupBy("f").agg(F.count(F.lit(1)).alias("m"))
    wv = Window.orderBy("f").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = hist.select(
        "f",
        "m",
        F.sum("m").over(wv).alias("cum_keys"),
        F.sum(F.col("f") * F.col("m")).over(wv).alias("cum_rows"),
    )
    tot = hist.agg(
        F.sum(F.col("f") * F.col("m")).alias("n_rows"),
        F.sum("m").alias("n_keys"),
        F.max("f").alias("max_f"),
    )
    # (a+b)*m always even -> shiftright(x,1) is exact integer /2 on longs,
    # keeping the whole rank-mass fold in BIGINT (ADVICE r7: float /2 is
    # exact only below 2^53)
    run_ranksum = F.shiftright(
        (
            ((F.col("cum_keys") - F.col("m") + 1) + F.col("cum_keys"))
            * F.col("m")
        ).cast("long"),
        1,
    )
    rank_mass = pre.agg(
        F.sum(F.col("f") * run_ranksum).cast("long").alias("rank_mass")
    )
    quant = pre.crossJoin(F.broadcast(tot.select("n_keys"))).agg(
        F.min(
            F.when(F.col("cum_keys") * 2 >= F.col("n_keys"), F.col("f"))
        ).alias("p50_f"),
        F.min(
            F.when(
                F.col("cum_keys") * 100 >= 99 * F.col("n_keys"), F.col("f")
            )
        ).alias("p99_f"),
    )
    return (
        tot.crossJoin(F.broadcast(rank_mass))
        .crossJoin(F.broadcast(quant))
        .select(
            "n_rows",
            "n_keys",
            "max_f",
            F.round(F.col("max_f").cast("double") / F.col("n_rows"), 6).alias(
                "top1_share"
            ),
            F.col("p50_f").cast("long").alias("p50_f"),
            F.col("p99_f").cast("long").alias("p99_f"),
            F.round(
                (
                    2 * F.col("rank_mass")
                    - (F.col("n_keys") + 1) * F.col("n_rows")
                ).cast("double")
                / (F.col("n_keys").cast("double") * F.col("n_rows")),
                6,
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout evaluation (round 8): multi-dimensional data skipping
# ---------------------------------------------------------------------------

ZL_BITS = 10  # per-dimension resolution (20-bit Morton code)
ZL_BUCKET_SHIFT = 14  # 64 Z-buckets (top 6 Morton bits)
ZL_PROBE = (256, 511)  # probe rectangle on BOTH normalized dims


def _morton_expr(x: str, y: str, intdiv: str = "//") -> str:
    """Morton interleave of two {ZL_BITS}-bit ints — shifts spelled as
    integer division/multiplication; the only dialect difference is the
    integer-division token (DuckDB `//`, Spark SQL `div`), injected."""
    terms = []
    for k in range(ZL_BITS):
        terms.append(f"(({x}) {intdiv} {1 << k} % 2) * {1 << (2 * k)}")
        terms.append(f"(({y}) {intdiv} {1 << k} % 2) * {1 << (2 * k + 1)}")
    return "(" + " + ".join(terms) + ")"


_Z_NORM_SQL = f"""
  SELECT (o_custkey * {1 << ZL_BITS}) // (SELECT MAX(o_custkey) + 1 FROM orders)
           AS x,
         (date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
          * {1 << ZL_BITS})
           // (SELECT date_diff('day', TIMESTAMP '1995-01-01',
                                MAX(o_orderdate)) + 1 FROM orders) AS y
  FROM orders
"""


@register(
    "q_zorder_vs_linear",
    oracle=f"""
WITH pts AS ({_Z_NORM_SQL}),
m AS (
  SELECT x, y, {_morton_expr('x', 'y')} AS morton FROM pts
),
zb AS (
  SELECT morton // {1 << ZL_BUCKET_SHIFT} AS b,
         COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y
  FROM m GROUP BY 1
),
lb AS (
  SELECT x // {1 << (ZL_BITS - 6)} AS b,
         COUNT(*) AS n, MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y
  FROM m GROUP BY 1
),
zs AS (
  SELECT COUNT(*) AS n_buckets,
         SUM(CASE WHEN max_x < {ZL_PROBE[0]} OR min_x > {ZL_PROBE[1]}
                    OR max_y < {ZL_PROBE[0]} OR min_y > {ZL_PROBE[1]}
                  THEN 1 ELSE 0 END) AS skipped
  FROM zb
),
ls AS (
  SELECT COUNT(*) AS n_buckets,
         SUM(CASE WHEN max_x < {ZL_PROBE[0]} OR min_x > {ZL_PROBE[1]}
                    OR max_y < {ZL_PROBE[0]} OR min_y > {ZL_PROBE[1]}
                  THEN 1 ELSE 0 END) AS skipped
  FROM lb
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n_rows,
       CAST(zs.n_buckets AS BIGINT) AS z_buckets,
       CAST(zs.skipped AS BIGINT) AS z_skipped,
       CAST(ls.n_buckets AS BIGINT) AS lin_buckets,
       CAST(ls.skipped AS BIGINT) AS lin_skipped,
       ROUND(CAST(zs.skipped AS DOUBLE) / zs.n_buckets, 4) AS z_skip_frac,
       ROUND(CAST(ls.skipped AS DOUBLE) / ls.n_buckets, 4) AS lin_skip_frac
FROM zs, ls
""",
)
def q_zorder_vs_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout evaluation — the data-skipping primitive
    behind Delta/Iceberg `OPTIMIZE ZORDER BY`: normalize two dims
    (customer, order day) to {ZL_BITS}-bit grids, interleave them into a
    Morton code, bucket rows by Morton prefix (= the files a Z-ordered
    writer would produce), and price a rectangle probe against the
    per-bucket min/max zone maps — versus the same file count under a
    single-dim (x-sorted) layout. Z-ordering skips on BOTH dims; the
    linear layout skips only on its sort dim (its y extents span
    everything), which is exactly the measured justification for
    multi-dim clustering at 100 TB.

    Determinism: normalization and interleave are pure integer
    arithmetic; the engine-neutral Morton expression (shifts as //
    and *) runs verbatim on both engines.

    Scale shape: one scan + two bucket-keyed combinable aggregates
    (the zone-map build a lakehouse writer does once per file) + two
    one-row reductions. The probe evaluation itself reads only the
    64-row zone maps — the entire point."""
    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        (F.max("o_custkey") + 1).alias("cmax"),
        (
            F.datediff(F.max("o_orderdate"), F.lit("1995-01-01").cast("date"))
            + 1
        ).alias("dmax"),
    )
    pts = orders.crossJoin(F.broadcast(bounds)).select(
        ((F.col("o_custkey") * (1 << ZL_BITS)) / F.col("cmax"))
        .cast("long")
        .alias("x"),
        (
            (
                F.datediff(
                    F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
                )
                * (1 << ZL_BITS)
            )
            / F.col("dmax")
        )
        .cast("long")
        .alias("y"),
    )
    # the comparison inherently consumes the Morton frame twice (two
    # layouts' zone maps); the lazy cache keeps that at ONE scan+compute
    # instead of per-consumer re-derivation (PLANS audit showed 6 scans)
    m = memo_frame(
        spark,
        f"zvl:m:{sf_dir}",
        lambda: pts.select(
            "x",
            "y",
            F.expr(_morton_expr("x", "y", intdiv="div")).alias("morton"),
        ),
    )

    def zone_stats(df, bucket_col):
        return df.groupBy(bucket_col.alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )

    lo, hi = ZL_PROBE
    skipped = F.sum(
        F.when(
            (F.col("max_x") < lo)
            | (F.col("min_x") > hi)
            | (F.col("max_y") < lo)
            | (F.col("min_y") > hi),
            1,
        ).otherwise(0)
    )
    zb = zone_stats(m, (F.col("morton") / (1 << ZL_BUCKET_SHIFT)).cast("long"))
    lb = zone_stats(m, (F.col("x") / (1 << (ZL_BITS - 6))).cast("long"))
    zs = zb.agg(
        F.count(F.lit(1)).alias("z_buckets"), skipped.alias("z_skipped")
    )
    ls = lb.agg(
        F.count(F.lit(1)).alias("lin_buckets"), skipped.alias("lin_skipped")
    )
    nrows = zb.agg(F.sum("n").alias("n_rows"))  # zone maps already know
    return (
        nrows.crossJoin(F.broadcast(zs))
        .crossJoin(F.broadcast(ls))
        .select(
            "n_rows",
            "z_buckets",
            "z_skipped",
            "lin_buckets",
            "lin_skipped",
            F.round(
                F.col("z_skipped").cast("double") / F.col("z_buckets"), 4
            ).alias("z_skip_frac"),
            F.round(
                F.col("lin_skipped").cast("double") / F.col("lin_buckets"), 4
            ).alias("lin_skip_frac"),
        )
    )


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER measured end-to-end on the COW table format (round 10,
# VERDICT r9 #7): B3's access-path story made transactional.
# ---------------------------------------------------------------------------

ZC_CHUNKS = 6  # fragmented arrival-order appends (the small-file census)
ZC_FILES = 8  # Z-order output files per rewritten partition
ZC_BITS = 6  # per-dim Morton resolution inside cow_compact


def _zc_oracle() -> str:
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        _morton_sql,
    )

    lo, hi = ZL_PROBE
    skip = (
        f"CASE WHEN mxx < {lo} OR mnx > {hi}"
        f" OR mxy < {lo} OR mny > {hi} THEN 1 ELSE 0 END"
    )
    xn = f"(CAST((x - x0) * {1 << ZC_BITS} AS BIGINT) // spx)"
    yn = f"(CAST((y - y0) * {1 << ZC_BITS} AS BIGINT) // spy)"
    zb = (
        f"(({_morton_sql(xn, yn, ZC_BITS, intdiv='//')} * {ZC_FILES})"
        f" // {1 << (2 * ZC_BITS)})"
    )
    return f"""
WITH pts AS (
  SELECT o_orderkey,
         (o_custkey * {1 << ZL_BITS})
           // (SELECT MAX(o_custkey) + 1 FROM orders) AS x,
         (date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
          * {1 << ZL_BITS})
           // (SELECT date_diff('day', TIMESTAMP '1995-01-01',
                                MAX(o_orderdate)) + 1 FROM orders) AS y
  FROM orders
),
bz AS (
  SELECT o_orderkey % {ZC_CHUNKS} AS g, COUNT(*) AS n,
         MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
  FROM pts GROUP BY 1
),
bstat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS files_before,
         CAST(SUM({skip}) AS BIGINT) AS skipped_before,
         CAST(SUM(n) AS BIGINT) AS n_rows
  FROM bz
),
bounds AS (
  SELECT MIN(x) AS x0, MAX(x) AS x1, MIN(y) AS y0, MAX(y) AS y1,
         GREATEST(MAX(x) - MIN(x) + 1, 1) AS spx,
         GREATEST(MAX(y) - MIN(y) + 1, 1) AS spy
  FROM pts
),
az AS (
  SELECT {zb} AS g, MIN(x) AS mnx, MAX(x) AS mxx,
         MIN(y) AS mny, MAX(y) AS mxy
  FROM pts, bounds GROUP BY 1
),
astat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS files_after,
         CAST(SUM({skip}) AS BIGINT) AS skipped_after
  FROM az
)
SELECT n_rows, files_before, skipped_before, files_after, skipped_after,
       ROUND(CAST(skipped_before AS DOUBLE) / files_before, 4)
         AS skip_frac_before,
       ROUND(CAST(skipped_after AS DOUBLE) / files_after, 4)
         AS skip_frac_after
FROM bstat, astat
"""


@register("q_cow_compact_zorder", oracle=_zc_oracle())
def q_cow_compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE measured end-to-end: build a COW table fragmented by
    {ZC_CHUNKS} arrival-order appends (each file spans the whole key
    space — the zero-skipping small-file shape every ingest produces),
    run ``cow_compact(zorder_by=(x, y))``, then price the
    q_zorder_vs_linear rectangle probe against the REAL files' zone
    maps at both versions (grouping each scan by input_file_name — the
    zone maps come from the actual physical layout, not from
    recomputing the bucket rule). The oracle replays the layout
    arithmetic (chunk id before; cow_compact's normalize+Morton+cut
    after) in SQL, so the hash match proves the committed files land
    exactly where OPTIMIZE promised — deterministic bin-packing, not
    best-effort.

    Scale shape: compaction cost tracks the fragmented partitions only
    (carried-by-reference elsewhere); the rewrite is one write job per
    partition (hash-repartition on the Z-bucket, one file per bucket);
    probe evaluation reads zone maps, not data. At 100 TB this is the
    nightly OPTIMIZE + zone-map-pruned scan loop of every lakehouse.

    The ingest->OPTIMIZE half is inherently effectful (it exists to
    commit real files), so the TABLE BUILD is memoized per (session,
    sf_dir) — one-time-populate, same discipline as memo_frame — while
    the zone-map measurement is a fresh lazy plan every call. Warm
    constructions therefore run zero jobs (the lazy contract), and a
    warm EXECUTION prices exactly the probe-evaluation loop, which is
    the recurring cost the operator story claims (OPTIMIZE once, probes
    benefit repeatedly)."""
    root, v_after = _zc_table(spark, sf_dir)
    return _zc_measure(spark, root, v_after)


def _build_table_memo(spark: SparkSession, name: str, sf_dir: str, builder):
    """Get-or-build the (root, version) of a cow measurement query's
    build table once per (session, sf_dir). The builders write real
    parquet under a mkdtemp dir (``dirname(root)``), which eviction
    deletes, so a long-lived process that restarts sessions or clears
    between cold runs leaks no tables."""
    import shutil

    return session_memo(
        spark,
        ("cow_table", name, sf_dir),
        builder,
        lambda val: shutil.rmtree(os.path.dirname(val[0]), ignore_errors=True),
    )


def _zc_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "zc", sf_dir, lambda: _zc_build(spark, sf_dir)
    )


def _zc_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_compact,
        cow_create,
    )

    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        (F.max("o_custkey") + 1).alias("cmax"),
        (
            F.datediff(F.max("o_orderdate"), F.lit("1995-01-01").cast("date"))
            + 1
        ).alias("dmax"),
    )
    pts = orders.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        ((F.col("o_custkey") * (1 << ZL_BITS)) / F.col("cmax"))
        .cast("long")
        .alias("x"),
        (
            (
                F.datediff(
                    F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
                )
                * (1 << ZL_BITS)
            )
            / F.col("dmax")
        )
        .cast("long")
        .alias("y"),
    )
    root = tempfile.mkdtemp(prefix="omt-zc-") + "/t"
    for c in range(ZC_CHUNKS):
        chunk = pts.where(F.col("o_orderkey") % ZC_CHUNKS == c).coalesce(1)
        if c == 0:
            cow_create(spark, root, chunk)
        else:
            cow_append(spark, root, chunk)
    v_after = cow_compact(
        spark,
        root,
        zorder_by=("x", "y"),
        zorder_files=ZC_FILES,
        zorder_bits=ZC_BITS,
    )
    return root, v_after


def _zc_measure(spark: SparkSession, root: str, v_after: int) -> DataFrame:
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

    lo, hi = ZL_PROBE
    skipped = F.sum(
        F.when(
            (F.col("mxx") < lo)
            | (F.col("mnx") > hi)
            | (F.col("mxy") < lo)
            | (F.col("mny") > hi),
            1,
        ).otherwise(0)
    )

    def layout(version, files_alias, skipped_alias, with_rows=False):
        per_file = (
            cow_read(spark, root, version=version)
            .withColumn("__f", F.input_file_name())
            .groupBy("__f")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("x").alias("mnx"),
                F.max("x").alias("mxx"),
                F.min("y").alias("mny"),
                F.max("y").alias("mxy"),
            )
        )
        aggs = [
            F.count(F.lit(1)).alias(files_alias),
            skipped.alias(skipped_alias),
        ]
        if with_rows:
            aggs.insert(0, F.sum("n").alias("n_rows"))
        return per_file.agg(*aggs)

    before = layout(ZC_CHUNKS, "files_before", "skipped_before", True)
    after = layout(v_after, "files_after", "skipped_after")
    return before.crossJoin(F.broadcast(after)).select(
        "n_rows",
        "files_before",
        "skipped_before",
        "files_after",
        "skipped_after",
        F.round(
            F.col("skipped_before").cast("double") / F.col("files_before"), 4
        ).alias("skip_frac_before"),
        F.round(
            F.col("skipped_after").cast("double") / F.col("files_after"), 4
        ).alias("skip_frac_after"),
    )


# ---------------------------------------------------------------------------
# Schema evolution measured through the manifest (round 10): add-column
# is metadata-only, pre-evolution files serve NULL via the manifest
# schema (operators/cow_table.py cow_append(evolve_schema=True)).
# ---------------------------------------------------------------------------

def _se_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "se", sf_dir, lambda: _se_build(spark, sf_dir)
    )


def _se_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_create,
    )

    orders = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="omt-se-") + "/t"
    cow_create(
        spark,
        root,
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_custkey"
        ),
    )
    for chunk in (1, 2):
        v = cow_append(
            spark,
            root,
            orders.where(F.col("o_orderkey") % 3 == chunk).select(
                "o_orderkey", "o_custkey", "o_orderpriority"
            ),
            evolve_schema=True,
        )
    return root, v


@register(
    "q_cow_schema_evolution",
    oracle="""
SELECT * FROM (
  SELECT CAST(2 AS BIGINT) AS version,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pri_null,
         CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 3 = 1
                             THEN o_orderpriority END)
              AS BIGINT) AS n_pri_distinct,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
  FROM orders WHERE o_orderkey % 3 <= 1
  UNION ALL
  SELECT CAST(3 AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 3 <> 0
                             THEN o_orderpriority END)
              AS BIGINT),
         CAST(SUM(o_custkey) AS BIGINT)
  FROM orders
)
ORDER BY version
""",
)
def q_cow_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column schema evolution, measured through real manifests:
    the table ingests a 2-column chunk (v1), then two appends that ADD
    o_orderpriority with evolve_schema=True (v2, v3). Because readers
    project every file through the MANIFEST schema — the Delta/Iceberg
    add-column contract; no data file is rewritten — the v1 files must
    serve NULL for the new column in every post-evolution snapshot, and
    a time-travel read of v2 must see v2's schema with exactly the v1
    rows NULL. The oracle replays the version arithmetic from the
    source table, so the hash match proves the per-version NULL census
    lands exactly where append-order promised.

    Scale shape: evolution cost is ONE manifest write regardless of
    table size (the 100 TB property that matters); reads stay
    pruned-by-manifest as in q_cow_compact_zorder. The table build is
    memoized per (session, sf_dir); each call prices only the two
    snapshot reads (lazy plans over the committed files)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

    root, v_latest = _se_table(spark, sf_dir)

    def census(version: int) -> DataFrame:
        df = cow_read(spark, root, version=version)
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
            ).alias("n_pri_null"),
            F.count_distinct("o_orderpriority").alias("n_pri_distinct"),
            F.sum("o_custkey").alias("sum_custkey"),
        ).select(
            F.lit(version).cast("long").alias("version"),
            "n_rows",
            "n_pri_null",
            "n_pri_distinct",
            "sum_custkey",
        )

    return census(2).unionByName(census(v_latest)).orderBy("version")


def _dv_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "dv", sf_dir, lambda: _dv_build(spark, sf_dir)
    )


def _dv_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_create,
        cow_delete,
    )

    orders = load(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="omt-dv-") + "/t"
    cow_create(
        spark,
        root,
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        ),
        partition_by="o_orderpriority",
    )
    cow_delete(spark, root, "o_orderkey % 10 = 0")        # v2: dv commit
    v = cow_delete(spark, root, "o_custkey % 7 = 0")      # v3: dv union
    return root, v


@register(
    "q_cow_delete_dv",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS version,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
  FROM base
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT), CAST(SUM(o_custkey) AS BIGINT)
  FROM base WHERE NOT (o_orderkey % 10 = 0)
  UNION ALL
  SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT), CAST(SUM(o_custkey) AS BIGINT)
  FROM base WHERE NOT (o_orderkey % 10 = 0) AND NOT (o_custkey % 7 = 0)
)
ORDER BY version
""",
)
def q_cow_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE measured through real manifests (round
    12): the table ingests half of orders, then two DV deletes land as
    sidecar-only commits — v2 marks an orderkey slice, v3 a custkey
    slice whose touched files overlap v2's (exercising the
    sidecar-union repointing). No data file is rewritten by either
    (pinned in tests/test_cow_deletion_vectors.py); every version's
    census must equal the declarative filter algebra the oracle
    replays, INCLUDING time travel back through both deletes.

    Scale shape: a DV delete costs one predicate scan + a sidecar whose
    size tracks the DELETED rows (deleting 10 rows from a 1 GB file is
    a 10-row sidecar, not a 1 GB re-encode); reads pay one anti-join
    whose build side is the sidecar union — AQE broadcasts it. The
    table build is memoized per (session, sf_dir); each call prices
    three lazy census reads."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

    root, v_latest = _dv_table(spark, sf_dir)

    def census(version: int) -> DataFrame:
        return (
            cow_read(spark, root, version=version)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("sum_orderkey"),
                F.sum("o_custkey").alias("sum_custkey"),
            )
            .select(
                F.lit(version).cast("long").alias("version"),
                "n_rows",
                "sum_orderkey",
                "sum_custkey",
            )
        )

    return (
        census(1).unionByName(census(2)).unionByName(census(v_latest))
        .orderBy("version")
    )


def _pe_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "pe", sf_dir, lambda: _pe_build(spark, sf_dir)
    )


def _pe_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_create,
        cow_set_partition_spec,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    root = tempfile.mkdtemp(prefix="omt-pe-") + "/t"
    cow_create(
        spark,
        root,
        orders.where(F.col("o_orderkey") % 3 == 0),
        partition_by="o_orderpriority",
    )
    cow_append(spark, root, orders.where(F.col("o_orderkey") % 3 == 1))
    cow_set_partition_spec(root, "o_orderstatus")          # v3: metadata only
    v = cow_append(spark, root, orders.where(F.col("o_orderkey") % 3 == 2))
    return root, v


@register(
    "q_cow_partition_evolution",
    oracle="""
SELECT * FROM (
  SELECT CAST(2 AS BIGINT) AS version,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
  FROM orders WHERE o_orderkey % 3 <= 1
  UNION ALL
  SELECT CAST(4 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_custkey) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT CAST(5 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_custkey) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
  FROM orders WHERE o_orderstatus = 'F'
)
ORDER BY version, n_rows
""",
)
def q_cow_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution measured through real manifests (round
    12, Iceberg semantics): the table ingests two chunks partitioned by
    o_orderpriority, flips the spec to o_orderstatus as a METADATA-ONLY
    commit (v3 — no data file touched, entries stamped with their spec),
    then appends the third chunk routed by the NEW column. The census
    reads v2 (pre-evolution), v4 (mixed specs), and a
    partition_values-pruned v4 read filtered to one status — the pruned
    read keeps ALL old-spec files (their recorded values belong to the
    old column; conservative, lossless) and row-filters on top, so its
    result equals the plain declarative filter the oracle replays. The
    version=5 label is just the census row id for the pruned leg.

    Scale shape: spec evolution costs ONE manifest write at any table
    size; mixed-spec reads stay one multi-path scan (data files carry
    every column — the partition column is duplicated into the
    directory key, never removed); metadata pruning degrades gracefully
    (current-spec files prune by value, old-spec files scan) and normal
    MERGE/OPTIMIZE maintenance migrates old files to the new spec."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

    root, v_latest = _pe_table(spark, sf_dir)

    def census(label: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_custkey").alias("sum_custkey"),
            F.count_distinct("o_orderstatus").alias("n_status"),
        ).select(
            F.lit(label).cast("long").alias("version"),
            "n_rows",
            "sum_custkey",
            "n_status",
        )

    pruned = cow_read(spark, root, partition_values=["F"]).where(
        F.col("o_orderstatus") == "F"
    )
    return (
        census(2, cow_read(spark, root, version=2))
        .unionByName(census(4, cow_read(spark, root, version=v_latest)))
        .unionByName(census(5, pruned))
        .orderBy("version", "n_rows")
    )


@register(
    "q_cow_agg_ivm",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
),
live AS (
  SELECT * FROM base
  WHERE NOT (o_orderkey % 10 = 0) AND NOT (o_custkey % 7 = 0)
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
FROM live
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_cow_agg_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of an aggregate from the change
    data feed (round 12): the materialized per-priority census taken at
    v1 is advanced to v3 by FOLDING IN cow_changes(1, 3) — inserts add,
    deletes subtract — never rescanning v1's files. Version 2 and 3 are
    DELETION-VECTOR commits (shared _dv_table build), so this also
    proves the CDF's (path, dv)-pair diff emits exactly the rows a
    maintained aggregate needs: the oracle computes the v3 state
    DIRECTLY from the declarative filter algebra, and the hash matches
    only if base + delta == truth, group by group.

    Scale shape: the delta side reads ONLY files whose (path, dv) pair
    changed between the versions — maintenance cost tracks churn, not
    table size (the IVM promise); both aggregates are map-side
    combinable; the final merge is a small outer join on the group
    key."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_changes,
        cow_read,
    )

    root, v_latest = _dv_table(spark, sf_dir)
    base = (
        cow_read(spark, root, version=1)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum("o_custkey").alias("b_sum"),
        )
    )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = (
        cow_changes(spark, root, 1, v_latest)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(sign).alias("d_n"),
            F.sum(sign * F.col("o_custkey")).alias("d_sum"),
        )
    )
    return (
        base.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("b_n"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("b_sum"), F.lit(0))
                + F.coalesce(F.col("d_sum"), F.lit(0))
            ).alias("sum_custkey"),
        )
        .where(F.col("n_rows") > 0)
        .orderBy("o_orderpriority")
    )


def _mdv_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "mdv", sf_dir, lambda: _mdv_build(spark, sf_dir)
    )


def _mdv_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_create,
        cow_merge,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    root = tempfile.mkdtemp(prefix="omt-mdv-") + "/t"
    cow_create(
        spark,
        root,
        orders.where(F.col("o_orderkey") % 2 == 0),
        partition_by="o_orderpriority",
    )
    src = orders.where(F.col("o_orderkey") % 3 == 0)
    v = cow_merge(
        spark,
        root,
        src,
        on="o_orderkey",
        matched_update={"o_custkey": F.col("s.o_custkey") + F.lit(1000000)},
        matched_delete=F.col("s.o_orderkey") % 12 == 0,
        not_matched_insert={
            "o_orderkey": F.col("s.o_orderkey"),
            "o_custkey": F.col("s.o_custkey"),
            "o_orderpriority": F.col("s.o_orderpriority"),
        },
        strategy="dv",
    )
    return root, v


@register(
    "q_cow_merge_dv",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
), src AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0
), final AS (
  SELECT o_custkey FROM base WHERE o_orderkey % 6 <> 0
  UNION ALL
  SELECT o_custkey + 1000000 FROM base
  WHERE o_orderkey % 6 = 0 AND o_orderkey % 12 <> 0
  UNION ALL
  SELECT o_custkey FROM src WHERE o_orderkey % 6 = 3
), cdf_ins AS (
  SELECT o_custkey + 1000000 AS o_custkey FROM base
  WHERE o_orderkey % 6 = 0 AND o_orderkey % 12 <> 0
  UNION ALL
  SELECT o_custkey FROM src WHERE o_orderkey % 6 = 3
), cdf_del AS (
  SELECT o_custkey FROM base WHERE o_orderkey % 6 = 0
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey FROM base
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_custkey) AS BIGINT) FROM final
  UNION ALL
  SELECT CAST(90 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_custkey) AS BIGINT) FROM cdf_ins
  UNION ALL
  SELECT CAST(91 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_custkey) AS BIGINT) FROM cdf_del
)
ORDER BY version
""",
)
def q_cow_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE measured through real manifests (round 13,
    VERDICT r12 #4 — Delta's deletion-vector DML): the table ingests
    half of orders, then ONE ``cow_merge(strategy="dv")`` carries all
    three clauses — matched-DELETE (keys %12==0), matched-UPDATE
    (+1,000,000 to o_custkey), and not-matched-INSERT (odd multiples of
    3). No pre-existing data file is rewritten (pinned in
    tests/test_cow_merge_dv.py): old images die via a DV sidecar, new
    images + inserts land as appends. The census reads v1, the final
    v2, AND the CDF's insert/delete legs (labels 90/91) — so the
    external oracle pins that merge-on-read produces EXACTLY the same
    change feed the copy-on-write strategy would.

    Scale shape: one inner join of the pruned scan against the source
    (broadcastable), a sidecar sized by MATCHED rows, appends sized by
    matched-updates + inserts — write amplification tracks the changed
    rows, never the partition (updating 10 rows in a 1 GB partition is
    a 10-row sidecar + 10-row file, where copy-on-write re-encodes the
    gigabyte). Reads pay the existing one-DV anti-join; cow_compact
    materializes at maintenance time."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_changes,
        cow_read,
    )

    root, v = _mdv_table(spark, sf_dir)

    def census(label: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_custkey").alias("sum_custkey"),
        ).select(
            F.lit(label).cast("long").alias("version"),
            "n_rows",
            "sum_custkey",
        )

    # Both CDF census rows come from ONE conditional aggregate, so the
    # change feed is referenced once: a union of two filtered legs would
    # re-run its scans and exceptAll shuffles per leg, and a lineage
    # boundary to share them runs those stages at construction.
    cdf = cow_changes(spark, root, 1, v)
    legs = []
    for label, kind in ((90, "insert"), (91, "delete")):
        hit = F.col("_change_type") == kind
        legs.append(
            F.struct(
                F.lit(label).cast("long").alias("version"),
                F.count_if(hit).alias("n_rows"),
                F.sum(F.when(hit, F.col("o_custkey"))).alias("sum_custkey"),
            )
        )
    return (
        census(1, cow_read(spark, root, version=1))
        .unionByName(census(2, cow_read(spark, root, version=v)))
        .unionByName(cdf.agg(F.array(*legs).alias("l")).select(F.inline("l")))
        .orderBy("version")
    )


def _restore_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "restore", sf_dir, lambda: _restore_build(spark, sf_dir)
    )


def _restore_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_create,
        cow_delete,
        cow_restore,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    root = tempfile.mkdtemp(prefix="omt-restore-") + "/t"
    cow_create(
        spark,
        root,
        orders.where(F.col("o_orderkey") % 2 == 0),
        partition_by="o_orderpriority",
    )
    cow_delete(spark, root, "o_orderkey % 10 = 0")   # v2: DV delete
    v = cow_restore(root, 1)                          # v3: restore to v1
    return root, v


@register(
    "q_cow_restore",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
)
SELECT * FROM (
  SELECT CAST(2 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey
  FROM base WHERE NOT (o_orderkey % 10 = 0)
  UNION ALL
  SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT) FROM base
  UNION ALL
  -- CDF v2 -> v3: the restore re-inserts exactly the DV-deleted rows
  SELECT CAST(90 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT)
  FROM base WHERE o_orderkey % 10 = 0
)
ORDER BY version
""",
)
def q_cow_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE measured through real manifests (round 13 — Delta
    ``RESTORE ... VERSION AS OF`` parity): the table ingests half of
    orders, a deletion-vector DELETE drops the %10 slice (v2, sidecar
    only), then ``cow_restore(root, 1)`` republishes v1's manifest as
    v3 — ONE metadata commit, no data file touched or copied. The
    census reads v2 (post-delete), v3 (post-restore == v1 exactly), and
    the v2→v3 CDF's insert leg, which must be EXACTLY the rows the
    delete removed (cow_changes diffs (path, dv) pairs, so un-pointing
    the DV re-surfaces precisely the masked positions — no special
    restore handling anywhere).

    Scale shape: restore cost is one manifest write at any table size;
    restorability is a file-existence precondition checked before
    publish (a vacuumed target raises, Delta's contract). History stays
    readable for forensics — restore rolls FORWARD."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_changes,
        cow_read,
    )

    root, v = _restore_table(spark, sf_dir)

    def census(label: int, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_orderkey"),
        ).select(
            F.lit(label).cast("long").alias("version"),
            "n_rows",
            "sum_orderkey",
        )

    cdf = cow_changes(spark, root, 2, v)
    return (
        census(2, cow_read(spark, root, version=2))
        .unionByName(census(3, cow_read(spark, root, version=v)))
        .unionByName(census(90, cdf.where(F.col("_change_type") == "insert")))
        .orderBy("version")
    )


def _txn_catalog(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "txn", sf_dir, lambda: _txn_build(spark, sf_dir)
    )


def _txn_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_catalog import (
        CatalogTxn,
        catalog_create,
    )
    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_create,
        cow_delete,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    tmp = tempfile.mkdtemp(prefix="omt-cat-")
    a_root, b_root, cat_root = tmp + "/a", tmp + "/b", tmp + "/cat"
    cow_create(spark, a_root, orders.where(F.col("o_orderkey") % 2 == 0))
    cow_create(
        spark,
        b_root,
        orders.where(
            (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 7 == 0)
        ),
    )
    catalog_create(cat_root, {"a": a_root, "b": b_root})

    # the atomic move: rows o_orderkey%10==0 leave a and land in b in
    # ONE catalog commit — a reader at any catalog version sees the
    # rows in exactly one table
    txn = CatalogTxn(cat_root)
    moved = txn.read(spark, "a").where(F.col("o_orderkey") % 10 == 0)
    txn.stage("a", cow_delete(spark, txn.root("a"), "o_orderkey % 10 = 0"))
    txn.stage("b", cow_append(spark, txn.root("b"), moved))
    cv = txn.commit()

    # simulated crash: a SECOND transaction stages a delete on a but
    # never commits the catalog — its table version exists on disk, and
    # the census below must not see it (catalog pins are the truth)
    cow_delete(spark, a_root, "o_orderkey % 4 = 2")
    return cat_root, cv


@register(
    "q_cow_txn",
    oracle="""
WITH a1 AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
), b1 AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderkey % 7 = 0
), mv AS (
  SELECT o_orderkey FROM a1 WHERE o_orderkey % 10 = 0
), a2 AS (
  SELECT o_orderkey FROM a1 WHERE NOT o_orderkey % 10 = 0
), b2 AS (
  SELECT o_orderkey FROM b1 UNION ALL SELECT o_orderkey FROM mv
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS cat_version, 'a' AS tname,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey FROM a1
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'b', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT) FROM b1
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'all', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT)
  FROM (SELECT * FROM a1 UNION ALL SELECT * FROM b1)
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'a', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT) FROM a2
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'b', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT) FROM b2
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'all', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT)
  FROM (SELECT * FROM a2 UNION ALL SELECT * FROM b2)
)
ORDER BY cat_version, tname
""",
)
def q_cow_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table ACID transaction measured through a real catalog
    (round 13 — the Iceberg REST-catalog multi-table commit model; the
    last format delta the round-12 verdict named vs Delta/Iceberg):
    two cow tables split orders, then ONE catalog commit atomically
    moves the %10 slice from a to b (a DV delete staged on a, an append
    staged on b, both pinned by a single catalog-pointer CAS —
    operators/cow_catalog.py). A THIRD mutation is then staged on a and
    deliberately never committed (simulated crash): the census reads
    every table through catalog pins, so the orphaned version must be
    invisible — if catalog_read ever leaked table-directory-latest
    state, the v2 'a' row would shrink and the external oracle would
    catch it. The 'all' rows pin cross-table conservation: the moved
    rows appear in exactly one table at every catalog version, and the
    v1/v2 totals are identical.

    Scale shape: transaction cost is the staged work (here: one
    DV sidecar + one append) plus TWO metadata writes (the staged
    manifests, then one catalog pointer) — never a function of table
    size; optimistic concurrency conflicts are detected per TOUCHED
    table, so transactions over disjoint tables never serialize against
    each other (tests/test_cow_catalog.py)."""
    from openmaptiles_zh_modifier_spark.operators.cow_catalog import (
        catalog_read,
    )

    cat_root, cv = _txn_catalog(spark, sf_dir)

    def census(cvn: int, tname: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_orderkey"),
        ).select(
            F.lit(cvn).cast("long").alias("cat_version"),
            F.lit(tname).alias("tname"),
            "n_rows",
            "sum_orderkey",
        )

    out = None
    for cvn in (1, cv):
        ra = catalog_read(spark, cat_root, "a", catalog_version=cvn)
        rb = catalog_read(spark, cat_root, "b", catalog_version=cvn)
        for tname, df in (("a", ra), ("b", rb), ("all", ra.unionByName(rb))):
            leg = census(cvn, tname, df)
            out = leg if out is None else out.unionByName(leg)
    return out.orderBy("cat_version", "tname")


def _clone_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    return _build_table_memo(
        spark, "clone", sf_dir, lambda: _clone_build(spark, sf_dir)
    )


def _clone_build(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    import tempfile

    from openmaptiles_zh_modifier_spark.operators.cow_table import (
        cow_append,
        cow_clone,
        cow_create,
        cow_delete,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    tmp = tempfile.mkdtemp(prefix="omt-clone-")
    src, dst = tmp + "/src", tmp + "/dst"
    cow_create(spark, src, orders.where(F.col("o_orderkey") % 2 == 0))
    cow_delete(spark, src, "o_orderkey % 10 = 0")      # src v2: DV delete
    cow_clone(src, dst)                                 # dst v1 == src v2
    # post-clone divergence in BOTH directions:
    cow_delete(spark, src, "o_orderkey % 6 = 2")        # src v3
    cow_append(
        spark,
        dst,
        orders.where(
            (F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 9 == 0)
        ),
    )                                                   # dst v2
    return dst, 2


@register(
    "q_cow_clone",
    oracle="""
WITH base AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0
), src2 AS (
  SELECT o_orderkey FROM base WHERE NOT o_orderkey % 10 = 0
), src3 AS (
  SELECT o_orderkey FROM src2 WHERE NOT o_orderkey % 6 = 2
), dst2 AS (
  SELECT o_orderkey FROM src2
  UNION ALL
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0
)
SELECT * FROM (
  SELECT 'clone_v1' AS leg, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey FROM src2
  UNION ALL
  SELECT 'clone_v2', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT) FROM dst2
  UNION ALL
  SELECT 'source_v3', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(o_orderkey) AS BIGINT) FROM src3
)
ORDER BY leg
""",
)
def q_cow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE measured through real manifests (round 13 — Delta
    CREATE TABLE SHALLOW CLONE parity): the source ingests half of
    orders and DV-deletes the %10 slice; ONE metadata write clones it
    (zero data files copied — pinned by tests/test_cow_clone.py, which
    asserts the clone directory holds no parquet before divergence);
    then both tables diverge — a further delete on the source, an
    append on the clone. The census reads the clone at v1 (must equal
    the source AT CLONE TIME, deletion vector included — the clone
    resolves the source's DV sidecar by absolute path), the clone at
    v2 (its own append, source unaffected), and the source at v3 (its
    own delete, clone unaffected).

    Scale shape: clone cost is one manifest write at any table size;
    divergence costs only each side's own staged work. The documented
    hazard is Delta's own: vacuuming the SOURCE below the clone's
    pin breaks the clone (mitigate with retention or cow_compact on
    the clone)."""
    from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

    dst, v = _clone_table(spark, sf_dir)
    src = os.path.join(os.path.dirname(dst), "src")

    def census(leg: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_orderkey"),
        ).select(F.lit(leg).alias("leg"), "n_rows", "sum_orderkey")

    return (
        census("clone_v1", cow_read(spark, dst, version=1))
        .unionByName(census("clone_v2", cow_read(spark, dst, version=v)))
        .unionByName(census("source_v3", cow_read(spark, src)))
        .orderBy("leg")
    )
