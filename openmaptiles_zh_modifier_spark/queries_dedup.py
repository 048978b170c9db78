"""Fuzzy deduplication over ``documents``: n-gram Jaccard, MinHash+LSH,
SimHash (SURVEY.md §2.9 north-star extensions).

All hashing is the portable md5-derived h32 with fixed integer permutation
constants (functions/text.py), so the DuckDB oracles compute bit-identical
signatures — the correctness gate covers the *whole* sketch pipeline, not
just the final pair list.

Scale shape (the part that matters at 100 TB):
- shingle explode is linear in corpus tokens; the (shingle -> doc) shuffle
  is the canonical MinHash/Jaccard shape and partitions uniformly because
  the keys are hashes.
- LSH banding turns all-pairs O(n^2) into per-bucket candidate generation;
  bucket keys are hash-uniform. The exact-Jaccard verification only runs on
  candidates (LSH output), never all pairs.
- SimHash reduces each doc to one 32-bit int; the pair join is
  candidate-free here (testdata is small) but the documented scale path is
  banding the simhash bytes exactly like MinHash bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import (
    LSH_BANDS,
    NUM_PERM,
    SIMHASH_BITS,
    h32,
    h32_sql,
    minhash_col,
    minhash_sql,
    shingles,
    simhash_bit_weights,
    tokens,
)
from openmaptiles_zh_modifier_spark.registry import load, memo_frame, register

JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
# Stop-shingle cap: shingles appearing in more than this many documents are
# dropped BEFORE the pair join (both engines). A shingle with document
# frequency d contributes d^2 join pairs while carrying almost no set-
# similarity signal — the standard guard that keeps the shared-shingle join
# near-linear. Part of the operator's declared semantics (Jaccard over
# non-stop shingles), applied identically in Spark and the oracle.
MAX_SHINGLE_DF = 50

# Shared oracle CTE: distinct 3-gram shingles per doc (1-based list indexing
# in DuckDB; empty when the doc has < 3 tokens — same guard as Spark side),
# then the stop-shingle DF cap.
_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh_all AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             j -> concat_ws(' ', t[j], t[j+1], t[j+2])))) AS s
  FROM toks
),
sh AS (
  SELECT doc_id, s FROM sh_all
  QUALIFY count(*) OVER (PARTITION BY s) <= {MAX_SHINGLE_DF}
)
"""


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) pairs with stop-shingles removed: one window count
    over the shingle key (same shuffle the pair join needs anyway, so the
    cap is nearly free) — at 100 TB this bounds join fan-out to
    O(n_shingles * MAX_DF) instead of O(hot_df^2).

    CACHED: every consumer (pair join sides, per-doc counts, minhash
    signatures) reuses this frame 3-5x in one plan; without persistence
    Spark re-runs the interpreted higher-order-function explode per use —
    measured 6x slower at sf0.1. At cluster scale this is a persisted
    intermediate (MEMORY_AND_DISK), the standard shape for sketch
    pipelines."""
    # Memoized per (session, sf_dir) via registry.memo_frame: four dedup
    # queries consume this same frame; a bench/driver session re-running
    # them would otherwise rebuild and re-cache the interpreted shingle
    # HOF per query. The entry is covered by clear_frame_cache().
    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        # A small corpus arrives as ONE file split; without a spread the
        # shingle HOF + explode (the expensive part of the build) and the
        # cached frame itself would live on a single partition, and every
        # downstream join would start from that skew. At 100 TB the scan
        # has thousands of splits and this is a no-op-sized rebalance.
        sh = docs.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        ).select(
            "doc_id", F.explode(shingles(tokens(F.col("text")))).alias("s")
        )
        # DF cap as a broadcast anti-join against the (tiny) hot-shingle
        # set — NOT a count-over-window: a window partitioned by a
        # high-cardinality key measured 25x slower than agg+anti-join
        # here, and at scale the aggregate is map-side combinable while
        # the window must sort.
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > MAX_SHINGLE_DF)
            .select("s")
        )
        return sh.join(F.broadcast(hot), "s", "left_anti")

    return memo_frame(spark, f"shingles:{sf_dir}", build)


# -------------------------------------------------------------------------
# n-gram Jaccard (exact, via shared-shingle join)
# -------------------------------------------------------------------------

@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLE_CTE},
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       ROUND(n_common * 1.0 / (ca.c + cb.c - n_common), 4) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE n_common * 1.0 / (ca.c + cb.c - n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-3-gram Jaccard near-dup pairs (>= 0.5). The self-join on
    the shingle column is a hash-partitioned equi-join on uniform keys; the
    per-pair aggregate is map-side combinable. At scale, stop-shingle
    removal (drop shingles with document frequency above a cap) bounds the
    join fan-out — the standard guard against O(df^2) hot shingles."""
    sh = _exploded_shingles(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    jac = F.col("n_common") / (F.col("ca") + F.col("cb") - F.col("n_common"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------------------------------
# MinHash + LSH banding
# -------------------------------------------------------------------------

_ROWS_PER_BAND = NUM_PERM // LSH_BANDS


def _minhash_sig_sql() -> str:
    cols = ", ".join(
        f"min({minhash_sql(h32_sql('s'), i)}) AS m{i}" for i in range(NUM_PERM)
    )
    return f"SELECT doc_id, {cols} FROM sh GROUP BY doc_id"


def _band_key_sql(b: int) -> str:
    parts = " || '_' || ".join(
        f"m{i}" for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
    )
    return parts


@register(
    "q_dedup_minhash_lsh",
    oracle=f"""
WITH {_SHINGLE_CTE},
sig AS ({_minhash_sig_sql()}),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS bkey FROM sig" for b in range(LSH_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_a, x.doc_b, count(*) AS n_common
  FROM cand x
  JOIN sh a ON a.doc_id = x.doc_a
  JOIN sh b ON b.doc_id = x.doc_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       ROUND(i.n_common * 1.0 / (ca.c + cb.c - i.n_common), 4) AS jaccard
FROM inter i
JOIN cnt ca ON ca.doc_id = i.doc_a
JOIN cnt cb ON cb.doc_id = i.doc_b
WHERE i.n_common * 1.0 / (ca.c + cb.c - i.n_common) >= {JACCARD_THRESHOLD}
ORDER BY i.doc_a, i.doc_b
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) -> LSH (4 bands x 4 rows) -> candidate pairs ->
    exact-Jaccard verification. This is the scale
    path for fuzzy dedup: signatures are one groupBy over the shingle
    explode; banding multiplies rows by #bands (constant); the bucket
    self-join only pairs docs agreeing on a whole band. Verification cost
    is proportional to candidates, not n^2."""
    sh = _exploded_shingles(spark, sf_dir).withColumn("h", h32(F.col("s")))
    # memoized: one narrow row per doc, but BOTH sides of the band
    # self-join descend from it — without persistence the 16-way min
    # aggregate over the shingle frame runs twice per invocation
    sig = memo_frame(
        spark,
        f"minhash_sig:{sf_dir}",
        lambda: sh.groupBy("doc_id").agg(
            *[
                F.min(minhash_col(F.col("h"), i)).alias(f"m{i}")
                for i in range(NUM_PERM)
            ]
        ),
    )
    band_key = [
        F.concat_ws(
            "_", *[F.col(f"m{i}") for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)]
        )
        for b in range(LSH_BANDS)
    ]
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_key[b].alias("bkey"))
                for b in range(LSH_BANDS)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("sa") == F.col("sb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    jac = F.col("n_common") / (F.col("ca") + F.col("cb") - F.col("n_common"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------------------------------
# SimHash
# -------------------------------------------------------------------------

@register(
    "q_dedup_simhash",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok AS (SELECT doc_id, {h32_sql('unnest(t)')} AS h FROM toks),
bits AS (
  SELECT doc_id, b.b AS bit,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM tok, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) b
  GROUP BY 1, 2
),
sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.simhash AS simhash_a, b.simhash AS simhash_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: per-token h32 -> per-bit +-1 weights ->
    sign -> 32-bit fingerprint; pairs with Hamming distance <= 3. Token
    multiplicity counts (true SimHash weighting). The bit expansion stays
    in an array column (no 32x row blow-up); one groupBy(doc) shuffle.

    Pair stage is the BANDED pigeonhole join, not all-pairs: the 32-bit
    fingerprint splits into 4 x 8-bit bands; Hamming <= 3 differing bits
    over 4 bands guarantees at least one band is bit-identical, so joining
    on (band_index, band_value) finds every qualifying pair while only
    comparing fingerprints that collide in some band. At 100 TB the join
    key space is 4 * 256 * (docs/band-bucket) — an equi-join Catalyst can
    shuffle-hash, vs the O(n^2) cartesian range join it replaces. Hamming
    is verified exactly on the candidate set, so output equals all-pairs.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).withColumn("h", h32(F.col("t")))
    # per-token array[32] of +-1, summed element-wise via posexplode
    bits = (
        tok.select("doc_id", F.posexplode(simhash_bit_weights(F.col("h"))).alias("bit", "w"))
        .groupBy("doc_id", "bit")
        .agg(F.sum("w").alias("w"))
    )
    from openmaptiles_zh_modifier_spark.functions.text import pow2_array

    # memoized (one row per doc): both band-join sides reuse it, and
    # repeat invocations in one session share a single pinned entry
    sim = memo_frame(
        spark,
        f"simhash_sig:{sf_dir}",
        lambda: bits.groupBy("doc_id").agg(
            F.sum(
                F.when(
                    F.col("w") > 0, F.get(pow2_array(), F.col("bit"))
                ).otherwise(0)
            ).cast("long").alias("simhash")
        ),
    )
    n_bands = SIMHASH_BITS // 8  # 8-bit bands; 4 bands cover Hamming <= 3
    # the pigeonhole guarantee (some band is bit-identical) requires more
    # bands than differing bits — make the coupling explicit so a future
    # threshold bump cannot silently drop qualifying pairs
    assert SIMHASH_MAX_HAMMING < n_bands, (
        "banded SimHash join is exact only when SIMHASH_MAX_HAMMING < n_bands"
    )
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("simhash"), 8 * i)
                    .bitwiseAND(F.lit(0xFF))
                    .alias("bval"),
                )
                for i in range(n_bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bval")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("simhash_a"),
            F.col("b.simhash").alias("simhash_b"),
        )
        .distinct()  # a pair may collide in several bands
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.where(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            "doc_a",
            "doc_b",
            "simhash_a",
            "simhash_b",
            hamming.cast("long").alias("hamming"),
        )
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------------------------------
# Deterministic sampling (reproducible subset selection)
# -------------------------------------------------------------------------


@register(
    "q_stratified_sample",
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id,
         {h32_sql('text')} % 100 AS bucket,
         {h32_sql('text')} AS hk
  FROM documents
),
uniform AS (
  SELECT source, COUNT(*) AS n_sampled FROM keyed WHERE bucket < 10
  GROUP BY source
),
strat AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
  FROM keyed
)
SELECT s.source, s.doc_id, s.rk, u.n_sampled AS n_uniform_10pct
FROM strat s JOIN uniform u USING (source)
WHERE s.rk <= 3
ORDER BY s.source, s.rk
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible sampling, two flavors in one pass: (a) uniform ~10%
    via hash-bucket predicate (h32(text) % 100 < 10 — unlike
    df.sample(), identical on every engine, every run, every partition
    layout), and (b) stratified top-3 per source by hash order (equal
    allocation per stratum regardless of stratum skew). Both are the
    production-safe way to cut training subsets: membership is a pure
    function of content, so reruns and backfills select identical rows.
    The uniform count broadcasts back onto the stratified pick."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "source", "doc_id", h32(F.col("text")).alias("hk")
    )
    uniform = (
        keyed.where(F.col("hk") % 100 < 10)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_uniform_10pct"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    strat = (
        keyed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("source", "doc_id", "rk")
    )
    return (
        strat.join(F.broadcast(uniform), "source")
        .select("source", "doc_id", "rk", "n_uniform_10pct")
        .orderBy("source", "rk")
    )


# -------------------------------------------------------------------------
# Connected components: pair -> cluster transitive closure
# -------------------------------------------------------------------------


def _chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) closure over the deterministic chain-edge fixture
    (doc i ~ doc i+1 whenever h32(text) % 3 == 0). Memoized: both the CC
    query and the canonicalization query consume it, and the iterative
    min-label loop is the expensive part — one closure serves both."""
    from openmaptiles_zh_modifier_spark.operators.graph import (
        connected_components,
    )

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        mx = docs.agg(F.max("doc_id").alias("mx"))
        edges = (
            docs.select("doc_id", h32(F.col("text")).alias("hk"))
            .where(F.col("hk") % 3 == 0)
            .crossJoin(F.broadcast(mx))
            .where(F.col("doc_id") + 1 <= F.col("mx"))
            .select(
                F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
            )
        )
        return connected_components(edges)

    return memo_frame(spark, f"chain_cc:{sf_dir}", build)


@register(
    "q_connected_components",
    oracle=f"""
WITH RECURSIVE
base AS (SELECT doc_id, {h32_sql('text')} % 3 AS m FROM documents),
mx AS (SELECT MAX(doc_id) AS mx FROM documents),
edges AS (
  SELECT b.doc_id AS a, b.doc_id + 1 AS b
  FROM base b, mx WHERE b.m = 0 AND b.doc_id + 1 <= mx.mx
),
und AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b AS u, a AS v FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, u.v FROM reach r JOIN und u ON u.u = r.lab
)
SELECT node, MIN(lab) AS component
FROM reach
GROUP BY node
ORDER BY node
""",
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster transitive closure: deterministic chain edges
    (doc i ~ doc i+1 whenever h32(text) % 3 == 0) are collapsed into
    components by iterative min-label propagation
    (operators/graph.py) — the step that turns near-dup PAIRS into
    CLUSTERS, which no single groupBy can express. The oracle computes
    the same fixpoint as a DuckDB recursive CTE, so the iterative
    DataFrame loop is checked against a declarative reachability
    definition."""
    return _chain_components(spark, sf_dir).orderBy("node")


# -------------------------------------------------------------------------
# Train/test decontamination (cross-split exact-hash overlap)
# -------------------------------------------------------------------------


@register(
    "q_decontamination",
    oracle="""
WITH split AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS dk,
         CAST(substr(source, 4) AS INT) % 2 AS is_test
  FROM documents
),
train AS (SELECT DISTINCT dk FROM split WHERE is_test = 0),
test AS (SELECT * FROM split WHERE is_test = 1)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN tr.dk IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated
FROM test t LEFT JOIN train tr ON t.dk = tr.dk
GROUP BY t.source
ORDER BY t.source
""",
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: the held-out split is probed against
    the training split's normalized-content hash set (exact-match
    contamination, the first pass of any eval-leakage audit; the
    near-dup passes reuse the minhash/simhash operators above). The
    train hash set is distinct-compressed before the join — at 100 TB
    this is a semi-join-shaped probe where only hashes shuffle, never
    text."""
    docs = load(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "source",
        F.md5(F.lower(F.trim(F.col("text")))).alias("dk"),
        # unbounded substring — mirrors the oracle's substr(source, 4)
        (F.expr("substring(source, 4)").cast("int") % 2).alias("is_test"),
    )
    train = split.where(F.col("is_test") == 0).select("dk").distinct()
    test = split.where(F.col("is_test") == 1)
    marked = test.join(
        train.withColumn("in_train", F.lit(1)), "dk", "left"
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("in_train", F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .orderBy("source")
    )


# -------------------------------------------------------------------------
# Advanced aggregates: argmax/argmin + ordered set collection
# -------------------------------------------------------------------------


@register(
    "q_advanced_aggregates",
    oracle="""
SELECT source,
       arg_max(doc_id, n_chars * 10000000 + doc_id) AS longest_doc,
       arg_min(doc_id, n_chars * 10000000 + doc_id) AS shortest_doc,
       MAX(n_chars) AS max_chars,
       array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
FROM documents
GROUP BY source
ORDER BY source
""",
)
def q_advanced_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates (max_by/min_by) with a composite numeric
    ordering key so ties break on doc_id deterministically on both
    engines, plus collect_set flattened through sort_array + array_join
    (set collection is orderless — serializing it sorted is what makes
    the result comparable at all). One hash aggregate; the collected
    sets are bounded by the lang vocabulary, not row count."""
    docs = load(spark, sf_dir, "documents")
    key = F.col("n_chars") * 10000000 + F.col("doc_id")
    return (
        docs.groupBy("source")
        .agg(
            F.max_by("doc_id", key).alias("longest_doc"),
            F.min_by("doc_id", key).alias("shortest_doc"),
            F.max("n_chars").alias("max_chars"),
            F.array_join(F.sort_array(F.collect_set("lang")), ",").alias(
                "langs"
            ),
        )
        .orderBy("source")
    )


# -------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style candidate pruning)
# -------------------------------------------------------------------------

@register(
    "q_dedup_prefix_filter",
    oracle=f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
t AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             j -> concat_ws(' ', t[j], t[j+1], t[j+2]))) AS ts
  FROM tk
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.ts, b.ts)) AS n_common,
       len(a.ts) AS n_a, len(b.ts) AS n_b,
       ROUND(len(list_intersect(a.ts, b.ts)) * 1.0
             / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 4)
           AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE 2 * len(list_intersect(a.ts, b.ts))
      >= len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))
ORDER BY doc_a, doc_b
""",
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set similarity join with PPJoin-style prefix filtering
    (Xiao et al., WWW'08): order each doc's distinct 3-gram shingles rarest-first
    by global document frequency, keep only the first
    ``n - ceil(t*n) + 1`` tokens as the *prefix*, and generate candidate
    pairs ONLY from docs sharing a prefix token — any pair with
    Jaccard >= t must share one (pigeonhole), so the filter is lossless.
    The oracle is the NAIVE all-pairs join; the hash match is the
    losslessness proof.

    The threshold test is the exact integer cross-multiplication
    ``2*inter >= union`` (t = {JACCARD_THRESHOLD}) — no float compare.

    Scale shape: all-pairs is O(n^2) and unrunnable at 100 TB; prefix
    candidates are bounded by sum of per-token prefix-list sizes, and
    rarest-first ordering makes those lists short (the most frequent
    tokens never appear in prefixes). The candidate join shuffles on the
    token hash — uniform keys — and exact verification touches only
    candidates. Composes with minhash-LSH: LSH buckets first, prefix
    filter within buckets."""
    t = JACCARD_THRESHOLD
    # Memoized (registry.memo_frame): the shingle
    # HOF is interpreted and this frame feeds the df-count, the prefix
    # build, and BOTH verify sides; memoization (vs a per-call .cache())
    # keeps repeat invocations from accumulating pinned storage blocks.
    tok = memo_frame(
        spark,
        f"prefix_tok:{sf_dir}",
        lambda: load(spark, sf_dir, "documents").select(
            "doc_id", shingles(tokens(F.col("text"))).alias("ts")
        ),
    )
    ex = tok.select("doc_id", F.explode("ts").alias("tk"))
    dfreq = ex.groupBy("tk").agg(F.count(F.lit(1)).alias("dfc"))
    n = F.size("ts")
    p = (n - F.ceil(F.lit(t) * n) + 1).cast("int")
    prefix = (
        ex.join(F.broadcast(dfreq), "tk")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("dfc", "tk"))).alias("ord"))
        .join(tok, "doc_id")
        .select(
            "doc_id",
            F.slice(F.transform("ord", lambda s: s["tk"]), 1, p).alias("pref"),
        )
    )
    # memoized: referenced by both sides of the candidate self-join
    pe = memo_frame(
        spark,
        f"prefix_pe:{sf_dir}",
        lambda: prefix.select("doc_id", F.explode("pref").alias("tk")),
    )
    cand = (
        pe.alias("a")
        .join(pe.alias("b"), "tk")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    tb = tok.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    na, nb = F.size("ts_a"), F.size("ts_b")
    union = na + nb - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(2 * inter >= union)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_common"),
            na.cast("long").alias("n_a"),
            nb.cast("long").alias("n_b"),
            F.round(inter * 1.0 / union, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# -------------------------------------------------------------------------
# Weighted priority sampling (Duffield-Lund-Thorup)
# -------------------------------------------------------------------------

PRIORITY_K = 100
_U32 = 4294967296.0  # 2^32; (h32+1)/2^32 is an exact dyadic in (0, 1]


@register(
    "q_priority_sample",
    oracle=f"""
WITH p AS (
  SELECT o_orderkey, o_totalprice AS w,
         o_totalprice
           / ((('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT + 1)
              / {_U32}) AS priority
  FROM orders
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, o_orderkey) AS rk
  FROM p
),
tau AS (SELECT MIN(priority) AS tau FROM r WHERE rk <= {PRIORITY_K + 1})
SELECT o_orderkey, w, priority, GREATEST(w, tau) AS w_hat
FROM r CROSS JOIN tau
WHERE rk <= {PRIORITY_K}
ORDER BY o_orderkey
""",
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement via priority sampling
    (Duffield, Lund & Thorup, JACM'07): each row gets priority = w/u with
    u a deterministic hash-uniform in (0,1]; the sample is the top-K
    priorities and each kept row's unbiased weight estimator is
    max(w, tau) with tau the (K+1)-th priority. Subset-sum estimates off
    the sample are provably unbiased — the sketch a 100 TB pipeline keeps
    instead of the full table.

    Determinism: u = (h32+1)/2^32 is an exact dyadic rational, so
    priority is ONE IEEE division of bit-identical operands on both
    engines — no rounding needed anywhere. No transcendentals (this is
    why priority sampling is used here rather than the exponent-based
    Efraimidis-Spirakis scheme: w/u needs no pow/ln, which differ at the
    last ulp between engines).

    Scale shape: priorities are a narrow projection; top-(K+1) compiles
    to TakeOrderedAndProject (per-partition heaps + driver merge of K+1
    rows per partition — no shuffle of the data); tau is a 1-row
    broadcast."""
    orders = load(spark, sf_dir, "orders")
    u = (h32(F.col("o_orderkey").cast("string")) + 1) / F.lit(_U32)
    p = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("w"),
        (F.col("o_totalprice") / u).alias("priority"),
    )
    # memoize the K+1-row top frame: both tau and the sample derive from
    # it, and without persistence each branch re-runs the full TakeOrdered
    # scan (hash + per-partition heaps over the whole table, twice).
    # memo_frame (not a bare .cache()) so repeat invocations in one session
    # reuse a single pinned entry covered by clear_frame_cache().
    top = memo_frame(
        spark,
        f"prio_top:{sf_dir}",
        lambda: p.orderBy(F.desc("priority"), F.asc("o_orderkey")).limit(
            PRIORITY_K + 1
        ),
    )
    tau = top.agg(F.min("priority").alias("tau"))
    return (
        top.orderBy(F.desc("priority"), F.asc("o_orderkey"))
        .limit(PRIORITY_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "o_orderkey",
            "w",
            "priority",
            F.greatest("w", "tau").alias("w_hat"),
        )
        .orderBy("o_orderkey")
    )


# -------------------------------------------------------------------------
# N-gram decontamination (GPT-3-style shingle-collision probe)
# -------------------------------------------------------------------------


@register(
    "q_decontaminate_ngram",
    oracle=f"""
WITH {_SHINGLE_CTE},
split AS (
  SELECT doc_id, source, CAST(substr(source, 4) AS INT) % 2 AS is_test
  FROM documents
),
tr AS (
  SELECT DISTINCT s FROM sh JOIN split USING (doc_id) WHERE is_test = 0
),
te AS (
  SELECT sh.doc_id, split.source, sh.s
  FROM sh JOIN split USING (doc_id) WHERE is_test = 1
)
SELECT te.doc_id, te.source,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       CAST(CASE WHEN SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) > 0
            THEN 1 ELSE 0 END AS INT) AS contaminated
FROM te LEFT JOIN tr ON te.s = tr.s
GROUP BY te.doc_id, te.source
ORDER BY te.doc_id
""",
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-collision decontamination (the GPT-3 appendix-C shape): a
    held-out doc is contaminated when any of its distinct 3-gram shingles
    appears anywhere in the training split. Complements q_decontamination
    (exact normalized-hash match) with substring-level leakage detection.

    Scale shape: the training side compresses to DISTINCT shingles before
    the probe join — only shingle hashes shuffle, never text; the join key
    is hash-uniform; stop-shingles are dropped by the shared DF cap (a
    ubiquitous 3-gram carries no leakage signal and would fan the join
    out). This reuses the SAME memoized shingle frame as the Jaccard /
    MinHash operators — one explode serves four operators per session."""
    sh = _exploded_shingles(spark, sf_dir)
    split = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        # unbounded substring — mirrors the oracle's substr(source, 4)
        (F.expr("substring(source, 4)").cast("int") % 2).alias("is_test"),
    )
    joined = sh.join(split, "doc_id")
    train = (
        joined.where(F.col("is_test") == 0).select("s").distinct()
    )
    test = joined.where(F.col("is_test") == 1).select("doc_id", "source", "s")
    marked = test.join(
        train.withColumn("hit", F.lit(1)), "s", "left"
    )
    return (
        marked.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "source",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------------------
# Training-mix planning: per-source token budgets and sampling weights
# -------------------------------------------------------------------------


@register(
    "q_source_mixture",
    oracle="""
WITH per_doc AS (
  SELECT source, len(string_split(text, ' ')) AS n_tok FROM documents
),
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       ROUND(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS actual_share,
       ROUND((1.0 / n_sources)
             / (n_tokens / CAST(total_tokens AS DOUBLE)), 6) AS sample_weight
FROM per_source CROSS JOIN tot
ORDER BY source
""",
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning: per-source document/token tallies, each
    source's share of the corpus, and the uniform-target sampling weight
    (weight > 1 means upsample, < 1 means downsample) — the arithmetic
    behind domain-mixture curation (e.g. The Pile / DoReMi-style reweighting
    starts from exactly this table).

    Scale shape: one map-side-combinable aggregate over the corpus; the
    totals frame is one row per source crossed back as a broadcast — no
    second corpus scan, no unbounded state anywhere."""
    docs = load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "n_tokens"
        ),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    share = F.col("n_tokens") / F.col("total_tokens").cast("double")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("actual_share"),
            F.round((F.lit(1.0) / F.col("n_sources")) / share, 6).alias(
                "sample_weight"
            ),
        )
        .orderBy("source")
    )


# -------------------------------------------------------------------------
# Cluster canonicalization: dedup clusters -> one kept representative
# -------------------------------------------------------------------------


@register(
    "q_dedup_canonical",
    oracle=f"""
WITH RECURSIVE
base AS (SELECT doc_id, {h32_sql('text')} % 3 AS m FROM documents),
mx AS (SELECT MAX(doc_id) AS mx FROM documents),
edges AS (
  SELECT b.doc_id AS a, b.doc_id + 1 AS b
  FROM base b, mx WHERE b.m = 0 AND b.doc_id + 1 <= mx.mx
),
und AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b AS u, a AS v FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, u.v FROM reach r JOIN und u ON u.u = r.lab
),
comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
canon AS (
  SELECT cluster,
         arg_max(doc_id, n_chars * 10000000 - doc_id) AS canonical_doc
  FROM lab GROUP BY cluster
)
SELECT l.doc_id,
       CAST(l.cluster AS BIGINT) AS cluster,
       CAST(c.canonical_doc AS BIGINT) AS canonical_doc,
       CAST(CASE WHEN l.doc_id = c.canonical_doc THEN 1 ELSE 0 END AS INT)
           AS is_canonical
FROM lab l JOIN canon c USING (cluster)
ORDER BY l.doc_id
""",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster canonicalization — the step AFTER pair finding and
    component closure: every document gets its cluster id (singletons are
    their own cluster) and each cluster elects ONE representative by
    quality (longest text, ties to the lowest doc_id). The keep-list a
    dedup pipeline actually emits is `is_canonical = 1`.

    Scale shape: the component frame is (node, component) int pairs —
    tiny next to the corpus — so the label join broadcasts; the election
    is one max_by aggregate on the cluster key (map-side combinable); no
    text ever shuffles. Composes with any pair source (MinHash bands,
    SimHash bands, embedding near-dup) — the chain edges here are the
    same deterministic fixture q_connected_components verifies, and the
    closure itself is the memoized frame both queries share."""
    docs = load(spark, sf_dir, "documents")
    comp = _chain_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    lab = (
        docs.select("doc_id", "n_chars")
        .join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", "doc_id").cast("long").alias("cluster"),
        )
    )
    quality_key = F.col("n_chars") * 10000000 - F.col("doc_id")
    canon = lab.groupBy("cluster").agg(
        F.max_by("doc_id", quality_key).cast("long").alias("canonical_doc")
    )
    return (
        lab.join(F.broadcast(canon), "cluster")
        .select(
            "doc_id",
            "cluster",
            "canonical_doc",
            (F.col("doc_id") == F.col("canonical_doc")).cast("int").alias(
                "is_canonical"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup verification on blocked candidates (round 8)
# ---------------------------------------------------------------------------

ED_PREFIX_LEN = 40  # compared prefix (bounds the DP cost per pair)
ED_BLOCK_LEN = 8  # blocking key: shared 8-char prefix
ED_BLOCK_CAP = 64  # blocks bigger than this are non-discriminative: skip
ED_DUP_MAX = 10  # levenshtein threshold for "near-dup"


@register(
    "q_dedup_edit_distance",
    oracle=f"""
WITH s AS (
  SELECT doc_id, source, substr(text, 1, {ED_PREFIX_LEN}) AS s,
         substr(text, 1, {ED_BLOCK_LEN}) AS bk
  FROM documents
),
sized AS (SELECT bk, COUNT(*) AS n FROM s GROUP BY bk),
blocks AS (SELECT bk FROM sized WHERE n BETWEEN 2 AND {ED_BLOCK_CAP}),
pairs AS (
  SELECT a.source, levenshtein(a.s, b.s) AS d
  FROM s a
  JOIN blocks USING (bk)
  JOIN s b ON b.bk = a.bk AND a.doc_id < b.doc_id
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
         CAST(SUM(CASE WHEN d <= {ED_DUP_MAX} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_dups,
         CAST(MIN(d) AS BIGINT) AS min_d,
         ROUND(AVG(CAST(d AS DOUBLE)), 4) AS avg_d
  FROM pairs
  GROUP BY source
),
-- cap observability: which docs sat in blocks the cap shed
shed AS (
  SELECT s.source,
         CAST(COUNT(DISTINCT s.bk) AS BIGINT) AS n_blocks_skipped,
         CAST(COUNT(*) AS BIGINT) AS n_docs_in_skipped_blocks
  FROM s JOIN sized ON sized.bk = s.bk AND sized.n > {ED_BLOCK_CAP}
  GROUP BY s.source
)
SELECT COALESCE(agg.source, shed.source) AS source,
       COALESCE(n_candidate_pairs, 0) AS n_candidate_pairs,
       COALESCE(n_near_dups, 0) AS n_near_dups,
       min_d, avg_d,
       COALESCE(n_blocks_skipped, 0) AS n_blocks_skipped,
       COALESCE(n_docs_in_skipped_blocks, 0) AS n_docs_in_skipped_blocks
FROM agg FULL JOIN shed ON agg.source = shed.source
ORDER BY source
""",
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification: candidates come from cheap
    prefix blocking (same first {ED_BLOCK_LEN} chars), the exact
    levenshtein DP runs ONLY inside blocks, and blocks larger than
    {ED_BLOCK_CAP} docs are skipped as non-discriminative — the same
    hot-key cap discipline as the DF-capped shingles (a block of k docs
    costs k^2/2 DPs; an uncapped celebrity prefix is the quadratic
    blowup this family of operators exists to avoid). Distances compare
    {ED_PREFIX_LEN}-char prefixes, bounding the DP at {ED_PREFIX_LEN}^2
    cells per pair. levenshtein() is built-in JVM-side on Spark and
    native in DuckDB — identical semantics on these ASCII fixtures.

    The cap is OBSERVABLE, not silent (VERDICT r8 #4): per source the
    output reports `n_blocks_skipped` / `n_docs_in_skipped_blocks` — at
    real scale an operator that silently sheds celebrity prefixes would
    read as full coverage. Sources whose every block was shed still get
    a row (full-outer on the shed census, zeroed pair counts, NULL
    distances).

    Scale shape: one shuffle on the block key (hash-uniform except the
    capped heads), per-block self-join bounded by the cap, one
    combinable aggregate. At 100 TB blocking would key on a content
    hash band (as in MinHash-LSH) rather than a raw prefix; the cap and
    verify-on-candidates shape are identical."""
    s = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.substring("text", 1, ED_PREFIX_LEN).alias("s"),
        F.substring("text", 1, ED_BLOCK_LEN).alias("bk"),
    )
    sized = s.groupBy("bk").agg(F.count(F.lit(1)).alias("n"))
    blocks = sized.where(
        (F.col("n") >= 2) & (F.col("n") <= ED_BLOCK_CAP)
    ).select("bk")
    sb = s.join(blocks, "bk")
    a = sb.select(
        "bk",
        F.col("doc_id").alias("i"),
        F.col("source").alias("source"),
        F.col("s").alias("sa"),
    )
    b = sb.select(
        "bk", F.col("doc_id").alias("j"), F.col("s").alias("sb")
    )
    pairs = a.join(b, "bk").where(F.col("i") < F.col("j")).select(
        "source", F.levenshtein("sa", "sb").alias("d")
    )
    agg = pairs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(
            F.when(F.col("d") <= ED_DUP_MAX, 1).otherwise(0)
        ).alias("n_near_dups"),
        F.min("d").cast("long").alias("min_d"),
        F.round(F.avg(F.col("d").cast("double")), 4).alias("avg_d"),
    )
    # the shed census: docs whose block the cap skipped. Broadcast is
    # safe — there are at most (n_docs / cap) oversized blocks.
    shed = (
        s.join(
            F.broadcast(
                sized.where(F.col("n") > ED_BLOCK_CAP).select("bk")
            ),
            "bk",
        )
        .groupBy("source")
        .agg(
            F.count_distinct("bk").alias("n_blocks_skipped"),
            F.count(F.lit(1)).alias("n_docs_in_skipped_blocks"),
        )
    )
    return (
        agg.join(shed, "source", "full_outer")
        .select(
            "source",
            F.coalesce("n_candidate_pairs", F.lit(0)).alias(
                "n_candidate_pairs"
            ),
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            "min_d",
            "avg_d",
            F.coalesce("n_blocks_skipped", F.lit(0)).alias(
                "n_blocks_skipped"
            ),
            F.coalesce("n_docs_in_skipped_blocks", F.lit(0)).alias(
                "n_docs_in_skipped_blocks"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (round 8)
# ---------------------------------------------------------------------------

_URL_HOSTS = [
    "Example.COM",
    "example.com",
    "CDN.Example.com",
    "blog.example.org",
]
_URL_TAILS = [
    "",
    "/",
    "?utm_source=feed",
    "?id={m3}&utm_medium=mail",
    "#frag",
    "?id={m3}",
]


def _url_fixture_sql() -> str:
    host = (
        "CASE doc_id % 4 "
        + " ".join(
            f"WHEN {i} THEN '{h}'" for i, h in enumerate(_URL_HOSTS[:-1])
        )
        + f" ELSE '{_URL_HOSTS[-1]}' END"
    )
    tail = (
        "CASE doc_id % 6 "
        + " ".join(
            "WHEN {} THEN {}".format(
                i, "'" + t + "'" if "{m3}" not in t
                else "'" + t.split("{m3}")[0] + "' || (doc_id % 3) || '"
                + t.split("{m3}")[1] + "'"
            )
            for i, t in enumerate(_URL_TAILS[:-1])
        )
        + " ELSE '?id=' || (doc_id % 3) END"
    )
    return (
        f"'https://' || {host} || '/p/' || (doc_id % 50) || {tail}"
    )


_URL_CANON_SQL_STEPS = [
    ("#.*$", ""),  # strip fragment
    ("[?&]utm_[a-z]+=[A-Za-z0-9_-]*", ""),  # strip tracking params
    ("/$", ""),  # strip trailing slash
]


@register(
    "q_url_dedup",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_url_fixture_sql()} AS url FROM documents
),
canon AS (
  SELECT doc_id, url,
         'https://' ||
         lower(regexp_extract(
           {"regexp_replace(regexp_replace(regexp_replace(url, '#.*$', '', 'g'), '[?&]utm_[a-z]+=[A-Za-z0-9_-]*', '', 'g'), '/$', '', 'g')"},
           '^https://([^/?#]*)', 1)) ||
         regexp_replace(
           {"regexp_replace(regexp_replace(regexp_replace(url, '#.*$', '', 'g'), '[?&]utm_[a-z]+=[A-Za-z0-9_-]*', '', 'g'), '/$', '', 'g')"},
           '^https://[^/?#]*', '', 'g') AS curl
  FROM raw
)
SELECT curl AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc
FROM canon
GROUP BY curl
HAVING COUNT(*) > 1
ORDER BY canonical_url
""",
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-side twin of content
    dedup: raw URLs (deterministic fixture over doc_id: mixed-case
    hosts, trailing slashes, utm_* tracking params, fragments, and a
    real ?id= param that must SURVIVE) are canonicalized by a fixed
    rewrite chain — strip fragment, strip utm_* params, strip trailing
    slash, lowercase the HOST ONLY (paths are case-sensitive per RFC
    3986; hosts are not) — and duplicate clusters are reported with the
    min-doc_id keeper, the same keeper rule as q_dedup_canonical.

    Scale shape: canonicalization is pure in-row regexp_replace (one
    codegen'd pass, no UDF); the cluster report is one shuffle keyed by
    canonical URL — hash-uniform keys, the exact shape of a 100 TB URL
    frontier dedup."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    host = F.when(F.col("doc_id") % 4 == 0, _URL_HOSTS[0])
    for i, h in enumerate(_URL_HOSTS[1:-1], start=1):
        host = host.when(F.col("doc_id") % 4 == i, h)
    host = host.otherwise(_URL_HOSTS[-1])
    m3 = (F.col("doc_id") % 3).cast("string")
    tails = [
        F.lit(""),
        F.lit("/"),
        F.lit("?utm_source=feed"),
        F.concat(F.lit("?id="), m3, F.lit("&utm_medium=mail")),
        F.lit("#frag"),
        F.concat(F.lit("?id="), m3),
    ]
    tail = F.when(F.col("doc_id") % 6 == 0, tails[0])
    for i, t in enumerate(tails[1:-1], start=1):
        tail = tail.when(F.col("doc_id") % 6 == i, t)
    tail = tail.otherwise(tails[-1])
    url = F.concat(
        F.lit("https://"),
        host,
        F.lit("/p/"),
        (F.col("doc_id") % 50).cast("string"),
        tail,
    )
    raw = docs.select("doc_id", url.alias("url"))
    stripped = F.col("url")
    for pat, repl in _URL_CANON_SQL_STEPS:
        stripped = F.regexp_replace(stripped, pat, repl)
    curl = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract(stripped, "^https://([^/?#]*)", 1)),
        F.regexp_replace(stripped, "^https://[^/?#]*", ""),
    )
    canon = raw.select("doc_id", "url", curl.alias("curl"))
    return (
        canon.groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            F.col("curl").alias("canonical_url"),
            "n_docs",
            "n_raw_variants",
            "keeper_doc",
        )
        .orderBy("canonical_url")
    )
