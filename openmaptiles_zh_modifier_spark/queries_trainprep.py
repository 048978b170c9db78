"""Training-set preparation operators: contrastive hard-negative
mining over the embedding corpus, deterministic class rebalancing, and
T5-style span corruption — the last-mile passes that turn a curated
corpus into model-ready examples (SURVEY.md §2.9 north-star surface).

Determinism: selection and masking decisions derive from the shared
32-bit md5 hash (functions/text.h32) — no RNG; cosines round at 4 dp;
every tie-break is a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import h32, h32_sql, tokens
from openmaptiles_zh_modifier_spark.queries_embeddings import (
    N_QUERIES,
    _dot_fold,
    _dot_sql,
    _dvec,
    _norm,
)
from openmaptiles_zh_modifier_spark.registry import load, register

# ---------------------------------------------------------------------------
# Contrastive hard-negative mining
# ---------------------------------------------------------------------------


@register(
    "q_hard_negatives",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe, label AS qlabel FROM v
      WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, q.qlabel, v.vec_id AS cid, v.label = q.qlabel AS same,
         ROUND({_dot_sql('q.qe', 'v.e')}
               / (sqrt({_dot_sql('q.qe', 'q.qe')})
                  * sqrt({_dot_sql('v.e', 'v.e')})), 4) AS cos
  FROM q JOIN v ON v.vec_id <> q.qid
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, same
                               ORDER BY cos DESC, cid) AS rn
  FROM scored
)
SELECT qid,
       CAST(qlabel AS INT) AS anchor_label,
       MAX(CASE WHEN same THEN cid END) AS positive_id,
       MAX(CASE WHEN same THEN cos END) AS positive_cos,
       MAX(CASE WHEN NOT same THEN cid END) AS hard_negative_id,
       MAX(CASE WHEN NOT same THEN cos END) AS hard_negative_cos,
       ROUND(MAX(CASE WHEN same THEN cos END)
             - MAX(CASE WHEN NOT same THEN cos END), 4) AS margin
FROM ranked WHERE rn = 1
GROUP BY qid, qlabel
ORDER BY qid
""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining for embedding-model training: for each
    anchor (the {N_QUERIES}-vector query sample), the most similar
    SAME-label vector is the positive and the most similar
    DIFFERENT-label vector is the hard negative — the mining rule that
    makes triplet/InfoNCE training converge (random negatives are too
    easy; the hardest one carries the gradient). The margin
    (pos_cos - neg_cos) is the curriculum signal: negative margins
    mark anchors whose neighborhood contradicts their label.

    Determinism: cosines round at 4 dp before ranking; ties break on
    candidate id; the same/different split is exact.

    Scale shape: broadcast anchors x one corpus scan, ranked by a
    per-(anchor, side) window — the exact-scoring path. At 100 TB
    mining runs per anchor BATCH against the ANN index
    (q_embed_ivf_topk) with this exact scan as the ground-truth pass
    on a sample; the plan here IS that sampled pass."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    q = v.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    cos = F.round(
        _dot_fold(F.col("qe"), F.col("e"))
        / (_norm(F.col("qe")) * _norm(F.col("e"))),
        4,
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col("vec_id").alias("cid"),
            (F.col("label") == F.col("qlabel")).alias("same"),
            cos.alias("cos"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("qid", "same").orderBy(F.desc("cos"), F.asc("cid"))
    )
    top = scored.withColumn("rn", rn).where(F.col("rn") == 1)
    pos_cos = F.max(F.when(F.col("same"), F.col("cos")))
    neg_cos = F.max(F.when(~F.col("same"), F.col("cos")))
    return (
        top.groupBy("qid", "qlabel")
        .agg(
            F.max(F.when(F.col("same"), F.col("cid"))).alias("positive_id"),
            pos_cos.alias("positive_cos"),
            F.max(F.when(~F.col("same"), F.col("cid"))).alias(
                "hard_negative_id"
            ),
            neg_cos.alias("hard_negative_cos"),
            F.round(pos_cos - neg_cos, 4).alias("margin"),
        )
        .select(
            "qid",
            F.col("qlabel").cast("int").alias("anchor_label"),
            "positive_id",
            "positive_cos",
            "hard_negative_id",
            "hard_negative_cos",
            "margin",
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Deterministic class rebalancing
# ---------------------------------------------------------------------------


@register(
    "q_label_balance",
    oracle=f"""
WITH v AS (SELECT vec_id, label FROM embeddings),
tgt AS (SELECT MIN(c) AS target FROM (
  SELECT COUNT(*) AS c FROM v GROUP BY label)),
rk AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY {h32_sql("vec_id || ':bal'")}, vec_id) AS r
  FROM v
)
SELECT rk.label,
       CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN rk.r <= t.target THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after,
       CAST(MIN(CASE WHEN rk.r <= t.target THEN vec_id END) AS BIGINT)
         AS first_kept_id
FROM rk CROSS JOIN tgt t
GROUP BY rk.label
ORDER BY rk.label
""",
)
def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing: downsample every label to the
    minority-class count by keeping the rows with the smallest
    hash-rank (md5 of the id — uniform, seedless, reproducible across
    runs and engines, the property an RNG-based sampler can't give a
    distributed pipeline). Emits the per-label before/after census
    plus the first kept id as a selection witness.

    Scale shape: one count aggregate for the target (broadcast
    scalar), one per-label window rank, one combinable census — the
    window is the only per-row sort and it partitions by label. The
    kept-rows frame itself (filter r <= target) is the pipeline
    output; the gate compares its census."""
    v = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    tgt = (
        v.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("target"))
    )
    r = F.row_number().over(
        Window.partitionBy("label").orderBy(
            h32(F.concat(F.col("vec_id"), F.lit(":bal"))), F.asc("vec_id")
        )
    )
    rk = v.withColumn("r", r)
    kept = F.when(F.col("r") <= F.col("target"), 1).otherwise(0)
    return (
        rk.crossJoin(F.broadcast(tgt))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(kept).cast("long").alias("n_after"),
            F.min(
                F.when(F.col("r") <= F.col("target"), F.col("vec_id"))
            )
            .cast("long")
            .alias("first_kept_id"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# T5-style span corruption
# ---------------------------------------------------------------------------

SPAN_START_PCT = 8  # a token starts a masked span with ~8% probability
SPAN_MAX_EXTRA = 2  # span length 1..3 tokens


@register(
    "q_span_corruption",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
m AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(generate_series(1, len(toks)),
           i -> CASE WHEN {h32_sql("doc_id || ':' || i")} % 100
                          < {SPAN_START_PCT}
                     THEN 1 + {h32_sql("doc_id || ':L' || i")}
                              % {SPAN_MAX_EXTRA + 1}
                     ELSE 0 END) AS spanlen
  FROM t
),
c AS (
  SELECT doc_id, toks, n, spanlen,
         list_transform(generate_series(1, n),
           j -> CAST((spanlen[j] >= 1)
                  OR (j >= 2 AND spanlen[j - 1] >= 2)
                  OR (j >= 3 AND spanlen[j - 2] >= 3) AS INT)) AS covered
  FROM m
),
o AS (
  SELECT doc_id, n,
         list_reduce(list_prepend(0, covered), (a, x) -> a + x) AS n_masked,
         md5(array_to_string(
           list_transform(
             list_filter(generate_series(1, n), j -> covered[j] = 0),
             j -> toks[j]), ' ')) AS kept_md5
  FROM c
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(n_masked AS BIGINT) AS n_masked,
       ROUND(n_masked * 1.0 / n, 4) AS masked_frac,
       kept_md5
FROM o
ORDER BY doc_id
""",
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel et al.): each token position
    starts a masked span with ~{SPAN_START_PCT}% probability and
    length 1-{SPAN_MAX_EXTRA + 1}, decided by the shared md5 hash of
    (doc_id, position) — the seedless determinism a distributed
    pipeline needs for reproducible training runs and for the
    denoising-objective input/target split. Overlapping spans merge
    via the covered-position OR. Emits the per-doc mask census and
    the md5 of the surviving (input-side) token sequence — the
    scalar witness that the exact same corrupted input would be fed
    to the trainer from either engine.

    Scale shape: everything is in-row array arithmetic over the token
    list (transform/filter — whole-stage codegen, no explode, no
    shuffle before the presentation sort). The span decisions read
    only (doc_id, position), so any executor reproduces any doc's
    mask in isolation — the property that makes deterministic data
    loading order-free."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks")

    def spanlen_at(i):
        start = (
            h32(F.concat(F.col("doc_id"), F.lit(":"), i)) % 100
            < SPAN_START_PCT
        )
        ln = 1 + h32(
            F.concat(F.col("doc_id"), F.lit(":L"), i)
        ) % (SPAN_MAX_EXTRA + 1)
        return F.when(start, ln).otherwise(F.lit(0))

    m = t.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.transform(
            F.sequence(F.lit(1), n), lambda i: spanlen_at(i)
        ).alias("spanlen"),
    )
    # lookbacks clamp the index to >= 1 (element_at(arr, 0) raises and
    # Spark's & does NOT short-circuit); the j >= k guard keeps the
    # clamped read from ever counting
    covered_at = lambda j: (  # noqa: E731
        (F.element_at("spanlen", j) >= 1)
        | (
            (j >= 2)
            & (F.element_at("spanlen", F.greatest(j - 1, F.lit(1))) >= 2)
        )
        | (
            (j >= 3)
            & (F.element_at("spanlen", F.greatest(j - 2, F.lit(1))) >= 3)
        )
    ).cast("int")
    c = m.select(
        "doc_id",
        "toks",
        "n",
        "spanlen",
        F.transform(
            F.sequence(F.lit(1), F.col("n")), covered_at
        ).alias("covered"),
    )
    kept = F.md5(
        F.array_join(
            F.transform(
                F.filter(
                    F.sequence(F.lit(1), F.col("n")),
                    lambda j: F.element_at("covered", j) == 0,
                ),
                lambda j: F.element_at("toks", j),
            ),
            " ",
        )
    )
    n_masked = F.aggregate("covered", F.lit(0), lambda a, x: a + x)
    return (
        c.select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            n_masked.cast("long").alias("n_masked"),
            F.round(n_masked * F.lit(1.0) / F.col("n"), 4).alias(
                "masked_frac"
            ),
            kept.alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge application (the tokenizer-training second half)
# ---------------------------------------------------------------------------

BPE_APPLY_K = 5  # apply the top-K learned merges


@register(
    "q_bpe_apply",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                i -> substr(w, i, 2))) AS pair
  FROM toks WHERE length(w) >= 2
),
cand AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS INT) AS rk
  FROM pairs GROUP BY pair
  QUALIFY rk <= {BPE_APPLY_K}
),
m AS (
  SELECT {', '.join(
    f"MAX(CASE WHEN rk = {k} THEN pair END) AS m{k}" for k in range(1, 6))}
  FROM cand
),
spaced AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s,
         length(w) AS n_chars
  FROM toks
),
applied AS (
  SELECT n_chars,
         {'replace(' * 5}s
           , ' ' || substr(m.m1, 1, 1) || ' ' || substr(m.m1, 2, 1) || ' ', ' ' || m.m1 || ' ')
           , ' ' || substr(m.m2, 1, 1) || ' ' || substr(m.m2, 2, 1) || ' ', ' ' || m.m2 || ' ')
           , ' ' || substr(m.m3, 1, 1) || ' ' || substr(m.m3, 2, 1) || ' ', ' ' || m.m3 || ' ')
           , ' ' || substr(m.m4, 1, 1) || ' ' || substr(m.m4, 2, 1) || ' ', ' ' || m.m4 || ' ')
           , ' ' || substr(m.m5, 1, 1) || ' ' || substr(m.m5, 2, 1) || ' ', ' ' || m.m5 || ' ') AS s5
  FROM spaced CROSS JOIN m
),
stats AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS symbols_before,
         CAST(SUM(len(string_split(trim(s5), ' '))) AS BIGINT)
           AS symbols_after
  FROM applied
)
SELECT c.rk, c.pair, c.n_occ, t.symbols_before, t.symbols_after,
       ROUND(t.symbols_after * 1.0 / t.symbols_before, 4)
         AS compression
FROM cand c CROSS JOIN stats t
ORDER BY c.rk
""",
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION — the second half of the tokenizer loop
    whose first half q_bpe_merge_candidates counts: the top
    {BPE_APPLY_K} learned merges are applied corpus-wide over the
    space-separated symbol representation, and the corpus reports its
    symbol count before/after (the compression the merges bought).
    One round of first-order merges (real BPE re-counts after every
    merge; the re-count IS q_bpe_merge_candidates run again — the
    distributed loop alternates these two queries). Boundary-sharing
    consecutive occurrences resolve left-to-right non-overlapping —
    identical semantics in both engines' literal replace.

    Determinism: the merge list comes from the same integer ranking
    both engines compute; application is literal string replace; all
    stats are exact integers.

    Scale shape: merge selection is the bounded-explode count of the
    candidates query; application is a per-row map of 5 chained
    replaces against a broadcast one-row merge table — no shuffle
    beyond the candidate count and the final scalar aggregate."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    pairs = (
        toks.where(F.length("w") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
            "w",
        )
        .select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"))
    )
    cand = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("n_occ"), F.asc("pair")))
            .cast("int"),
        )
        .where(F.col("rk") <= BPE_APPLY_K)
    )
    m = cand.agg(
        *[
            F.max(F.when(F.col("rk") == k, F.col("pair"))).alias(f"m{k}")
            for k in range(1, 6)
        ]
    )
    spaced = toks.select(
        F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("s"),
        F.length("w").alias("n_chars"),
    )
    s = F.col("s")
    for k in range(1, 6):
        mk = F.col(f"m{k}")
        s = F.replace(
            s,
            F.concat(
                F.lit(" "),
                F.substring(mk, 1, 1),
                F.lit(" "),
                F.substring(mk, 2, 1),
                F.lit(" "),
            ),
            F.concat(F.lit(" "), mk, F.lit(" ")),
        )
    applied = spaced.crossJoin(F.broadcast(m)).select(
        "n_chars", s.alias("s5")
    )
    stats = applied.agg(
        F.sum("n_chars").cast("long").alias("symbols_before"),
        F.sum(F.size(F.split(F.trim(F.col("s5")), " ")))
        .cast("long")
        .alias("symbols_after"),
    )
    return (
        cand.crossJoin(F.broadcast(stats))
        .select(
            "rk",
            "pair",
            "n_occ",
            "symbols_before",
            "symbols_after",
            F.round(
                F.col("symbols_after") * F.lit(1.0) / F.col("symbols_before"),
                4,
            ).alias("compression"),
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Token-budget curation: best-first selection under a corpus token budget
# ---------------------------------------------------------------------------

BUDGET_FRAC = 0.4  # spend 40% of the corpus token mass on the best docs


@register(
    "q_token_budget_select",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, n_chars AS q,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS t
  FROM documents
),
tot AS (SELECT CAST(FLOOR({BUDGET_FRAC} * SUM(t)) AS BIGINT) AS budget FROM d),
c AS (
  SELECT doc_id, source, t,
         SUM(t) OVER (ORDER BY q DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(SUM(CASE WHEN cum <= budget THEN t ELSE 0 END) AS BIGINT)
         AS tokens_selected,
       ROUND(CAST(SUM(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS keep_rate
FROM c, tot
GROUP BY source
ORDER BY source
""",
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-first curation under a token budget: rank documents by a
    quality score (fixture: n_chars, stand-in for a model quality
    score), take documents in score order until the cumulative token
    count reaches {BUDGET_FRAC:.0%} of the corpus — "spend the training
    budget on the best data first" (the selection stage behind
    quality-pruned corpora a la DataComp-LM / FineWeb-Edu cuts).

    Scale shape: the naive global ORDER BY + running SUM collapses to
    one partition at 100 TB. This plan is the HISTOGRAM-PREFIX
    decomposition instead (same trick as q_mannwhitney_u): (1) one
    combinable aggregate builds per-score-VALUE token sums — the score
    domain, not the corpus, sizes this; (2) the prefix over the tiny
    value domain is a value-count-sized window; (3) each doc's global
    cumulative = its value's prefix + a running sum WITHIN its value
    group (window partitioned by score value — parallel across values).
    The only global-order artifact is over distinct score values, never
    rows. Budget and cutoffs are exact integers; DuckDB states the
    straightforward single cumsum and must agree exactly.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").alias("q"),
        F.size(tokens(F.col("text"))).cast("long").alias("t"),
    )
    vsum = d.groupBy("q").agg(F.sum("t").alias("vt"))
    wv = Window.orderBy(F.desc("q")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vpre = vsum.select(
        "q", (F.sum("vt").over(wv) - F.col("vt")).alias("vprefix")
    )
    budget = d.agg(
        F.floor(F.lit(BUDGET_FRAC) * F.sum("t")).cast("long").alias("budget")
    )
    ww = Window.partitionBy("q").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = (
        d.withColumn("run", F.sum("t").over(ww))
        .join(F.broadcast(vpre), "q")
        .crossJoin(F.broadcast(budget))
        .select(
            "source",
            "t",
            (F.col("vprefix") + F.col("run") <= F.col("budget")).alias(
                "sel"
            ),
        )
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("sel"), 1).otherwise(0)).alias("n_selected"),
            F.sum(F.when(F.col("sel"), F.col("t")).otherwise(0)).alias(
                "tokens_selected"
            ),
            F.round(
                F.sum(F.when(F.col("sel"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for implicit-feedback training pairs
# ---------------------------------------------------------------------------

NEG_K = 4  # candidate negatives drawn per positive
NEG_ITEMS = 50  # fixture item space: item = event_id % NEG_ITEMS


@register(
    "q_negative_sampling",
    oracle=f"""
WITH pos AS (
  -- pmod-safe form (matches Spark F.pmod even for negative operands;
  -- fixture ids are non-negative today, but the oracle should not rely
  -- on that — ADVICE r7, same convention as q_mannwhitney_u)
  SELECT DISTINCT user_id,
         ((event_id % {NEG_ITEMS}) + {NEG_ITEMS}) % {NEG_ITEMS} AS item
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT DISTINCT user_id,
         (({h32_sql(f"user_id || ':' || item || ':' || k")} % {NEG_ITEMS})
          + {NEG_ITEMS}) % {NEG_ITEMS}
           AS neg_item
  FROM pos, (SELECT unnest(range({NEG_K})) AS k)
),
kept AS (
  SELECT c.user_id, c.neg_item
  FROM cand c
  LEFT JOIN pos p ON p.user_id = c.user_id AND p.item = c.neg_item
  WHERE p.item IS NULL
)
SELECT pos.user_id,
       CAST(COUNT(DISTINCT pos.item) AS BIGINT) AS n_pos,
       CAST(COUNT(DISTINCT kept.neg_item) AS BIGINT) AS n_neg,
       COALESCE(CAST(SUM(DISTINCT kept.neg_item) AS BIGINT), 0)
         AS neg_witness
FROM pos LEFT JOIN kept ON kept.user_id = pos.user_id
GROUP BY pos.user_id
ORDER BY pos.user_id
""",
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    each observed (user, item) positive seeds {NEG_K} hash-drawn
    candidate negatives from the item space; candidates colliding with
    ANY of the user's positives are anti-joined away (the correctness
    step naive samplers skip — a "negative" the user actually bought is
    a false label). Hash-seeded (md5 h32, no RNG) so every engine, run,
    and retry draws the identical sample — the reproducibility property
    a training pipeline needs for exact restarts. Item ids are the
    event_id % {NEG_ITEMS} fixture overlay (events carry no item
    column); the OPERATOR is the draw + collision-filter + census.

    Scale shape: positives dedup (one shuffle on (user, item)), an
    in-row explode of {NEG_K} literals, and a left-anti self-join on
    (user, candidate) — co-partitioned with the positives shuffle, so
    AQE plans it without an extra exchange. At 100 TB the anti-join is
    the standard skew-join case (hot users salt); census is one
    combinable aggregate."""
    pos = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id", F.pmod(F.col("event_id"), NEG_ITEMS).alias("item")
        )
        .distinct()
    )
    cand = pos.select(
        "user_id",
        F.explode(F.array(*[F.lit(k) for k in range(NEG_K)])).alias("k"),
        "item",
    ).select(
        "user_id",
        F.pmod(
            h32(F.concat_ws(":", F.col("user_id"), F.col("item"), F.col("k"))),
            NEG_ITEMS,
        ).alias("neg_item"),
    ).distinct()
    kept = cand.join(
        pos.select("user_id", F.col("item").alias("neg_item")),
        ["user_id", "neg_item"],
        "left_anti",
    )
    pc = pos.groupBy("user_id").agg(
        F.count_distinct("item").alias("n_pos")
    )
    nc = kept.groupBy("user_id").agg(
        F.count_distinct("neg_item").alias("n_neg"),
        F.sum_distinct("neg_item").alias("neg_witness"),
    )
    return (
        pc.join(nc, "user_id", "left")
        .select(
            "user_id",
            "n_pos",
            F.coalesce("n_neg", F.lit(0)).alias("n_neg"),
            F.coalesce("neg_witness", F.lit(0)).alias("neg_witness"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer step (SentencePiece family): Viterbi E + count M
# ---------------------------------------------------------------------------

UNI_BIGRAMS = 24  # bigram pieces admitted to the vocab beside all chars
UNI_TOP_OUT = 20  # pieces reported after the M-step
UNI_MAX_WLEN = 16  # backtrack unroll depth; words longer are excluded


def _unigram_oracle() -> str:
    """Programmatically build the DuckDB oracle. The forward Viterbi is
    ONE list_reduce whose whole state lives in a single VARCHAR
    ('d2;d1;choices') — DuckDB 1.0 struct accumulators read
    partially-updated fields and list-typed fields don't thread at all.
    The backtrack CANNOT be a second list_reduce: chained lambdas over
    grouped/joined CTEs nondeterministically pair the lambda's inputs
    with the wrong row under parallel execution (measured ~5/6 runs
    wrong; AS MATERIALIZED does not fix it), so it is UNROLLED into
    {UNI_MAX_WLEN} scalar CTE projections instead — verified stable."""
    c = "COALESCE(TRY_CAST(substr(ch, pos, 1) AS INT), 1)"
    fwd = """list_reduce(
  list_prepend('0;0;', cxs),
  (acc, x) ->
    split_part(acc, ';', 2) || ';' ||
    CAST(CASE WHEN split_part(x, ',', 2) <> ''
               AND TRY_CAST(split_part(acc, ';', 1) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 2) AS BIGINT)
                 < TRY_CAST(split_part(acc, ';', 2) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 1) AS BIGINT)
              THEN TRY_CAST(split_part(acc, ';', 1) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 2) AS BIGINT)
              ELSE TRY_CAST(split_part(acc, ';', 2) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 1) AS BIGINT) END AS VARCHAR)
    || ';' || split_part(acc, ';', 3) ||
    CASE WHEN split_part(x, ',', 2) <> ''
              AND TRY_CAST(split_part(acc, ';', 1) AS BIGINT)
                  + TRY_CAST(split_part(x, ',', 2) AS BIGINT)
                < TRY_CAST(split_part(acc, ';', 2) AS BIGINT)
                  + TRY_CAST(split_part(x, ',', 1) AS BIGINT)
         THEN '2' ELSE '1' END)"""
    steps = [
        "s0 AS (SELECT w, wc, cost, ch, CAST(len(w) AS INT) AS pos,"
        " '' AS ps FROM fw2)"
    ]
    for k in range(1, UNI_MAX_WLEN + 1):
        steps.append(f"""s{k} AS (
  SELECT w, wc, cost, ch,
         CASE WHEN pos <= 0 THEN pos ELSE pos - {c} END AS pos,
         CASE WHEN pos <= 0 THEN ps
              WHEN ps = '' THEN substr(w, pos - {c} + 1, {c})
              ELSE substr(w, pos - {c} + 1, {c}) || '|' || ps END AS ps
  FROM s{k - 1})""")
    chain = ",\n".join(steps)
    return f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) wc
  FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)
  WHERE len(w) > 0 AND len(w) <= {UNI_MAX_WLEN} GROUP BY 1),
pos AS (SELECT w, wc, unnest(range(1, len(w) + 1)) AS i FROM words),
chars AS (SELECT substr(w, i, 1) p, CAST(SUM(wc) AS BIGINT) c
          FROM pos GROUP BY 1),
bigs AS (SELECT substr(w, i - 1, 2) p, CAST(SUM(wc) AS BIGINT) c
         FROM pos WHERE i >= 2 GROUP BY 1),
topbigs AS (
  SELECT p, c FROM (
    SELECT p, c, ROW_NUMBER() OVER (ORDER BY c DESC, p) r FROM bigs)
  WHERE r <= {UNI_BIGRAMS}),
pieces AS (SELECT * FROM chars UNION ALL SELECT * FROM topbigs),
tot AS (SELECT SUM(c) t FROM pieces),
pcost AS (SELECT p, CAST(ROUND(-ln(CAST(c AS DOUBLE) / t) * 1000000)
                    AS BIGINT) AS cost FROM pieces, tot),
p2 AS (
  SELECT pos.w, pos.wc, pos.i, a.cost AS c1, b.cost AS c2
  FROM pos
  LEFT JOIN pcost a ON a.p = substr(pos.w, pos.i, 1)
  LEFT JOIN pcost b ON pos.i >= 2 AND b.p = substr(pos.w, pos.i - 1, 2)),
arrs AS MATERIALIZED (
  SELECT w, wc,
         list(CAST(c1 AS VARCHAR) || ',' || COALESCE(CAST(c2 AS VARCHAR), '')
              ORDER BY i) cxs
  FROM p2 GROUP BY 1, 2),
fw AS MATERIALIZED (SELECT w, wc, {fwd} AS st FROM arrs),
fw2 AS MATERIALIZED (
  SELECT w, wc, TRY_CAST(split_part(st, ';', 2) AS BIGINT) AS cost,
         split_part(st, ';', 3) AS ch FROM fw),
{chain},
seg AS (SELECT w, wc, cost, ps FROM s{UNI_MAX_WLEN}),
mstep AS (
  SELECT p, CAST(SUM(wc) AS BIGINT) AS new_count
  FROM (SELECT wc, unnest(string_split(ps, '|')) AS p FROM seg)
  GROUP BY 1)
SELECT rk, p AS piece, new_count, cost_micro FROM (
  SELECT m.p, m.new_count, pc.cost AS cost_micro,
         ROW_NUMBER() OVER (ORDER BY m.new_count DESC, m.p) AS rk
  FROM mstep m JOIN pcost pc ON pc.p = m.p)
WHERE rk <= {UNI_TOP_OUT} ORDER BY rk
"""


def _unigram_base(spark: SparkSession, sf_dir: str):
    """Corpus-derived inputs shared by the one-step and multi-round
    trainers: the distinct-word position frame, the character piece
    counts, and the initial inventory (all chars + top bigrams)."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where((F.length("w") > 0) & (F.length("w") <= UNI_MAX_WLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pos = words.select(
        "w", "wc", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
    )
    chars = (
        pos.select(F.expr("substr(w, i, 1)").alias("p"), "wc")
        .groupBy("p")
        .agg(F.sum("wc").alias("c"))
    )
    bigs = (
        pos.where(F.col("i") >= 2)
        .select(F.expr("substr(w, i-1, 2)").alias("p"), "wc")
        .groupBy("p")
        .agg(F.sum("wc").alias("c"))
    )
    wb = Window.orderBy(F.desc("c"), F.asc("p"))
    topbigs = (
        bigs.withColumn("r", F.row_number().over(wb))
        .where(F.col("r") <= UNI_BIGRAMS)
        .drop("r")
    )
    pieces = chars.unionByName(topbigs)
    return pos, chars, pieces


def _cost_from_counts(pieces: DataFrame) -> DataFrame:
    """-ln(count/total) in integer micro-units; counts floored at 1 so
    a required-coverage char that fell off every Viterbi path keeps a
    finite (maximal) cost instead of -ln(0)."""
    tot = pieces.agg(F.sum(F.greatest(F.col("c"), F.lit(1))).alias("t"))
    return pieces.crossJoin(F.broadcast(tot)).select(
        "p",
        F.round(
            -F.log(
                F.greatest(F.col("c"), F.lit(1)).cast("double") / F.col("t")
            )
            * 1e6
        )
        .cast("long")
        .alias("cost"),
    )


def _unigram_segments(spark: SparkSession, sf_dir: str):
    """Shared trunk of the unigram tokenizer pair: trains the piece
    cost model over the corpus and Viterbi-segments every DISTINCT
    word (train and apply both amortize over the vocabulary, not the
    corpus). Returns (piece_cost_frame, seg_frame) where seg has
    (w, wc, cost, ps='p1|p2|...')."""
    pos, _chars, pieces = _unigram_base(spark, sf_dir)
    pcost = _cost_from_counts(pieces)
    return pcost, _viterbi_over(pos, pcost)


def _viterbi_over(pos: DataFrame, pcost: DataFrame) -> DataFrame:
    """Viterbi-segment every distinct word in ``pos`` against the piece
    cost model ``pcost`` (p, cost). Returns (w, wc, cost, ps)."""
    p1 = pos.join(
        F.broadcast(
            pcost.select(F.col("p").alias("c1p"), F.col("cost").alias("c1"))
        ),
        F.expr("substr(w, i, 1)") == F.col("c1p"),
        "left",
    ).select("w", "wc", "i", "c1")
    p2 = p1.join(
        F.broadcast(
            pcost.select(F.col("p").alias("c2p"), F.col("cost").alias("c2"))
        ),
        (F.col("i") >= 2) & (F.expr("substr(w, i-1, 2)") == F.col("c2p")),
        "left",
    )
    arrs = p2.groupBy("w", "wc").agg(
        F.array_sort(F.collect_list(F.struct("i", "c1", "c2"))).alias("xs")
    )

    def viterbi(xs):
        init = F.struct(
            F.lit(0).cast("long").alias("d2"),
            F.lit(0).cast("long").alias("d1"),
            F.lit("").alias("ch"),
        )

        def step(acc, x):
            one = acc["d1"] + x["c1"]
            two = F.when(
                x["c2"].isNotNull(), acc["d2"] + x["c2"]
            ).otherwise(F.lit(1 << 60))
            t2 = two < one
            return F.struct(
                acc["d1"].alias("d2"),
                F.when(t2, two).otherwise(one).alias("d1"),
                F.concat(
                    acc["ch"], F.when(t2, F.lit("2")).otherwise(F.lit("1"))
                ).alias("ch"),
            )

        return F.aggregate(xs, init, step)

    fw = arrs.select("w", "wc", viterbi(F.col("xs")).alias("v"))

    def backtrack(w, ch):
        init = F.struct(
            F.length(w).cast("int").alias("pos"), F.lit("").alias("ps")
        )

        def step(acc, _):
            c = F.substring(ch, acc["pos"], 1).cast("int")
            piece = F.substring(w, acc["pos"] - c + 1, c)
            nps = F.when(acc["ps"] == "", piece).otherwise(
                F.concat(piece, F.lit("|"), acc["ps"])
            )
            return F.when(acc["pos"] <= 0, acc).otherwise(
                F.struct((acc["pos"] - c).alias("pos"), nps.alias("ps"))
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.length(w)), init, step
        )["ps"]

    seg = fw.select(
        "w",
        "wc",
        F.col("v")["d1"].alias("cost"),
        backtrack(F.col("w"), F.col("v")["ch"]).alias("ps"),
    )
    return seg


@register("q_unigram_lm_step", oracle=_unigram_oracle())
def q_unigram_lm_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Viterbi-EM step of a unigram-LM tokenizer (the SentencePiece
    family, Kudo 2018) — completing the tokenizer-training surface next
    to BPE (q_bpe_merge_candidates trains, q_bpe_apply applies): the
    piece vocabulary is all corpus characters plus the top-{UNI_BIGRAMS}
    character bigrams; piece costs are -ln(count/total) in integer
    micro-units (E step); each distinct word is segmented by an exact
    Viterbi DP over pieces of length <= 2 (dp[i] = min(dp[i-1]+c1,
    dp[i-2]+c2), single chars preferred on cost ties); the M step
    re-counts pieces along the Viterbi paths weighted by word frequency
    and reports the top-{UNI_TOP_OUT} pieces with their refreshed
    counts. A production trainer iterates this step and prunes — one
    step is where all the machinery lives.

    Determinism: costs are integer micro-units, the DP is integer-exact
    with an explicit tie rule, vocab selection and output ranks are
    fully tie-broken. The Spark DP is an in-row F.aggregate over the
    word's per-position cost structs (choices accumulate in a string);
    the backtrack is a second in-row fold walking the choice string.
    Words are capped at {UNI_MAX_WLEN} chars on BOTH engines (the
    oracle's backtrack is a fixed-depth unrolled CTE chain — see
    _unigram_oracle for why DuckDB cannot run it as a second lambda).

    Scale shape: everything heavy is keyed by DISTINCT WORD — the
    corpus-sized pass is the word count (map-side combinable); the DP
    is in-row over the word-length array (no shuffle, no UDF, pure
    whole-stage-codegen expressions); piece tables are vocab-sized
    broadcast joins. At 100 TB the distinct-word domain is the working
    set, exactly how production tokenizer trainers shard."""
    pcost, seg = _unigram_segments(spark, sf_dir)
    mstep = (
        seg.select("wc", F.explode(F.split("ps", "\\|")).alias("p"))
        .groupBy("p")
        .agg(F.sum("wc").alias("new_count"))
    )
    wout = Window.orderBy(F.desc("new_count"), F.asc("p"))
    return (
        mstep.join(F.broadcast(pcost), "p")
        .withColumn("rk", F.row_number().over(wout))
        .where(F.col("rk") <= UNI_TOP_OUT)
        .select(
            "rk",
            F.col("p").alias("piece"),
            "new_count",
            F.col("cost").alias("cost_micro"),
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Multi-round unigram trainer with inventory pruning (VERDICT r7 #5):
# the SentencePiece recipe — loop Viterbi-EM, prune the piece inventory
# between rounds, re-estimate costs from the refreshed counts.
# ---------------------------------------------------------------------------

UNI_PRUNE_KS = (16, 12)  # multi-char pieces kept after rounds 1 and 2


def _unigram_round_sql(r: int, pieces_cte: str) -> str:
    """One EM round as DuckDB CTEs (suffix _{r}): cost model from the
    round's piece counts, Viterbi forward fold (single-VARCHAR state —
    the DuckDB 1.0 struct-accumulator finding), unrolled backtrack,
    M-step recount. Mirrors _unigram_oracle's round body verbatim with
    suffixed names; counts are floored at 1 in the cost (coverage
    chars that fell off every path keep a finite maximal cost)."""
    c = "COALESCE(TRY_CAST(substr(ch, pos, 1) AS INT), 1)"
    fwd = """list_reduce(
  list_prepend('0;0;', cxs),
  (acc, x) ->
    split_part(acc, ';', 2) || ';' ||
    CAST(CASE WHEN split_part(x, ',', 2) <> ''
               AND TRY_CAST(split_part(acc, ';', 1) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 2) AS BIGINT)
                 < TRY_CAST(split_part(acc, ';', 2) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 1) AS BIGINT)
              THEN TRY_CAST(split_part(acc, ';', 1) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 2) AS BIGINT)
              ELSE TRY_CAST(split_part(acc, ';', 2) AS BIGINT)
                   + TRY_CAST(split_part(x, ',', 1) AS BIGINT) END AS VARCHAR)
    || ';' || split_part(acc, ';', 3) ||
    CASE WHEN split_part(x, ',', 2) <> ''
              AND TRY_CAST(split_part(acc, ';', 1) AS BIGINT)
                  + TRY_CAST(split_part(x, ',', 2) AS BIGINT)
                < TRY_CAST(split_part(acc, ';', 2) AS BIGINT)
                  + TRY_CAST(split_part(x, ',', 1) AS BIGINT)
         THEN '2' ELSE '1' END)"""
    steps = [
        f"s0_{r} AS (SELECT w, wc, cost, ch, CAST(len(w) AS INT) AS pos,"
        f" '' AS ps FROM fw2_{r})"
    ]
    for k in range(1, UNI_MAX_WLEN + 1):
        steps.append(f"""s{k}_{r} AS (
  SELECT w, wc, cost, ch,
         CASE WHEN pos <= 0 THEN pos ELSE pos - {c} END AS pos,
         CASE WHEN pos <= 0 THEN ps
              WHEN ps = '' THEN substr(w, pos - {c} + 1, {c})
              ELSE substr(w, pos - {c} + 1, {c}) || '|' || ps END AS ps
  FROM s{k - 1}_{r})""")
    chain = ",\n".join(steps)
    return f"""
pcost_{r} AS (
  SELECT p, CAST(ROUND(-ln(CAST(GREATEST(c, 1) AS DOUBLE) / t) * 1000000)
           AS BIGINT) AS cost
  FROM {pieces_cte},
       (SELECT SUM(GREATEST(c, 1)) t FROM {pieces_cte})),
p2_{r} AS (
  SELECT pos.w, pos.wc, pos.i, a.cost AS c1, b.cost AS c2
  FROM pos
  LEFT JOIN pcost_{r} a ON a.p = substr(pos.w, pos.i, 1)
  LEFT JOIN pcost_{r} b ON pos.i >= 2 AND b.p = substr(pos.w, pos.i - 1, 2)),
arrs_{r} AS MATERIALIZED (
  SELECT w, wc,
         list(CAST(c1 AS VARCHAR) || ',' || COALESCE(CAST(c2 AS VARCHAR), '')
              ORDER BY i) cxs
  FROM p2_{r} GROUP BY 1, 2),
fw_{r} AS MATERIALIZED (SELECT w, wc, {fwd} AS st FROM arrs_{r}),
fw2_{r} AS MATERIALIZED (
  SELECT w, wc, TRY_CAST(split_part(st, ';', 2) AS BIGINT) AS cost,
         split_part(st, ';', 3) AS ch FROM fw_{r}),
{chain},
seg_{r} AS (SELECT w, wc, cost, ps FROM s{UNI_MAX_WLEN}_{r}),
mstep_{r} AS (
  SELECT p, CAST(SUM(wc) AS BIGINT) AS new_count
  FROM (SELECT wc, unnest(string_split(ps, '|')) AS p FROM seg_{r})
  GROUP BY 1)"""


def _unigram_prune_sql(r: int, k: int) -> str:
    """Inventory for round r+1: ALL corpus chars (coverage — counts from
    the M step, 0 if off-path, floored later in the cost) plus the
    top-{k} multi-char pieces by refreshed count."""
    return f"""
pieces_{r + 1} AS (
  SELECT cc.p AS p, COALESCE(m.new_count, 0) AS c
  FROM chars cc LEFT JOIN mstep_{r} m ON m.p = cc.p
  UNION ALL
  SELECT p, new_count AS c FROM (
    SELECT p, new_count,
           ROW_NUMBER() OVER (ORDER BY new_count DESC, p) AS rnk
    FROM mstep_{r} WHERE len(p) >= 2)
  WHERE rnk <= {k})"""


def _unigram_train3_oracle() -> str:
    parts = [
        f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) wc
  FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)
  WHERE len(w) > 0 AND len(w) <= {UNI_MAX_WLEN} GROUP BY 1),
pos AS (SELECT w, wc, unnest(range(1, len(w) + 1)) AS i FROM words),
chars AS (SELECT substr(w, i, 1) p, CAST(SUM(wc) AS BIGINT) c
          FROM pos GROUP BY 1),
bigs AS (SELECT substr(w, i - 1, 2) p, CAST(SUM(wc) AS BIGINT) c
         FROM pos WHERE i >= 2 GROUP BY 1),
topbigs AS (
  SELECT p, c FROM (
    SELECT p, c, ROW_NUMBER() OVER (ORDER BY c DESC, p) r FROM bigs)
  WHERE r <= {UNI_BIGRAMS}),
pieces_1 AS (SELECT * FROM chars UNION ALL SELECT * FROM topbigs)"""
    ]
    for r in (1, 2, 3):
        parts.append("," + _unigram_round_sql(r, f"pieces_{r}"))
        if r < 3:
            parts.append("," + _unigram_prune_sql(r, UNI_PRUNE_KS[r - 1]))
    parts.append(f"""
SELECT rk, p AS piece, new_count, cost_micro FROM (
  SELECT m.p, m.new_count, pc.cost AS cost_micro,
         ROW_NUMBER() OVER (ORDER BY m.new_count DESC, m.p) AS rk
  FROM mstep_3 m JOIN pcost_3 pc ON pc.p = m.p)
WHERE rk <= {UNI_TOP_OUT} ORDER BY rk
""")
    return "".join(parts)


def unigram_train_rounds(
    spark: SparkSession, sf_dir: str, ks: tuple = UNI_PRUNE_KS
):
    """Run len(ks)+1 Viterbi-EM rounds with pruning between them.
    Returns [(pcost_r, seg_r, mstep_r), ...] per round.

    Catalyst discipline (the iterative-plan hazard): caching alone does
    NOT contain this loop — a cached DataFrame still carries its full
    logical lineage, and each round references the prior state 2-4
    times (the c1/c2 joins both consume pcost; the prune consumes mstep
    twice), so the analyzed tree grows ~4x per round and round 3 OOMed
    the driver during analysis (measured this round). The vocab-sized
    round states are therefore localCheckpoint()ed: lineage is truncated
    to the materialized RDD, keeping the logical plan linear in rounds.
    memo_frame keys make repeat calls in a session reuse the same
    checkpoints."""
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    pos, chars, pieces = _unigram_base(spark, sf_dir)
    pos = memo_frame(spark, f"uni3:pos:{sf_dir}", lambda: pos)
    chars = memo_frame(spark, f"uni3:chars:{sf_dir}", lambda: chars)
    key = ",".join(str(k) for k in ks)
    rounds = []
    for r in range(len(ks) + 1):
        pcost = memo_frame(
            spark,
            f"uni3:pcost:{sf_dir}:{key}:{r}",
            lambda pieces=pieces: _cost_from_counts(pieces).localCheckpoint(),
        )
        seg = memo_frame(
            spark,
            f"uni3:seg:{sf_dir}:{key}:{r}",
            lambda pcost=pcost: _viterbi_over(pos, pcost).localCheckpoint(),
        )
        mstep = memo_frame(
            spark,
            f"uni3:mstep:{sf_dir}:{key}:{r}",
            lambda seg=seg: (
                seg.select("wc", F.explode(F.split("ps", "\\|")).alias("p"))
                .groupBy("p")
                .agg(F.sum("wc").alias("new_count"))
                .localCheckpoint()
            ),
        )
        rounds.append((pcost, seg, mstep))
        if r < len(ks):
            kept_chars = (
                chars.select("p")
                .join(mstep, "p", "left")
                .select("p", F.coalesce("new_count", F.lit(0)).alias("c"))
            )
            wmul = Window.orderBy(F.desc("new_count"), F.asc("p"))
            kept_multi = (
                mstep.where(F.length("p") >= 2)
                .withColumn("rnk", F.row_number().over(wmul))
                .where(F.col("rnk") <= ks[r])
                .select("p", F.col("new_count").alias("c"))
            )
            pieces = kept_chars.unionByName(kept_multi)
    return rounds


@register("q_unigram_train3", oracle=_unigram_train3_oracle())
def q_unigram_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Viterbi-EM rounds of the unigram-LM tokenizer with
    inventory pruning between rounds (the SentencePiece training recipe,
    Kudo 2018 — VERDICT r7 #5): round 1 starts from all chars + top-24
    bigrams; after each round the multi-char inventory is pruned to the
    top-{{16,12}} pieces by refreshed (M-step) count while ALL single
    chars are retained for coverage (off-path chars keep a finite
    maximal cost via the count-1 floor); costs are re-estimated from the
    refreshed counts and the next round re-segments. Output: the final
    round's top-{UNI_TOP_OUT} pieces with their counts and the round-3
    cost model.

    Properties pinned by tests/test_round8_ops.py: with pruning
    disabled, the total corpus Viterbi cost is monotonically
    non-increasing across rounds (the hard-EM guarantee: the M-step's
    empirical costs can only lower the cost of the fixed segmentation,
    and re-segmenting can only lower it further); with pruning, the
    inventory shrinks 24 -> <=16 -> <=12 multi pieces while every
    corpus char survives.

    Scale shape: identical to q_unigram_lm_step per round — the corpus
    pass is one combinable word count; everything else lives on the
    distinct-word domain with vocab-sized broadcast joins; rounds chain
    through cached vocab-sized frames (see unigram_train_rounds), so
    plan size stays linear in rounds."""
    pcost3, _seg3, mstep3 = unigram_train_rounds(spark, sf_dir)[-1]
    wout = Window.orderBy(F.desc("new_count"), F.asc("p"))
    return (
        mstep3.join(F.broadcast(pcost3), "p")
        .withColumn("rk", F.row_number().over(wout))
        .where(F.col("rk") <= UNI_TOP_OUT)
        .select(
            "rk",
            F.col("p").alias("piece"),
            "new_count",
            F.col("cost").alias("cost_micro"),
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle: 4-round Feistel permutation + rank compaction
# ---------------------------------------------------------------------------

SHUF_ROUNDS = 4
SHUF_HALF = 16  # 32-bit Feistel domain split into 16-bit halves


def _feistel_sql(seed: str) -> str:
    L, R = "(doc_id // 65536)", "(doc_id % 65536)"
    for r in range(SHUF_ROUNDS):
        round_key = "'" + seed + ":" + str(r) + ":' || " + R
        f = "(" + h32_sql(round_key) + " % 65536)"
        L, R = R, f"xor({L}, {f})"
    return f"({L} * 65536 + {R})"


@register(
    "q_epoch_shuffle",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source,
         {_feistel_sql('ep0')} AS k0,
         {_feistel_sql('ep1')} AS k1
  FROM documents
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY k0, doc_id) AS BIGINT) AS pos_ep0,
       CAST(ROW_NUMBER() OVER (ORDER BY k1, doc_id) AS BIGINT) AS pos_ep1
FROM keyed
ORDER BY doc_id
""",
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch data shuffle: a 4-round Feistel network
    over the 32-bit doc_id domain (md5-h32 round function keyed by the
    epoch seed) assigns every document a pseudorandom-but-reproducible
    shuffle key, bijectively — the standard way training pipelines get
    a different, exactly replayable data order per epoch WITHOUT
    materializing a rand() column (any worker can recompute any
    document's position from (doc_id, epoch) alone; resume-from-step
    needs no stored order). Two epochs emitted to exhibit independence.

    Determinism: the Feistel rounds are integer xor/mod arithmetic on
    the shared md5 h32 — bit-identical across engines, runs, and
    retries; bijective on the 2^32 domain so distinct doc_ids can
    never collide on the shuffle key.

    Scale shape: the key is IN-ROW (four hash evaluations, no state);
    the only ordering artifact is the rank compaction to dense
    positions, which the gate states as a global ROW_NUMBER but a
    production writer replaces with range-partitioned file layout ON
    the shuffle key (the key itself is the sort order — workers write
    their key-range shard without any global sort)."""
    keyed = load(spark, sf_dir, "documents").select("doc_id")

    def feistel(seed: str):
        # bit ops, not float division: exact over the whole 32-bit
        # domain (a double-division half splits wrong past 2^52 ids —
        # ids beyond 2^32 are out of the Feistel domain by contract)
        L = F.shiftright(F.col("doc_id"), SHUF_HALF).cast("long")
        R = F.col("doc_id").bitwiseAND(65535)
        for r in range(SHUF_ROUNDS):
            f = F.pmod(
                h32(F.concat(F.lit(f"{seed}:{r}:"), R.cast("string"))),
                65536,
            )
            L, R = R, L.bitwiseXOR(f)
        return L * 65536 + R

    keyed = keyed.select(
        "doc_id", feistel("ep0").alias("k0"), feistel("ep1").alias("k1")
    )
    w0 = Window.orderBy("k0", "doc_id")
    w1 = Window.orderBy("k1", "doc_id")
    return keyed.select(
        "doc_id",
        F.row_number().over(w0).cast("long").alias("pos_ep0"),
        F.row_number().over(w1).cast("long").alias("pos_ep1"),
    ).orderBy("doc_id")


@register(
    "q_unigram_apply",
    oracle=_unigram_oracle().replace(
        """mstep AS (
  SELECT p, CAST(SUM(wc) AS BIGINT) AS new_count
  FROM (SELECT wc, unnest(string_split(ps, '|')) AS p FROM seg)
  GROUP BY 1)
SELECT rk, p AS piece, new_count, cost_micro FROM (
  SELECT m.p, m.new_count, pc.cost AS cost_micro,
         ROW_NUMBER() OVER (ORDER BY m.new_count DESC, m.p) AS rk
  FROM mstep m JOIN pcost pc ON pc.p = m.p)
WHERE rk <= 20 ORDER BY rk""",
        """wp AS (
  SELECT w, CAST(len(string_split(ps, '|')) AS BIGINT) AS n_pieces, cost
  FROM seg),
docs_tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
  FROM documents)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wp.n_pieces) AS BIGINT) AS n_pieces,
       ROUND(CAST(SUM(wp.n_pieces) AS DOUBLE) / COUNT(*), 4)
         AS pieces_per_word,
       CAST(SUM(wp.cost) AS BIGINT) AS total_cost_micro
FROM docs_tok JOIN wp ON wp.w = docs_tok.w
GROUP BY source
ORDER BY source""",
    ),
)
def q_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY side of the unigram tokenizer (closing the train/apply
    loop, as q_bpe_apply does for BPE): every corpus word is segmented
    with the trained piece model (the shared _unigram_segments Viterbi
    trunk) and the per-source tokenization census is emitted — word and
    piece totals, pieces-per-word (the compression ratio a tokenizer is
    judged by), and the total encoding cost in micro-nats (the corpus
    negative log-likelihood under the piece model, the number an
    entropy-based data-mixing policy reads per source).

    Scale shape: segmentation runs once per DISTINCT WORD; application
    is one broadcast word->(n_pieces, cost) map against the exploded
    corpus plus a combinable per-source aggregate — exactly how
    production tokenizers amortize: segment the vocabulary, not the
    corpus."""
    _, seg = _unigram_segments(spark, sf_dir)
    wp = seg.select(
        "w",
        F.size(F.split("ps", "\\|")).cast("long").alias("n_pieces"),
        "cost",
    )
    docs_tok = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    return (
        docs_tok.join(F.broadcast(wp), "w")
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.round(
                F.sum("n_pieces").cast("double") / F.count(F.lit(1)), 4
            ).alias("pieces_per_word"),
            F.sum("cost").alias("total_cost_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Length bucketing for batch assembly (round 8)
# ---------------------------------------------------------------------------

BUCKET_EDGES = [16, 32, 64, 128, 256]  # fixed power-of-two padding targets
BUCKET_BATCH = 8  # sequences per assembled batch


@register(
    "q_length_bucketing",
    oracle=f"""
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS t FROM documents
),
b AS (
  SELECT t,
         CASE WHEN t <= 16 THEN 16 WHEN t <= 32 THEN 32
              WHEN t <= 64 THEN 64 WHEN t <= 128 THEN 128
              ELSE 256 END AS bucket
  FROM d
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS total_tokens,
       CAST(SUM(bucket - t) AS BIGINT) AS total_padding,
       ROUND(CAST(SUM(bucket - t) AS DOUBLE)
             / (COUNT(*) * bucket), 6) AS pad_frac,
       CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {BUCKET_BATCH}) AS BIGINT)
         AS n_batches
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def q_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length bucketing for training-batch assembly: every sequence is
    assigned the smallest power-of-two padding target that fits it, and
    the report prices the padding waste per bucket (the metric that
    decides bucket edges in a real data loader — unbucketed padding to
    the global max wastes most of the batch FLOPs on pad tokens).

    Scale shape: bucket assignment is a pure in-row CASE (no sort, no
    shuffle) and the report is ONE map-side-combinable aggregate keyed
    by the ~5 bucket values — at 100 TB this is a single cheap pass,
    unlike sort-based length grouping which would global-sort the
    corpus. Batch counts use ceil(n/{BUCKET_BATCH}) per bucket; actual
    batch materialization shards within buckets by hash, preserving
    this exact accounting."""
    d = load(spark, sf_dir, "documents").select(
        F.size(tokens(F.col("text"))).alias("t")
    )
    bucket = F.when(F.col("t") <= 16, 16)
    for e in BUCKET_EDGES[1:-1]:
        bucket = bucket.when(F.col("t") <= e, e)
    bucket = bucket.otherwise(BUCKET_EDGES[-1])
    b = d.select("t", bucket.alias("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("total_tokens"),
            F.sum(F.col("bucket") - F.col("t")).alias("total_padding"),
            F.round(
                F.sum(F.col("bucket") - F.col("t")).cast("double")
                / (F.count(F.lit(1)) * F.col("bucket")),
                6,
            ).alias("pad_frac"),
            F.ceil(
                F.count(F.lit(1)).cast("double") / BUCKET_BATCH
            ).cast("long").alias("n_batches"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source mixture (round 8)
# ---------------------------------------------------------------------------

MIX_TEMP_FRAC = 0.5  # target fraction of total tokens in the mixture
MIX_SEED = "mix8"


@register(
    "q_mixture_temperature",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
  FROM documents GROUP BY source
),
-- integerized sqrt weights: floor(sqrt(tok)*1000) keeps the weight sum
-- EXACT so the share division is bit-identical across engines (a double
-- sum over sources is order-sensitive at the last ulp)
w AS (
  SELECT source, n_docs, tok,
         CAST(FLOOR(SQRT(CAST(tok AS DOUBLE)) * 1000) AS BIGINT) AS wi
  FROM per_src
),
tot AS (
  SELECT CAST(SUM(tok) AS BIGINT) AS tok_total,
         CAST(SUM(wi) AS BIGINT) AS w_total
  FROM w
),
rates AS (
  SELECT source, n_docs, tok,
         LEAST(1.0, ROUND(
           (CAST(FLOOR({MIX_TEMP_FRAC} * tok_total) AS BIGINT) * wi)
           / (CAST(w_total AS DOUBLE) * tok), 6)) AS keep_rate
  FROM w, tot
),
kept AS (
  SELECT d.source, len(string_split(d.text, ' ')) AS t,
         CASE WHEN ({h32_sql(f"'{MIX_SEED}:' || doc_id")} % 1000000
                    + 1000000) % 1000000
              < CAST(ROUND(r.keep_rate * 1000000) AS BIGINT)
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN rates r ON r.source = d.source
)
SELECT r.source, r.n_docs, r.tok AS total_tokens, r.keep_rate,
       CAST(SUM(k.keep) AS BIGINT) AS n_kept,
       CAST(SUM(k.keep * k.t) AS BIGINT) AS kept_tokens
FROM rates r JOIN kept k ON k.source = r.source
GROUP BY r.source, r.n_docs, r.tok, r.keep_rate
ORDER BY r.source
""",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixture (the multilingual/multi-
    source sampling rule of large-corpus training: sample source s with
    probability proportional to n_s^alpha, here alpha=0.5): per-source
    keep rates are derived so the mixture targets {MIX_TEMP_FRAC} of
    total tokens distributed by sqrt-of-size shares — upweighting small
    sources relative to their raw share — and each document's keep
    decision is a seeded hash threshold (no RNG: any engine, run, or
    retry draws the identical subset; exact-restart reproducibility).

    Determinism discipline: the sqrt weights are INTEGERIZED
    (floor(sqrt*1000)) before summation so the share denominators are
    exact integers — a plain double sum over sources is order-sensitive
    in the last ulp, and Spark's partial-agg order differs from
    DuckDB's. Rates round at 6 dp into an integer hash threshold.

    Scale shape: per-source stats are one combinable aggregate; rates
    are a ~|sources|-row broadcast; the keep decision is in-row. No
    global sort, no sampling pass, no collect."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("t")
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("t").alias("tok")
    )
    w = per_src.select(
        "source",
        "n_docs",
        "tok",
        F.floor(F.sqrt(F.col("tok").cast("double")) * 1000)
        .cast("long")
        .alias("wi"),
    )
    tot = w.agg(
        F.sum("tok").alias("tok_total"), F.sum("wi").alias("w_total")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok",
        F.least(
            F.lit(1.0),
            F.round(
                (
                    F.floor(MIX_TEMP_FRAC * F.col("tok_total")).cast("long")
                    * F.col("wi")
                )
                / (F.col("w_total").cast("double") * F.col("tok")),
                6,
            ),
        ).alias("keep_rate"),
    )
    kept = docs.join(F.broadcast(rates), "source").select(
        "source",
        "t",
        F.when(
            F.pmod(
                h32(F.concat(F.lit(f"{MIX_SEED}:"), F.col("doc_id"))),
                F.lit(1000000),
            )
            # round BEFORE the integer cast: keep_rate is round(x, 6), so
            # keep_rate*1e6 can sit one ulp below the integer; truncation
            # here vs DuckDB's round-to-nearest CAST would put the two
            # engines' thresholds one apart (ADVICE r8 #1)
            < F.round(F.col("keep_rate") * 1000000).cast("long"),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    return (
        rates.join(
            kept.groupBy("source").agg(
                F.sum("keep").alias("n_kept"),
                F.sum(F.col("keep") * F.col("t")).alias("kept_tokens"),
            ),
            "source",
        )
        .select(
            "source",
            "n_docs",
            F.col("tok").alias("total_tokens"),
            "keep_rate",
            "n_kept",
            "kept_tokens",
        )
        .orderBy("source")
    )
