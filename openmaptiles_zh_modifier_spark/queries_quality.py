"""Document-quality operators: the full Gopher rules panel (Rae et al.
2021, appendix A1.1 — the published heuristic filter suite every LLM
data pipeline starts from) and a multinomial Naive Bayes source
classifier (the counts-only stand-in for the fastText quality
classifier of GPT-3/CCNet pipelines — same shape: linear scorer over
token counts, trained and applied as pure aggregates).

Extension surface beyond the reference (SURVEY.md §2.9 north star).
Complements q_text_stats (TTR/stopword), q_quality_repetition
(dominant token/bigram), and q_perplexity_filter (LM score): together
these four are the standard pre-training quality gauntlet.

Determinism: flags compare exact integer counts or exact-double ratios
of integers with identical expressions both engines; NB scores are
integer micro-unit log-probability sums (the DSIR pattern,
queries_text.py) so distributed summation is order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import STOPWORDS, h32, h32_sql, tokens
from openmaptiles_zh_modifier_spark.registry import (
    load,
    memo_frame,
    register,
)

# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2  # distinct stopwords that must appear

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@register(
    "q_gopher_rules",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         length(text) AS nc
  FROM documents
),
m AS (
  SELECT doc_id, source,
         len(toks) AS n_words,
         (nc - len(toks) + 1) * 1.0 / len(toks) AS mean_len,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
           * 1.0 / len(toks) AS alpha_frac,
         len(list_distinct(list_filter(toks, x -> x IN ({_STOP_SQL}))))
           AS n_stop
  FROM t
)
SELECT doc_id, source,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(mean_len, 4) AS mean_word_len,
       ROUND(alpha_frac, 4) AS alpha_word_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       CAST(n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS} AS INT) AS ok_words,
       CAST(mean_len >= {GOPHER_MIN_MEAN_LEN}
            AND mean_len <= {GOPHER_MAX_MEAN_LEN} AS INT) AS ok_mean_len,
       CAST(alpha_frac >= {GOPHER_MIN_ALPHA_FRAC} AS INT) AS ok_alpha,
       CAST(n_stop >= {GOPHER_MIN_STOPWORDS} AS INT) AS ok_stop,
       CAST(n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND mean_len >= {GOPHER_MIN_MEAN_LEN}
            AND mean_len <= {GOPHER_MAX_MEAN_LEN}
            AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND n_stop >= {GOPHER_MIN_STOPWORDS} AS INT) AS keep
FROM m
ORDER BY doc_id
""",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter panel (Rae et al. 2021): word-count bounds,
    mean word length 3-10, >=80% words containing an alphabetic
    character, and >=2 distinct required stopwords present — the four
    rules that transfer to any corpus (the bullet/ellipsis line rules
    need multi-line docs; the fixture corpus is single-line, so they
    would be constant columns and are left to the boilerplate pass).

    Determinism: mean_len and alpha_frac are exact-double ratios of
    exact integers (chars - words + 1 counts the non-space chars of a
    single-space-joined text), compared against shared literal
    thresholds before any rounding; presentation columns round at 4 dp.

    Scale shape: pure per-row column expressions — whole-stage codegen,
    no explode (the token array never leaves its row), no shuffle but
    the presentation sort. The 100 TB cost is one scan."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    m = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_words"),
        (
            (F.length("text") - F.size(toks) + 1)
            * F.lit(1.0)
            / F.size(toks)
        ).alias("mean_len"),
        (
            F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
            * F.lit(1.0)
            / F.size(toks)
        ).alias("alpha_frac"),
        F.size(
            F.array_distinct(
                F.filter(toks, lambda x: F.array_contains(stop_arr, x))
            )
        ).alias("n_stop"),
    )
    ok_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    ok_mean = (F.col("mean_len") >= GOPHER_MIN_MEAN_LEN) & (
        F.col("mean_len") <= GOPHER_MAX_MEAN_LEN
    )
    ok_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    ok_stop = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id",
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mean_len", 4).alias("mean_word_len"),
        F.round("alpha_frac", 4).alias("alpha_word_frac"),
        F.col("n_stop").cast("long").alias("n_stopwords"),
        ok_words.cast("int").alias("ok_words"),
        ok_mean.cast("int").alias("ok_mean_len"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stop.cast("int").alias("ok_stop"),
        (ok_words & ok_mean & ok_alpha & ok_stop).cast("int").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes source classifier
# ---------------------------------------------------------------------------

NB_MIN_COUNT = 5  # vocabulary = tokens with corpus count >= this

# Shared CTE chain (tok -> vocab -> model -> scores), embedded by both the
# confusion-matrix gate and the calibration gate so the model arithmetic
# is defined exactly once.
_NB_SCORES_CTE = f"""
tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM tok GROUP BY term HAVING COUNT(*) >= {NB_MIN_COUNT}
),
vt AS (SELECT tok.* FROM tok JOIN vocab USING (term)),
srcs AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tok
  FROM vt GROUP BY source
),
v AS (SELECT COUNT(*) AS vsize FROM vocab),
alld AS (SELECT SUM(n_docs) AS total_docs FROM srcs),
model AS (
  SELECT s.source AS cls, vocab.term,
         CAST(ROUND(ln(
           (COALESCE(stc.c, 0) + 1.0) / (s.n_tok + v.vsize)) * 1e6)
           AS BIGINT) AS ll_micro
  FROM srcs s CROSS JOIN vocab CROSS JOIN v
  LEFT JOIN (
    SELECT source, term, COUNT(*) AS c FROM vt GROUP BY 1, 2
  ) stc ON stc.source = s.source AND stc.term = vocab.term
),
prior AS (
  SELECT source AS cls,
         CAST(ROUND(ln(n_docs * 1.0 / alld.total_docs) * 1e6) AS BIGINT)
           AS prior_micro
  FROM srcs CROSS JOIN alld
),
scores AS (
  SELECT vt.doc_id, vt.source, m.cls,
         p.prior_micro + SUM(m.ll_micro) AS score
  FROM vt JOIN model m USING (term)
  JOIN prior p ON p.cls = m.cls
  GROUP BY vt.doc_id, vt.source, m.cls, p.prior_micro
)"""


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, class) Naive Bayes integer-micro log-posterior scores —
    the shared trunk of the confusion-matrix and calibration gates
    (mirrors _NB_SCORES_CTE term for term). Lazily memoized per
    (session, sf_dir): both gates and any downstream consumer score
    the corpus against the broadcast model exactly once per session
    (measured: the second NB query drops from ~2.1 s to the price of
    its own aggregation)."""
    return memo_frame(
        spark, f"nb_scores:{sf_dir}", lambda: _nb_scores_build(spark, sf_dir)
    )


def _nb_scores_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
        )
    )
    vt = tok.groupBy("doc_id", "source", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    vocab_counts = vt.groupBy("term").agg(F.sum("n").alias("ct"))
    vocab = vocab_counts.where(F.col("ct") >= NB_MIN_COUNT).select("term")
    vtv = vt.join(F.broadcast(vocab), "term")
    srcs = vtv.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n").alias("n_tok"),
    )
    vsize = vocab.agg(F.count(F.lit(1)).alias("vsize"))
    alld = srcs.agg(F.sum("n_docs").alias("total_docs"))
    stc = vtv.groupBy("source", "term").agg(F.sum("n").alias("c")).select(
        F.col("source").alias("src2"), F.col("term").alias("term2"), "c"
    )
    model = (
        srcs.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(vsize))
        .join(
            stc,
            (F.col("src2") == F.col("source"))
            & (F.col("term2") == F.col("term")),
            "left",
        )
        .select(
            F.col("source").alias("cls"),
            F.col("term"),
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n_tok") + F.col("vsize"))
                )
                * 1e6
            )
            .cast("long")
            .alias("ll_micro"),
        )
    )
    prior = srcs.crossJoin(F.broadcast(alld)).select(
        F.col("source").alias("cls"),
        F.round(
            F.log(F.col("n_docs") * F.lit(1.0) / F.col("total_docs")) * 1e6
        )
        .cast("long")
        .alias("prior_micro"),
    )
    return (
        vtv.join(F.broadcast(model), "term")
        .join(F.broadcast(prior), "cls")
        .groupBy("doc_id", "source", "cls", "prior_micro")
        .agg(
            (
                F.col("prior_micro") + F.sum(F.col("n") * F.col("ll_micro"))
            ).alias("score")
        )
    )


@register(
    "q_nb_source_classifier",
    oracle=f"""
WITH {_NB_SCORES_CTE},
pred AS (
  SELECT doc_id, source, cls AS predicted,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls) AS rn
  FROM scores
)
SELECT source, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY source, predicted
ORDER BY source, predicted
""",
)
def q_nb_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained to predict a document's source
    from its tokens, evaluated in-sample as a confusion matrix — the
    counts-only twin of the fastText quality classifier used to filter
    CommonCrawl against a "good" reference corpus (CCNet / GPT-3
    WebText filter): same linear-scorer-over-token-counts shape, but
    expressible entirely as aggregates with no gradient loop.

    Determinism: Laplace-smoothed log-likelihoods and log-priors are
    quantized to integer micro-units BEFORE the per-doc sum (the DSIR
    pattern) so the distributed reduction is an order-independent
    BIGINT sum; argmax tie-breaks on class name via row_number.

    Scale shape: training = one (source, term) count aggregate joined
    against the capped vocabulary (DF >= {NB_MIN_COUNT} prunes the
    hapax tail that dominates raw vocab size); scoring = token explode
    joined to the broadcast model table, then one combinable integer
    sum per (doc, class). At 100 TB the model stays
    |vocab| x |classes| rows — kilobytes to broadcast — and no text
    ever shuffles, only 4-token terms and integer scores."""
    scores = _nb_scores(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    )
    pred = scores.withColumn("rn", rn).where(F.col("rn") == 1)
    return (
        pred.groupBy("source", F.col("cls").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "predicted")
    )


# ---------------------------------------------------------------------------
# Classifier calibration by decision margin
# ---------------------------------------------------------------------------

CAL_DECILES = 10


@register(
    "q_nb_calibration",
    oracle=f"""
WITH {_NB_SCORES_CTE},
ranked AS (
  SELECT doc_id, source, cls, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls) AS rn
  FROM scores
),
docm AS (
  SELECT doc_id,
         MAX(source) AS source,
         MAX(CASE WHEN rn = 1 THEN cls END) AS predicted,
         MAX(CASE WHEN rn = 1 THEN score END)
           - MAX(CASE WHEN rn = 2 THEN score END) AS margin
  FROM ranked WHERE rn <= 2 GROUP BY doc_id
),
dec AS (
  SELECT *,
         CAST(NTILE({CAL_DECILES}) OVER (ORDER BY margin, doc_id) AS INT)
           AS decile
  FROM docm
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(margin) / (COUNT(*) * 1000000.0), 4) AS mean_margin,
       ROUND(SUM(CASE WHEN predicted = source THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 4) AS accuracy
FROM dec
GROUP BY decile
ORDER BY decile
""",
)
def q_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based calibration audit of the NB source classifier: docs
    bucketed into deciles of decision margin (top score minus
    runner-up, in log-prob micro-units) with per-decile accuracy —
    the reliability-diagram reading that tells a filtering pipeline
    which confidence band a score threshold actually buys (the ECE
    shape, on margins instead of softmax probabilities so the gate
    stays transcendental-free beyond the model's own quantized lns).

    Determinism: margins are exact BIGINT differences; the decile
    assignment NTILEs a total order (margin, doc_id); accuracy and
    mean margin are exact-integer ratios rounded at 4 dp.

    Scale shape: reuses the broadcast NB model scoring pass
    (_nb_scores); the decile NTILE is a single-partition sort over
    per-DOC rows — at extreme corpus scale it swaps to
    approx-quantile fences like q_histogram_equidepth, documented
    trade. Everything else is combinable aggregation."""
    scores = _nb_scores(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    )
    ranked = scores.withColumn("rn", rn).where(F.col("rn") <= 2)
    docm = ranked.groupBy("doc_id").agg(
        F.max("source").alias("source"),
        F.max(F.when(F.col("rn") == 1, F.col("cls"))).alias("predicted"),
        (
            F.max(F.when(F.col("rn") == 1, F.col("score")))
            - F.max(F.when(F.col("rn") == 2, F.col("score")))
        ).alias("margin"),
    )
    dec = docm.withColumn(
        "decile",
        F.ntile(CAL_DECILES)
        .over(Window.orderBy("margin", "doc_id"))
        .cast("int"),
    )
    return (
        dec.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("margin") / (F.count(F.lit(1)) * 1_000_000.0), 4
            ).alias("mean_margin"),
            F.round(
                F.sum(
                    F.when(F.col("predicted") == F.col("source"), 1).otherwise(0)
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement (Cohen's kappa) — label QA for training data
# ---------------------------------------------------------------------------


@register(
    "q_annotator_kappa",
    oracle="""
WITH lab AS (
  SELECT doc_id,
         n_chars % 3 AS a,
         CASE WHEN doc_id % 4 = 0 THEN (n_chars % 3 + 1) % 3
              ELSE n_chars % 3 END AS b
  FROM documents
),
cnt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM lab
),
marg AS (
  SELECT CAST(SUM(na * nb) AS BIGINT) AS chance_mass
  FROM (
    SELECT k,
           SUM(CASE WHEN src = 'a' THEN c ELSE 0 END) AS na,
           SUM(CASE WHEN src = 'b' THEN c ELSE 0 END) AS nb
    FROM (
      SELECT 'a' AS src, a AS k, COUNT(*) AS c FROM lab GROUP BY 2
      UNION ALL
      SELECT 'b' AS src, b AS k, COUNT(*) AS c FROM lab GROUP BY 2
    ) GROUP BY k
  )
)
SELECT n AS n_items,
       n_agree,
       ROUND(CAST(n_agree AS DOUBLE) / n, 6) AS po,
       ROUND(CAST(chance_mass AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe,
       ROUND(CAST(n_agree * n - chance_mass AS DOUBLE)
             / (CAST(n AS DOUBLE) * n - chance_mass), 6) AS kappa
FROM cnt, marg
""",
)
def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two annotators of a labeling pass — the
    standard chance-corrected agreement statistic a labeling pipeline
    gates raters on (Cohen 1960). The two label columns are a
    deterministic fixture overlay on ``documents`` (annotator A buckets
    by n_chars; annotator B agrees except on every 4th doc, where it
    shifts one class — the same pick-by-doc-id fixture pattern the zh
    back-fill queries use), so both engines see identical labels; the
    OPERATOR is the kappa computation itself.

    Determinism: observed agreement, the per-class marginals, and the
    chance mass SUM(nA_k * nB_k) are all exact integers; kappa is the
    single division (n_agree*N - chance) / (N^2 - chance) — identical
    to (po-pe)/(1-pe) but with integer numerator and denominator, so
    there is exactly one ulp-safe double op per output value.

    Scale shape: one map-side-combinable contingency aggregate over the
    corpus (class space is tiny), then arithmetic on a handful of rows.
    No shuffle carries more than n_classes rows; at 100 TB this is
    scan-bound. A per-rater-pair variant only adds the pair key to the
    groupBy."""
    lab = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 3).alias("a"),
        F.when(
            F.col("doc_id") % 4 == 0, (F.col("n_chars") % 3 + 1) % 3
        )
        .otherwise(F.col("n_chars") % 3)
        .alias("b"),
    )
    cnt = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "n_agree"
        ),
    )
    marg = (
        lab.select(F.lit("a").alias("src"), F.col("a").alias("k"))
        .unionByName(lab.select(F.lit("b").alias("src"), F.col("b").alias("k")))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("src") == "a", 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("src") == "b", 1).otherwise(0)).alias("nb"),
        )
        .agg(F.sum(F.col("na") * F.col("nb")).alias("chance_mass"))
    )
    nd = F.col("n").cast("double")
    return cnt.crossJoin(marg).select(
        F.col("n").alias("n_items"),
        "n_agree",
        F.round(F.col("n_agree").cast("double") / F.col("n"), 6).alias("po"),
        F.round(F.col("chance_mass").cast("double") / (nd * F.col("n")), 6).alias(
            "pe"
        ),
        F.round(
            (F.col("n_agree") * F.col("n") - F.col("chance_mass")).cast("double")
            / (nd * F.col("n") - F.col("chance_mass")),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Blocklist / keyword filtering (C4- and RefinedWeb-style curation gate)
# ---------------------------------------------------------------------------

BLOCKLIST = ["slow", "merge", "spill", "crash"]
BLOCK_RATIO = 0.05  # docs with > 5% blocklisted tokens are dropped


@register(
    "q_blocklist_filter",
    oracle=f"""
WITH scored AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                  x -> list_contains({BLOCKLIST!r}, x))) AS BIGINT) AS hits
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN hits > {BLOCK_RATIO} * n_tokens
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       ROUND(CAST(SUM(hits) AS DOUBLE) / SUM(n_tokens), 6) AS hit_rate,
       ROUND(CAST(SUM(CASE WHEN hits > {BLOCK_RATIO} * n_tokens
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
         AS block_rate
FROM scored
GROUP BY source
ORDER BY source
""",
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist curation gate: per-document blocklisted-token count and
    ratio, per-source block census — the C4/RefinedWeb "bad words list"
    filter (Raffel et al. 2020 drop any page containing a listed word;
    this is the softer ratio variant production pipelines use so one
    incidental token doesn't kill a good document).

    Scale shape: the match is entirely IN-ROW — size(filter(tokens,
    array_contains(blocklist))) against a literal array, no explode, no
    join, no shuffle before the per-source aggregate (which map-side
    combines into |sources| rows). A 100k-term production blocklist
    swaps the literal for a broadcast Bloom/hash set in the same
    expression; the plan shape is unchanged. hit_rate is the exact
    integer pair SUM(hits)/SUM(n_tokens) divided once."""
    toks = tokens(F.col("text"))
    bl = F.array(*[F.lit(w) for w in BLOCKLIST])
    scored = load(spark, sf_dir, "documents").select(
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(bl, x))
        ).cast("long").alias("hits"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("hits") > BLOCK_RATIO * F.col("n_tokens"), 1
                ).otherwise(0)
            ).alias("n_blocked"),
            F.sum("hits").alias("total_hits"),
            F.round(
                F.sum("hits").cast("double") / F.sum("n_tokens"), 6
            ).alias("hit_rate"),
            F.round(
                F.sum(
                    F.when(
                        F.col("hits") > BLOCK_RATIO * F.col("n_tokens"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("block_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# One-vs-rest AUC of the NB classifier (exact, rank-sum / histogram form)
# ---------------------------------------------------------------------------


@register(
    "q_nb_auc",
    oracle=f"""
WITH {_NB_SCORES_CTE},
lab AS (
  SELECT cls, score,
         CASE WHEN source = cls THEN 1 ELSE 0 END AS is_pos
  FROM scores
),
hist AS (
  SELECT cls, score,
         CAST(SUM(is_pos) AS BIGINT) AS pos_v,
         CAST(SUM(1 - is_pos) AS BIGINT) AS neg_v
  FROM lab GROUP BY 1, 2
),
cum AS (
  SELECT cls, score, pos_v, neg_v,
         SUM(neg_v) OVER (PARTITION BY cls ORDER BY score
                          ROWS UNBOUNDED PRECEDING) - neg_v AS neg_below
  FROM hist
),
agg AS (
  SELECT cls,
         CAST(SUM(pos_v) AS BIGINT) AS n_pos,
         CAST(SUM(neg_v) AS BIGINT) AS n_neg,
         CAST(SUM(pos_v * (2 * neg_below + neg_v)) AS BIGINT) AS u2
  FROM cum GROUP BY 1
)
SELECT cls, n_pos, n_neg,
       ROUND(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
FROM agg
ORDER BY cls
""",
)
def q_nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact one-vs-rest AUC per class for the NB source classifier —
    the canonical threshold-free ranking metric, computed WITHOUT
    sorting pairs: AUC is the Mann-Whitney U statistic normalized by
    n_pos*n_neg (ties at half credit), and U folds over the
    score-VALUE histogram exactly like q_mannwhitney_u —
    U2 = sum over values of pos_v * (2*neg_below + neg_v), doubled to
    stay integer until the single final division.

    Determinism: scores are the shared integer-micro NB log-posteriors
    (_nb_scores); U2, n_pos, n_neg are exact integers; one double
    division rounded at 6 dp.

    Scale shape: reuses the broadcast-model scoring pass; the
    histogram groups by (class, score value). Integer-micro scores can
    approach one distinct value per doc, so at extreme scale the
    histogram is as big as the doc count — still ONE combinable
    aggregate plus a per-class cumulative window; if even that is too
    wide, quantize scores to coarser micro-units first (AUC error
    bounded by the quantile width). Documented trade, same family as
    q_histogram_equidepth."""
    scores = _nb_scores(spark, sf_dir)
    lab = scores.select(
        "cls",
        "score",
        F.when(F.col("source") == F.col("cls"), 1).otherwise(0).alias(
            "is_pos"
        ),
    )
    hist = lab.groupBy("cls", "score").agg(
        F.sum("is_pos").alias("pos_v"),
        F.sum(1 - F.col("is_pos")).alias("neg_v"),
    )
    wv = (
        Window.partitionBy("cls")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn(
        "neg_below", F.sum("neg_v").over(wv) - F.col("neg_v")
    )
    return (
        cum.groupBy("cls")
        .agg(
            F.sum("pos_v").cast("long").alias("n_pos"),
            F.sum("neg_v").cast("long").alias("n_neg"),
            F.sum(
                F.col("pos_v") * (2 * F.col("neg_below") + F.col("neg_v"))
            )
            .cast("long")
            .alias("u2"),
        )
        .select(
            "cls",
            "n_pos",
            "n_neg",
            F.round(
                F.col("u2").cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ).alias("auc"),
        )
        .orderBy("cls")
    )


# ---------------------------------------------------------------------------
# Feature hashing + one exact logistic-regression gradient step
# ---------------------------------------------------------------------------

LR_BUCKETS = 16  # hashing-trick feature dimensionality
LR_RATE_MICRO = 10_000  # learning rate 0.01 in 1e-6 units


@register(
    "q_logreg_step",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
feat AS (
  SELECT doc_id, y,
         {h32_sql("term")} % {LR_BUCKETS} AS j,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM tok GROUP BY 1, 2, 3
),
grad AS (
  -- from w = 0 every margin is 0 and sigmoid(0) = 1/2 EXACTLY, so the
  -- first-step gradient sum((p - y) * x) doubles into the integer
  -- g2 = sum((1 - 2y) * x) with no float anywhere
  SELECT j,
         CAST(SUM((1 - 2 * y) * x) AS BIGINT) AS grad2,
         CAST(SUM(x) AS BIGINT) AS n_obs
  FROM feat GROUP BY 1
),
spine AS (SELECT unnest(range({LR_BUCKETS})) AS j)
SELECT spine.j AS bucket,
       COALESCE(n_obs, 0) AS n_obs,
       COALESCE(grad2, 0) AS grad2,
       CAST(-{LR_RATE_MICRO} * COALESCE(grad2, 0) / 2 AS BIGINT) AS w1_micro
FROM spine LEFT JOIN grad ON grad.j = spine.j
ORDER BY bucket
""",
)
def q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing + one EXACT logistic-regression gradient step —
    the trainable-model counterpart to the NB classifier: tokens hash
    into {LR_BUCKETS} buckets (the hashing trick — fixed dimensionality
    regardless of vocabulary, the standard way distributed text
    classifiers bound feature width), labels are the binary lang=='en'
    task, and one full-batch GD step runs from zero initialization.
    At w=0 the sigmoid is EXACTLY 1/2, so the first step's gradient
    sum((p - y) x) is the integer g2/2 with g2 = sum((1-2y) x) — the
    whole step is integer arithmetic: no transcendental, no float sum,
    bit-identical across engines (later steps need per-row sigmoids —
    in this registry's convention they'd quantize per-row to micro
    units before the exact SUM, the NB-model pattern).

    Scale shape: explode -> one combinable (doc, bucket) count -> one
    combinable per-bucket gradient aggregate — the textbook distributed
    full-batch GD shape (gradient = sum of per-partition partials);
    model width is constant so the reduce output is {LR_BUCKETS} rows
    at any corpus size."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    feat = tok.groupBy(
        "doc_id", "y", F.pmod(h32(F.col("term")), LR_BUCKETS).alias("j")
    ).agg(F.count(F.lit(1)).alias("x"))
    grad = feat.groupBy("j").agg(
        F.sum((1 - 2 * F.col("y")) * F.col("x")).alias("grad2"),
        F.sum("x").alias("n_obs"),
    )
    spine = spark.range(LR_BUCKETS).select(F.col("id").alias("j"))
    return (
        spine.join(F.broadcast(grad), "j", "left")
        .select(
            F.col("j").alias("bucket"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            F.coalesce("grad2", F.lit(0)).alias("grad2"),
            (
                F.lit(-LR_RATE_MICRO) * F.coalesce("grad2", F.lit(0)) / 2
            )
            .cast("long")
            .alias("w1_micro"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Token-distribution drift between corpus snapshots (round 8)
# ---------------------------------------------------------------------------


@register(
    "q_token_drift",
    oracle="""
WITH toks AS (
  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS t
  FROM documents
),
ca AS (SELECT t, CAST(COUNT(*) AS BIGINT) c FROM toks WHERE half = 0 GROUP BY t),
cb AS (SELECT t, CAST(COUNT(*) AS BIGINT) c FROM toks WHERE half = 1 GROUP BY t),
u AS (
  SELECT COALESCE(ca.t, cb.t) AS t,
         COALESCE(ca.c, 0) + 1 AS a1,
         COALESCE(cb.c, 0) + 1 AS b1
  FROM ca FULL OUTER JOIN cb ON ca.t = cb.t
),
tot AS (
  SELECT CAST(SUM(a1) AS BIGINT) AS ta, CAST(SUM(b1) AS BIGINT) AS tb,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM u
),
terms AS (
  SELECT
    CAST(SUM(a1 * CAST(ROUND(1000000 * (ln(CAST(a1 AS DOUBLE) / ta)
                                        - ln(CAST(b1 AS DOUBLE) / tb)))
             AS BIGINT)) AS BIGINT) AS kl_micro_weighted,
    CAST(SUM(ABS(a1 * tb - b1 * ta)) AS BIGINT) AS tv_num
  FROM u, tot
)
SELECT tot.ta - tot.v AS tokens_a,
       tot.tb - tot.v AS tokens_b,
       tot.v AS vocab_union,
       terms.kl_micro_weighted,
       ROUND(CAST(terms.kl_micro_weighted AS DOUBLE) / 1000000 / tot.ta, 6)
         AS kl_nats,
       ROUND(CAST(terms.tv_num AS DOUBLE)
             / (2.0 * tot.ta * tot.tb), 6) AS tv_dist
FROM tot, terms
""",
)
def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots (here the
    deterministic doc_id-parity halves standing in for yesterday/today):
    add-one-smoothed KL divergence and total-variation distance over the
    unioned vocabulary — the statistical alarm a continuously-ingesting
    training pipeline puts on every source before a new snapshot is
    admitted (a crawler change or spam flood shows up here before any
    model does).

    Determinism discipline: the only transcendental enters PER TERM as
    round(1e6 * (ln(pa) - ln(qb))) — integer micro-nats — and the
    corpus-weighted sum is exact BIGINT arithmetic, so engine summation
    order cannot move the hash (the unigram-cost trick). TV distance
    needs no logs at all: |a1*tb - b1*ta| summed exactly, divided once
    at the end. Both metrics additionally rounded at 6 dp.

    Scale shape: two combinable token counts (one shuffle each), a
    vocab-keyed full outer join (hash-uniform), one constant-width
    aggregate. At 100 TB the vocab join is the only real shuffle and
    its keys are words — the classic Zipf head is bounded by the
    combiner, not the join. The smoothed-count frame is consumed TWICE
    (the totals pass must finish before the per-term logs can be
    priced, inherently two passes), so it goes through the lazy vocab-
    sized cache — without it each consumer re-derives the lineage and
    the corpus is scanned four times instead of two (caught by the
    PLANS.md audit)."""
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    def build_u():
        toks = load(spark, sf_dir, "documents").select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(tokens(F.col("text"))).alias("t"),
        )
        ca = (
            toks.where(F.col("half") == 0)
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("c_a"))
        )
        cb = (
            toks.where(F.col("half") == 1)
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("c_b"))
        )
        return ca.join(cb, "t", "full_outer").select(
            (F.coalesce("c_a", F.lit(0)) + 1).alias("a1"),
            (F.coalesce("c_b", F.lit(0)) + 1).alias("b1"),
        )

    u = memo_frame(spark, f"tokdrift:u:{sf_dir}", build_u)
    tot = u.agg(
        F.sum("a1").alias("ta"),
        F.sum("b1").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    terms = u.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("a1")
            * F.round(
                1000000
                * (
                    F.log(F.col("a1").cast("double") / F.col("ta"))
                    - F.log(F.col("b1").cast("double") / F.col("tb"))
                )
            ).cast("long")
        ).alias("kl_micro_weighted"),
        F.sum(
            F.abs(F.col("a1") * F.col("tb") - F.col("b1") * F.col("ta"))
        ).alias("tv_num"),
        F.first("ta").alias("ta"),
        F.first("tb").alias("tb"),
        F.first("v").alias("v"),
    )
    return terms.select(
        (F.col("ta") - F.col("v")).alias("tokens_a"),
        (F.col("tb") - F.col("v")).alias("tokens_b"),
        F.col("v").alias("vocab_union"),
        "kl_micro_weighted",
        F.round(
            F.col("kl_micro_weighted").cast("double") / 1000000 / F.col("ta"),
            6,
        ).alias("kl_nats"),
        F.round(
            F.col("tv_num").cast("double")
            / (2.0 * F.col("ta") * F.col("tb")),
            6,
        ).alias("tv_dist"),
    )
