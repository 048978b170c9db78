"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language-ID, document fingerprinting, exact dedup.

These are the text-side primitives a 100 TB training-data pipeline needs
(SURVEY.md §2.9 north-star extensions). Every operator is pure column
expressions — whole-stage codegen, zero Python in the hot path — and each
has a DuckDB oracle computing the identical integer/deterministic math
(see functions/text.py for the shared constants).

Scale notes: all are embarrassingly parallel per-row maps except the final
ORDER BY (driver-side presentation only) and exact-dedup's groupBy (one
hash-partition shuffle on the dedup key — the minimal possible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import (
    FP_MOD,
    LANG_ORDER,
    STOPWORDS,
    bigrams,
    h32,
    h32_sql,
    rolling_fingerprint,
    shingles,
    tokens,
)
from openmaptiles_zh_modifier_spark.registry import QUERIES, load, register


def _stop_in_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS[lang])


# -------------------------------------------------------------------------
# Token counting + quality scoring
# -------------------------------------------------------------------------

@register(
    "q_text_stats",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks, length(text) AS n_chars_txt
  FROM documents
)
SELECT doc_id,
       source,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_types,
       ROUND(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS type_token_ratio,
       ROUND(len(list_filter(toks, x -> x IN ({_stop_in_sql('en')}))) * 1.0 / len(toks), 4) AS stopword_ratio,
       ROUND((n_chars_txt - len(toks) + 1) * 1.0 / len(toks), 4) AS avg_token_len,
       ROUND(0.5 * (len(list_distinct(toks)) * 1.0 / len(toks))
             + 0.5 * (1.0 - len(list_filter(toks, x -> x IN ({_stop_in_sql('en')}))) * 1.0 / len(toks)), 4) AS quality_score
FROM t
ORDER BY doc_id
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count, type/token ratio, stopword ratio, average
    token length, and a composite quality score. Pure narrow map — scales
    linearly, no shuffle except the presentation sort."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    stops = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    # filter, not array_intersect: repeated stopwords must count every time
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    ttr = F.round(n_types / n_tokens, 4)
    stop_ratio = F.round(n_stop / n_tokens, 4)
    avg_tok = F.round((F.length("text") - n_tokens + 1) / n_tokens, 4)
    quality = F.round(0.5 * (n_types / n_tokens) + 0.5 * (1.0 - n_stop / n_tokens), 4)
    return (
        docs.select(
            "doc_id",
            "source",
            n_tokens.alias("n_tokens"),
            n_types.alias("n_types"),
            ttr.alias("type_token_ratio"),
            stop_ratio.alias("stopword_ratio"),
            avg_tok.alias("avg_token_len"),
            quality.alias("quality_score"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------------------
# Language identification (stopword n-gram scoring)
# -------------------------------------------------------------------------

def _langid_score_sql(lang: str) -> str:
    return f"len(list_filter(toks, x -> x IN ({_stop_in_sql(lang)})))"


_LANGID_PRED_SQL = "CASE " + " ".join(
    # first lang (in preference order) achieving the max score wins
    f"WHEN score_{lang} = best THEN '{lang}'" for lang in LANG_ORDER
) + " END"


@register(
    "q_text_langid",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         {", ".join(f"{_langid_score_sql(lang)} AS score_{lang}" for lang in LANG_ORDER)}
  FROM t
),
m AS (
  SELECT *, GREATEST({", ".join(f"score_{lang}" for lang in LANG_ORDER)}) AS best
  FROM s
)
SELECT doc_id, lang AS lang_label,
       {", ".join(f"score_{lang}" for lang in LANG_ORDER)},
       CASE WHEN best = 0 THEN 'und' ELSE {_LANGID_PRED_SQL} END AS lang_pred
FROM m
ORDER BY doc_id
""",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language hit counts, argmax with a
    deterministic preference-order tie-break, 'und' when nothing matches.
    The testdata's ``lang`` column is a synthetic label on identical text,
    so the gate is score parity with the oracle, not label recovery."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    def score(lang: str):
        stop_arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("long")

    scores = {lang: score(lang) for lang in LANG_ORDER}
    df = docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_ORDER],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_ORDER])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_ORDER:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return df.withColumn("lang_pred", pred).orderBy("doc_id")


# -------------------------------------------------------------------------
# Document fingerprinting (rolling polynomial hash)
# -------------------------------------------------------------------------

@register(
    "q_text_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT, list_transform(toks, x -> {h32_sql('x')})),
         (acc, h) -> (acc * 31 + h) % {FP_MOD}
       ) AS fingerprint,
       {h32_sql('doc_id::VARCHAR')} AS id_hash
FROM t
ORDER BY doc_id
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash over the token stream (content-defined
    fingerprint), plus the portable h32 on the id. Left-fold on both
    engines => identical values. Narrow map, linear scale."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            rolling_fingerprint(tokens(F.col("text"))).alias("fingerprint"),
            h32(F.col("doc_id").cast("string")).alias("id_hash"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------------------
# Exact deduplication (hash-groupBy canonicalization)
# -------------------------------------------------------------------------

@register(
    "q_dedup_exact",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS dk FROM documents
),
grp AS (
  SELECT dk, min(doc_id) AS canonical_id, count(*) AS n_copies
  FROM keyed GROUP BY dk
)
SELECT k.doc_id, k.source, g.canonical_id, g.n_copies,
       (k.doc_id = g.canonical_id) AS is_canonical
FROM keyed k JOIN grp g USING (dk)
ORDER BY k.doc_id
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of normalized text as the group key; min doc_id is
    the canonical survivor. One shuffle on the 128-bit key (uniform — no
    skew by construction); at 100 TB the md5 key also serves as the
    bucketing key so re-dedup of deltas is shuffle-free."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "source", F.md5(F.lower(F.trim(F.col("text")))).alias("dk")
    )
    grp = keyed.groupBy("dk").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return (
        keyed.join(grp, "dk")
        .select(
            "doc_id",
            "source",
            "canonical_id",
            "n_copies",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------------------
# BPE-ish regex token counting (subword-piece proxy)
# -------------------------------------------------------------------------

# GPT-2-style pre-tokenization shape: letter runs, single digits, single
# punctuation marks. Kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB) so both engines count identical pieces.
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "q_text_bpe_tokens",
    oracle=r"""
WITH t AS (
  SELECT source,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
             AS n_pieces,
         len(string_split(text, ' ')) AS n_words
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
       ROUND(AVG(n_pieces), 4) AS avg_pieces,
       ROUND(SUM(n_pieces) * 1.0 / SUM(n_words), 4) AS fertility,
       MAX(n_pieces) AS max_pieces
FROM t
GROUP BY source
ORDER BY source
""",
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting with a BPE-ish regex pre-tokenizer (the
    piece-count proxy used to size training corpora): per-source piece
    totals plus fertility (pieces per whitespace word). Pure narrow map in
    codegen — regexp_extract_all + size never leave the JVM — then a tiny
    per-source aggregate; at 100 TB this is a single scan with map-side
    partial aggregation and a 20-row shuffle."""
    docs = load(spark, sf_dir, "documents")
    n_pieces = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    ).cast("long")
    n_words = F.size(tokens(F.col("text"))).cast("long")
    return (
        docs.select("source", n_pieces.alias("n_pieces"), n_words.alias("n_words"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").alias("total_pieces"),
            F.round(F.avg("n_pieces"), 4).alias("avg_pieces"),
            F.round(F.sum("n_pieces") / F.sum("n_words"), 4).alias("fertility"),
            F.max("n_pieces").alias("max_pieces"),
        )
        .orderBy("source")
    )


# -------------------------------------------------------------------------
# Higher-order array functions (transform / filter / exists / sort_array)
# -------------------------------------------------------------------------


@register(
    "q_array_functions",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       list_max(list_transform(toks, x -> length(x))) AS max_token_len,
       len(list_filter(toks, x -> length(x) > 6)) AS n_long_tokens,
       CASE WHEN len(list_filter(toks, x -> x = 'the')) > 0
            THEN 1 ELSE 0 END AS has_the,
       list_sort(toks)[1] AS first_token_sorted
FROM t
ORDER BY doc_id
""",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class surface: transform
    (per-element map), filter (predicate), exists (short-circuit any),
    sort_array + element access — all lambda expressions evaluated inside
    codegen, no Python boundary. The whole query is a narrow map over the
    scan; the only shuffle is the presentation sort."""
    toks = tokens(F.col("text"))
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_max(F.transform(toks, lambda x: F.length(x))).alias(
                "max_token_len"
            ),
            F.size(F.filter(toks, lambda x: F.length(x) > 6)).alias(
                "n_long_tokens"
            ),
            F.exists(toks, lambda x: x == F.lit("the"))
            .cast("int")
            .alias("has_the"),
            F.sort_array(toks)[0].alias("first_token_sorted"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------------------
# Map functions under LAST_WIN (the reference's hstore || semantics, F7)
# -------------------------------------------------------------------------


@register(
    "q_map_functions",
    oracle="""
SELECT doc_id,
       upper(source) AS zh_val,
       source AS src_val,
       2 AS n_keys,
       1 AS lang_missing
FROM documents
ORDER BY doc_id
""",
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column operations under mapKeyDedupPolicy=LAST_WIN — the
    exact hstore `||` right-operand-wins rule the reference's tag
    write-back depends on (OMTZHModifier.java:157-159): build two maps
    sharing a key, map_concat them, and read back with element_at. The
    oracle states the *expected* scalar outcomes directly (DuckDB's map
    surface differs), so a LAST_WIN regression — e.g. the default
    EXCEPTION policy, or first-wins — fails the hash. n_keys proves the
    duplicate key collapsed; lang_missing proves element_at on an absent
    key yields NULL, not an error."""
    docs = load(spark, sf_dir, "documents")
    m1 = F.create_map(
        F.lit("name:zh"), F.col("source"), F.lit("src"), F.col("source")
    )
    m2 = F.create_map(F.lit("name:zh"), F.upper(F.col("source")))
    merged = F.map_concat(m1, m2)
    return docs.select(
        "doc_id",
        F.element_at(merged, "name:zh").alias("zh_val"),
        F.element_at(merged, "src").alias("src_val"),
        F.size(F.map_keys(merged)).alias("n_keys"),
        F.element_at(merged, "lang").isNull().cast("int").alias("lang_missing"),
    ).orderBy("doc_id")


# -------------------------------------------------------------------------
# N-gram (bigram) frequency with multiplicity — LM corpus counting
# -------------------------------------------------------------------------


@register(
    "q_ngram_counts",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
b AS (
  SELECT doc_id,
         unnest(list_transform(list_zip(toks[:-1], toks[2:]),
                               z -> z[1] || ' ' || z[2])) AS bigram
  FROM t WHERE len(toks) >= 2
)
SELECT bigram,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM b
WHERE bigram IS NOT NULL
GROUP BY bigram
ORDER BY n_occurrences DESC, bigram
LIMIT 20
""",
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram frequency with multiplicity (unlike the dedup shingles,
    which are distinct-per-doc): pair each token with its successor via
    two shifted slices + zip_with, explode, and count occurrences and
    document frequency — the n-gram LM / collocation-mining counting
    job. All array work is codegen-side; the single shuffle is the
    bigram groupBy with map-side partial aggregation collapsing each
    partition's counts before the exchange."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), " ", -1), lambda x: x != ""
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks")
    ).where(F.size("toks") >= 2)
    return (
        docs.select("doc_id", F.explode(bigrams(F.col("toks"))).alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(20)
    )


# -------------------------------------------------------------------------
# PII-style scrubbing (regex masking with audit counts)
# -------------------------------------------------------------------------


@register(
    "q_text_scrub",
    oracle=r"""
SELECT doc_id,
       md5(regexp_replace(text, '\b(customer|key)\b', '[MASK]', 'g'))
           AS scrubbed_md5,
       len(regexp_extract_all(text, '\b(customer|key)\b')) AS n_masked
FROM documents
ORDER BY doc_id
""",
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing with an audit count — the PII-masking shape
    (emails/phones/SSNs in production; a stand-in sensitive vocabulary
    here since the fixture text is synthetic): every match replaced by a
    mask token, plus the per-document match count the compliance audit
    needs. The output carries md5(scrubbed) rather than the scrubbed
    text so the parity check stays narrow. Pure codegen map; scales as a
    single scan."""
    docs = load(spark, sf_dir, "documents")
    pat = r"\b(customer|key)\b"
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace("text", pat, "[MASK]")).alias("scrubbed_md5"),
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).cast(
            "long"
        ).alias("n_masked"),
    ).orderBy("doc_id")


# -------------------------------------------------------------------------
# BM25 relevance scoring (fixed query-term set)
# -------------------------------------------------------------------------

BM25_TERMS = ["spark", "join", "window", "hash"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 50


def _eq_lit(t: str):
    # NB: must return a 1-arg lambda — a 2-arg lambda (e.g. the `t=t`
    # default-arg capture idiom) is treated by F.filter as (element, index).
    return lambda x: x == F.lit(t)


def _bm25_term_sql(t: str) -> str:
    """Per-term BM25 contribution; tf/df/dl all integers, idf via ln."""
    return (
        f"ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * tf_{t} * {BM25_K1 + 1.0}"
        f" / (tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
    )


@register(
    "q_text_bm25",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
d AS (
  SELECT doc_id, len(toks) AS dl,
         {', '.join(f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS)}
  FROM t
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl,
         {', '.join(f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS)}
  FROM d
),
scored AS (
  SELECT doc_id, dl,
         ROUND({' + '.join(f'({_bm25_term_sql(t)})' for t in BM25_TERMS)}, 4) AS bm25
  FROM d CROSS JOIN stats
  WHERE {' + '.join(f'tf_{t}' for t in BM25_TERMS)} > 0
)
SELECT doc_id, dl, bm25,
       ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
FROM scored
QUALIFY rk <= {BM25_TOP}
ORDER BY rk
""",
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed query-term set — the
    retrieval-side text primitive (data-curation pipelines use the same
    shape for quality filtering against seed queries).

    Determinism discipline: tf, df, dl are exact integers; avgdl is an
    integer-sum / count; the only transcendental is the final ``ln`` in
    idf, and Spark/DuckDB libm disagree at the last ulp on ~12% of
    arguments, so the score is ROUNDed at 4 dp before ranking and doc_id
    breaks ties — ulp noise cannot reorder the output.

    Scale shape: one narrow scan computes per-doc (dl, tf*); one global
    aggregate produces the (1-row) corpus stats, broadcast back via
    crossJoin; scoring is a pure projection and the only shuffle is the
    final top-k (TakeOrderedAndProject). At 100 TB the stats row is a
    pre-computed corpus statistic, not a per-query cost."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _eq_lit(t))).cast("long").alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )

    def term_score(t: str) -> F.Column:
        tf = F.col(f"tf_{t}")
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        return (
            idf
            * tf
            * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )

    score = term_score(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
    any_tf = sum(F.col(f"tf_{t}") for t in BM25_TERMS)
    # Top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort/shuffle), then rank just the k survivors — a
    # global row_number window over the full corpus would funnel every
    # matching doc into one partition.
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        d.crossJoin(F.broadcast(stats))
        .where(any_tf > 0)
        .select("doc_id", "dl", F.round(score, 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
        .withColumn("rk", F.row_number().over(w))
        .orderBy("rk")
    )


# -------------------------------------------------------------------------
# End-to-end curation pipeline (dedup -> quality gate -> sample -> report)
# -------------------------------------------------------------------------

CURATE_QUALITY_MIN = 0.5
CURATE_SAMPLE_BUCKETS = 10
CURATE_SAMPLE_KEEP = 3  # keep hash-buckets 0..2 => deterministic 30%


@register(
    "q_curation_pipeline",
    oracle=f"""
WITH canonical AS (
  SELECT doc_id, text, source
  FROM (
    SELECT doc_id, text, source,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
),
scored AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens,
         ROUND(0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                      / len(string_split(text, ' ')))
               + 0.5 * (1.0 - len(list_filter(string_split(text, ' '),
                                              x -> x IN ({_stop_in_sql('en')})))
                              * 1.0 / len(string_split(text, ' '))), 4) AS q,
         ('0x' || substr(md5(text), 1, 8))::BIGINT % {CURATE_SAMPLE_BUCKETS}
           AS bucket
  FROM canonical
),
kept AS (
  SELECT * FROM scored
  WHERE q >= {CURATE_QUALITY_MIN} AND bucket < {CURATE_SAMPLE_KEEP}
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(SUM(q), 4) AS total_quality,
       FLOOR(10000 * ROUND(SUM(q), 4) / COUNT(*)) / 10000 AS avg_quality
FROM kept
GROUP BY source
ORDER BY source
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data curation pipeline, end to end in ONE
    lazy plan: exact dedup (canonical = lowest doc_id per content hash)
    -> quality gate (type/token + stopword composite >= {CURATE_QUALITY_MIN})
    -> deterministic {CURATE_SAMPLE_KEEP}0% hash-bucket sample -> per-source
    corpus report. This is the query a user of the engine actually runs
    nightly; every stage reuses an operator that is also individually
    oracle-checked.

    Determinism: quality is rounded to 4 dp per doc BEFORE summing (sums
    of grid values tolerate reduction-order noise), and avg uses
    floor-of-fixed-point on the pre-rounded sum. Sampling keys on
    content hash, not doc_id, so reruns and backfills keep identical
    membership (rerun-stable, the q_stratified_sample property).

    Scale shape: dedup is the only wide stage (one shuffle on the
    content hash); scoring is pure projection, the sample is a narrow
    filter, and the report is a map-side-combinable aggregate over
    |sources| keys. Catalyst pipelines the filter+projection into the
    dedup output without re-shuffling."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canonical = (
        docs.select("doc_id", "text", "source")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    stops = F.array(*[F.lit(x) for x in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops, x)))
    q = F.round(
        0.5 * (n_types / n_tokens) + 0.5 * (1.0 - n_stop / n_tokens), 4
    )
    scored = canonical.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        q.alias("q"),
        (h32(F.col("text")) % CURATE_SAMPLE_BUCKETS).alias("bucket"),
    )
    kept = scored.where(
        (F.col("q") >= CURATE_QUALITY_MIN)
        & (F.col("bucket") < CURATE_SAMPLE_KEEP)
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("q"), 4).alias("total_quality"),
            (F.floor(10000 * F.round(F.sum("q"), 4) / F.count(F.lit(1))) / 10000)
            .alias("avg_quality"),
        )
        .orderBy("source")
    )


# -------------------------------------------------------------------------
# Document chunking (overlapping token windows, RAG ingestion shape)
# -------------------------------------------------------------------------

CHUNK_LEN = 40
CHUNK_STRIDE = 30


@register(
    "q_doc_chunking",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
spans AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(len(toks) - {CHUNK_LEN - CHUNK_STRIDE}, 1),
                      {CHUNK_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
       start // {CHUNK_STRIDE} AS chunk_id,
       start AS tok_start,
       LEAST(start + {CHUNK_LEN}, len(toks)) - start AS n_tokens,
       md5(array_to_string(
           list_slice(toks, start + 1, LEAST(start + {CHUNK_LEN}, len(toks))),
           ' ')) AS chunk_md5
FROM spans
ORDER BY doc_id, chunk_id
""",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking ({CHUNK_LEN}-token chunks,
    stride {CHUNK_STRIDE}): every chunk carries its token offset, length,
    and content hash — the RAG-ingestion shape (chunk -> embed -> index)
    and the long-document splitter for context-bounded training. The
    final partial chunk is kept; a document shorter than one stride
    still yields exactly one chunk.

    Pure per-row explode (sequence of starts -> slice -> hash): no
    shuffle at all except the presentation sort — embarrassingly
    parallel at any scale, and chunk_md5 feeds the SAME exact-dedup
    operator downstream (chunk-level dedup is how near-identical
    boilerplate gets stripped from RAG corpora)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - (CHUNK_LEN - CHUNK_STRIDE), F.lit(1)) - 1,
        F.lit(CHUNK_STRIDE),
    )
    spans = t.select("doc_id", "toks", F.explode(starts).alias("start"))
    end = F.least(F.col("start") + CHUNK_LEN, F.size("toks"))
    return spans.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.col("start").alias("tok_start"),
        (end - F.col("start")).alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.slice("toks", F.col("start") + 1, end - F.col("start"))
            )
        ).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


# -------------------------------------------------------------------------
# Sequence packing (concat-and-chunk to a fixed token budget)
# -------------------------------------------------------------------------

PACK_CAP = 512


@register(
    "q_sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
),
c AS (
  SELECT doc_id, n,
         SUM(n) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT doc_id, n,
       CAST((cum - n) // {PACK_CAP} AS BIGINT) AS first_pack,
       CAST((cum - 1) // {PACK_CAP} AS BIGINT) AS last_pack,
       CAST((cum - 1) // {PACK_CAP} - (cum - n) // {PACK_CAP} + 1
            AS BIGINT) AS n_packs,
       CAST(cum - n - ((cum - n) // {PACK_CAP}) * {PACK_CAP}
            AS BIGINT) AS offset_in_pack
FROM c
ORDER BY doc_id
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents concatenate into one
    global token stream (doc_id order) which is cut every {PACK_CAP}
    tokens — each doc's report says which training sequence(s) it lands
    in and at what offset, i.e. the pack manifest GPT-style pretraining
    writes before tokenizing shards. Integer running-sum arithmetic
    end-to-end.

    Scale note: the global running sum is a single-partition ordered
    window here; at 100 TB packing runs per shard (partition) with a
    two-phase prefix sum — per-partition totals are scanned once
    (driver-side, |partitions| values) and re-broadcast as offsets, the
    standard distributed prefix-sum decomposition, preserving identical
    output."""
    from pyspark.sql import Window

    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = t.withColumn("cum", F.sum("n").over(w))
    first = F.floor((F.col("cum") - F.col("n")) / PACK_CAP)
    last = F.floor((F.col("cum") - 1) / PACK_CAP)
    return c.select(
        "doc_id",
        "n",
        first.alias("first_pack"),
        last.alias("last_pack"),
        (last - first + 1).alias("n_packs"),
        (F.col("cum") - F.col("n") - first * PACK_CAP).alias("offset_in_pack"),
    ).orderBy("doc_id")


# -------------------------------------------------------------------------
# Repetition-based quality filtering (Gopher-rule shape)
# -------------------------------------------------------------------------


@register(
    "q_quality_repetition",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
ut AS (
  SELECT doc_id, MAX(c) AS mc, CAST(SUM(c) AS BIGINT) AS n
  FROM tc GROUP BY 1
),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                i -> concat_ws(' ', t[i], t[i+1]))) AS b
  FROM toks
),
bc AS (SELECT doc_id, b, COUNT(*) AS c FROM big GROUP BY 1, 2),
bt AS (SELECT doc_id, MAX(c) AS mb, CAST(SUM(c) AS BIGINT) AS nb FROM bc GROUP BY 1)
SELECT u.doc_id,
       u.n AS n_tokens,
       ROUND(u.mc * 1.0 / u.n, 4) AS top_token_frac,
       ROUND(COALESCE(b.mb * 1.0 / b.nb, 0), 4) AS top_bigram_frac,
       CAST(CASE WHEN u.mc * 1.0 / u.n <= 0.20
                  AND COALESCE(b.mb * 1.0 / b.nb, 0) <= 0.18
            THEN 1 ELSE 0 END AS INT) AS keep
FROM ut u LEFT JOIN bt b USING (doc_id)
ORDER BY u.doc_id
""",
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gating (the Gopher-rules shape): a doc is
    dropped when one token dominates (> 20% of all tokens) or one bigram
    dominates (> 18%) — the cheap structural signals that catch boiler-
    plate, keyword stuffing, and degenerate generations before any model
    scoring. Complements q_text_stats (TTR/stopword) with the
    repetition axis of the published filter suites.

    Scale shape: two groupBy aggregates per granularity (token, bigram),
    both map-side combinable on (doc_id, gram) keys; the per-doc maxima
    join back on doc_id. Grams never leave their aggregate — no text
    shuffles beyond the gram keys themselves."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tok = docs.select("doc_id", F.explode(toks).alias("w"))
    tc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    ut = tc.groupBy("doc_id").agg(
        F.max("c").alias("mc"), F.sum("c").cast("long").alias("n")
    )
    big = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= 2)
        .select("doc_id", F.explode(bigrams(F.col("t"))).alias("b"))
    )
    bc = big.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    bt = bc.groupBy("doc_id").agg(
        F.max("c").alias("mb"), F.sum("c").cast("long").alias("nb")
    )
    tok_frac = F.col("mc") / F.col("n")
    big_frac = F.coalesce(F.col("mb") / F.col("nb"), F.lit(0.0))
    return (
        ut.join(bt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.round(tok_frac, 4).alias("top_token_frac"),
            F.round(big_frac, 4).alias("top_bigram_frac"),
            ((tok_frac <= 0.20) & (big_frac <= 0.18)).cast("int").alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------------------
# BPE merge-candidate counting (the tokenizer-training inner loop)
# -------------------------------------------------------------------------


@register(
    "q_bpe_merge_candidates",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                i -> substr(w, i, 2))) AS pair
  FROM toks
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS INT) AS rk
FROM pairs
GROUP BY pair
ORDER BY rk
LIMIT 10
""",
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop: count adjacent symbol (character)
    pairs across the corpus and rank merge candidates — the top pair is
    the merge a BPE trainer would apply next. Iterating this (merge,
    re-count) trains the full vocabulary; one step is the distributed
    primitive.

    Scale shape: pair generation is a bounded in-row explode (pair count
    = token length - 1); counting is one map-side-combinable aggregate on
    the pair key; ranking is a TakeOrdered over the (tiny) distinct-pair
    space. No text shuffles — only 2-char pair keys."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    # single-char tokens have no pairs; the length guard also matters for
    # correctness — Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
    # being empty, which would fabricate phantom pairs the oracle's
    # generate_series (empty on 1..0) never produces
    pairs = (
        tok.where(F.length("w") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
            "w",
        )
        .select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occ"), F.asc("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .orderBy("rk")
        .limit(10)
    )


# ---------------------------------------------------------------- source KL

KL_MIN_COUNT = 10  # vocab = tokens seen >= this many times corpus-wide


@register(
    "q_source_kl",
    oracle=f"""
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
vocab AS (
  SELECT term, COUNT(*) AS ct FROM t GROUP BY 1
  HAVING COUNT(*) >= {KL_MIN_COUNT}
),
tot AS (SELECT SUM(ct) AS n, COUNT(*) AS v FROM vocab),
st AS (
  SELECT t.source, t.term, COUNT(*) AS cst
  FROM t JOIN vocab ON vocab.term = t.term
  GROUP BY 1, 2
),
stot AS (SELECT source, SUM(cst) AS ns FROM st GROUP BY 1),
grid AS (
  SELECT stot.source, stot.ns, vocab.term, vocab.ct, COALESCE(st.cst, 0) AS cst
  FROM stot CROSS JOIN vocab
  LEFT JOIN st ON st.source = stot.source AND st.term = vocab.term
),
contrib AS (
  SELECT g.source, g.ns, g.term,
         ((g.cst + 1.0) / (g.ns + t.v))
           * ROUND(ln(((g.cst + 1.0) / (g.ns + t.v))
                      / ((g.ct + 1.0) / (t.n + t.v))), 6) AS c
  FROM grid g CROSS JOIN tot t
)
SELECT source, CAST(ns AS BIGINT) AS n_tokens,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
                         (acc, x) -> acc + x), 6) AS kl_nats
FROM contrib GROUP BY source, ns
ORDER BY source
""",
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source || corpus) in nats over
    the Laplace-smoothed token distributions — the mixture-monitoring
    primitive behind "did crawl N shift vocabulary vs the corpus" checks
    in training-data pipelines (domain drift, contamination by boilerplate,
    language mix changes). Vocabulary is the corpus tokens with count >=
    {KL_MIN_COUNT}; p_s(t) = (c_st+1)/(n_s+V), q(t) = (c_t+1)/(N+V),
    KL = sum p_s ln(p_s/q) over the vocab (every source x vocab cell,
    including zero-count cells — that's what the smoothing is for).

    Determinism: counts are exact integers so every p is an exact double
    ratio; the single transcendental (ln ratio) is ROUNDed at 6 dp
    per-term BEFORE the product/sum, and the per-source sum is a sorted
    fold in term order (F.aggregate == list_reduce) — bit-identical
    cross-engine, final ROUND at 6 dp for presentation.

    Scale shape: token explode -> two map-side-combinable count
    aggregates; the scoring grid is sources x vocab, built by
    broadcasting the vocab (bounded by the min-count cut — Zipf makes
    frequent-token vocabularies small relative to the corpus) against the
    per-source totals, LEFT-joined to observed (source, term) counts on a
    hash key. The wide fact explode never re-shuffles: contributions
    reduce per source. At 100 TB the only big shuffle is the (source,
    term) count — partial-aggregated map-side first."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    vocab = (
        t.groupBy("term")
        .agg(F.count(F.lit(1)).alias("ct"))
        .where(F.col("ct") >= KL_MIN_COUNT)
    )
    tot = vocab.agg(
        F.sum("ct").alias("n"), F.count(F.lit(1)).alias("v")
    )
    st = (
        t.join(F.broadcast(vocab.select("term")), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cst"))
    )
    stot = st.groupBy("source").agg(F.sum("cst").alias("ns"))
    grid = (
        stot.crossJoin(F.broadcast(vocab))
        .join(st, ["source", "term"], "left")
        .select(
            "source", "ns", "term", "ct",
            F.coalesce("cst", F.lit(0)).alias("cst"),
        )
        .crossJoin(F.broadcast(tot))
    )
    ps = (F.col("cst") + F.lit(1.0)) / (F.col("ns") + F.col("v"))
    q = (F.col("ct") + F.lit(1.0)) / (F.col("n") + F.col("v"))
    contrib = grid.select(
        "source", "ns", "term", (ps * F.round(F.log(ps / q), 6)).alias("c")
    )
    return (
        contrib.groupBy("source", "ns")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "c"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ),
                6,
            ).alias("kl_nats")
        )
        .select(
            "source",
            F.col("ns").cast("bigint").alias("n_tokens"),
            "kl_nats",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------- balanced sample

@register(
    "q_balanced_sample",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, {h32_sql('CAST(doc_id AS VARCHAR)')} AS h
  FROM documents
),
m AS (
  SELECT MIN(cnt) AS m FROM (
    SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
  )
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
  FROM keyed
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
FROM ranked CROSS JOIN m
WHERE rk <= m.m
ORDER BY lang, rk
""",
)
def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents — the imbalance equalizer run before
    training a classifier (or balancing a language mix) when
    upweighting isn't an option. Selection within each class is by
    ascending content hash, which makes the sample (a) uniform within
    the class, (b) rerun-stable (no rand(): stage retries and
    re-executions pick the identical set — the q_stratified_sample
    discipline), and (c) incremental-friendly: adding documents only
    evicts the highest-hash survivors.

    Scale shape: class counts are a map-side-combinable aggregate
    (#classes rows) collapsed to a one-row broadcast min; ranking is
    one shuffle on the class key with the per-class sort bounded by
    class size. The hash order means no secondary scan for
    randomization — the same trick that makes the hash-bucket sampler
    deterministic."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.withColumn("h", h32(F.col("doc_id").cast("string")))
    m = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(m))
        .where(F.col("rk") <= F.col("m"))
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Training-mixture weights (temperature sampling over sources)
# ---------------------------------------------------------------------------

MIX_ALPHA_IS_SQRT = True  # alpha = 0.5: sqrt is IEEE-exact on both engines


@register(
    "q_mixture_weights",
    oracle="""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_src),
w AS (
  SELECT source, n_docs, n_tokens,
         n_tokens * 1.0 / total_tokens AS share,
         sqrt(n_tokens * 1.0 / total_tokens) AS w_un
  FROM per_src CROSS JOIN tot
),
norm AS (
  SELECT list_reduce(
           list_prepend(0.0::DOUBLE, list(w_un ORDER BY source)),
           (acc, x) -> acc + x) AS z
  FROM w
)
SELECT source, n_docs, n_tokens,
       ROUND(share, 6) AS share,
       ROUND(w_un / z, 6) AS weight,
       ROUND((w_un / z) / share, 4) AS upsample
FROM w CROSS JOIN norm
ORDER BY source
""",
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mixture weights by temperature sampling: each
    source's sampling weight is its token share raised to alpha = 0.5
    (sqrt), renormalized — the standard recipe for up-weighting small
    high-quality sources in an LLM pre-training mix (a uniform mix is
    alpha = 0, natural proportions alpha = 1). Output reports, per
    source, the raw share, the temperature-adjusted weight, and the
    implied upsample factor a data loader would apply.

    Determinism: token counts are exact integers; sqrt is
    correctly-rounded IEEE on both engines; the only order-sensitive
    float is the weight NORMALIZER, which both sides compute as an
    explicit ascending-source fold (the q_pagerank_nations pattern), so
    the division is bit-identical before the presentation round.

    Scale shape: one map-side-combinable aggregate over the corpus, one
    20-row broadcast of the per-source frame, one fold over 20 values —
    the whole query is scan-bound, exactly what you want for a 100 TB
    corpus-composition pass."""
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    docs = load(spark, sf_dir, "documents")
    # one corpus scan: every downstream branch (total, weights, norm,
    # output) descends from this 20-row aggregate — without the cache
    # boundary each branch re-scans documents (4 scans, measured in the
    # plan audit)
    per_src = memo_frame(
        spark,
        f"mixture_per_src:{sf_dir}",
        lambda: docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("n_tokens"),
        ),
    )
    tot = per_src.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    w = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("total_tokens")).alias("share"),
        F.sqrt(F.col("n_tokens") / F.col("total_tokens")).alias("w_un"),
    )
    norm = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "w_un"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w_un"],
        ).alias("z")
    )
    return (
        w.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("share", 6).alias("share"),
            F.round(F.col("w_un") / F.col("z"), 6).alias("weight"),
            F.round((F.col("w_un") / F.col("z")) / F.col("share"), 4).alias(
                "upsample"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style data selection via importance resampling (hashed n-grams)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 128   # hashed n-gram feature buckets
DSIR_TARGET_LANG = "en"  # the "target domain" the selection steers toward
DSIR_TOP_K = 50


@register(
    "q_dsir_selection",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               j -> t[j] || ' ' || t[j+1])) AS g
  FROM toks
),
fb AS (
  SELECT doc_id, lang, {h32_sql('g')} % {DSIR_BUCKETS} AS b, COUNT(*) AS c
  FROM grams GROUP BY 1, 2, 3
),
rawb AS (SELECT b, SUM(c) AS cq FROM fb GROUP BY b),
tgtb AS (
  SELECT b, SUM(c) AS ct FROM fb
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
),
tots AS (
  SELECT (SELECT SUM(cq) FROM rawb) AS q,
         (SELECT COALESCE(SUM(ct), 0) FROM tgtb) AS t
),
r AS (
  SELECT rawb.b,
         CAST(ROUND(ln(((COALESCE(tgtb.ct, 0) + 1.0) / (tots.t + {DSIR_BUCKETS}))
                       / ((rawb.cq + 1.0) / (tots.q + {DSIR_BUCKETS})))
                    * 1000000) AS BIGINT) AS lr_micro
  FROM rawb LEFT JOIN tgtb ON tgtb.b = rawb.b CROSS JOIN tots
),
scored AS (
  SELECT fb.doc_id,
         ROUND(SUM(fb.c * r.lr_micro) / 1000000.0, 4) AS score
  FROM fb JOIN r ON r.b = fb.b
  GROUP BY fb.doc_id
)
SELECT ROW_NUMBER() OVER (ORDER BY s.score DESC, s.doc_id) AS rk,
       s.doc_id, d.lang, d.source, s.score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
ORDER BY rk
LIMIT {DSIR_TOP_K}
""",
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every document by
    its importance log-weight under two hashed-n-gram bag models — the
    TARGET domain (here: lang = '{DSIR_TARGET_LANG}' docs) vs the RAW
    corpus — and keep the top-{DSIR_TOP_K}. Features are unigram+bigram
    counts hashed into {DSIR_BUCKETS} buckets (the paper's trick: fixed
    feature space regardless of vocabulary); both bucket LMs are
    Laplace-smoothed; a doc's weight is sum_b count_doc[b] *
    ln(p_target[b]/p_raw[b]). The deterministic top-k variant stands in
    for the paper's Gumbel resampling (an RNG-free engine has no seeded
    sampler both engines share; the WEIGHTS are what the method is).

    Determinism: counts are exact integers, so every probability is an
    exact double ratio; the single transcendental per bucket is scaled
    to MICRO-units and rounded to a LONG (lr_micro) — the per-doc score
    is then an exact INTEGER sum c*lr_micro (order-independent,
    map-side-combinable, whole-stage codegen), divided once at the end.
    Round 5: this replaced a per-doc collect_list + sorted interpreted
    fold (the determinism held but cost ~1.9 s of the query's 2.8 s at
    sf0.1; the integer sum needs no ordering to be deterministic).

    Scale shape: one gram explode -> one (doc, bucket) map-side-
    combinable count; the two LMs are {DSIR_BUCKETS}-row aggregates that
    BROADCAST; scoring is a per-doc fold over <= {DSIR_BUCKETS} joined
    rows; top-k is TakeOrderedAndProject. At 100 TB the only corpus-
    sized shuffle is the (doc, bucket) count — exactly the paper's
    one-pass featurization, and the selection itself never materializes
    more than k rows per partition."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = docs.select(
        "doc_id", "lang", F.explode(F.concat(toks, bigrams)).alias("g")
    )
    fb = (
        grams.withColumn("b", F.pmod(h32(F.col("g")), F.lit(DSIR_BUCKETS)))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    fb = memo_frame(spark, f"dsir_fb:{sf_dir}", lambda: fb)
    # BOTH bucket LMs (raw corpus + target slice) in ONE pass over fb
    # via a conditional sum, memoized as a {DSIR_BUCKETS}-row frame:
    # round 5 — the previous rawb/tgtb/tots/r subtrees each re-scanned
    # the cached corpus-sized fb (5 scans ≈ 1.5 s at sf0.1); everything
    # below now derives from these 128 cached rows, leaving exactly one
    # fb scan in the scoring join.
    bstats = memo_frame(
        spark,
        f"dsir_bstats:{sf_dir}",
        lambda: fb.groupBy("b").agg(
            F.sum("c").alias("cq"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c"))
                .otherwise(0)
            ).alias("ct"),
        ),
    )
    tots = bstats.agg(
        F.sum("cq").alias("q"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("t"),
    )
    r = (
        bstats.crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.col("ct") + F.lit(1.0))
                     / (F.col("t") + F.lit(DSIR_BUCKETS)))
                    / ((F.col("cq") + F.lit(1.0))
                       / (F.col("q") + F.lit(DSIR_BUCKETS)))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    scored = (
        fb.join(F.broadcast(r), "b")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.col("lr_micro")) / 1_000_000.0, 4
            ).alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            F.row_number().over(w).alias("rk"),
            "doc_id",
            "lang",
            "source",
            "score",
        )
        .where(F.col("rk") <= DSIR_TOP_K)
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Train/val/test split with duplicate-leakage audit
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test gets the remainder


@register(
    "q_split_leakage",
    oracle=f"""
WITH s AS (
  SELECT doc_id, source, md5(text) AS ck,
         CASE WHEN {h32_sql('CAST(doc_id AS VARCHAR)')} % 100
                   < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN {h32_sql('CAST(doc_id AS VARCHAR)')} % 100
                   < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
cs AS (SELECT ck, COUNT(DISTINCT split) AS nsplits FROM s GROUP BY ck)
SELECT s.split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT s.ck) AS n_contents,
       COUNT(DISTINCT CASE WHEN cs.nsplits > 1 THEN s.ck END)
         AS n_leaked_contents
FROM s JOIN cs ON cs.ck = s.ck
GROUP BY s.split
ORDER BY s.split
""",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {SPLIT_TRAIN_PCT}/{SPLIT_VAL_PCT}/rest
    train/val/test split (hash of doc_id — rerun-stable, append-safe:
    new docs land in a split without moving old ones) PLUS the leakage
    audit every eval pipeline needs: exact-duplicate CONTENT that lands
    in more than one split. Splitting by doc id is what everyone does
    first, and duplicated documents silently put eval answers in the
    training set — this operator reports, per split, how many of its
    distinct contents also live in another split. Measured on the
    fixtures: sf0.01 is duplicate-free (all zeros — the audit proving a
    clean corpus clean), while sf0.1 carries 8 duplicated contents of
    which 5 straddle splits (train leaks into val AND test) — exactly
    the silent eval contamination this exists to catch. Remediation:
    content-keyed splitting or q_dedup_exact first.

    Scale shape: one scan computing (hash split, content md5); one
    map-side-combinable distinct-splits-per-content aggregate (content
    hash is the shuffle key); the audit join is content-key equi. At
    100 TB both shuffles carry only hashes."""
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    docs = load(spark, sf_dir, "documents")
    h = F.pmod(h32(F.col("doc_id").cast("string")), F.lit(100))
    # both consumers (the per-content split census and the audit join)
    # read this narrow frame — memoized so the corpus md5 pass runs once
    s = memo_frame(
        spark,
        f"split_assign:{sf_dir}",
        lambda: docs.select(
            "doc_id",
            "source",
            F.md5(F.col("text")).alias("ck"),
            F.when(h < SPLIT_TRAIN_PCT, F.lit("train"))
            .when(h < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        ),
    )
    cs = s.groupBy("ck").agg(
        F.countDistinct("split").alias("nsplits")
    )
    return (
        s.join(cs, "ck")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("ck").alias("n_contents"),
            F.countDistinct(
                F.when(F.col("nsplits") > 1, F.col("ck"))
            ).alias("n_leaked_contents"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Segment-level boilerplate removal (line-dedup for flat token streams)
# ---------------------------------------------------------------------------

SEG_TOKENS = 8    # segment width (the "line" unit for this corpus)
SEG_DF_MAX = 1    # segments in more than this many docs are boilerplate


@register(
    "q_boilerplate_segments",
    oracle=f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
segs AS (
  SELECT doc_id, source,
         unnest(list_transform(
             generate_series(0, (len(tk) + {SEG_TOKENS - 1}) // {SEG_TOKENS} - 1),
             j -> concat_ws(' ',
                  tk[j * {SEG_TOKENS} + 1 :
                     LEAST((j + 1) * {SEG_TOKENS}, len(tk))]))) AS seg
  FROM t
),
df AS (SELECT seg, COUNT(DISTINCT doc_id) AS d FROM segs GROUP BY seg)
SELECT s.doc_id, s.source,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN df.d > {SEG_DF_MAX} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       ROUND(SUM(CASE WHEN df.d > {SEG_DF_MAX} THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS boilerplate_frac,
       CAST(SUM(CASE WHEN df.d <= {SEG_DF_MAX}
                THEN len(string_split(df.seg, ' ')) ELSE 0 END) AS BIGINT)
         AS n_tokens_kept
FROM segs s JOIN df ON df.seg = s.seg
GROUP BY s.doc_id, s.source
ORDER BY s.doc_id
""",
)
def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal, the CCNet/RefinedWeb curation pass
    doc-level dedup cannot do: text repeated ACROSS documents (headers,
    footers, navigation, license blurbs) is dropped segment-by-segment
    while each document's unique content survives. This corpus is a flat
    token stream, so the "line" unit is a fixed {SEG_TOKENS}-token
    segment; each segment's document frequency is computed corpus-wide
    and segments appearing in more than {SEG_DF_MAX} document(s) are
    flagged. Output is the per-doc cleaning manifest (segments flagged,
    boilerplate fraction, tokens kept) — the no-silent-drops bill; the
    cleaned text itself is the kept segments reassembled in order
    (posexplode preserves position), elided here because the gate
    compares scalars.

    Measured on the fixture: 153 distinct segments repeat across docs
    at sf0.01 (near-dup documents share runs), so the flags are real.

    Scale shape: segment explode is linear in corpus tokens; the DF
    aggregate shuffles segment hashes (map-side combinable, uniform
    keys); the verdict join is segment-key equi. Identical shape to the
    shingle pipeline — at 100 TB you'd hash segments to 8 bytes before
    the shuffle (h32 here keeps the oracle portable)."""
    docs = load(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    n_seg = F.ceil(F.size(tk) / SEG_TOKENS).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda j: F.concat_ws(
            " ", F.slice(tk, j * SEG_TOKENS + 1, SEG_TOKENS)
        ),
    )
    segs = docs.select(
        "doc_id", "source", F.explode(seg_arr).alias("seg")
    )
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    segs = memo_frame(spark, f"boiler_segs:{sf_dir}", lambda: segs)
    df = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("d"))
    is_boiler = F.col("d") > SEG_DF_MAX
    return (
        segs.join(df, "seg")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(is_boiler, 1).otherwise(0))
            .cast("long")
            .alias("n_boilerplate"),
            F.round(
                F.sum(F.when(is_boiler, 1).otherwise(0)) / F.count(F.lit(1)),
                4,
            ).alias("boilerplate_frac"),
            F.sum(
                F.when(~is_boiler, F.size(F.split(F.col("seg"), " ")))
                .otherwise(0)
            )
            .cast("long")
            .alias("n_tokens_kept"),
        )
        .orderBy("doc_id")
    )


def boilerplate_cleaned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact the next pipeline stage consumes: each document with
    its boilerplate segments REMOVED and the kept segments reassembled
    in original order (``posexplode`` carries position through the
    corpus-wide DF join; ``array_sort(collect_list(struct(pos, seg)))``
    restores it — collect_list order is otherwise nondeterministic under
    shuffles). Documents whose every segment is boilerplate (or that had
    no tokens) come back with clean_text = ''.

    Scale shape: identical to q_boilerplate_segments (one explode, one
    hash-keyed combinable DF aggregate, one segment-key equi-join) plus
    a per-doc collect_list whose state is bounded by document length —
    the same bound the source row already occupies."""
    docs = load(spark, sf_dir, "documents")
    return boilerplate_clean_frame(
        docs, memo_key=f"boiler_psegs:{sf_dir}"
    )


def boilerplate_clean_frame(
    docs: DataFrame,
    seg_tokens: int = SEG_TOKENS,
    df_max: int = SEG_DF_MAX,
    memo_key: str | None = None,
) -> DataFrame:
    """The segment-removal plan over an arbitrary (doc_id, source, text)
    frame — the registered query binds it to the fixture; the hypothesis
    property test drives it over generated corpora against a pure-Python
    reference."""
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    spark = docs.sparkSession
    SEG_TOKENS = seg_tokens
    SEG_DF_MAX = df_max
    tk = tokens(F.col("text"))
    n_seg = F.ceil(F.size(tk) / SEG_TOKENS).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda j: F.concat_ws(
            " ", F.slice(tk, j * SEG_TOKENS + 1, SEG_TOKENS)
        ),
    )
    segs = docs.select(
        "doc_id", "source", F.posexplode(seg_arr).alias("pos", "seg")
    )
    if memo_key is not None:
        segs = memo_frame(spark, memo_key, lambda: segs)
    df = segs.groupBy("seg").agg(F.countDistinct("doc_id").alias("d"))
    kept = (
        segs.join(df, "seg")
        .where(F.col("d") <= SEG_DF_MAX)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("seg")))
                    ),
                    lambda x: x["seg"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


@register(
    "q_boilerplate_cleaned",
    oracle=f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
segs AS (
  -- array_to_string, NOT concat_ws: concat_ws on a LIST argument
  -- renders the list literal ("[a, b]"), which only works in the
  -- segments manifest because the mangling is a bijection — here the
  -- string itself is the output
  SELECT doc_id, source, j,
         array_to_string(
              tk[j * {SEG_TOKENS} + 1 :
                 LEAST((j + 1) * {SEG_TOKENS}, len(tk))], ' ') AS seg
  FROM t, LATERAL unnest(generate_series(0,
           (len(tk) + {SEG_TOKENS - 1}) // {SEG_TOKENS} - 1)) AS u(j)
),
df AS (SELECT seg, COUNT(DISTINCT doc_id) AS d FROM segs GROUP BY seg),
kept AS (
  SELECT s.doc_id,
         string_agg(s.seg, ' ' ORDER BY s.j) AS clean_text,
         COUNT(*) AS n_kept
  FROM segs s JOIN df ON df.seg = s.seg
  WHERE df.d <= {SEG_DF_MAX}
  GROUP BY s.doc_id
)
SELECT t.doc_id, t.source,
       md5(COALESCE(kept.clean_text, '')) AS clean_md5,
       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def q_boilerplate_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for ``boilerplate_cleaned_docs``: the reassembled
    cleaned text, md5-projected because the driver gate compares
    scalars — the hash pins the full string byte-for-byte cross-engine
    (tests additionally compare the raw strings at fixture scale)."""
    out = boilerplate_cleaned_docs(spark, sf_dir)
    return out.select(
        "doc_id",
        "source",
        F.md5("clean_text").alias("clean_md5"),
        "n_kept",
    ).orderBy("doc_id")


# -------------------------------------------------------------------------
# Exact repeated-span removal (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr pass)
# -------------------------------------------------------------------------

SPAN_TOKENS = 8  # repeated-span width (Lee et al. use 50 BPE tokens)


def substring_cleaned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup with ACTUAL removal: every
    ``SPAN_TOKENS``-token window occurring in more than one document
    marks its covered token positions, and covered tokens are removed
    from ALL occurrences (a symmetric, deterministic variant of Lee et
    al.'s keep-first — order-free, so any engine computes the same
    answer). Complements q_boilerplate_segments (fixed segment grid)
    with the sliding-window pass that catches repeats at ANY offset.

    Returns (doc_id, n_tokens, n_removed, clean_text).

    Scale shape: the window explode is K rows per token (bounded fan-out,
    linear); span DF is one hash-keyed map-side-combinable aggregate; the
    coverage join is span-key equi; coverage explode is again K-bounded;
    reassembly state per doc is bounded by the doc itself. At 100 TB the
    span strings become 8-byte hashes before the shuffle (h32 here keeps
    the DuckDB oracle portable) — the suffix-array construction in the
    paper is the single-machine shape; banded hashing is the cluster one.
    """
    docs = load(spark, sf_dir, "documents")
    return substring_clean_frame(
        docs, k=SPAN_TOKENS, memo_key=f"xsubstr_spans:{sf_dir}"
    )


def substring_clean_frame(
    docs: DataFrame, k: int = SPAN_TOKENS, memo_key: str | None = None
) -> DataFrame:
    """The span-removal plan over an arbitrary (doc_id, text) frame —
    the registered query binds it to the fixture; the hypothesis
    property test drives it over generated corpora against a
    pure-Python reference."""
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    spark = docs.sparkSession
    K = k
    tk = tokens(F.col("text"))
    base = docs.select("doc_id", tk.alias("tk"))

    def build_spans() -> DataFrame:
        n = F.size(F.col("tk"))
        idx = F.when(n >= K, F.sequence(F.lit(0), n - K)).otherwise(
            F.array().cast("array<int>")
        )
        span = F.explode(
            F.transform(
                idx,
                lambda j: F.struct(
                    j.alias("pos"),
                    F.concat_ws(" ", F.slice(F.col("tk"), j + 1, K)).alias(
                        "sh"
                    ),
                ),
            )
        )
        return base.select("doc_id", span.alias("s")).select(
            "doc_id", F.col("s.pos").alias("pos"), F.col("s.sh").alias("sh")
        )

    if memo_key is not None:
        spans = memo_frame(spark, memo_key, build_spans)
    else:
        spans = build_spans()
    dup = (
        spans.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("d"))
        .where(F.col("d") > 1)
        .select("sh")
    )
    covered = (
        spans.join(dup, "sh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (K - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    toks_df = base.select(
        "doc_id", F.posexplode("tk").alias("pos", "tok")
    )
    # one left join + ONE aggregate produces every output column: total
    # token count, covered count, and the ordered reassembly of the
    # uncovered tokens (collect_list skips the NULLed-out covered ones)
    # — no anti-join, no second documents scan for per-doc totals
    marked = toks_df.join(
        covered,
        (toks_df.doc_id == covered.doc_id) & (toks_df.pos == covered.tpos),
        "left",
    ).select(toks_df.doc_id.alias("doc_id"), "pos", "tok", "tpos")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("tpos").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("tpos").isNull(),
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )


@register(
    "q_substring_span_clean",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
spans AS (
  SELECT doc_id, j,
         array_to_string(tk[j + 1 : j + {SPAN_TOKENS}], ' ') AS sh
  FROM t, LATERAL unnest(generate_series(0, len(tk) - {SPAN_TOKENS})) AS u(j)
  WHERE len(tk) >= {SPAN_TOKENS}
),
dup AS (SELECT sh FROM spans GROUP BY sh HAVING COUNT(DISTINCT doc_id) > 1),
covered AS (
  SELECT DISTINCT s.doc_id, s.j + o.k AS tpos
  FROM spans s JOIN dup USING (sh),
       LATERAL unnest(generate_series(0, {SPAN_TOKENS - 1})) AS o(k)
),
toks AS (
  SELECT doc_id, u.j AS pos, tk[u.j + 1] AS tok
  FROM t, LATERAL unnest(generate_series(0, len(tk) - 1)) AS u(j)
),
kept AS (
  SELECT k.doc_id, string_agg(k.tok, ' ' ORDER BY k.pos) AS clean_text
  FROM toks k LEFT JOIN covered c
    ON c.doc_id = k.doc_id AND c.tpos = k.pos
  WHERE c.doc_id IS NULL
  GROUP BY k.doc_id
),
rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM covered GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.tk) AS BIGINT) AS n_tokens,
       CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(kept.clean_text, '')) AS clean_md5
FROM t
LEFT JOIN kept ON kept.doc_id = t.doc_id
LEFT JOIN rem ON rem.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def q_substring_span_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for ``substring_cleaned_docs`` (md5-projected — the
    driver gate compares scalars; the md5 pins the reassembled cleaned
    string byte-for-byte cross-engine)."""
    out = substring_cleaned_docs(spark, sf_dir)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Character-distribution entropy (degenerate-text detector)
# ---------------------------------------------------------------------------

_LN2 = repr(__import__("math").log(2.0))  # same double literal, both engines


@register(
    "q_char_entropy",
    oracle=f"""
WITH ch AS (
  SELECT doc_id, substr(text, u.i, 1) AS ch
  FROM documents, LATERAL unnest(generate_series(1, length(text))) AS u(i)
),
cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         SUM(CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)) AS s_micro
  FROM cc GROUP BY 1
)
SELECT doc_id,
       n AS n_chars,
       n_distinct AS n_distinct_chars,
       ROUND((ln(n) - (s_micro / 1000000.0) / n) / {_LN2}, 4) AS entropy_bits
FROM agg
ORDER BY doc_id
""",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-unigram Shannon entropy per document (bits/char) — the
    cheapest degenerate-text detector: binary junk, single-char floods,
    and base64/hex blobs all sit far from natural text's ~4 bits/char
    band, and the filter needs no tokenizer or LM. Complements the
    token-level axes (q_text_stats TTR, q_quality_repetition) with the
    sub-token one.

    Determinism: H = (ln n - (1/n)*sum(c*ln c)) / ln 2. Each distinct
    char contributes ROUND(c*ln(c)*1e6) as an exact BIGINT, so the
    per-doc sum is order-independent integer math (the q_psi_arms
    rounded-ln idiom); ln(n) is a single libm call on an integer and
    the ln(2) divisor is the same repr'd double literal in both plans.

    Scale shape: the char explode is 1 row per character, but the
    (doc_id, char) aggregate is map-side combinable, so the shuffle
    carries at most |alphabet| rows per doc (~100), not the text; the
    second aggregate folds those to one row per doc. No strings wider
    than one char ever shuffle. 100 TB cost = one combiner-friendly
    pass, same shape as a token count."""
    docs = load(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    cc = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    agg = cc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c")) * 1000000).cast("long")
        ).alias("s_micro"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        F.col("n_distinct").alias("n_distinct_chars"),
        F.round(
            (F.log(F.col("n")) - (F.col("s_micro") / 1000000.0) / F.col("n"))
            / F.lit(float(_LN2)),
            4,
        ).alias("entropy_bits"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cross-source shingle contamination matrix
# ---------------------------------------------------------------------------

XSRC_NGRAM = 4  # shingle width for the source-overlap audit


@register(
    "q_cross_source_overlap",
    oracle=f"""
WITH t AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT DISTINCT source, {h32_sql("gram")} AS gh FROM (
    SELECT source,
           unnest(list_distinct(list_transform(
             generate_series(1, len(tk) - {XSRC_NGRAM - 1}),
             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3])))) AS gram
    FROM t WHERE len(tk) >= {XSRC_NGRAM})
),
ns AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
p AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(na.n AS BIGINT) AS n_a,
       CAST(nb.n AS BIGINT) AS n_b,
       ROUND(p.n_shared * 1.0 / LEAST(na.n, nb.n), 4) AS containment
FROM p
JOIN ns na ON na.source = p.src_a
JOIN ns nb ON nb.source = p.src_b
ORDER BY 1, 2
""",
)
def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: for every pair of corpus
    sources, the count of distinct {XSRC_NGRAM}-token shingles they
    share and the containment ratio (shared / smaller side). This is
    the corpus-curation view of contamination — q_decontamination asks
    "does my corpus leak MY benchmark", this asks "which ingest feeds
    are recycling each other's content" (mirror sites, scraper overlap,
    syndication) so whole sources can be down-weighted before training.

    Determinism: shingles reduce to 32-bit md5 hashes (h32, identical
    in both engines); counts and the 4-dp containment are exact.

    Scale shape: per-source distinct shingle sets are one combinable
    aggregate (the DISTINCT collapses inside the shuffle on gh); the
    pair join keys on the 8-byte hash with fan-out bounded by
    |sources| per shingle — worst case |sources|^2 rows per hot
    shingle, and a DF cap on shingles present in nearly all sources
    (the q_dedup_minhash_lsh guard) applies unchanged if |sources|
    grows. No raw text shuffles anywhere."""
    docs = load(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    g = (
        docs.where(F.size(tk) >= XSRC_NGRAM)
        .select(
            "source",
            F.explode(shingles(tk, XSRC_NGRAM)).alias("gram"),
        )
        .select("source", h32(F.col("gram")).alias("gh"))
        .distinct()
    )
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    g = memo_frame(spark, f"xsrc_shingles:{sf_dir}", lambda: g)
    ns = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # Pair expansion is IN-ROW, not a self-join: one shuffle on gh
    # collapses each shingle to its sorted source set (bounded by
    # |sources|), then ordered pairs explode from the array. At sf0.1
    # both formulations measure within noise (~1.3-1.8 s warm,
    # A/B'd in one session — fixed stage overhead dominates this
    # corpus); the in-row form is kept for the SCALE shape: a hot
    # shingle present in many sources fans out inside its own reducer
    # row instead of multiplying join probe rows, so there is no
    # skewed join key to salt and no second shuffle of the whole
    # (source, gh) relation.
    sets = (
        g.groupBy("gh")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") >= 2)
    )
    k = F.size("ss")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 2),
            lambda i: F.transform(
                F.slice(F.col("ss"), i + 2, k),
                lambda b: F.struct(
                    F.element_at(F.col("ss"), i + 1).alias("src_a"),
                    b.alias("src_b"),
                ),
            ),
        )
    )
    p = (
        sets.select(F.explode(combos).alias("pr"))
        .groupBy(
            F.col("pr.src_a").alias("src_a"), F.col("pr.src_b").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        p.join(
            F.broadcast(
                ns.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                ns.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_shared") * 1.0 / F.least("n_a", "n_b"), 4
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Corpus-level Zipf fit (vocabulary health diagnostic)
# ---------------------------------------------------------------------------

ZIPF_TOP_K = 100


@register(
    "q_token_zipf",
    oracle=f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
tc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS vocab FROM tc),
top AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
  FROM tc ORDER BY c DESC, w LIMIT {ZIPF_TOP_K}
),
q AS (
  SELECT CAST(ROUND(ln(r) * 1000000) AS BIGINT) AS xq,
         CAST(ROUND(ln(c) * 1000000) AS BIGINT) AS yq,
         c, r
  FROM top
),
s AS (
  SELECT COUNT(*) AS k, SUM(xq) AS sx, SUM(yq) AS sy,
         SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx, SUM(yq * yq) AS syy,
         MAX(CASE WHEN r = 1 THEN c END) AS top1
  FROM q
)
SELECT tot.n_total, tot.vocab,
       ROUND(top1 * 1.0 / tot.n_total, 4) AS top1_frac,
       ROUND((k * sxy - sx * sy) * 1.0 / (k * sxx - sx * sx), 4)
         AS zipf_slope,
       ROUND(((k * sxy - sx * sy) * 1.0) * ((k * sxy - sx * sy) * 1.0)
             / (((k * sxx - sx * sx) * 1.0) * ((k * syy - sy * sy) * 1.0)),
             4) AS r2
FROM s, tot
""",
)
def q_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf diagnostic: OLS slope (and R^2) of
    ln(frequency) against ln(rank) over the top-{ZIPF_TOP_K} tokens,
    plus corpus token total, vocabulary size, and the head token's
    mass. Natural corpora sit near slope -1 with high R^2; scraped junk,
    template floods, and synthetic spam bend the curve — this is the
    one-row corpus-health panel a curation pipeline alerts on.

    Determinism: ln(rank) and ln(count) quantize to integer micro-units
    per rank BEFORE the sufficient-statistic sums (exact BIGINT), so
    the regression inputs are order-independent; slope and R^2 are
    single double expressions over those integers, rounded at 4 dp.
    Rank ties break on the token string in both engines.

    Scale shape: one map-side-combinable token count, then a top-K
    TakeOrdered (no global sort shuffle) — the regression runs over
    exactly {ZIPF_TOP_K} rows. At 100 TB the only corpus-sized stage is
    the token-count aggregate every other text op already pays."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    tc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    tc = memo_frame(spark, f"zipf_tc:{sf_dir}", lambda: tc)
    tot = tc.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    top = (
        tc.orderBy(F.col("c").desc(), "w")
        .limit(ZIPF_TOP_K)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), "w")
            ),
        )
    )
    q = top.select(
        "c",
        "r",
        F.round(F.log("r") * 1000000).cast("long").alias("xq"),
        F.round(F.log("c") * 1000000).cast("long").alias("yq"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
        F.max(F.when(F.col("r") == 1, F.col("c"))).alias("top1"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.crossJoin(F.broadcast(tot)).select(
        "n_total",
        "vocab",
        F.round(F.col("top1") * 1.0 / F.col("n_total"), 4).alias("top1_frac"),
        F.round(num * 1.0 / denx, 4).alias("zipf_slope"),
        # the r2 denominator product (~1e34) overflows BIGINT — convert
        # each exact-integer factor to double FIRST (identical nearest-
        # double rounding on both engines), multiply as doubles
        F.round(
            (num * 1.0) * (num * 1.0) / ((denx * 1.0) * (deny * 1.0)), 4
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage: Good-Turing unseen mass + Chao1 richness + entropy
# ---------------------------------------------------------------------------


@register(
    "q_vocab_coverage",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(SUM(CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT)
           AS clogc_micro
  FROM tc
)
SELECT n_total, vocab, f1, f2,
       ROUND(CAST(f1 AS DOUBLE) / n_total, 6) AS p_unseen,
       ROUND(vocab + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 2)
         AS chao1,
       ROUND(ln(n_total) - (CAST(clogc_micro AS DOUBLE) / 1000000)
               / n_total, 6) AS shannon_h
FROM agg
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-coverage panel: Good-Turing unseen-token mass
    (Good 1953: P(next token is novel) ~= f1/N, the missing-mass
    estimator), bias-corrected Chao1 species richness (Chao 1984:
    V + f1(f1-1)/(2(f2+1)), a lower bound on true vocabulary size), and
    corpus token entropy — the "have we scraped enough / what's left in
    the tail" panel a crawl-curation pipeline reads before deciding
    whether more of a source is worth fetching.

    Determinism: the frequency-of-frequencies counts (f1, f2), N, and V
    are exact integers; entropy uses the repo's integer-micro pattern —
    each token contributes ROUND(c*ln(c)*1e6) as a BIGINT, summed
    exactly (order-independent), with H = ln(N) - sum/(1e6*N) applied
    once at the end. One double division per output value.

    Scale shape: explode -> one (token) count -> one frequency-class
    aggregate. The only corpus-sized shuffle is the token count, which
    combines map-side (hot tokens partial-aggregate before the
    exchange); the second aggregate is vocab-sized and collapses to a
    single row. No top-k, no sort, no UDF."""
    tok = load(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    tc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    agg = tc.agg(
        F.sum("c").alias("n_total"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c")) * 1000000).cast("long")
        ).alias("clogc_micro"),
    )
    return agg.select(
        "n_total",
        "vocab",
        "f1",
        "f2",
        F.round(F.col("f1").cast("double") / F.col("n_total"), 6).alias(
            "p_unseen"
        ),
        F.round(
            F.col("vocab")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1)
            / (2.0 * (F.col("f2") + 1)),
            2,
        ).alias("chao1"),
        F.round(
            F.log(F.col("n_total"))
            - (F.col("clogc_micro").cast("double") / 1000000)
            / F.col("n_total"),
            6,
        ).alias("shannon_h"),
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix + per-class precision/recall
# ---------------------------------------------------------------------------


@register(
    "q_langid_confusion",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         {", ".join(f"{_langid_score_sql(lang)} AS score_{lang}" for lang in LANG_ORDER)}
  FROM t
),
m AS (
  SELECT *, GREATEST({", ".join(f"score_{lang}" for lang in LANG_ORDER)}) AS best
  FROM s
),
pred AS (
  SELECT lang AS lang_label,
         CASE WHEN best = 0 THEN 'und' ELSE {_LANGID_PRED_SQL} END AS lang_pred
  FROM m
),
cells AS (
  SELECT lang_label, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
marg AS (
  SELECT lang_label, SUM(n) AS row_n FROM cells GROUP BY 1
),
pmarg AS (
  SELECT lang_pred, SUM(n) AS col_n FROM cells GROUP BY 1
)
SELECT c.lang_label, c.lang_pred, c.n,
       ROUND(CAST(c.n AS DOUBLE) / m.row_n, 4) AS recall_share,
       ROUND(CAST(c.n AS DOUBLE) / p.col_n, 4) AS precision_share
FROM cells c
JOIN marg m ON m.lang_label = c.lang_label
JOIN pmarg p ON p.lang_pred = c.lang_pred
ORDER BY c.lang_label, c.lang_pred
""",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval view of the language-ID operator: the full
    (true label, predicted) confusion matrix with per-cell recall and
    precision shares — the audit a curation pipeline reads before
    trusting a cheap classifier to route documents (and the template
    for evaluating ANY per-row classifier in the registry: compose the
    classifier query, aggregate the confusion cells). The fixture's
    lang column is synthetic over identical text, so the matrix here
    measures the tie-break structure, not linguistic power — score
    parity with the oracle is the gate, as for q_text_langid.

    Scale shape: the classifier is in-row (literal stopword arrays);
    the matrix is one combinable aggregate over |langs|^2 cells; the
    marginals are broadcast self-joins on a cell table that fits in a
    single packet at any corpus size."""
    pred = QUERIES["q_text_langid"](spark, sf_dir).select(
        "lang_label", "lang_pred"
    )
    cells = pred.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    marg = cells.groupBy("lang_label").agg(F.sum("n").alias("row_n"))
    pmarg = cells.groupBy("lang_pred").agg(F.sum("n").alias("col_n"))
    return (
        cells.join(F.broadcast(marg), "lang_label")
        .join(F.broadcast(pmarg), "lang_pred")
        .select(
            "lang_label",
            "lang_pred",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_n"), 4).alias(
                "recall_share"
            ),
            F.round(F.col("n").cast("double") / F.col("col_n"), 4).alias(
                "precision_share"
            ),
        )
        .orderBy("lang_label", "lang_pred")
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer apply (round 8): greedy longest-match-first with
# ## continuations and whole-word [UNK] — the BERT-family segmenter,
# completing the tokenizer trio beside BPE and unigram-LM.
# ---------------------------------------------------------------------------

WP_MAX_WLEN = 16
WP_PRE2, WP_PRE3, WP_CONT2 = 12, 8, 12  # vocab caps per piece class
WP_TOP_OUT = 20
_WPSEP = "\x02"


def _wordpiece_oracle() -> str:
    return f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) wc
  FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)
  WHERE len(w) > 0 AND len(w) <= {WP_MAX_WLEN} GROUP BY 1),
pos AS (SELECT w, wc, unnest(range(1, len(w) + 1)) AS i FROM words),
pre2 AS (
  SELECT p FROM (
    SELECT substr(w, 1, 2) p, SUM(wc) c,
           ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, substr(w, 1, 2)) r
    FROM words WHERE len(w) >= 2 GROUP BY 1)
  WHERE r <= {WP_PRE2}),
pre3 AS (
  SELECT p FROM (
    SELECT substr(w, 1, 3) p, SUM(wc) c,
           ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, substr(w, 1, 3)) r
    FROM words WHERE len(w) >= 3 GROUP BY 1)
  WHERE r <= {WP_PRE3}),
contchars AS (
  SELECT substr(w, i, 1) p, SUM(wc) c FROM pos WHERE i >= 2 GROUP BY 1),
excluded AS (
  SELECT p FROM (
    SELECT p, ROW_NUMBER() OVER (ORDER BY c ASC, p ASC) r FROM contchars)
  WHERE r = 1),
cont1 AS (SELECT p FROM contchars WHERE p NOT IN (SELECT p FROM excluded)),
cont2 AS (
  SELECT p FROM (
    SELECT substr(w, i, 2) p, SUM(wc) c,
           ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, substr(w, i, 2)) r
    FROM pos WHERE i >= 2 AND len(substr(w, i, 2)) = 2 GROUP BY 1)
  WHERE r <= {WP_CONT2}),
jumps AS (
  SELECT p.w, p.wc, p.i,
         CASE WHEN p.i = 1 THEN
           CASE WHEN len(p.w) >= 3
                     AND substr(p.w, 1, 3) IN (SELECT p FROM pre3) THEN 3
                WHEN len(p.w) >= 2
                     AND substr(p.w, 1, 2) IN (SELECT p FROM pre2) THEN 2
                ELSE 1 END
         ELSE
           CASE WHEN len(substr(p.w, p.i, 2)) = 2
                     AND substr(p.w, p.i, 2) IN (SELECT p FROM cont2) THEN 2
                WHEN substr(p.w, p.i, 1) IN (SELECT p FROM cont1) THEN 1
                ELSE NULL END
         END AS j
  FROM pos p),
arrs AS MATERIALIZED (
  SELECT w, wc, list(CASE WHEN j IS NULL THEN 0 ELSE j END ORDER BY i) js
  FROM jumps GROUP BY 1, 2),
segs AS MATERIALIZED (
  SELECT w, wc,
    split_part(list_reduce(
      list_prepend('1' || chr(2) || chr(2) || '0',
        list_transform(range(1, len(w) + 1), x -> CAST(x AS VARCHAR))),
      (acc, xi) -> CASE
        WHEN split_part(acc, chr(2), 3) = '1'
             OR CAST(xi AS INT) < CAST(split_part(acc, chr(2), 1) AS INT)
        THEN acc
        WHEN js[CAST(xi AS INT)] = 0
        THEN '999' || chr(2) || '[UNK]' || chr(2) || '1'
        ELSE CAST(CAST(xi AS INT) + js[CAST(xi AS INT)] AS VARCHAR)
          || chr(2)
          || CASE WHEN split_part(acc, chr(2), 2) = '' THEN '' 
                  ELSE split_part(acc, chr(2), 2) || '|' END
          || CASE WHEN CAST(xi AS INT) = 1 THEN '' ELSE '##' END
          || substr(w, CAST(xi AS INT), js[CAST(xi AS INT)])
          || chr(2) || '0'
      END), chr(2), 2) AS ps
  FROM arrs)
SELECT rk, p AS piece, cnt FROM (
  SELECT p, CAST(SUM(wc) AS BIGINT) cnt,
         ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, p) rk
  FROM (SELECT wc, unnest(string_split(ps, '|')) p FROM segs)
  GROUP BY p)
WHERE rk <= {WP_TOP_OUT} ORDER BY rk
"""


@register("q_tokenize_wordpiece", oracle=_wordpiece_oracle())
def q_tokenize_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy segmentation (the BERT-family tokenizer): from
    each position take the LONGEST vocabulary piece — word-initial
    pieces from the start vocabulary (all corpus chars + the top-12
    2-char and top-8 3-char prefixes by frequency), word-internal
    pieces from the '##'-continuation vocabulary (top-12 internal
    bigrams + all internal chars EXCEPT the globally rarest, whose
    deliberate exclusion exercises the whole-word [UNK] rule: one
    unmatchable position voids the entire word, per the original
    algorithm). Output: top-{WP_TOP_OUT} pieces by corpus count
    ([UNK] counts as a piece).

    Same distributed shape as the FMM segmenter and unigram trainer:
    greedy matching needs the choice at i-1 to know where i starts, so
    all candidate jumps are precomputed IN PARALLEL (vocab-sized
    broadcast semijoins against the position frame), and the inherently
    sequential walk replays per word as an O(len) in-row fold over the
    jump array — single-VARCHAR state so the identical fold runs in
    DuckDB's list_reduce. Corpus-sized work: one word-count shuffle;
    everything else lives on the distinct-word domain."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where((F.length("w") > 0) & (F.length("w") <= WP_MAX_WLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pos = words.select(
        "w", "wc", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
    )

    def topk(df, expr, k, flt=None):
        base = df.where(flt) if flt is not None else df
        g = base.select(expr.alias("p"), "wc").groupBy("p").agg(
            F.sum("wc").alias("c")
        )
        wk = Window.orderBy(F.desc("c"), F.asc("p"))
        return (
            g.withColumn("r", F.row_number().over(wk))
            .where(F.col("r") <= k)
            .select("p")
        )

    pre2 = topk(words, F.expr("substr(w, 1, 2)"), WP_PRE2,
                F.length("w") >= 2)
    pre3 = topk(words, F.expr("substr(w, 1, 3)"), WP_PRE3,
                F.length("w") >= 3)
    contchars = (
        pos.where(F.col("i") >= 2)
        .select(F.expr("substr(w, i, 1)").alias("p"), "wc")
        .groupBy("p")
        .agg(F.sum("wc").alias("c"))
    )
    wex = Window.orderBy(F.asc("c"), F.asc("p"))
    excluded = (
        contchars.withColumn("r", F.row_number().over(wex))
        .where(F.col("r") == 1)
        .select("p")
    )
    cont1 = contchars.join(excluded, "p", "left_anti").select("p")
    cont2 = topk(
        pos,
        F.expr("substr(w, i, 2)"),
        WP_CONT2,
        (F.col("i") >= 2) & (F.length(F.expr("substr(w, i, 2)")) == 2),
    )
    j = (
        pos.join(
            F.broadcast(pre3.select(F.col("p").alias("p3"))),
            (F.col("i") == 1) & (F.expr("substr(w, 1, 3)") == F.col("p3")),
            "left",
        )
        .join(
            F.broadcast(pre2.select(F.col("p").alias("p2"))),
            (F.col("i") == 1) & (F.expr("substr(w, 1, 2)") == F.col("p2")),
            "left",
        )
        .join(
            F.broadcast(cont2.select(F.col("p").alias("c2"))),
            (F.col("i") >= 2) & (F.expr("substr(w, i, 2)") == F.col("c2")),
            "left",
        )
        .join(
            F.broadcast(cont1.select(F.col("p").alias("c1"))),
            (F.col("i") >= 2) & (F.expr("substr(w, i, 1)") == F.col("c1")),
            "left",
        )
        .select(
            "w",
            "wc",
            "i",
            F.when(
                F.col("i") == 1,
                F.when(F.col("p3").isNotNull(), 3)
                .when(F.col("p2").isNotNull(), 2)
                .otherwise(1),
            )
            .otherwise(
                F.when(F.col("c2").isNotNull(), 2).when(
                    F.col("c1").isNotNull(), 1
                )
            )
            .alias("j"),
        )
    )
    arrs = j.groupBy("w", "wc").agg(
        F.array_sort(
            F.collect_list(
                F.struct("i", F.coalesce("j", F.lit(0)).alias("j"))
            )
        ).alias("a")
    )

    def step(acc, i):
        nxt = F.split_part(acc, F.lit(_WPSEP), F.lit(1)).cast("int")
        ps0 = F.split_part(acc, F.lit(_WPSEP), F.lit(2))
        bad = F.split_part(acc, F.lit(_WPSEP), F.lit(3))
        jj = F.element_at(F.col("a"), i.cast("int")).getField("j")
        piece = F.concat(
            F.when(i == 1, F.lit("")).otherwise(F.lit("##")),
            F.col("w").substr(i.cast("int"), jj),
        )
        nps = F.when(ps0 == "", piece).otherwise(
            F.concat(ps0, F.lit("|"), piece)
        )
        good = F.concat_ws(
            _WPSEP, (i + jj).cast("string"), nps, F.lit("0")
        )
        unk = F.concat_ws(_WPSEP, F.lit("999"), F.lit("[UNK]"), F.lit("1"))
        return F.when((bad == "1") | (i < nxt), acc).otherwise(
            F.when(jj == 0, unk).otherwise(good)
        )

    init = F.concat_ws(_WPSEP, F.lit("1"), F.lit(""), F.lit("0"))
    segs = arrs.select(
        "wc",
        F.split_part(
            F.aggregate(F.sequence(F.lit(1), F.length("w")), init, step),
            F.lit(_WPSEP),
            F.lit(2),
        ).alias("ps"),
    )
    counts = (
        segs.select("wc", F.explode(F.split("ps", "\\|")).alias("p"))
        .groupBy("p")
        .agg(F.sum("wc").alias("cnt"))
    )
    wout = Window.orderBy(F.desc("cnt"), F.asc("p"))
    return (
        counts.withColumn("rk", F.row_number().over(wout))
        .where(F.col("rk") <= WP_TOP_OUT)
        .select("rk", F.col("p").alias("piece"), "cnt")
        .orderBy("rk")
    )
