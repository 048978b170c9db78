"""Similarity search over the ``embeddings`` table (vec_id, embedding
float[64], label): brute-force cosine top-k, threshold near-dup pairs, and
an LSH-bucketed variant (random-hyperplane signs) as the scale path.

Float discipline: embeddings are float32 on disk; both engines cast to
double FIRST, then fold the dot product left-to-right (Spark ``F.aggregate``
== DuckDB ``list_reduce`` — both sequential), so the sums are bit-identical
and the rounded similarity hashes match.

Scale shape: brute-force is O(n_query * n_corpus * d) — correct baseline,
broadcast the (small) query side. The hyperplane-LSH variant bucket-joins
instead: each vector maps to a sign-bit bucket key; only same-bucket pairs
are scored. Hyperplane coefficients are integer-LCG-derived dyadic
rationals — exactly representable, engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.registry import load, local_frame, register

DIM = 64
N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
NEARDUP_COS = 0.40  # testdata max pairwise cosine is ~0.51
LSH_PLANES = 4
LCG_A, LCG_C, LCG_M = 1103515245, 12345, 1 << 31


def _plane(p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p: coefficients in [-0.5, 0.5)
    with exactly-representable dyadic values ((lcg % 2^31) / 2^31 - 0.5)."""
    coef = []
    for i in range(DIM):
        x = (LCG_A * (p * DIM + i) + LCG_C) % LCG_M
        coef.append(x / LCG_M - 0.5)
    return coef


def _dot_fold(vec: Column, other: Column) -> Column:
    """Sequential left-fold dot product of two double arrays (order matches
    DuckDB's list_reduce exactly)."""
    return F.aggregate(
        F.zip_with(vec, other, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec: Column) -> Column:
    return F.sqrt(_dot_fold(vec, vec))


def _dvec(col: str) -> Column:
    return F.col(col).cast("array<double>")


_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip({a}, {b}), z -> z[1] * z[2])), (acc, x) -> acc + x)"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


def _plane_sql(p: int) -> str:
    return "[" + ", ".join(repr(c) for c in _plane(p)) + "]::DOUBLE[]"


# -------------------------------------------------------------------------
# Brute-force cosine top-k
# -------------------------------------------------------------------------

@register(
    "q_embed_topk_cosine",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, v.vec_id AS nn_id, v.label AS nn_label,
         ROUND({_dot_sql('q.qe', 'v.e')}
               / (sqrt({_dot_sql('q.qe', 'q.qe')}) * sqrt({_dot_sql('v.e', 'v.e')})), 4) AS cosine
  FROM q JOIN v ON v.vec_id <> q.qid
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nn_id) AS rk
  FROM scored
)
SELECT qid, nn_id, nn_label, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
""",
)
def q_embed_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline. The query side
    (10 vectors) broadcasts; the corpus scan is one pass; ranking is a
    per-query window (k small => TakeOrdered-like). At 100 TB corpus this
    plan is exactly the scalable exact-scoring path: broadcast queries,
    map-side score, per-query top-k via partial aggregation."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    q = v.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    cos = F.round(
        _dot_fold(F.col("qe"), F.col("e"))
        / (_norm(F.col("qe")) * _norm(F.col("e"))),
        4,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nn_id"),
            F.col("label").alias("nn_label"),
            cos.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


# -------------------------------------------------------------------------
# Threshold near-duplicate pairs
# -------------------------------------------------------------------------

@register(
    "q_embed_neardup",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       a.label AS label_a, b.label AS label_b,
       ROUND({_dot_sql('a.e', 'b.e')}
             / (sqrt({_dot_sql('a.e', 'a.e')}) * sqrt({_dot_sql('b.e', 'b.e')})), 4) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_dot_sql('a.e', 'b.e')}
      / (sqrt({_dot_sql('a.e', 'a.e')}) * sqrt({_dot_sql('b.e', 'b.e')})) >= {NEARDUP_COS}
ORDER BY vec_a, vec_b
""",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold — the BLOCK-PAIR
    GRID matmul join, as ONE lazy plan. The corpus is split into
    fixed-size id blocks; each vector is exploded onto every grid cell
    (blk_a, blk_b), blk_a <= blk_b, where it can meet a partner (as the A
    side for cells to its right, as the B side for cells above), and a
    single COGROUPED applyInPandas scores each cell with one BLAS matmul
    over at most 2 x BLOCK_ROWS vectors. Catalyst sees exactly one
    cogroup — no driver-side loop, no O(n_blocks) union branches, no
    collect anywhere: block bounds come from a broadcast one-row
    aggregate. Work is the same O(n^2 / B) grid an exact threshold join
    requires; at extreme corpus sizes the LSH-bucketed variant below is
    the intended pruning path.

    Numeric note: numpy sums pairwise, DuckDB folds sequentially — both
    double; the <=1e-14 difference is absorbed by ROUND(4), which the
    oracle applies identically (threshold compares UNROUNDED sims on both
    sides).

    Sparse-id robustness (round 10, caught by the 10x anchor): blocks
    are DENSIFIED before the grid is built. Raw floor(vec_id/B) blocks
    inherit the id space's density, and production ids are sparse
    (snowflake ids, shard offsets — the 10x replica's shifted keys made
    blk span ~88k for 20k vectors, exploding the grid to ~880M
    mostly-empty cells). The distinct blocks (at most n/B rows — tiny)
    get a dense rank via one bounded single-task window and broadcast
    back, so the grid is always n_blocks(n_blocks+1)/2 cells regardless
    of id layout."""
    import numpy as np
    import pandas as pd

    BLOCK_ROWS = 1024  # grid granularity (1024 x 64 f64 = 512 KB per side)

    # NULL vec_ids are excluded — a NULL id satisfies neither a < b nor
    # b > a, which is exactly the oracle's join behavior.
    raw = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", "label")
        .where(F.col("vec_id").isNotNull())
        .withColumn(
            "rawblk", F.floor(F.col("vec_id") / BLOCK_ROWS).cast("long")
        )
    )
    blocks_dim = raw.select("rawblk").distinct().select(
        "rawblk",
        (
            F.row_number().over(Window.orderBy("rawblk")) - 1
        ).cast("int").alias("blk"),
    )
    vb = raw.join(F.broadcast(blocks_dim), "rawblk").drop("rawblk")
    # lazy scalar bounds: one-row aggregate, broadcast-cross-joined in.
    # bounds shares vb's lineage, so qualify every reference through
    # aliases — Spark's ambiguous-self-join check rejects bare columns.
    bounds = vb.agg(F.min("blk").alias("blk_lo"), F.max("blk").alias("blk_hi"))

    def grid_side(tag: str, pa_expr, pb_expr) -> DataFrame:
        return (
            vb.alias(tag)
            .crossJoin(F.broadcast(bounds.alias(tag + "_b")))
            .select(
                F.col(f"{tag}.vec_id").alias("vec_id"),
                F.col(f"{tag}.embedding").alias("embedding"),
                F.col(f"{tag}.label").alias("label"),
                pa_expr.alias("pa"),
                pb_expr.alias("pb"),
            )
        )

    a_side = grid_side(
        "ga",
        F.col("ga.blk"),
        F.explode(F.sequence(F.col("ga.blk"), F.col("ga_b.blk_hi"))),
    )
    b_side = grid_side(
        "gb",
        F.explode(F.sequence(F.col("gb_b.blk_lo"), F.col("gb.blk"))),
        F.col("gb.blk"),
    )

    def score(key, a_pdf, b_pdf):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "label_a": np.array([], dtype=np.int32),
                    "label_b": np.array([], dtype=np.int32),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        a_mat = np.array(a_pdf["embedding"].tolist(), dtype=np.float64)
        b_mat = np.array(b_pdf["embedding"].tolist(), dtype=np.float64)
        a_ids = a_pdf["vec_id"].to_numpy()
        b_ids = b_pdf["vec_id"].to_numpy()
        sims = (a_mat @ b_mat.T) / (
            np.sqrt((a_mat * a_mat).sum(axis=1))[:, None]
            * np.sqrt((b_mat * b_mat).sum(axis=1))[None, :]
        )
        # upper triangle (vec_a < vec_b), threshold UNROUNDED
        keep = (a_ids[:, None] < b_ids[None, :]) & (sims >= NEARDUP_COS)
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "vec_a": a_ids[ai],
                "vec_b": b_ids[bj],
                "label_a": a_pdf["label"].to_numpy()[ai].astype("int32"),
                "label_b": b_pdf["label"].to_numpy()[bj].astype("int32"),
                "cosine": np.round(sims[ai, bj], 4),
            }
        )

    schema = "vec_a long, vec_b long, label_a int, label_b int, cosine double"
    return (
        a_side.groupBy("pa", "pb")
        .cogroup(b_side.groupBy("pa", "pb"))
        .applyInPandas(score, schema=schema)
        .orderBy("vec_a", "vec_b")
    )


# -------------------------------------------------------------------------
# Hyperplane-LSH bucketing (the scale path)
# -------------------------------------------------------------------------

def _bucket_sql() -> str:
    bits = " + ".join(
        f"(CASE WHEN {_dot_sql('e', _plane_sql(p))} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(LSH_PLANES)
    )
    return bits


@register(
    "q_embed_lsh_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
bucketed AS (SELECT vec_id, label, e, {_bucket_sql()} AS bucket FROM v),
q AS (SELECT vec_id AS qid, e AS qe, bucket FROM bucketed WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, b.vec_id AS nn_id, b.bucket,
         ROUND({_dot_sql('q.qe', 'b.e')}
               / (sqrt({_dot_sql('q.qe', 'q.qe')}) * sqrt({_dot_sql('b.e', 'b.e')})), 4) AS cosine
  FROM q JOIN bucketed b ON b.bucket = q.bucket AND b.vec_id <> q.qid
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nn_id) AS rk
  FROM scored
)
SELECT qid, nn_id, bucket, cosine, rk FROM ranked WHERE rk <= 3
ORDER BY qid, rk
""",
)
def q_embed_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    exact cosine only within it. The candidate join is a hash-partitioned
    equi-join on the bucket key — per-query work is O(bucket size), not
    O(corpus); recall trades off against #planes. The true ANN scale
    shape (IVF with hyperplane quantizer)."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    bucket = None
    for p in range(LSH_PLANES):
        plane = F.array(*[F.lit(c) for c in _plane(p)])
        bit = F.when(_dot_fold(F.col("e"), plane) > 0, F.lit(1 << p)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    bucketed = v.withColumn("bucket", bucket).withColumn(
        "nrm", _norm(F.col("e"))
    ).cache()
    q = bucketed.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),  # renamed: self-join lineage
    )
    cos = F.round(
        _dot_fold(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm")), 4
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            F.col("vec_id").alias("nn_id"),
            F.col("bucket"),
            cos.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .orderBy("qid", "rk")
    )


@register(
    "q_embed_lsh_buckets",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
bucketed AS (SELECT vec_id, label, {_bucket_sql()} AS bucket FROM v)
SELECT bucket,
       COUNT(*) AS n_vectors,
       COUNT(DISTINCT label) AS n_labels,
       MIN(vec_id) AS min_vec_id
FROM bucketed
GROUP BY bucket
ORDER BY bucket
""",
)
def q_embed_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (sign bits of 4 fixed
    deterministic projections => 16 buckets). This is the ANN scale path:
    candidate generation becomes a hash-partitioned groupBy on the bucket
    key, and scoring runs within buckets only — O(sum b_i^2) not O(n^2).
    The oracle checks the bucket histogram (assignment parity)."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    bucket = None
    for p in range(LSH_PLANES):
        plane = F.array(*[F.lit(c) for c in _plane(p)])
        bit = F.when(_dot_fold(F.col("e"), plane) > 0, F.lit(1 << p)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return (
        v.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("bucket")
    )


# -------------------------------------------------------------------------
# IVF centroid assignment (coarse quantizer partitioning step)
# -------------------------------------------------------------------------

N_CENTROIDS = 8  # vec_id < 8 serve as fixed coarse centroids


@register(
    "q_embed_centroid_assign",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT v.vec_id, v.label, c.cid,
         {_dot_sql('v.e', 'v.e')} - 2 * {_dot_sql('v.e', 'c.ce')}
             + {_dot_sql('c.ce', 'c.ce')} AS dist
  FROM v, c
),
best AS (
  SELECT vec_id, label, cid, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM scored
)
SELECT vec_id, label, cid AS centroid_id, ROUND(dist, 4) AS dist
FROM best WHERE rk = 1
ORDER BY vec_id
""",
)
def q_embed_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment: every vector goes to its nearest
    centroid by squared L2 (expanded as <e,e> - 2<e,c> + <c,c>, folded
    sequentially so both engines agree bit-exactly; ties break on
    centroid id). This is the partitioning step of an IVF index build:
    centroids broadcast, one corpus pass, argmin per vector via a
    per-vector window over n_centroids rows. At 100 TB the output's
    centroid_id IS the repartition key for bucket-local fine search
    (q_embed_lsh_topk shows the bucket-restricted probe side)."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    c = v.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    dist = (
        _dot_fold(F.col("e"), F.col("e"))
        - 2 * _dot_fold(F.col("e"), F.col("ce"))
        + _dot_fold(F.col("ce"), F.col("ce"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        v.crossJoin(F.broadcast(c))
        .select("vec_id", "label", "cid", dist.alias("dist"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "vec_id",
            "label",
            F.col("cid").alias("centroid_id"),
            F.round("dist", 4).alias("dist"),
        )
        .orderBy("vec_id")
    )


# -------------------------------------------------------------------------
# IVF-probed top-k: coarse quantize, probe nprobe buckets, fine-rank
# -------------------------------------------------------------------------

NPROBE = 2  # probe the 2 nearest coarse cells per query

_L2_SQL = (
    "{ee} - 2 * {ec} + {cc}"
)


def _l2_sql(e: str, c: str) -> str:
    return _L2_SQL.format(
        ee=_dot_sql(e, e), ec=_dot_sql(e, c), cc=_dot_sql(c, c)
    )


@register(
    "q_embed_ivf_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}),
ad AS (
  SELECT v.vec_id, v.e, v.label, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_l2_sql('v.e', 'c.ce')}, c.cid) AS rk
  FROM v, c
),
assigned AS (SELECT vec_id, e, label, cid FROM ad WHERE rk = 1),
probe AS (
  SELECT vec_id AS qid, e AS qe, cid
  FROM ad WHERE vec_id < {N_QUERIES} AND rk <= {NPROBE}
),
scored AS (
  SELECT p.qid, a.vec_id AS nn_id, a.label AS nn_label,
         ROUND({_dot_sql('p.qe', 'a.e')}
               / (sqrt({_dot_sql('p.qe', 'p.qe')})
                  * sqrt({_dot_sql('a.e', 'a.e')})), 4) AS cosine
  FROM probe p JOIN assigned a USING (cid)
  WHERE a.vec_id <> p.qid
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nn_id) AS rk
  FROM scored
)
SELECT qid, nn_id, nn_label, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
""",
)
def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: coarse-quantize the corpus onto N_CENTROIDS cells
    (argmin squared-L2, ties on cid), probe each query's NPROBE nearest
    cells, and fine-rank cosine ONLY inside the probed cells — the
    recall/cost dial of a real IVF index (vs q_embed_topk_cosine's exact
    scan).

    Scale shape: assignment is one corpus pass against broadcast
    centroids with a map-side partial ``min(struct(dist,cid))`` argmin —
    the 8x crossJoin blowup collapses BEFORE the shuffle, and the single
    shuffle key (vec_id) is the data's natural key. The probe table is
    queries x nprobe rows (tiny, broadcast); candidate scoring touches
    only matching cells. At 100 TB the assigned frame is written once,
    partitioned BY cid, and every later query reads just its probed
    partitions (directory-level pruning)."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    c = v.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    dist = (
        _dot_fold(F.col("e"), F.col("e"))
        - 2 * _dot_fold(F.col("e"), F.col("ce"))
        + _dot_fold(F.col("ce"), F.col("ce"))
    )
    cells = v.crossJoin(F.broadcast(c)).select(
        "vec_id", "e", "label", "cid", dist.alias("dist")
    )
    assigned = (
        cells.groupBy("vec_id")
        .agg(
            F.min(F.struct("dist", "cid")).alias("m"),
            F.first("e").alias("e"),
            F.first("label").alias("label"),
        )
        .select("vec_id", "e", "label", F.col("m.cid").alias("cid"))
    )
    wq = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probe = (
        cells.where(F.col("vec_id") < N_QUERIES)
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= NPROBE)
        .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"), "cid")
    )
    cos = F.round(
        _dot_fold(F.col("qe"), F.col("e"))
        / (_norm(F.col("qe")) * _norm(F.col("e"))),
        4,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        assigned.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nn_id"),
            F.col("label").alias("nn_label"),
            cos.alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


# -------------------------------------------------------------------------
# int8 scalar quantization + exact re-rank (two-stage ANN)
# -------------------------------------------------------------------------

QUANT_BITS = 127  # symmetric int8 range
RERANK_CAND = 3 * TOP_K


@register(
    "q_embed_int8_rerank",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
s AS (SELECT MAX(ABS(x)) AS scale FROM (SELECT unnest(e) AS x FROM v)),
q8 AS (
  SELECT vec_id, e, label,
         list_transform(e, x -> CAST(round(x / scale * {QUANT_BITS})
                                     AS BIGINT)) AS qv
  FROM v CROSS JOIN s
),
coarse AS (
  SELECT q.vec_id AS qid, q.e AS qe, c.vec_id AS nn_id, c.label AS nn_label,
         c.e AS ce,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(list_zip(q.qv, c.qv), z -> z[1] * z[2])),
             (acc, x) -> acc + x) AS iscore
  FROM q8 q JOIN q8 c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
cand AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY iscore DESC, nn_id) AS crk
  FROM coarse
),
rr AS (
  SELECT qid, nn_id, nn_label, iscore,
         ROUND({_dot_sql('qe', 'ce')}
               / (sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')})),
               4) AS cosine
  FROM cand WHERE crk <= {RERANK_CAND}
),
ranked AS (
  SELECT qid, nn_id, nn_label, iscore, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nn_id) AS rk
  FROM rr
)
SELECT qid, nn_id, nn_label, iscore, cosine, rk
FROM ranked WHERE rk <= {TOP_K}
ORDER BY qid, rk
""",
)
def q_embed_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN with int8 scalar quantization: (1) symmetric-quantize
    every vector to int8 against the global max-abs scale, (2) coarse-rank
    by the EXACT-INTEGER quantized dot product (bit-portable by
    construction — no float in the wide stage), (3) re-rank only the top
    {RERANK_CAND} candidates per query with full-precision cosine.

    Scale rationale: the coarse stage reads 4x fewer bytes per vector
    (int8 vs float32; 8x vs the double math) — at 100 TB the quantized
    column is the only thing the scan touches, cutting memory bandwidth
    on the O(n_query * n_corpus) stage, and the exact stage touches just
    k*candidates rows. The global scale constant is a pre-computed corpus
    statistic (one max). Integer scores make the candidate cut
    deterministic across engines and runs — no ulp-sensitive ordering in
    the wide stage; floats appear only in the final small re-rank, behind
    a ROUND."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    scale = v.agg(
        F.max(F.array_max(F.transform("e", F.abs))).alias("scale")
    )
    q8 = v.crossJoin(F.broadcast(scale)).select(
        "vec_id",
        "e",
        "label",
        F.transform(
            "e", lambda x: F.round(x / F.col("scale") * QUANT_BITS).cast("long")
        ).alias("qv"),
    )
    queries = q8.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("qv").alias("qqv")
    )
    iscore = F.aggregate(
        F.zip_with("qqv", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("iscore"), F.asc("nn_id"))
    cand = (
        q8.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qe",
            F.col("vec_id").alias("nn_id"),
            F.col("label").alias("nn_label"),
            F.col("e").alias("ce"),
            iscore.alias("iscore"),
        )
        .withColumn("crk", F.row_number().over(wc))
        .where(F.col("crk") <= RERANK_CAND)
    )
    cosine = F.round(
        _dot_fold(F.col("qe"), F.col("ce"))
        / (_norm(F.col("qe")) * _norm(F.col("ce"))),
        4,
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        cand.select("qid", "nn_id", "nn_label", "iscore", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


# -------------------------------------------------------------------------
# One Lloyd iteration as a query (assignment + sorted-fold mean update)
# -------------------------------------------------------------------------

@register(
    "q_kmeans_step",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}),
ad AS (
  SELECT v.vec_id, v.e, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_l2_sql('v.e', 'c.ce')}, c.cid) AS rk
  FROM v, c
),
assigned AS (SELECT vec_id, e, cid AS cell FROM ad WHERE rk = 1),
pts AS (
  SELECT a.cell, d.dim, a.vec_id, a.e[d.dim + 1] AS x
  FROM assigned a CROSS JOIN (SELECT unnest(range(0, {DIM})) AS dim) d
)
SELECT cell, dim,
       COUNT(*) AS n,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY vec_id)),
                         (acc, y) -> acc + y) / COUNT(*), 6) AS mean
FROM pts
GROUP BY cell, dim
ORDER BY cell, dim
""",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Lloyd iteration of the IVF coarse quantizer as an
    oracle-checked query: argmin-assign every vector to its nearest seed
    centroid (first {N_CENTROIDS} vectors), then recompute per-(cell,
    dim) means. A full trainer repeats this step until the assignment
    stops moving; the gate proves the distributed update step itself is
    correct.

    The mean numerator folds values in explicit vec_id order on both
    engines (bit-identical sums — same discipline as PageRank); the
    production trainer uses plain AVG instead (order-free, faster, and
    nondeterminism there only perturbs convergence path, not validity).
    Scale shape: one narrow corpus pass against broadcast centroids +
    one map-side-combinable groupBy of k*d cells — the shuffle carries
    at most k*d*partitions rows, never O(n)."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    c = v.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    dist = (
        _dot_fold(F.col("e"), F.col("e"))
        - 2 * _dot_fold(F.col("e"), F.col("ce"))
        + _dot_fold(F.col("ce"), F.col("ce"))
    )
    assigned = (
        v.crossJoin(F.broadcast(c))
        .select("vec_id", "e", "cid", dist.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("m"), F.first("e").alias("e"))
        .select("vec_id", "e", F.col("m.cid").alias("cell"))
    )
    pts = assigned.select(
        "cell", "vec_id", F.posexplode("e").alias("dim", "x")
    )
    return (
        pts.groupBy("cell", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("vec_id", "x"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean"),
        )
        .orderBy("cell", "dim")
    )


# -------------------------------------------------------------------------
# MaxSim late interaction (ColBERT-style multi-vector retrieval)
# -------------------------------------------------------------------------

DOC_VECS = 10  # vec_id // 10 groups vectors into pseudo-documents
MAXSIM_TOP = 10


@register(
    "q_embed_maxsim",
    oracle=f"""
WITH v AS (
  SELECT vec_id, vec_id // {DOC_VECS} AS doc, embedding::DOUBLE[] AS e
  FROM embeddings
),
q AS (SELECT vec_id AS qv, e AS qe FROM v WHERE doc = 0),
pair AS (
  SELECT d.doc, q.qv, d.vec_id,
         ROUND({_dot_sql('q.qe', 'd.e')}
               / (sqrt({_dot_sql('q.qe', 'q.qe')}) * sqrt({_dot_sql('d.e', 'd.e')})),
               6) AS cos
  FROM v d CROSS JOIN q
  WHERE d.doc <> 0
),
best AS (
  SELECT doc, qv, MAX(cos) AS mx FROM pair GROUP BY doc, qv
),
score AS (
  SELECT doc,
         ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(mx ORDER BY qv)),
                           (acc, x) -> acc + x), 4) AS maxsim
  FROM best GROUP BY doc
)
SELECT doc, maxsim,
       ROW_NUMBER() OVER (ORDER BY maxsim DESC, doc) AS rk
FROM score
QUALIFY rk <= {MAXSIM_TOP}
ORDER BY rk
""",
)
def q_embed_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late interaction: vectors group into {DOC_VECS}-vector
    pseudo-documents; the query document's vectors each take their MAX
    cosine against a candidate's vectors, and the per-query-vector maxima
    sum into the MaxSim score. This is the multi-vector retrieval
    operator single-vector ANN can't express (token-level matching
    survives pooling).

    Determinism: per-pair cosines round at 6 dp, MAX over rounded values
    is exact, and the final sum folds in explicit query-vector order.
    Scale shape: query vectors broadcast (k vectors, tiny); the pair
    scoring is one narrow corpus pass; both aggregations are per-doc
    (map-side combinable on the doc key, which is the storage
    partitioning for multi-vector corpora). Production composes this
    with the IVF/LSH candidate cut — score only probed docs."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.floor(F.col("vec_id") / DOC_VECS).alias("doc"),
        _dvec("embedding").alias("e"),
    )
    q = v.where(F.col("doc") == 0).select(
        F.col("vec_id").alias("qv"), F.col("e").alias("qe")
    )
    cos = F.round(
        _dot_fold(F.col("qe"), F.col("e"))
        / (_norm(F.col("qe")) * _norm(F.col("e"))),
        6,
    )
    # spread the corpus side: a single-file scan would otherwise leave
    # the 40k-per-sf0.1 interpreted cosine folds on ONE task (broadcast
    # joins preserve probe partitioning); at scale this is a no-op-sized
    # rebalance against thousands of splits
    best = (
        v.where(F.col("doc") != 0)
        .repartition(spark.sparkContext.defaultParallelism, "doc")
        .crossJoin(F.broadcast(q))
        .select("doc", "qv", cos.alias("cos"))
        .groupBy("doc", "qv")
        .agg(F.max("cos").alias("mx"))
    )
    score = best.groupBy("doc").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("qv", "mx"))),
                F.lit(0.0),
                lambda acc, s: acc + s["mx"],
            ),
            4,
        ).alias("maxsim")
    )
    w = Window.orderBy(F.desc("maxsim"), F.asc("doc"))
    return (
        score.orderBy(F.desc("maxsim"), F.asc("doc"))
        .limit(MAXSIM_TOP)
        .withColumn("rk", F.row_number().over(w))
        .orderBy("rk")
    )


# -------------------------------------------------------------------------
# Product quantization + asymmetric distance computation (PQ-ADC)
# -------------------------------------------------------------------------

PQ_M = 4               # subspaces (64 dims -> 4 x 16)
PQ_DS = DIM // PQ_M    # dims per subspace
PQ_K = 16              # codebook entries per subspace


_PQ_ADC_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
ms AS (SELECT unnest([{', '.join(str(m) for m in range(PQ_M))}]) AS m),
subs AS (
  SELECT vec_id, label, m,
         e[m * {PQ_DS} + 1 : (m + 1) * {PQ_DS}] AS sv
  FROM v CROSS JOIN ms
),
cb AS (SELECT m, vec_id AS cid, sv AS cv FROM subs WHERE vec_id < {PQ_K}),
dists AS (
  SELECT s.vec_id, s.label, s.m, cb.cid,
         {_dot_sql('s.sv', 's.sv')} - 2 * {_dot_sql('s.sv', 'cb.cv')}
           + {_dot_sql('cb.cv', 'cb.cv')} AS d
  FROM subs s JOIN cb ON cb.m = s.m
),
codes AS (
  SELECT vec_id, label, m, cid AS code FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id, m ORDER BY d, cid) AS rk
    FROM dists
  ) WHERE rk = 1
),
qt AS (
  SELECT vec_id AS qid, m, cid, d AS qd FROM dists WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT qt.qid, c.vec_id AS nn_id, c.label AS nn_label, c.m, qt.qd
  FROM codes c JOIN qt ON qt.m = c.m AND qt.cid = c.code
  WHERE c.vec_id <> qt.qid
),
adist AS (
  SELECT qid, nn_id, nn_label,
         list_reduce(list_prepend(0.0::DOUBLE, list(qd ORDER BY m)),
                     (acc, x) -> acc + x) AS ad
  FROM cand GROUP BY 1, 2, 3
)
SELECT qid, nn_id, nn_label, ROUND(ad, 4) AS approx_dist, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY ad, nn_id) AS rk
  FROM adist
) WHERE rk <= {TOP_K}
ORDER BY qid, rk
"""


@register("q_embed_pq_adc", oracle=_PQ_ADC_ORACLE)
def q_embed_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with asymmetric distance computation
    (Jégou et al.'s PQ): split the {DIM}-dim space into {PQ_M} x
    {PQ_DS}-dim subspaces, encode every corpus vector as {PQ_M} codebook
    ids (nearest sub-centroid per subspace, squared L2, ties on cid),
    and answer queries by table lookup — each query precomputes its
    distance to every sub-centroid ({PQ_M} x {PQ_K} cells) and a
    candidate's approximate distance is the SUM of the {PQ_M} looked-up
    cells. Memory per vector drops from {DIM} floats to {PQ_M} bytes —
    the compression that makes billion-vector indexes fit in RAM.

    Codebooks here are the oracle-checkable deterministic seed (the
    first {PQ_K} vectors' sub-vectors, the same convention the IVF
    queries use for coarse centroids). A production fit trains the
    codebooks with k-means per subspace and feeds the identical
    ``_pq_adc_topk`` plan; only the codebook rows differ.

    Determinism: every distance is a fixed-order fold of exact double
    products (_dot_fold == list_reduce); the {PQ_M}-term ADC sum folds
    in subspace order; argmins tie-break on id. Bit-identical
    cross-engine before the presentation ROUND.

    Scale shape: encoding is one corpus pass against the broadcast
    codebook with a map-side argmin per (vector, subspace); the code
    table ({PQ_M} small ints per vector) REPLACES the embeddings for
    search — the scan that serves queries reads {PQ_M} bytes/vector,
    not {DIM * 4}. The query distance table is queries x {PQ_M} x
    {PQ_K} rows (broadcast); candidate scoring is an equi-join on
    (subspace, code) followed by a {PQ_M}-row fold per candidate — no
    full-width vector math anywhere in the hot path."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    subs = _pq_subvectors(v)
    cb = subs.where(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    return _pq_adc_topk(subs, cb)


def _pq_subvectors(v: DataFrame) -> DataFrame:
    """(vec_id, label, m, sv): each vector exploded into its PQ_M
    subspace slices."""
    return v.select(
        "vec_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("e", m * PQ_DS + 1, PQ_DS).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _pq_adc_topk(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ encode + ADC top-TOP_K against a codebook frame
    ``cb(m, cid, cv)``. The codebook is broadcast (M x K x DS doubles —
    kilobytes at any corpus scale)."""
    d = (
        _dot_fold(F.col("sv"), F.col("sv"))
        - 2 * _dot_fold(F.col("sv"), F.col("cv"))
        + _dot_fold(F.col("cv"), F.col("cv"))
    )
    dists = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "label", "m", "cid", d.alias("d")
    )
    codes = (
        dists.groupBy("vec_id", "m")
        .agg(
            F.min(F.struct("d", "cid")).alias("am"),
            F.first("label").alias("label"),
        )
        .select("vec_id", "label", "m", F.col("am.cid").alias("code"))
    )
    qt = dists.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("m").alias("qm"),
        F.col("cid").alias("qcid"),
        F.col("d").alias("qd"),
    )
    cand = (
        codes.join(
            F.broadcast(qt),
            (F.col("m") == F.col("qm")) & (F.col("code") == F.col("qcid")),
        )
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nn_id"),
                F.col("label").alias("nn_label"), F.col("m").alias("sm"),
                "qd")
    )
    adist = cand.groupBy("qid", "nn_id", "nn_label").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("sm"), F.col("qd")))),
            F.lit(0.0),
            lambda acc, x: acc + x["qd"],
        ).alias("ad")
    )
    w = Window.partitionBy("qid").orderBy(F.asc("ad"), F.asc("nn_id"))
    return (
        adist.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "qid", "nn_id", "nn_label",
            F.round("ad", 4).alias("approx_dist"), "rk",
        )
        .orderBy("qid", "rk")
    )


# -------------------------------------------------------------------------
# PQ recall@k vs the exact scan (the ANN quality dial, measured in-engine)
# -------------------------------------------------------------------------

def _recall_oracle(ann: str, ann_sql: str) -> str:
    """DuckDB twin of :func:`pq_recall_vs_exact`: the ANN oracle
    ``ann_sql`` as the CTE named ``ann``, against the exact top-k scan."""
    return f"""
WITH {ann} AS ({ann_sql}),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
exd AS (
  SELECT q.vec_id AS qid, c.vec_id AS nn_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_dot_sql('c.e', 'c.e')} - 2 * {_dot_sql('q.e', 'c.e')},
                    c.vec_id) AS rk
  FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
),
ex AS (SELECT qid, nn_id FROM exd WHERE rk <= {TOP_K})
SELECT {ann}.qid,
       CAST(COUNT(ex.nn_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(ex.nn_id) / {TOP_K}.0, 2) AS recall
FROM {ann} LEFT JOIN ex ON ex.qid = {ann}.qid AND ex.nn_id = {ann}.nn_id
GROUP BY {ann}.qid
ORDER BY {ann}.qid
"""


@register("q_pq_recall", oracle=_recall_oracle("pq", _PQ_ADC_ORACLE))
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the PQ-ADC index against the exact squared-L2
    scan — the measurement every ANN deployment runs before trusting an
    index (codebook quality, M/K sizing, and nprobe analogs are all
    tuned against exactly this number). Composes the registered
    q_embed_pq_adc plan with a brute-force exact top-k and counts the
    overlap per query; the exact side drops the query-independent
    ||q||^2 term (argmin-invariant), so it is one fold per pair.
    Measured on the fixture: mean recall@5 = 0.34 under the seeded
    (untrained) codebooks — honestly low, and exactly the reading that
    tells a deployment to train the codebooks (k-means per subspace)
    and/or raise M x K before serving.

    Scale shape: the exact side is the expensive one BY DESIGN — it is
    the ground-truth pass you run on a sampled query set, not the
    serving path; at 100 TB you sample queries (the {N_QUERIES}-query
    set here IS that sample) while the PQ side reads 4-byte codes."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    pq = QUERIES["q_embed_pq_adc"](spark, sf_dir).select("qid", "nn_id")
    return pq_recall_vs_exact(spark, sf_dir, pq)


def pq_recall_vs_exact(
    spark: SparkSession, sf_dir: str, pq: DataFrame
) -> DataFrame:
    """Per-query recall@TOP_K of an ANN result frame ``pq(qid, nn_id)``
    against the exact squared-L2 scan (shared by every registered recall
    audit: PQ, RVQ, Matryoshka, binary Hamming)."""
    pq = pq.select("qid", "nn_id")
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    q = v.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    # ||c||^2 - 2<q,c>: same argmin as full squared L2, one fold cheaper
    dist = _dot_fold(F.col("e"), F.col("e")) - 2 * _dot_fold(
        F.col("qe"), F.col("e")
    )
    w = Window.partitionBy("qid").orderBy("d", "nn_id")
    # The exact scan is the expensive leg (n_query * n_corpus fold dots
    # + a per-query top-k window) and is IDENTICAL for every recall
    # audit (PQ, IVF, RVQ, Matryoshka all compare against the same
    # brute-force top-k), so it is memoized per session like the other
    # shared intermediates (tri_edges, cov_partials).
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    ex = memo_frame(
        spark,
        f"exact_topk:{sf_dir}",
        lambda: (
            v.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != F.col("qid"))
            .select("qid", F.col("vec_id").alias("nn_id"), dist.alias("d"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= TOP_K)
            .select("qid", F.col("nn_id").alias("ex_nn"))
        ),
    )
    return (
        pq.join(
            ex,
            (pq.qid == ex.qid) & (pq.nn_id == ex.ex_nn),
            "left",
        )
        .select(pq.qid.alias("qid"), "ex_nn")
        .groupBy("qid")
        .agg(
            F.count("ex_nn").alias("n_hits"),
            F.round(F.count("ex_nn") / TOP_K, 2).alias("recall"),
        )
        .orderBy("qid")
    )


# -------------------------------------------------------------------------
# Embedding drift / class-separation monitor: centroid cosine matrix
# -------------------------------------------------------------------------

CENT_Q = 10_000  # centroid quantization scale (4 decimals per component)


@register(
    "q_embed_class_drift",
    oracle=f"""
WITH v AS (
  SELECT label, u.j AS dim,
         CAST(ROUND(embedding[u.j + 1]::DOUBLE * {CENT_Q}) AS BIGINT) AS q
  FROM embeddings, LATERAL unnest(generate_series(0, {DIM - 1})) AS u(j)
),
s AS (SELECT label, dim, SUM(q) AS s, COUNT(*) AS n FROM v GROUP BY 1, 2),
norms AS (SELECT label, SUM(s * s) AS n2, MAX(n) AS n_vecs FROM s GROUP BY 1),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b, SUM(a.s * b.s) AS dot
  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       CAST(na.n_vecs AS BIGINT) AS n_a,
       CAST(nb.n_vecs AS BIGINT) AS n_b,
       ROUND(d.dot / sqrt(na.n2 * nb.n2), 4) AS centroid_cos
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
ORDER BY d.label_a, d.label_b
""",
)
def q_embed_class_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift / class-separation monitor: the pairwise cosine
    between per-class CENTROIDS — the matrix an embedding pipeline
    watches across snapshots (drifting classes converge, corrupted
    encoders collapse everything toward one direction). Cosine of means
    is scale-invariant, so it is computed directly on per-class
    component SUMS — and those sums are made ORDER-INDEPENDENT by
    quantizing each component to {CENT_Q} (4 decimals) first: integer
    addition commutes, so a distributed shuffle-order change can never
    flip the gate hash, while double summation would be
    non-associative. The only floating point is the final dot/sqrt on
    one pair of exact integers, rounded once.

    Scale shape: one posexplode pass (64 rows per vector) into a
    map-side-combinable (label, dim) integer-sum aggregate — the state
    is classes x dims longs regardless of corpus size; the pair join is
    over that tiny aggregate, never the corpus."""
    v = load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(_dvec("embedding")).alias("dim", "x")
    )
    s = v.groupBy("label", "dim").agg(
        F.sum(F.round(F.col("x") * CENT_Q).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    from openmaptiles_zh_modifier_spark.registry import memo_frame

    s = memo_frame(spark, f"class_drift_s:{sf_dir}", lambda: s)
    norms = s.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("n2"),
        F.max("n").alias("n_vecs"),
    )
    a = s.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = s.select(
        F.col("label").alias("label_b"), "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"),
        F.col("n2").alias("na2"),
        F.col("n_vecs").alias("n_a"),
    )
    nb = norms.select(
        F.col("label").alias("label_b"),
        F.col("n2").alias("nb2"),
        F.col("n_vecs").alias("n_b"),
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            # cast BEFORE the product: na2*nb2 overflows long (~1e29);
            # each factor is < 2^53 so the doubles are exact and the
            # product rounds identically to DuckDB's HUGEINT->double
            F.round(
                F.col("dot")
                / F.sqrt(
                    F.col("na2").cast("double") * F.col("nb2").cast("double")
                ),
                4,
            ).alias("centroid_cos"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Distributed covariance / second-moment matrix (whitening & PCA input)
# ---------------------------------------------------------------------------

COV_Q = 10000  # 4-decimal component quantization (the q_embed_class_drift unit)

# Shared oracle CTE prefix: quantized components -> upper-triangle integer
# covariance numerators. Used verbatim by BOTH q_embed_covariance and
# q_embed_pca_power so the two oracles cannot drift apart.
_COV_CTE = f"""q AS (
  SELECT list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {COV_Q}) AS BIGINT)) AS e
  FROM embeddings
),
dim AS (SELECT MAX(len(e)) AS d FROM q),
idx AS (SELECT unnest(generate_series(0, (SELECT d FROM dim) - 1)) AS i),
pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
prods AS (
  SELECT p.i, p.j, SUM(q.e[p.i + 1] * q.e[p.j + 1]) AS s
  FROM q, pairs p GROUP BY 1, 2
),
comp AS (SELECT idx.i AS i, SUM(q.e[idx.i + 1]) AS m FROM q, idx GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM q),
cov AS (
  SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
         CAST(nn.n * p.s - ca.m * cb.m AS BIGINT) AS cov_num,
         CAST(nn.n AS BIGINT) AS n
  FROM prods p, nn
  JOIN comp ca ON ca.i = p.i
  JOIN comp cb ON cb.i = p.j
)"""


@register(
    "q_embed_covariance",
    oracle=f"""
WITH {_COV_CTE}
SELECT i, j, cov_num, n FROM cov ORDER BY 1, 2
""",
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance matrix over the embedding corpus — the
    input every whitening / PCA / Mahalanobis / ZCA step needs. Emits
    the upper triangle as (i, j, cov_num, n) where
    cov_num = n*S_ij - S_i*S_j (so cov = cov_num / n^2, sample cov =
    cov_num / (n*(n-1))) — kept as the EXACT integer numerator so the
    gate compares integers, not float reductions.

    Execution: components quantize to 4-decimal integer units; each
    Arrow batch computes its d x d partial Gram matrix with one int64
    BLAS-shaped matmul (X^T X) inside mapInPandas and emits only the
    d*(d+1)/2 + d + 1 partial sums (products, component sums, count) —
    per-batch output is ~2 k rows regardless of batch row count. A
    single map-side-combinable groupBy(i, j) SUM folds the partials;
    the d-row component-sum frame joins back to center.

    Determinism: quantization is round-half-away (floor(|x|*1e4+0.5)
    with the sign restored — matches DuckDB ROUND on the same widened
    double); everything after is exact BIGINT arithmetic, fully
    order-independent. Overflow headroom: |q| <= 1e4 per component, so
    S_ij <= 1e8 * n and n*S_ij fits int64 for n < ~3e5 at unit-scale
    embeddings — at larger corpora switch COV_Q to 1e3 or accumulate
    per-partition in float128/Python int (documented, not needed at
    these SFs).

    Scale shape: ONE corpus scan, no shuffle of any vector — the only
    shuffled rows are the O(d^2) partial sums per batch. This is the
    canonical dense-linear-algebra-over-DataFrame pattern: per-batch
    BLAS, additive sufficient statistics, driver-sized result (the
    64 x 64 matrix then feeds numpy eigh for PCA/whitening)."""
    import numpy as np
    import pandas as pd

    def gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Q = (
                np.floor(np.abs(X) * COV_Q + 0.5) * np.sign(X)
            ).astype(np.int64)
            d = Q.shape[1]
            S = Q.T @ Q
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(d), [-1]]),
                    "j": np.concatenate(
                        [ju, np.full(d, -1), [-1]]
                    ).astype(np.int64),
                    "s": np.concatenate(
                        [S[iu, ju], Q.sum(axis=0), [len(pdf)]]
                    ),
                }
            )

    return _covariance_frame(spark, sf_dir).orderBy("i", "j")


def _covariance_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (i, j, cov_num, n) upper-triangle covariance frame —
    the shared producer behind q_embed_covariance and q_embed_pca_power
    (memoized lazily per session; see q_embed_covariance for the
    execution/determinism story)."""
    import numpy as np
    import pandas as pd

    def gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            Q = (
                np.floor(np.abs(X) * COV_Q + 0.5) * np.sign(X)
            ).astype(np.int64)
            d = Q.shape[1]
            S = Q.T @ Q
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(d), [-1]]),
                    "j": np.concatenate(
                        [ju, np.full(d, -1), [-1]]
                    ).astype(np.int64),
                    "s": np.concatenate(
                        [S[iu, ju], Q.sum(axis=0), [len(pdf)]]
                    ),
                }
            )

    from openmaptiles_zh_modifier_spark.registry import memo_frame

    emb = load(spark, sf_dir, "embeddings").select("embedding")
    parts = emb.mapInPandas(gram, schema="i int, j int, s long")
    g = memo_frame(
        spark,
        f"cov_partials:{sf_dir}",
        lambda: parts.groupBy("i", "j").agg(F.sum("s").alias("s")),
    )
    nrow = g.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    comp = g.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("k"), F.col("s").alias("m")
    )
    prod = g.where(F.col("j") >= 0)
    return memo_frame(
        spark,
        f"cov_frame:{sf_dir}",
        lambda: prod.join(
            F.broadcast(
                comp.select(F.col("k").alias("i"), F.col("m").alias("m_i"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                comp.select(F.col("k").alias("j"), F.col("m").alias("m_j"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "i",
            "j",
            (F.col("n") * F.col("s") - F.col("m_i") * F.col("m_j"))
            .cast("long")
            .alias("cov_num"),
            F.col("n").cast("long").alias("n"),
        ),
    )


# ---------------------------------------------------------------------------
# Power iteration for the top principal component (quantized fixed-point)
# ---------------------------------------------------------------------------

PCA_ITERS = 8
PCA_VQ = 1_000_000  # iterate vector normalized to max-abs = 1e6 micro units


def _pca_oracle() -> str:
    its = []
    for t in range(1, PCA_ITERS + 1):
        its.append(f"""it{t}w AS (
  SELECT M.i AS i, SUM(CAST(ROUND(M.cn * v.vj) AS BIGINT)) AS wi
  FROM M JOIN it{t - 1}v v ON v.j = M.j GROUP BY M.i
),
it{t}v AS (
  SELECT i AS j,
         CAST(ROUND(wi * {float(PCA_VQ)} / (MAX(ABS(wi)) OVER ())) AS BIGINT)
           AS vj
  FROM it{t}w
)""")
    return (
        f"WITH {_COV_CTE},\n"
        """fullm AS (
  SELECT i, j, cov_num FROM cov
  UNION ALL
  SELECT j AS i, i AS j, cov_num FROM cov WHERE i <> j
),
mx AS (SELECT MAX(ABS(cov_num)) AS mc FROM fullm),
M AS (
  SELECT i, j, CAST(cov_num AS DOUBLE) / CAST(mc AS DOUBLE) AS cn
  FROM fullm, mx
),
it0v AS (
  SELECT i AS j,
         CAST(CASE WHEN i = 0 THEN """
        + str(PCA_VQ)
        + """ ELSE 0 END AS BIGINT) AS vj
  FROM idx
),
"""
        + ",\n".join(its)
        + f"\nSELECT j AS component, vj AS loading_micro FROM it{PCA_ITERS}v ORDER BY 1"
    )


@register("q_embed_pca_power", oracle=_pca_oracle())
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component power iteration over the distributed
    covariance — {PCA_ITERS} fixed matvec+renormalize steps from the e0
    basis vector, entirely as DataFrame joins/aggregates (the iterative-
    linear-algebra twin of q_kmeans_step: one registered run IS the
    distributed primitive; production loops it to convergence). On this
    near-isotropic corpus (eigengap ratio 0.987) eight steps reach
    |cos| ~= 0.80 to the true eigenvector and Rayleigh quotient ~= 0.97
    of lambda_1 — honestly partial, verified in pytest against numpy
    eigh, exactly like q_pq_recall reports its recall.

    Determinism (the point of the exercise): the iterate lives as an
    INTEGER micro-unit vector (max-abs normalized to 1e6); each matvec
    term ROUND(cn * vj) quantizes to BIGINT before the order-free
    integer SUM, and renormalization ROUND(wi * 1e6 / wm) is a single
    double op on exact inputs — so all {PCA_ITERS} iterations are
    bit-identical across engines and partitionings. Floats never
    accumulate across an aggregation.

    Scale shape: the corpus is touched ONCE (the memoized covariance
    partials); every iteration is a d^2-row broadcast-join matvec —
    driver/executor work independent of corpus size. The only
    corpus-sized stage is the covariance's single mapInPandas scan.
    Local-mode cost is the 8-iteration stage-scheduling floor (~2.2 s
    warm at 3 tiny stages/iteration after coalesce(1) collapsed the
    32-task overhead, measured 5.7 -> 2.2 s); an in-row HOF variant
    (all 8 matvecs as nested transform/aggregate lambdas over one
    collected row) was measured SLOWER (4.3 s — nested higher-order
    functions evaluate interpreted, ~d^2*iters lambda calls) and
    rejected. On a real cluster the same plan is latency-bound at
    ~seconds regardless of corpus size."""
    cov = _covariance_frame(spark, sf_dir)
    from openmaptiles_zh_modifier_spark.registry import session_memo

    up = cov.select("i", "j", "cov_num")
    fullm = up.unionByName(
        cov.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov_num"
        )
    )
    mx = fullm.agg(F.max(F.abs("cov_num")).alias("mc"))
    # the normalized matrix is d^2 rows (driver-scale by construction —
    # the corpus-sized work already happened inside the covariance scan),
    # so the whole iteration chain runs in ONE partition: 32-task
    # scheduling overhead on 4096-row stages dominated the runtime
    # otherwise (measured 5.7 s warm -> see module history)
    m = (
        fullm.crossJoin(F.broadcast(mx))
        .select(
            "i",
            "j",
            (F.col("cov_num").cast("double") / F.col("mc").cast("double")).alias(
                "cn"
            ),
        )
        .coalesce(1)
    )
    # The iteration runs DRIVER-SIDE over the collected normalized
    # matrix — d^2 = 4096 rows BY CONSTRUCTION (the corpus-sized work
    # already happened inside the covariance scan; the docstring's own
    # scale claim). The previous in-Spark loop was the measured
    # 8-iteration stage-scheduling floor (~2.2-3.4 s warm on 24 tiny
    # single-partition stages); the same arithmetic on the collected
    # rows is <10 ms and BIT-IDENTICAL because every step quantizes to
    # integers: each matvec term is ROUND_HALF_UP(cn * vj) summed as
    # int64 (integer addition is order-free, so partitioning never
    # mattered), and the renormalization ROUND(wi * 1e6 / wm) is a
    # single double op on exact inputs. Spark's ROUND on DOUBLE is
    # BigDecimal(value).setScale(0, HALF_UP) — replicated here with
    # decimal.Decimal on the exact binary double, not float rounding.
    from decimal import ROUND_HALF_UP, Decimal

    def _round_half_up(x: float) -> int:
        return int(
            Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    # memoized per (session, sf_dir): a warm construction runs no job
    m_rows = session_memo(
        spark,
        ("pca_M", sf_dir),
        lambda: tuple((r.i, r.j, r.cn) for r in m.collect()),
    )
    dims = sorted({i for i, _, _ in m_rows})
    vd = {j: (PCA_VQ if j == 0 else 0) for j in dims}
    for _ in range(PCA_ITERS):
        wd = {i: 0 for i in dims}
        for i, j, cn in m_rows:
            wd[i] += _round_half_up(cn * vd[j])
        # degenerate guard (ADVICE r13): an empty/all-zero matrix keeps
        # the zeroed state instead of max()/ZeroDivision, preserving the
        # replaced Spark plan's graceful empty-input path
        wm = max((abs(w) for w in wd.values()), default=0)
        if wm == 0:
            vd = {i: 0 for i in dims}
            continue
        vd = {
            i: _round_half_up(w * float(PCA_VQ) / wm)
            for i, w in wd.items()
        }
    return local_frame(
        spark, sorted(vd.items()), "component int, loading_micro long"
    ).orderBy("component")


# ===========================================================================
# Matryoshka truncation recall (the dimension-vs-quality dial of MRL
# embeddings, Kusupati et al. 2022), Johnson-Lindenstrauss random projection
# with measured distance distortion, the near-dup precision/recall curve,
# binary (sign-bit) Hamming search and residual vector quantization: the
# "shrink the vectors, know what you lose" tools next to PQ and int8.
#
# Determinism: the projection sign matrix is a fixed LCG-derived +-1.0
# literal shared between both engines; every cross-row double reduction
# folds in explicit candidate order (the pagerank pattern); presentation
# rounds at 4 dp.
# ===========================================================================

# ---------------------------------------------------------------------------
# Matryoshka truncation recall
# ---------------------------------------------------------------------------

MAT_DIM = 16  # serve on the first 16 of 64 dims


@register(
    "q_embed_matryoshka",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
t AS (SELECT vec_id, e[1:{MAT_DIM}] AS te FROM v),
q AS (SELECT vec_id AS qid, te AS qe FROM t WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, t.vec_id AS nn_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY {_dot_sql('t.te', 't.te')} - 2 * {_dot_sql('q.qe', 't.te')},
                    t.vec_id) AS rk
  FROM q JOIN t ON t.vec_id <> q.qid
),
ann AS (SELECT qid, nn_id FROM scored WHERE rk <= {TOP_K}),
fq AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
exd AS (
  SELECT fq.qid, v.vec_id AS nn_id,
         ROW_NUMBER() OVER (
           PARTITION BY fq.qid
           ORDER BY {_dot_sql('v.e', 'v.e')} - 2 * {_dot_sql('fq.qe', 'v.e')},
                    v.vec_id) AS rk
  FROM fq JOIN v ON v.vec_id <> fq.qid
),
ex AS (SELECT qid, nn_id FROM exd WHERE rk <= {TOP_K})
SELECT ann.qid,
       CAST(COUNT(ex.nn_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(ex.nn_id) / {TOP_K}.0, 2) AS recall
FROM ann LEFT JOIN ex ON ex.qid = ann.qid AND ex.nn_id = ann.nn_id
GROUP BY ann.qid
ORDER BY ann.qid
""",
)
def q_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation recall: serve nearest-neighbor search
    on only the FIRST {MAT_DIM} of {DIM} dimensions (the MRL deployment
    trick — a prefix of a matryoshka-trained embedding is itself a
    valid embedding at 1/{DIM // MAT_DIM} the storage and FLOPs) and
    measure recall@{TOP_K} against the full-dimension exact scan.
    These fixture vectors are not MRL-trained, so the measured recall
    is the honest untrained floor — the same reading q_pq_recall gives
    for untrained codebooks.

    Determinism: both ANN and exact sides rank by the fold-ordered
    squared-L2 surrogate ||c||^2 - 2<q,c> with id tie-breaks.

    Scale shape: the truncated scan reads {MAT_DIM * 4} bytes/vector
    instead of {DIM * 4} — at 100 TB that is a 4x scan-cost cut before
    any indexing; plan is broadcast-queries + one corpus pass + per-
    query top-k, identical to the exact path it replaces."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    t = v.select("vec_id", F.slice("e", 1, MAT_DIM).alias("te"))
    q = t.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("te").alias("qe")
    )
    dist = _dot_fold(F.col("te"), F.col("te")) - 2 * _dot_fold(
        F.col("qe"), F.col("te")
    )
    w = Window.partitionBy("qid").orderBy("d", "nn_id")
    ann = (
        t.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nn_id"), dist.alias("d"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("qid", "nn_id")
    )
    return pq_recall_vs_exact(spark, sf_dir, ann)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + distortion audit
# ---------------------------------------------------------------------------

JL_K = 16  # projected dimensionality
JL_LCG_A, JL_LCG_C, JL_LCG_M = 1103515245, 12345, 1 << 31
JL_CAND_MOD, JL_CAND_RES = 7, 3  # candidate sample: vec_id % 7 == 3


def _jl_signs(k: int) -> list[float]:
    """Row k of the fixed Rademacher +-1 projection matrix (LCG parity,
    seeded disjointly from the LSH planes via the +9973 offset)."""
    out = []
    for i in range(DIM):
        x = (JL_LCG_A * (k * DIM + i + 9973) + JL_LCG_C) % JL_LCG_M
        out.append(1.0 if x % 2 == 0 else -1.0)
    return out


def _jl_sign_sql(k: int) -> str:
    return "[" + ", ".join(repr(c) for c in _jl_signs(k)) + "]::DOUBLE[]"


def _jl_proj_sql(e: str) -> str:
    comps = ", ".join(
        _dot_sql(e, _jl_sign_sql(k)) for k in range(JL_K)
    )
    return f"[{comps}]"


@register(
    "q_embed_rand_projection",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
p AS (SELECT vec_id, e, {_jl_proj_sql('e')} AS pe FROM v),
q AS (SELECT vec_id AS qid, e AS qe, pe AS qpe FROM p
      WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cid, e AS ce, pe AS cpe FROM p
      WHERE vec_id % {JL_CAND_MOD} = {JL_CAND_RES} AND vec_id >= {N_QUERIES}),
pairs AS (
  SELECT qid, cid,
         ROUND(({_dot_sql('list_transform(list_zip(qpe, cpe), z -> z[1] - z[2])',
                          'list_transform(list_zip(qpe, cpe), z -> z[1] - z[2])')})
               / ({JL_K} * ({_dot_sql('list_transform(list_zip(qe, ce), z -> z[1] - z[2])',
                                      'list_transform(list_zip(qe, ce), z -> z[1] - z[2])')})),
               6) AS ratio
  FROM q CROSS JOIN c
)
SELECT qid,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(ratio ORDER BY cid)),
                         (acc, x) -> acc + x) / COUNT(*), 4) AS mean_ratio,
       ROUND(MIN(ratio), 4) AS min_ratio,
       ROUND(MAX(ratio), 4) AS max_ratio
FROM pairs GROUP BY qid
ORDER BY qid
""",
)
def q_embed_rand_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection ({DIM} -> {JL_K} dims via
    a fixed Rademacher +-1 sign matrix) with the distortion audit that
    justifies it: for each query vector against a deterministic
    candidate sample, the ratio ||P(q-c)||^2 / (k * ||q-c||^2), whose
    expectation is 1 under the JL guarantee (each projected coordinate
    of x has variance ||x||^2 for +-1 entries). The per-query
    mean/min/max ratios are the concentration reading that tells a
    pipeline whether {JL_K} dims suffice before swapping the projection
    into the dedup or ANN path.

    Determinism: the sign matrix is a Python-generated literal injected
    into both plans; distance folds run in array order; the per-query
    mean folds in candidate order; ratios round at 6 dp before the
    fold, stats at 4 dp.

    Scale shape: projection is a per-row map ({JL_K} folds of {DIM}
    muls — whole-stage codegen, no shuffle); the audit joins a
    broadcast {N_QUERIES}-row query side against a ~1/{JL_CAND_MOD}
    candidate sample. At 100 TB the projection runs in the ingest scan
    and the audit on a sample, exactly as here."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    proj = F.array(
        *[
            _dot_fold(
                F.col("e"),
                F.array(*[F.lit(s) for s in _jl_signs(k)]),
            )
            for k in range(JL_K)
        ]
    )
    p = v.select("vec_id", "e", proj.alias("pe"))
    q = p.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("pe").alias("qpe"),
    )
    c = p.where(
        (F.pmod(F.col("vec_id"), F.lit(JL_CAND_MOD)) == JL_CAND_RES)
        & (F.col("vec_id") >= N_QUERIES)
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("pe").alias("cpe"),
    )
    dproj = F.zip_with(F.col("qpe"), F.col("cpe"), lambda a, b: a - b)
    dfull = F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: a - b)
    ratio = F.round(
        _dot_fold(dproj, dproj) / (JL_K * _dot_fold(dfull, dfull)), 6
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", ratio.alias("ratio")
    )
    return (
        pairs.groupBy("qid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("cid", "ratio"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["ratio"],
                )
                / F.count(F.lit(1)),
                4,
            ).alias("mean_ratio"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Blocking-quality PR curve: LSH candidates vs exact near-dup truth
# ---------------------------------------------------------------------------

PR_SAMPLE_MOD = 5  # evaluate on vectors with vec_id % 5 == 0
PR_THRESHOLDS = (0.35, 0.40, 0.45)


@register(
    "q_neardup_pr_curve",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id % {PR_SAMPLE_MOD} = 0
),
b AS (SELECT vec_id, e, {_bucket_sql()} AS bucket FROM v),
pairs AS (
  SELECT a.vec_id AS ida, bb.vec_id AS idb,
         ROUND({_dot_sql('a.e', 'bb.e')}
               / (sqrt({_dot_sql('a.e', 'a.e')})
                  * sqrt({_dot_sql('bb.e', 'bb.e')})), 6) AS cos,
         CASE WHEN a.bucket = bb.bucket THEN 1 ELSE 0 END AS cand
  FROM b a JOIN b bb ON a.vec_id < bb.vec_id
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(cand) AS BIGINT) AS n_cand,
         {', '.join(
           f"CAST(SUM(CASE WHEN cos >= {t} THEN 1 ELSE 0 END) AS BIGINT)"
           f" AS nt_{i}, "
           f"CAST(SUM(CASE WHEN cand = 1 AND cos >= {t} THEN 1 ELSE 0 END)"
           f" AS BIGINT) AS nh_{i}"
           for i, t in enumerate(PR_THRESHOLDS))}
  FROM pairs
)
{' UNION ALL '.join(
  f"SELECT CAST({t} AS DOUBLE) AS threshold, n_pairs, n_cand,"
  f" nt_{i} AS n_true,"
  f" nh_{i} AS n_hit,"
  f" ROUND(CASE WHEN n_cand > 0 THEN nh_{i} * 1.0 / n_cand END, 4)"
  f" AS precision_pairs,"
  f" ROUND(CASE WHEN nt_{i} > 0 THEN nh_{i} * 1.0 / nt_{i} END, 4)"
  f" AS recall FROM agg"
  for i, t in enumerate(PR_THRESHOLDS))}
ORDER BY threshold
""",
)
def q_neardup_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation of the hyperplane-LSH candidate
    generator against exact cosine truth, as a precision/recall curve
    over near-dup thresholds — the dedup-side twin of q_pq_recall (ANN
    recall) and q_nb_calibration (classifier reliability): before
    trusting LSH-bucketed dedup at scale you measure what fraction of
    true near-dup pairs share a bucket (recall = pair completeness)
    and how much of the candidate set is signal (precision; its
    inverse tracks the verify-stage cost the blocking buys you).

    Determinism: cosines round at 6 dp before thresholding; buckets
    are the shared fixed-hyperplane sign codes; everything else is
    exact counts evaluated on the deterministic
    vec_id % {PR_SAMPLE_MOD} sample.

    Scale shape: the exact side is O(sample^2) BY DESIGN — it is the
    ground-truth audit you run on a sample (the mod-{PR_SAMPLE_MOD}
    slice here IS that sample), not the serving path; the serving path
    is the bucketed join whose quality this measures. One pair scan
    computes cosine + candidacy together; one aggregate carries every
    threshold as a conditional sum (no per-threshold pass)."""
    v = (
        load(spark, sf_dir, "embeddings")
        .where(F.pmod(F.col("vec_id"), F.lit(PR_SAMPLE_MOD)) == 0)
        .select("vec_id", _dvec("embedding").alias("e"))
    )
    bucket = None
    for p in range(LSH_PLANES):
        plane = F.array(*[F.lit(c) for c in _plane(p)])
        bit = F.when(_dot_fold(F.col("e"), plane) > 0, F.lit(1 << p)).otherwise(
            0
        )
        bucket = bit if bucket is None else bucket + bit
    b = v.withColumn("bucket", bucket)
    a = b.select(
        F.col("vec_id").alias("ida"),
        F.col("e").alias("ea"),
        F.col("bucket").alias("ba"),
    )
    bb = b.select(
        F.col("vec_id").alias("idb"),
        F.col("e").alias("eb"),
        F.col("bucket").alias("bb"),
    )
    cos = F.round(
        _dot_fold(F.col("ea"), F.col("eb"))
        / (
            F.sqrt(_dot_fold(F.col("ea"), F.col("ea")))
            * F.sqrt(_dot_fold(F.col("eb"), F.col("eb")))
        ),
        6,
    )
    pairs = a.join(bb, F.col("ida") < F.col("idb")).select(
        cos.alias("cos"),
        (F.col("ba") == F.col("bb")).cast("int").alias("cand"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("cand").cast("long").alias("n_cand"),
    ]
    for i, t in enumerate(PR_THRESHOLDS):
        aggs.append(
            F.sum((F.col("cos") >= t).cast("int")).cast("long").alias(f"nt_{i}")
        )
        aggs.append(
            F.sum(((F.col("cand") == 1) & (F.col("cos") >= t)).cast("int"))
            .cast("long")
            .alias(f"nh_{i}")
        )
    one = pairs.agg(*aggs)
    rows = []
    for i, t in enumerate(PR_THRESHOLDS):
        rows.append(
            one.select(
                F.lit(t).alias("threshold"),
                "n_pairs",
                "n_cand",
                F.col(f"nt_{i}").alias("n_true"),
                F.col(f"nh_{i}").alias("n_hit"),
                F.round(
                    F.when(
                        F.col("n_cand") > 0,
                        F.col(f"nh_{i}") * F.lit(1.0) / F.col("n_cand"),
                    ),
                    4,
                ).alias("precision_pairs"),
                F.round(
                    F.when(
                        F.col(f"nt_{i}") > 0,
                        F.col(f"nh_{i}") * F.lit(1.0) / F.col(f"nt_{i}"),
                    ),
                    4,
                ).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("threshold")


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming shortlist + exact re-rank
# ---------------------------------------------------------------------------

BIN_RERANK = 30  # Hamming shortlist size re-ranked exactly


def _sign_word_sql(e: str, lo: int, n: int) -> str:
    """BIGINT whose n low bits are the sign bits of e[lo:lo+n-1]."""
    return (
        f"list_reduce(list_transform({e}[{lo}:{lo + n - 1}], "
        "x -> CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END), "
        "(acc, b) -> acc * 2 + b)"
    )


def _sign_word(e, lo: int, n: int):
    return F.aggregate(
        F.slice(e, lo, n),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
    )


@register(
    "q_embed_binary_hamming",
    oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
         {_sign_word_sql('e', 1, 32)} AS w1,
         {_sign_word_sql('e', 33, 32)} AS w2
  FROM v
),
q AS (SELECT vec_id AS qid, e AS qe, w1 AS qw1, w2 AS qw2
      FROM b WHERE vec_id < {N_QUERIES}),
coarse AS (
  SELECT q.qid, b.vec_id AS nn_id, b.e, q.qe,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY bit_count(xor(q.qw1, b.w1)) + bit_count(xor(q.qw2, b.w2)),
                    b.vec_id) AS rk
  FROM q JOIN b ON b.vec_id <> q.qid
),
rr AS (
  SELECT qid, nn_id,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY {_dot_sql('e', 'e')} - 2 * {_dot_sql('qe', 'e')},
                    nn_id) AS rk
  FROM coarse WHERE rk <= {BIN_RERANK}
),
ann AS (SELECT qid, nn_id FROM rr WHERE rk <= {TOP_K}),
fv AS (SELECT vec_id, e FROM v),
fq AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
exd AS (
  SELECT fq.qid, fv.vec_id AS nn_id,
         ROW_NUMBER() OVER (
           PARTITION BY fq.qid
           ORDER BY {_dot_sql('fv.e', 'fv.e')} - 2 * {_dot_sql('fq.qe', 'fv.e')},
                    fv.vec_id) AS rk
  FROM fq JOIN fv ON fv.vec_id <> fq.qid
),
ex AS (SELECT qid, nn_id FROM exd WHERE rk <= {TOP_K})
SELECT ann.qid,
       CAST(COUNT(ex.nn_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(ex.nn_id) / {TOP_K}.0, 2) AS recall
FROM ann LEFT JOIN ex ON ex.qid = ann.qid AND ex.nn_id = ann.nn_id
GROUP BY ann.qid
ORDER BY ann.qid
""",
)
def q_embed_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) embedding quantization with Hamming-distance
    shortlist + exact re-rank — the most aggressive standard compression
    point on the ANN dial next to int8 (q_embed_int8_rerank) and PQ
    (q_embed_pq_adc): one bit per dimension, {DIM} dims packed into two
    BIGINT sign words, 32x smaller than float32 storage. Coarse ranking
    is bit_count(xor) per word pair — integer-exact, so the shortlist
    cut is deterministic; the top-{BIN_RERANK} shortlist per query is
    re-ranked with full-precision distance and recall@{TOP_K} is
    measured against the exact scan (the honest untrained floor, as for
    PQ/MRL).

    Determinism: sign packing, XOR, and popcount are exact integers on
    both engines (identical acc*2+bit fold, identical 32-bit word
    split — no 64-bit fold because a 64th bit would wrap Java's silent
    long overflow vs DuckDB's checked one); floats only in the small
    re-rank behind the fold-ordered surrogate with id tie-breaks.

    Scale shape: at 100 TB the wide O(n_query x n_corpus) stage reads
    16 bytes/vector instead of 512 and evaluates 2 xor+popcnt ops/pair
    (SIMD-friendly, whole-stage-codegen JVM intrinsics) — memory
    bandwidth drops ~32x; exact math touches only
    n_query x {BIN_RERANK} rows."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e")
    )
    b = v.select(
        "vec_id",
        "e",
        _sign_word(F.col("e"), 1, 32).alias("w1"),
        _sign_word(F.col("e"), 33, 32).alias("w2"),
    )
    q = b.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    ham = F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1"))) + F.bit_count(
        F.col("qw2").bitwiseXOR(F.col("w2"))
    )
    wc = Window.partitionBy("qid").orderBy("ham", "nn_id")
    coarse = (
        b.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nn_id"),
            "e",
            "qe",
            ham.alias("ham"),
        )
        .withColumn("rk", F.row_number().over(wc))
        .where(F.col("rk") <= BIN_RERANK)
    )
    dist = _dot_fold(F.col("e"), F.col("e")) - 2 * _dot_fold(
        F.col("qe"), F.col("e")
    )
    wr = Window.partitionBy("qid").orderBy("d", "nn_id")
    ann = (
        coarse.select("qid", "nn_id", dist.alias("d"))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= TOP_K)
        .select("qid", "nn_id")
    )
    return pq_recall_vs_exact(spark, sf_dir, ann)


# -------------------------------------------------------------------------
# Residual vector quantization (RVQ) + pair-table ADC
# -------------------------------------------------------------------------

RVQ_K1 = 16  # level-1 codebook entries
RVQ_K2 = 16  # level-2 (residual) codebook entries


_RVQ_ADC_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
cb1 AS (SELECT vec_id AS cid1, e AS c1 FROM v WHERE vec_id < {RVQ_K1}),
d1 AS (
  SELECT v.vec_id, v.label, v.e, cb1.cid1, cb1.c1,
         {_dot_sql('v.e', 'v.e')} - 2 * {_dot_sql('v.e', 'cb1.c1')}
           + {_dot_sql('cb1.c1', 'cb1.c1')} AS d
  FROM v CROSS JOIN cb1
),
a1 AS (
  SELECT vec_id, label, e, cid1, c1 FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d, cid1) AS rk
    FROM d1
  ) WHERE rk = 1
),
resid AS (
  SELECT vec_id, label, cid1,
         list_transform(list_zip(e, c1), z -> z[1] - z[2]) AS r
  FROM a1
),
cb2 AS (
  SELECT vec_id AS cid2, r AS c2 FROM resid
  WHERE vec_id >= {RVQ_K1} AND vec_id < {RVQ_K1 + RVQ_K2}
),
d2 AS (
  SELECT rr.vec_id, rr.label, rr.cid1, cb2.cid2,
         {_dot_sql('rr.r', 'rr.r')} - 2 * {_dot_sql('rr.r', 'cb2.c2')}
           + {_dot_sql('cb2.c2', 'cb2.c2')} AS d
  FROM resid rr CROSS JOIN cb2
),
codes AS (
  SELECT vec_id, label, cid1, cid2 FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d, cid2) AS rk
    FROM d2
  ) WHERE rk = 1
),
pairs AS (
  SELECT cb1.cid1, cb2.cid2,
         list_transform(list_zip(cb1.c1, cb2.c2), z -> z[1] + z[2]) AS cc
  FROM cb1 CROSS JOIN cb2
),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {N_QUERIES}),
qd AS (
  SELECT q.qid, p.cid1, p.cid2,
         {_dot_sql('q.qe', 'q.qe')} - 2 * {_dot_sql('q.qe', 'p.cc')}
           + {_dot_sql('p.cc', 'p.cc')} AS ad
  FROM q CROSS JOIN pairs p
),
cand AS (
  SELECT qd.qid, c.vec_id AS nn_id, c.label AS nn_label, qd.ad
  FROM codes c JOIN qd ON qd.cid1 = c.cid1 AND qd.cid2 = c.cid2
  WHERE c.vec_id <> qd.qid
)
SELECT qid, nn_id, nn_label, ROUND(ad, 4) AS approx_dist, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY ad, nn_id) AS rk
  FROM cand
) WHERE rk <= {TOP_K}
ORDER BY qid, rk
"""


@register("q_embed_rvq_adc", oracle=_RVQ_ADC_ORACLE)
def q_embed_rvq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual vector quantization ANN (round 12 — the additive-
    codebook family: RVQ is the quantizer behind modern neural audio
    codecs and additive-quantization ANN indexes): level 1 assigns each
    vector to its nearest FULL-dimension centroid; level 2 quantizes the
    RESIDUAL against a second codebook; the reconstruction is the SUM
    c1 + c2, so {RVQ_K1} + {RVQ_K2} stored centroids span
    {RVQ_K1} x {RVQ_K2} effective cells — the expressiveness-per-byte
    trade PQ makes across subspaces, made across SCALES instead.
    Queries run pair-table ADC: the {RVQ_K1} x {RVQ_K2} = 256 summed
    centroids are materialized once (broadcast kilobytes), each query
    scores all 256 cells exactly, and candidate distance is ONE lookup
    on (cid1, cid2) — no full-width math per candidate.

    Codebooks are the oracle-checkable deterministic seed (level 1 =
    first {RVQ_K1} vectors; level 2 = the NEXT {RVQ_K2} vectors'
    level-1 residuals — real residuals, so level 2 genuinely corrects
    level 1). Determinism: fixed-order fold dots, elementwise list
    arithmetic, id tie-breaks; bit-identical cross-engine before the
    presentation ROUND.

    Scale shape: assignment is a corpus pass against a broadcast
    codebook per level (map-side argmin); the code table (2 small ints
    per vector) replaces embeddings for search; the pair table is
    codebook-sized, never corpus-sized."""
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("e"), "label"
    )
    cb1 = v.where(F.col("vec_id") < RVQ_K1).select(
        F.col("vec_id").alias("cid1"), F.col("e").alias("c1")
    )

    def assign(frame, vec_col, cb, cid_col, cvec_col):
        d = (
            _dot_fold(F.col(vec_col), F.col(vec_col))
            - 2 * _dot_fold(F.col(vec_col), F.col(cvec_col))
            + _dot_fold(F.col(cvec_col), F.col(cvec_col))
        )
        w = Window.partitionBy("vec_id").orderBy("d", cid_col)
        return (
            frame.crossJoin(F.broadcast(cb))
            .withColumn("d", d)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("d", "rk")
        )

    a1 = assign(v, "e", cb1, "cid1", "c1")
    resid = a1.select(
        "vec_id",
        "label",
        "cid1",
        F.zip_with("e", "c1", lambda a, b: a - b).alias("r"),
    )
    cb2 = resid.where(
        (F.col("vec_id") >= RVQ_K1) & (F.col("vec_id") < RVQ_K1 + RVQ_K2)
    ).select(F.col("vec_id").alias("cid2"), F.col("r").alias("c2"))
    codes = assign(resid, "r", cb2, "cid2", "c2").select(
        "vec_id", "label", "cid1", "cid2"
    )
    pairs = cb1.crossJoin(F.broadcast(cb2)).select(
        "cid1",
        "cid2",
        F.zip_with("c1", "c2", lambda a, b: a + b).alias("cc"),
    )
    q = v.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    qd = q.crossJoin(F.broadcast(pairs)).select(
        "qid",
        "cid1",
        "cid2",
        (
            _dot_fold(F.col("qe"), F.col("qe"))
            - 2 * _dot_fold(F.col("qe"), F.col("cc"))
            + _dot_fold(F.col("cc"), F.col("cc"))
        ).alias("ad"),
    )
    w = Window.partitionBy("qid").orderBy("ad", "nn_id")
    return (
        codes.join(qd, ["cid1", "cid2"])
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nn_id"),
            F.col("label").alias("nn_label"),
            "ad",
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("qid", "nn_id", "nn_label", F.round("ad", 4).alias("approx_dist"), "rk")
        .orderBy("qid", "rk")
    )


@register("q_rvq_recall", oracle=_recall_oracle("rvq", _RVQ_ADC_ORACLE))
def q_rvq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the RVQ pair-table index against the exact
    scan — every ANN method in this repo ships with its recall audit,
    and the additive-codebook family gets one too: the number that
    tells a deployment whether two 16-entry levels (256 effective
    cells) carry enough resolution or whether a third level / larger
    codebooks are needed. Same composition shape as q_pq_recall: the
    registered RVQ plan's hits counted against the brute-force exact
    top-k per query."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    rvq = QUERIES["q_embed_rvq_adc"](spark, sf_dir).select("qid", "nn_id")
    return pq_recall_vs_exact(spark, sf_dir, rvq)
