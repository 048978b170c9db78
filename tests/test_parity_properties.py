"""Property-style cross-engine parity: a seeded random corpus pushed through
the Spark expressions AND the equivalent DuckDB SQL must agree value-for-
value on every deterministic primitive (h32, rolling fingerprint, shingle
sets, minhash signatures). This is the foundation the oracle gate rests on —
if these drift, every sketch query drifts."""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import (
    FP_MOD,
    NUM_PERM,
    h32,
    h32_sql,
    minhash_col,
    minhash_sql,
    rolling_fingerprint,
    shingles,
    tokens,
)
from openmaptiles_zh_modifier_spark.functions.zh import (
    T2S_FROM,
    T2S_TO,
    to_simplified,
    to_traditional,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "x", "yy", "", "émile", "中文", "a b"]


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(20240813)
    rows = []
    for i in range(200):
        n = rng.randint(0, 12)
        words = [rng.choice(VOCAB[:6]) for _ in range(n)]
        rows.append((i, " ".join(words)))
    # adversarial extras: unicode, empties, single tokens
    rows += [(200, ""), (201, "émile 中文 émile"), (202, "solo"), (203, "a a a a")]
    return rows


def test_h32_and_fingerprint_parity(spark, corpus):
    sdf = spark.createDataFrame(corpus, "i long, txt string").select(
        "i",
        h32(F.col("txt")).alias("h"),
        rolling_fingerprint(tokens(F.col("txt"))).alias("fp"),
    )
    got = {r.i: (r.h, r.fp) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, txt VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", corpus)
    want = {
        i: (h, fp)
        for i, h, fp in con.execute(
            f"""SELECT i, {h32_sql('txt')},
                 list_reduce(
                   list_prepend(0::BIGINT,
                     list_transform(string_split(txt,' '), x -> {h32_sql('x')})),
                   (acc, h) -> (acc * 31 + h) % {FP_MOD})
               FROM t"""
        ).fetchall()
    }
    assert got == want


def test_shingle_and_minhash_parity(spark, corpus):
    sdf = (
        spark.createDataFrame(corpus, "i long, txt string")
        .select("i", F.explode(shingles(tokens(F.col("txt")))).alias("s"))
        .withColumn("h", h32(F.col("s")))
        .groupBy("i")
        .agg(
            F.sort_array(F.collect_list("s")).alias("ss"),
            *[F.min(minhash_col(F.col("h"), k)).alias(f"m{k}") for k in range(NUM_PERM)],
        )
    )
    got = {
        r.i: (tuple(r.ss), tuple(r[f"m{k}"] for k in range(NUM_PERM)))
        for r in sdf.collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, txt VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", corpus)
    mins = ", ".join(
        f"min({minhash_sql(h32_sql('s'), k)})" for k in range(NUM_PERM)
    )
    rows = con.execute(
        f"""WITH sh AS (
              SELECT i, unnest(list_distinct(list_transform(
                  generate_series(1, len(string_split(txt,' ')) - 2),
                  j -> concat_ws(' ', string_split(txt,' ')[j],
                       string_split(txt,' ')[j+1], string_split(txt,' ')[j+2])))) AS s
              FROM t)
            SELECT i, list_sort(list(s)), {mins} FROM sh GROUP BY i"""
    ).fetchall()
    want = {r[0]: (tuple(r[1]), tuple(r[2:])) for r in rows}
    assert got == want


def test_zh_translate_roundtrip_properties(spark):
    """Char-level conversion invariants: t2s is idempotent; s2t(t2s(x))
    re-simplifies to the same simplified form (surjective canonicalization,
    not involutive — 發/髮 both map to 发). Round 4: asserted over the
    ENTIRE table domain — every char in both translate alphabets and
    every phrase source word in both directions — so any future table
    entry whose reverse path is inconsistent fails here, not in an OOV
    corner a fixture missed."""
    from openmaptiles_zh_modifier_spark.functions.zh import (
        S2T_FROM,
        S2T_PHRASES,
        S2T_VARIANT_NORMALIZATIONS,
        T2S_PHRASES,
    )

    samples = ["臺灣鐵路", "頭髮廣場", "国语", "Berlin", "發髮", ""]
    samples += [c for c in T2S_FROM] + [c for c in S2T_FROM]
    samples += [src for src, _ in T2S_PHRASES]
    samples += [src for src, _ in S2T_PHRASES]
    samples = sorted(set(samples))
    df = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s",
        to_simplified(F.col("s")).alias("simp"),
        to_simplified(to_simplified(F.col("s"))).alias("simp2"),
        to_simplified(to_traditional(to_simplified(F.col("s")))).alias("cycle"),
    )
    def normalize(s: str) -> str:
        # declared one-way variant normalizations land on the canonical
        # spelling (e.g. 了望 -> 瞭望), not back on the variant
        for variant, canon in S2T_VARIANT_NORMALIZATIONS.items():
            s = s.replace(variant, canon)
        return s

    for r in df.collect():
        assert r.simp == r.simp2  # idempotent
        # canonical form stable through s2t, modulo DECLARED variant
        # normalizations (asserted to land exactly on the canon form)
        assert r.cycle == normalize(r.simp), (r.s, r.simp, r.cycle)
        # simplified output contains no char from the traditional-only set
        trad_only = set(T2S_FROM) - set(T2S_TO)
        assert not (set(r.simp) & trad_only)


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs: the iterative min-label propagation must
    equal a pure-Python union-find ground truth (including singleton-free
    node sets, multi-chain topologies, and dense pockets)."""
    from openmaptiles_zh_modifier_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(1234)
    for trial in range(3):
        n_nodes = rng.randint(10, 40)
        n_edges = rng.randint(5, 60)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {a for e in edges for a in e}
        want = {x: find(x) for x in sorted(touched)}

        got = {
            r.node: r.component
            for r in connected_components(
                spark.createDataFrame(edges, "a long, b long")
            ).collect()
        }
        assert got == want, f"trial {trial}"


def _rhu(x: float) -> int:
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


class TestDecimalRoundParity:
    """The PCA / HITS driver loops replicate Spark's ROUND-on-double
    (BigDecimal HALF_UP) with decimal.Decimal on the exact binary double
    — including the values where float-arithmetic rounding (x+0.5 then
    floor) would differ."""

    TRICKY = [
        0.5, 1.5, 2.5, -0.5, -1.5, -2.5,
        0.49999999999999994,   # x+0.5 rounds UP to 1.0 in float; ROUND says 0
        -0.49999999999999994,
        2.4999999999999996, 1e6 - 0.5, 123456.5, -123456.5,
        0.0, -0.0, 1.0, 7.499999999999999, 7.500000000000001,
    ]

    def test_matches_spark_round(self, spark):
        df = spark.createDataFrame(
            [(x,) for x in self.TRICKY], "x double"
        ).select(F.round("x").cast("long").alias("r"))
        got = [r.r for r in df.collect()]
        want = [_rhu(x) for x in self.TRICKY]
        assert got == want

    def test_floatpath_would_differ(self):
        # documents WHY Decimal is used: the naive float path disagrees
        # on the epsilon-below-half value
        import math

        x = 0.49999999999999994
        naive = math.floor(x + 0.5)
        assert naive == 1 and _rhu(x) == 0
