"""Invariant tests for the round-3 graph additions: label-propagation
communities and multi-source BFS reachability (both oracle-paired in the
gate; these assert the graph-theoretic invariants the hash can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.queries_graph import (
    BFS_MAX_HOPS,
    BFS_SEED_MOD,
    _copurchase_adj,
    q_bfs_reachability,
    q_label_propagation,
)
from openmaptiles_zh_modifier_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def test_lpa_labels_are_member_nodes(spark, sf_dir):
    """Every community label is itself a node of the graph (labels only
    ever propagate from real nodes), and every graph node is labeled."""
    labels = q_label_propagation(spark, sf_dir)
    nodes = _copurchase_adj(spark, sf_dir).select("node").distinct()
    assert labels.count() == nodes.count()
    orphan_labels = (
        labels.select(F.col("community").alias("node"))
        .distinct()
        .join(nodes, "node", "left_anti")
    )
    assert orphan_labels.count() == 0


def test_lpa_groups_triangles_together(spark, sf_dir):
    """A node and at least one neighbor share a community for most nodes:
    LPA on a co-purchase graph must not degenerate into all-singletons."""
    labels = q_label_propagation(spark, sf_dir)
    n_nodes = labels.count()
    n_communities = labels.select("community").distinct().count()
    assert n_communities < n_nodes  # at least one non-singleton community


def test_bfs_seeds_at_hop_zero_and_edges_relax(spark, sf_dir):
    dist = q_bfs_reachability(spark, sf_dir)
    rows = {r.node: r.hop for r in dist.collect()}
    adj = _copurchase_adj(spark, sf_dir)
    seeds = [
        r.node
        for r in adj.select("node").distinct().collect()
        if r.node % BFS_SEED_MOD == 0
    ]
    assert seeds and all(rows[s] == 0 for s in seeds)
    assert all(0 <= h <= BFS_MAX_HOPS for h in rows.values())
    # triangle inequality on every edge whose both ends were reached
    for e in adj.collect():
        if e.node in rows and e.nbr in rows:
            assert abs(rows[e.node] - rows[e.nbr]) <= 1


def test_degree_cap_guard_properties(spark, sf_dir):
    """The degree-cap guard's contract: (1) post-cap degree really is
    <= DEG_CAP for every node, (2) the sparsified edge set is a subset
    of the uncapped edges, (3) the capped triangle count never exceeds
    the uncapped one, and (4) the truncation manifest adds up."""
    from openmaptiles_zh_modifier_spark.queries_graph import (
        DEG_CAP,
        _copurchase_edges,
        q_degree_capped_triangles,
        q_triangle_count,
    )

    row = q_degree_capped_triangles(spark, sf_dir).collect()[0]
    uncapped = q_triangle_count(spark, sf_dir).collect()[0]
    assert row.n_triangles_capped <= uncapped.n_triangles
    assert row.n_edges == uncapped.n_edges
    assert row.n_edges_kept + row.n_edges_dropped == row.n_edges
    assert 0 < row.n_edges_kept <= row.n_edges
    assert row.n_nodes_capped > 0  # the fixture graph actually truncates

    # reconstruct the sparsified edges exactly as the query does and
    # check subset + per-node degree bound
    from pyspark.sql import Window

    e = _copurchase_edges(spark, sf_dir)
    adj = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    w = Window.partitionBy("u").orderBy("v")
    half = (
        adj.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= DEG_CAP)
        .select("u", "v")
    )
    kept = (
        half.alias("a")
        .join(
            half.alias("b"),
            (F.col("a.u") == F.col("b.v")) & (F.col("a.v") == F.col("b.u")),
        )
        .where(F.col("a.u") < F.col("a.v"))
        .select(F.col("a.u").alias("pa"), F.col("a.v").alias("pb"))
    )
    assert kept.count() == row.n_edges_kept
    assert kept.join(e, ["pa", "pb"], "left_anti").count() == 0  # subset
    kept_adj = kept.select(F.col("pa").alias("u")).unionByName(
        kept.select(F.col("pb").alias("u"))
    )
    max_deg = kept_adj.groupBy("u").count().agg(F.max("count")).collect()[0][0]
    assert max_deg <= DEG_CAP


def test_star_cc_equals_pointer_jumping_hypothesis(spark):
    """Property (round 12): the large-star/small-star algorithm and the
    pointer-jumping label loop compute identical components on random
    graphs — chains, cliques-with-tails, self-contained stars, isolated
    pairs all arise across examples."""
    import random

    from openmaptiles_zh_modifier_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(20240816)
    for _ in range(4):
        n = rng.randrange(10, 80)
        m = rng.randrange(5, 70)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        df = spark.createDataFrame(edges, "a long, b long")
        got_pj = {
            r.node: r.component for r in connected_components(df).collect()
        }
        got_st = {
            r.node: r.component
            for r in connected_components_star(df).collect()
        }
        assert got_pj == got_st


class TestDriverFixpointsMatchSparkFold:
    """The textrank/pagerank driver loops fold contributions in
    ascending-source order with plain double ops — assert the Python
    fold equals Spark's array_sort(collect_list)+aggregate fold on a
    small random graph, bit-for-bit."""

    def test_fold_parity(self, spark):
        import random

        rng = random.Random(13)
        edges = [
            (d, s, float(rng.randint(1, 9)), float(rng.randint(10, 99)))
            for d in range(6)
            for s in rng.sample(range(20), 5)
        ]
        ranks = {s: rng.random() for _, s, _, _ in edges}
        # python fold (the q_textrank_keywords / q_pagerank_nations loop)
        py = {}
        for d, s, w, ow in sorted(edges):
            py[d] = py.get(d, 0.0) + ranks[s] * w / ow
        # spark fold (the formulation the loop replaced)
        e = spark.createDataFrame(
            edges, "dst int, src int, w8 double, ow double"
        )
        r = spark.createDataFrame(
            sorted(ranks.items()), "src int, r double"
        )
        got = {
            row.dst: row.s
            for row in e.join(r, "src")
            .select("dst", "src", (F.col("r") * F.col("w8") / F.col("ow")).alias("c"))
            .groupBy("dst")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("src", "c"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["c"],
                ).alias("s")
            )
            .collect()
        }
        assert got == py  # exact equality — identical IEEE op order


def test_textrank_invariants(spark):
    rows = QUERIES["q_textrank_keywords"](spark, SF).collect()
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    vals = [r.textrank for r in rows]
    assert vals == sorted(vals, reverse=True)
    for r in rows:
        assert 0.0 < r.textrank < 1.0
        assert " " not in r.word
