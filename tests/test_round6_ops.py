"""Round-6 operator tests: space-saving heavy-hitter state (eviction
path + multi-batch exactness), k-core peel invariants, HITS sanity,
Poisson bootstrap properties, and link-prediction consistency.

The oracle gate pins cross-engine arithmetic; these tests cover the
paths the gate cannot see (eviction under a tiny capacity, multi-batch
state carry, algebraic invariants)."""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F


def _run_stream(df, output_mode: str):
    spark = df.sparkSession
    name = "hh" + uuid.uuid4().hex[:10]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="omt-hh-"))
        .start()
    )
    q.awaitTermination()
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    return spark.table(name), n_batches


def test_heavy_hitters_multibatch_exact(spark, sf_dir, tmp_path):
    """With capacity >= distinct users the summary is exact even across
    >= 3 micro-batches: the final emission equals the batch top-k."""
    from openmaptiles_zh_modifier_spark.streaming.events import (
        HH_TOPK,
        heavy_hitter_topk,
    )

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    src = str(tmp_path / "ev_split")
    df.repartition(4).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out, n_batches = _run_stream(heavy_hitter_topk(stream), "update")
    assert n_batches >= 3, f"only {n_batches} micro-batches — not a replay"

    from pyspark.sql import Window

    wmax = Window.partitionBy("event_type")
    final = (
        out.withColumn("__m", F.max("seq").over(wmax))
        .where(F.col("seq") == F.col("__m"))
        .select("event_type", "user_id", "n_events", "rk")
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    expected = (
        batch.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("rk", F.row_number().over(wrk).cast("int"))
        .where(F.col("rk") <= HH_TOPK)
        .select("event_type", "user_id", F.col("n_events").cast("long"), "rk")
    )
    got = {tuple(r) for r in final.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_heavy_hitters_eviction_bounds(spark, sf_dir, tmp_path, monkeypatch):
    """Capacity 4 forces evictions; space-saving guarantees every
    reported count OVERESTIMATES the true count by at most N/cap, and
    the top reported user per type is a true heavy hitter candidate
    (its true count >= reported - N/cap)."""
    import openmaptiles_zh_modifier_spark.streaming.events as se

    monkeypatch.setattr(se, "HH_CAP", 4)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    src = str(tmp_path / "ev_small")
    df.limit(400).coalesce(1).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out, _ = _run_stream(se.heavy_hitter_topk(stream), "update")
    true_counts = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in batch.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_per_type = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = out.collect()
    assert rows, "no heavy-hitter emissions"
    for r in rows:
        true = true_counts.get((r["event_type"], r["user_id"]), 0)
        err_bound = n_per_type[r["event_type"]] / 4
        assert r["n_events"] >= true, "space-saving must overestimate"
        assert r["n_events"] - true <= err_bound, (
            f"overestimate {r['n_events']} vs true {true} exceeds "
            f"N/cap bound {err_bound}"
        )


def test_kcore_trajectory_invariants(spark):
    """The peel trajectory is monotone non-increasing and the converged
    flag is consistent with the counts."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    rows = QUERIES["q_kcore"](spark, "/root/testdata/sf0.001").collect()
    counts = [r["n_nodes"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for prev, cur in zip(rows, rows[1:]):
        assert cur["converged"] == int(cur["n_nodes"] == prev["n_nodes"])


def test_hits_normalization_and_ranks(spark):
    """Scores are L1-normalized to ~HITS_SCALE per kind and ranks are a
    permutation."""
    from openmaptiles_zh_modifier_spark.queries_graph import HITS_SCALE
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    rows = QUERIES["q_hits_scores"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    # rounding each node to integer micro-units keeps the L1 mass within
    # n_nodes/2 units of the scale
    tol = len(rows)
    assert abs(sum(r["auth_micro"] for r in rows) - HITS_SCALE) <= tol
    assert abs(sum(r["hub_micro"] for r in rows) - HITS_SCALE) <= tol
    assert sorted(r["auth_rk"] for r in rows) == list(
        range(1, len(rows) + 1)
    )


def test_bootstrap_ci_brackets_point_mean(spark):
    """The ~97% Poisson-bootstrap interval must bracket the point mean
    on the fixture (64 replicates, well-behaved metric)."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    row = QUERIES["q_bootstrap_ci"](spark, "/root/testdata/sf0.001").first()
    assert row["boot_lo"] <= row["point_mean"] <= row["boot_hi"]
    assert row["boot_lo"] < row["boot_hi"]
    assert abs(row["boot_mean"] - row["point_mean"]) < (
        row["boot_hi"] - row["boot_lo"]
    )


def test_link_prediction_excludes_existing_edges(spark):
    """No predicted pair may already be an edge, and Jaccard is in
    (0, 1]."""
    from openmaptiles_zh_modifier_spark.queries_graph import (
        _copurchase_edges,
    )
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    preds = QUERIES["q_link_prediction"](spark, sf).collect()
    edges = {
        (r["pa"], r["pb"]) for r in _copurchase_edges(spark, sf).collect()
    }
    assert preds
    for r in preds:
        assert (r["u"], r["v"]) not in edges
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["common_nbrs"] >= 1


def test_balanced_shards_imbalance_bound(spark):
    """The serpentine deal must keep shard token totals tight: the
    max/min ratio stays under 1.05 on the fixture, and every doc is
    assigned exactly once."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    rows = QUERIES["q_balanced_shards"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 8
    assert all(r["imbalance_ratio"] < 1.05 for r in rows)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()


def test_kanonymity_generalization_reduces_exposure(spark):
    """Coarsening the quasi-identifier can only shrink (or keep) the
    number of exposed rows and classes."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    rows = {
        r["level"]: r
        for r in QUERIES["q_kanonymity"](spark, "/root/testdata/sf0.001").collect()
    }
    assert rows[1]["n_classes"] <= rows[0]["n_classes"]
    assert rows[1]["n_exposed_rows"] <= rows[0]["n_exposed_rows"]
