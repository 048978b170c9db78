"""maybe_salt_join guard tests (VERDICT r7 #7): the skew audit and the
salted join wired into one measure→decide→join loop, property-tested for
output identity on BOTH branches."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.salted import (
    key_skew_stats,
    maybe_salt_join,
    salted_join,
)


def _uniform(spark):
    fact = spark.range(0, 400).select(
        (F.col("id") % 40).alias("k"), F.col("id").alias("row_id")
    )
    dim = spark.range(0, 40).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("v")
    )
    return fact, dim


def _hot(spark):
    # one celebrity key owns 90% of the fact side
    fact = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(7))
        .otherwise(F.col("id") % 40)
        .alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.range(0, 40).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("v")
    )
    return fact, dim


def _rows(df):
    return sorted((r.k, r.row_id, r.v) for r in df.select("k", "row_id", "v").collect())


def test_guard_skips_salting_on_uniform_keys(spark):
    fact, dim = _uniform(spark)
    out, salted = maybe_salt_join(fact, dim, on="k", tiebreak="row_id")
    assert salted is False
    assert _rows(out) == _rows(fact.join(dim, "k"))


def test_guard_salts_on_hot_key(spark):
    fact, dim = _hot(spark)
    out, salted = maybe_salt_join(fact, dim, on="k", tiebreak="row_id")
    assert salted is True
    # output identity: the salted plan is pure physical rewiring
    assert _rows(out) == _rows(fact.join(dim, "k"))
    assert _rows(out) == _rows(salted_join(fact, dim, on="k", tiebreak="row_id"))


def test_guard_branches_are_forceable_and_identical(spark):
    fact, dim = _uniform(spark)
    plain_rows = _rows(fact.join(dim, "k"))
    # skew_factor=0 forces the salted branch even on uniform data
    forced, salted = maybe_salt_join(
        fact, dim, on="k", tiebreak="row_id", skew_factor=0.0
    )
    assert salted is True and _rows(forced) == plain_rows
    # a huge factor forces the plain branch even on hot data
    hot_fact, hot_dim = _hot(spark)
    plain, salted2 = maybe_salt_join(
        hot_fact, hot_dim, on="k", tiebreak="row_id", skew_factor=1e9
    )
    assert salted2 is False
    assert _rows(plain) == _rows(hot_fact.join(hot_dim, "k"))


def test_key_skew_stats_shape(spark):
    fact, _ = _hot(spark)
    s = key_skew_stats(fact, "k")
    assert s.n_rows == 1000 and s.max_f >= 900 and s.n_keys >= 1


def test_guard_handles_empty_input(spark):
    fact, dim = _uniform(spark)
    empty = fact.where(F.lit(False))
    out, salted = maybe_salt_join(empty, dim, on="k", tiebreak="row_id")
    assert salted is False and out.count() == 0


def test_skew_stats_memo_is_session_scoped_and_evictable(spark):
    from openmaptiles_zh_modifier_spark import registry

    fact, _ = _hot(spark)
    registry.clear_frame_cache()
    key_skew_stats(fact, "k")
    app_id = spark.sparkContext.applicationId
    # memo keyed on the stable applicationId, never on id(session)
    assert list(registry._SESSION_MEMO) == [app_id]
    stats = [
        k for k in registry._SESSION_MEMO[app_id]
        if isinstance(k, tuple) and k[0] == "skew_stats"
    ]
    assert len(stats) == 1
    # eviction hook for post-rewrite staleness
    registry.clear_frame_cache()
    assert app_id not in registry._SESSION_MEMO


def test_skew_stats_memo_drops_stopped_sessions(spark):
    # A new applicationId (getOrCreate restart) must not
    # leak the previous session's memo — one live SparkContext per
    # process means any OTHER app id is a stopped session.
    from openmaptiles_zh_modifier_spark import registry

    fact, _ = _hot(spark)
    registry.clear_frame_cache()
    registry._SESSION_MEMO["app-stopped-123"] = {("x",): (object(), None)}
    key_skew_stats(fact, "k")
    assert "app-stopped-123" not in registry._SESSION_MEMO
    assert spark.sparkContext.applicationId in registry._SESSION_MEMO
