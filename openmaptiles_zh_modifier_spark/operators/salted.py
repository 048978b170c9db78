"""Skew mitigation operators: deterministic key salting for joins and
aggregations.

AQE's skew-join handling (enabled in session.py) splits oversized
sort-merge partitions at runtime, but two shapes still need explicit
salting at 100 TB:

- a shuffled join whose hot key exceeds a single task even after AQE
  splitting (AQE cannot split the *build* side of a hash relation), and
- a high-cardinality-but-skewed aggregation where one group's rows all
  land on one reducer before the partial aggregate can shrink them.

Both operators here are *deterministic* (salt = ``pmod(xxhash64(tiebreak
column), n)``, never ``rand()``): re-running a stage after executor loss
must produce identical task outputs or Spark's retry model silently
duplicates/loses rows on the recompute path.

The reference has no joins at all (SURVEY.md §2.3,
OMTZHModifier.java:134-159); this is engine-extension surface for the
100 TB target.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: str,
    tiebreak: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join a skewed fact side with a (replicable) dim side.

    The skewed side gets a deterministic salt in [0, n_salt) derived from
    its ``tiebreak`` column (any column that varies within a hot key — a
    line number, event id, row id). The dim side is exploded n_salt times,
    so each (key, salt) pair joins exactly one dim replica: the hot key's
    rows spread over n_salt reducers instead of one. Cost: dim side is
    shuffled n_salt×, so this is for dim sides too big to broadcast but
    far smaller than the fact side — the classic mid-size-dimension gap.
    """
    salted_fact = skewed.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(tiebreak)), F.lit(n_salt)).cast("int")
    )
    replicated_dim = dim.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = salted_fact.join(replicated_dim, on=[on, SALT_COL], how=how)
    return out.drop(SALT_COL)


def key_skew_stats(df: DataFrame, key: str, sample_fraction: float | None = None):
    """One-row key-skew measurement for :func:`maybe_salt_join` — the
    operational half of q_skew_audit: count-per-key (map-side
    combinable), then a constant-width reduce to (n_keys, n_rows,
    max_f). The single collect() here is the documented bounded pattern:
    exactly one row crosses the driver, and the result is a physical-
    plan DECISION input, not data. At 100 TB pass ``sample_fraction``
    (a hot key visible at all is visible in a 1% sample) or feed a
    cached audit instead of re-scanning.

    The result is memoized per (session, input plan, key) in
    registry.session_memo: repeat plan constructions in one session
    reuse the measured stats instead of re-running the probe, which
    keeps queries() constructions lazy on a warm cache
    (tools/type_audit.py enforces that contract). The semanticHash only
    fingerprints the PLAN, not the files under it, so call
    registry.clear_frame_cache() after rewriting them."""
    from openmaptiles_zh_modifier_spark.registry import session_memo

    def probe():
        src = df.sample(sample_fraction, seed=7) if sample_fraction else df
        return (
            src.groupBy(key)
            .agg(F.count(F.lit(1)).alias("f"))
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("f").alias("n_rows"),
                F.max("f").alias("max_f"),
            )
            .collect()[0]
        )

    plan = df._jdf.queryExecution().analyzed().semanticHash()
    return session_memo(
        df.sparkSession, ("skew_stats", plan, key, sample_fraction), probe
    )


def maybe_salt_join(
    skewed: DataFrame,
    dim: DataFrame,
    on: str,
    tiebreak: str,
    n_salt: int = 8,
    how: str = "inner",
    skew_factor: float = 4.0,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, bool]:
    """The measure→decide→join loop q_skew_audit and salted_join imply:
    audit the fact side's key distribution, salt ONLY when the hottest
    key would overload a balanced task. Returns (plan, salted?).

    Decision rule: salt iff ``max_f > skew_factor * n_rows/partitions``
    — i.e. one key alone carries more than ``skew_factor``× a balanced
    reducer's share (the same shape as AQE's skewedPartitionFactor, but
    applied BEFORE the shuffle and effective on the build side AQE can't
    split). On uniform data this returns the plain join — salting an
    unskewed input costs a dim replication for nothing; on a hot-key
    input it returns the salted plan, whose output is identical by
    construction (property-tested both ways in tests/test_skew_guard.py).
    """
    spark = skewed.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    s = key_skew_stats(skewed, on, sample_fraction)
    if s.n_rows is None or s.max_f is None:
        return skewed.join(dim, on=on, how=how), False
    balanced = max(float(s.n_rows) / max(parts, 1), 1.0)
    if float(s.max_f) > skew_factor * balanced:
        return (
            salted_join(skewed, dim, on=on, tiebreak=tiebreak,
                        n_salt=n_salt, how=how),
            True,
        )
    return skewed.join(dim, on=on, how=how), False


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sums: list[str],
    tiebreak: str,
    n_salt: int = 8,
) -> DataFrame:
    """Two-phase skew-safe aggregation: count + per-column sums.

    Phase 1 aggregates on (keys + salt) — the hot group is split across
    n_salt reducers and collapses to n_salt rows. Phase 2 merges the
    partials on the true keys; its input is at most n_salt × |groups|
    rows, trivially balanced. Count merges as sum-of-counts; sums as
    sum-of-sums (min/max/avg extend the same way — avg as sum+count).

    Spark's own hash aggregate already does map-side partials, which
    handles *most* skew; explicit salting matters when the partial itself
    can't shrink the group (high-cardinality distinct-like payloads) or
    when spill pressure on the hot reducer dominates the stage.
    """
    partial = (
        df.withColumn(
            SALT_COL,
            F.pmod(F.xxhash64(F.col(tiebreak)), F.lit(n_salt)).cast("int"),
        )
        .groupBy(*keys, SALT_COL)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.sum(c).alias(f"__sum_{c}") for c in sums],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias("n"),
        *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sums],
    )
