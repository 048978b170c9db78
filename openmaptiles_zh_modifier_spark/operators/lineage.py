"""Lineage truncation for iterative loops — localCheckpoint WITHOUT
inheriting the parent plan's size estimate.

Round-13 scale defect, caught by the 10x volume anchor
(tools/gen_skew_bench.py --x10) and diagnosed from a driver thread dump:
``Dataset.localCheckpoint`` cuts the execution lineage, but
``LogicalRDD.rewriteStatsAndConstraints`` ATTACHES the parent plan's
Catalyst size estimate to the new leaf. ``SizeInBytesOnlyStatsPlanVisitor``
estimates a join as the PRODUCT of its children's sizeInBytes (an
unbounded BigInt), so in a loop whose round derives the next state from
the previous state used TWICE (pointer-jumping connected components:
label-of-label self-join), the attached estimate is SQUARED every round
— its digit count doubles per round, and after enough rounds the driver
sits in BigInteger.multiplyToomCook3 for minutes per stats visit while
32 cores idle (observed: 33 CPU-minutes inside one localCheckpoint call
at 10x volume; the 3x run stayed under the threshold, which is exactly
why the 10x protocol exists).

``eager_checkpoint`` materializes through the normal
``Dataset.localCheckpoint`` (keeping its row-copy semantics), then
rebuilds the DataFrame as a FRESH LogicalRDD over the already-
checkpointed rows via ``SparkSession.internalCreateDataFrame`` — the
new leaf reports the session default sizeInBytes instead of the
inherited product, so per-round stats stay O(1) digits. Execution is
unchanged: the scan reads the same checkpointed partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _fresh_logical_rdd(cp: DataFrame) -> DataFrame:
    """Rebuild ``cp`` as a fresh LogicalRDD leaf with session-default
    stats (dropping the inherited, possibly astronomically
    over-estimated size product)."""
    spark = cp.sparkSession
    jdf = cp._jdf  # noqa: SLF001 — JVM handle, stable across 3.x/4.x
    jrdd = jdf.queryExecution().toRdd()
    fresh = spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
        jrdd, jdf.schema(), False
    )
    return DataFrame(fresh, spark)


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that does NOT propagate the parent plan's
    (possibly astronomically over-estimated) size statistics."""
    cp = df.localCheckpoint(eager=True)
    try:
        return _fresh_logical_rdd(cp)
    except Exception:
        # internal API moved: fall back to the plain checkpoint. Loops
        # still terminate; they just repay the stats tax.
        return cp


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` with the same fresh-stats leaf
    rebuild as :func:`eager_checkpoint` (round 14).

    It is NOT lazy under adaptive query execution, which is this
    session's default: ``localCheckpoint(eager=False)`` takes the plan's
    RDD, and building it makes AQE materialize every non-result
    (shuffle) stage of ``df`` at call time. Only the final result stage
    is deferred — the first action runs it and persists its blocks
    (MEMORY_AND_DISK). So a caller pays Spark jobs at construction for
    every exchange in ``df`` (measured: q_bfs_reachability 13 jobs,
    q_cow_merge_dv 5 jobs), and tools/type_audit.py's zero-jobs-at-
    construction gate does not hold for its callers.

    What it does buy: the retained logical lineage is truncated to a
    LogicalRDD leaf with session-default stats (so an iterative loop
    neither grows its plan nor squares its size estimate), and later
    references — including several references inside the SAME action,
    e.g. a loop state read by both the next round and a per-round
    census leg — read the persisted blocks instead of recomputing.
    Nothing survives the returned frame: the RDD is per-call and the
    ContextCleaner unpersists it when the frame is dropped, so a repeat
    timed run rebuilds from the parquet inputs."""
    cp = df.localCheckpoint(eager=False)
    try:
        return _fresh_logical_rdd(cp)
    except Exception:
        return cp
