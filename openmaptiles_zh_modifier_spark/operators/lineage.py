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


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that does NOT propagate the parent plan's
    (possibly astronomically over-estimated) size statistics: ``df``'s
    stages run now, and the result is a fresh LogicalRDD leaf with
    session-default stats over the checkpointed rows."""
    cp = df.localCheckpoint(eager=True)
    spark = cp.sparkSession
    jdf = cp._jdf  # noqa: SLF001 — JVM handle, stable across 3.x/4.x
    try:
        fresh = spark._jsparkSession.internalCreateDataFrame(  # noqa: SLF001
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except Exception:
        # internal API moved: fall back to the plain checkpoint. Loops
        # still terminate; they just repay the stats tax.
        return cp
    return DataFrame(fresh, spark)
