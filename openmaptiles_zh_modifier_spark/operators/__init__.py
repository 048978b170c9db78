"""Operator layer: composable DataFrame→DataFrame pipeline pieces."""

from openmaptiles_zh_modifier_spark.operators.zh_backfill import (
    backfill_table,
    updates_frame,
)

__all__ = ["backfill_table", "updates_frame"]
