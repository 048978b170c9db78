"""Delta-style ``MERGE INTO`` as a composition of DataFrame operators.

The reference's write-back is a keyed batched UPDATE (OMTZHModifier.java:
156-169) — update-only merge. Lakehouse pipelines additionally need the
3-clause row-level merge (WHEN MATCHED UPDATE / WHEN MATCHED AND cond
DELETE / WHEN NOT MATCHED INSERT). Spark-first shape: ONE full-outer
shuffle join on the merge key, then per-column conditional projection —
Catalyst sees a single Exchange on the key and the projection stays in
whole-stage codegen.

Scale notes (100 TB target):
- Full-outer joins cannot broadcast; the shuffle on the merge key is
  inherent. When the source is small AND no INSERT clause is needed,
  pass ``not_matched_insert=None`` — the operator downgrades to a LEFT
  join, which Spark CAN broadcast (source side), making update/delete
  merges exchange-free on the base.
- File-level pruning (only rewrite files containing touched keys) is the
  other half of Delta MERGE; ``operators.cow_table.cow_merge`` provides
  it at partition granularity and applies the row-level clauses through
  this operator.
- Skewed merge keys: pre-salt via ``operators.salted`` or rely on AQE
  skew-join splitting (enabled in session defaults).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_T_MARK = "__merge_t_present"
_S_MARK = "__merge_s_present"


def merge_into(
    base: DataFrame,
    source: DataFrame,
    on: str | list[str] | dict[str, str],
    matched_update: dict[str, Column] | None = None,
    matched_delete: Column | None = None,
    not_matched_insert: dict[str, Column] | None = None,
    validate_source_unique: bool = True,
) -> DataFrame:
    """Merge ``source`` into ``base``; returns a frame with ``base``'s
    schema (column set and order), like Delta's MERGE result table.

    ``on``: key column name(s) shared by both sides, or a
    ``{target_col: source_col}`` mapping when names differ.
    Clause expressions reference the two sides via the ``t``/``s``
    aliases (``F.col("t.c_acctbal")``, ``F.col("s.spent")``):

    - ``matched_update``: ``{target_col: expr}`` applied when the key
      exists on both sides (unlisted columns keep the base value).
    - ``matched_delete``: boolean expr; matched rows where it holds are
      dropped (evaluated BEFORE update, as in Delta clause ordering when
      the delete clause is listed first).
    - ``not_matched_insert``: ``{target_col: expr}`` for source-only
      keys (unlisted columns become NULL). ``None`` disables the insert
    branch entirely and plans a left join instead of full-outer.
    - ``validate_source_unique``: eagerly reject sources carrying more
      than one row per merge key (Delta's multiple-matches error).
    """
    key_pairs = _key_pairs(on)
    if validate_source_unique:
        _check_source_unique(base, source, key_pairs)

    t = base.withColumn(_T_MARK, F.lit(True)).alias("t")
    s = source.withColumn(_S_MARK, F.lit(True)).alias("s")
    cond = _key_cond(key_pairs)
    how = "full_outer" if not_matched_insert is not None else "left"
    j = t.join(s, cond, how)

    t_present = F.coalesce(F.col(f"t.{_T_MARK}"), F.lit(False))
    s_present = F.coalesce(F.col(f"s.{_S_MARK}"), F.lit(False))
    matched = t_present & s_present

    if matched_delete is not None:
        j = j.where(~(matched & F.coalesce(matched_delete, F.lit(False))))

    update = matched_update or {}
    insert = not_matched_insert or {}
    out_cols = []
    for field in base.schema.fields:
        if field.name == _T_MARK:
            continue
        kept = F.col(f"t.{field.name}")
        col = F.when(matched, update.get(field.name, kept)).when(t_present, kept)
        if not_matched_insert is not None:
            col = col.otherwise(
                insert.get(field.name, F.lit(None)).cast(field.dataType)
            )
        out_cols.append(col.alias(field.name))
    return j.select(*out_cols)


def _key_pairs(on) -> list[tuple[str, str]]:
    """Normalize ``on`` to [(target_col, source_col)]."""
    if isinstance(on, str):
        on = [on]
    return list(on.items()) if isinstance(on, dict) else [(k, k) for k in on]


def _key_cond(key_pairs) -> Column:
    """The ``t``/``s``-aliased equality join condition over the keys."""
    return reduce(
        Column.__and__,
        [F.col(f"t.{tc}") == F.col(f"s.{sc}") for tc, sc in key_pairs],
    )


def _check_source_unique(
    base: DataFrame, source: DataFrame, key_pairs
) -> None:
    """Delta MERGE contract: multiple source rows matching one TARGET
    row is an error, not a silent row-count fan-out. Faithful to Delta:
    duplicate source keys that match no target row are fine (both rows
    just INSERT), and NULL merge keys never match under equality, so
    only base-matching keys are checked. One eager semi-join +
    aggregation."""
    src_keys = [sc for _, sc in key_pairs]
    base_keys = base.select(*[F.col(tc).alias(sc) for tc, sc in key_pairs])
    dup = (
        source.join(base_keys, src_keys, "left_semi")
        .groupBy(*src_keys)
        .agg(F.count(F.lit(1)).alias("__merge_nsrc"))
        .where(F.col("__merge_nsrc") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "merge source has multiple rows for merge key "
            f"{tuple(dup[0])[:-1]} — MERGE requires at most one source "
            "row per matched target row (dedupe or pre-aggregate the "
            "source)"
        )
