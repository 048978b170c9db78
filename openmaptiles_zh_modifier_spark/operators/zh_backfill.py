"""The zh-Hans / zh-Hant back-fill pipeline — the reference's one real query.

Semantics re-expressed from OMTZHModifier.java (SURVEY.md §2/§3):

  scan → project(P1) → filter(P2 server + P4 residual) → normalize(P5)
       → derive(F5 coalesce cascade) → changed-rows(F6) → write-back(F7/S5)

as ONE lazy DataFrame plan per table. The reference's manual id-range
batching loop (OMTZHModifier.java:130-137) disappears: file splits / JDBC
partitioning replace it, and the whole derivation is a shuffle-free,
map-side-only transform — at 100 TB this runs as a single stage of
whole-stage-codegen tasks with zero exchange.

Behavioral quirk B1 (SURVEY.md §2.10): the reference's SELECT reads the
existing Hant value from the misspelled key ``names:zh-Hant``
(OMTZHModifier.java:135-136) while its WHERE and UPDATE use the correct
``name:zh-Hant`` — so an existing Hant value is effectively never seen and
gets regenerated whenever the row qualifies. ``compat_names_typo=True``
reproduces that faithfully; the default implements the evident intent.

Quirk B7 (verified against OMTZHModifier.java:138 + :220-225): the
server-side WHERE tests the RAW hstore values with ``IS NULL``, while the
empty-string→missing normalization happens client-side only for rows that
already passed. Consequence: a row whose hans and hant are BOTH ``''``
never qualifies and is never updated; a row with one ``''`` and one NULL
qualifies (via the NULL) and then has both regenerated. We reproduce this
exactly in both compat modes — the filter uses raw ``isNull()``, the
derivation normalizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.zh import (
    CURATED,
    is_han,
    nullif_empty,
    opencc_tables_from_env,
    to_simplified,
    to_traditional,
)


KEY_ZH = "name:zh"
KEY_HANS = "name:zh-Hans"
KEY_HANT = "name:zh-Hant"
KEY_HANT_TYPO = "names:zh-Hant"  # B1: the reference's misspelled read key


def _predicate_exprs(compat_names_typo: bool) -> dict[str, Column]:
    """The dictionary-free part of the derivation: the zh source, the
    old variants, and the predicates that decide which rows the
    write-back changes (``applies``)."""
    name = F.col("name")
    tags = F.col("tags")
    hant_read_key = KEY_HANT_TYPO if compat_names_typo else KEY_HANT

    # P4 residual: zh source = tags['name:zh'], else name when it is a
    # non-empty Han-script string (OMTZHModifier.java:209-218). Map-key
    # extraction (element_at) is hstore ``->``.
    name_usable = name.isNotNull() & (name != F.lit("")) & is_han(name)
    zh = F.coalesce(tags[KEY_ZH], F.when(name_usable, name))

    # P5: '' and NULL are the same "missing" state (:220-225).
    hans_old = nullif_empty(tags[KEY_HANS])
    hant_old = nullif_empty(tags[hant_read_key])

    # Server-side WHERE (P2, OMTZHModifier.java:137-138): has some name
    # source AND at least one zh variant missing. Uses the CORRECT keys
    # even in typo mode — the reference's WHERE is spelled right; only
    # the SELECT is not.
    qualifies = (name.isNotNull() | tags[KEY_ZH].isNotNull()) & (
        tags[KEY_HANT].isNull() | tags[KEY_HANS].isNull()
    )
    # F6 changed-row flag (:207,237-244).
    needs_update = hans_old.isNull() | hant_old.isNull()
    return {
        "qualifies": qualifies,
        "zh": zh,
        "hans_old": hans_old,
        "hant_old": hant_old,
        "needs_update": needs_update,
        # the update predicate: the rows the write-back changes
        "applies": qualifies & zh.isNotNull() & needs_update,
    }


def _zh_exprs(compat_names_typo: bool, tables) -> dict[str, Column]:
    """The back-fill derivation, spelled once: named column expressions
    over ``name`` / ``tags`` that every public form below selects from.

    ``tables`` resolves here: :data:`CURATED` forces the curated
    dictionaries, ``None`` defers to env ``SPARK_GRAFT_OPENCC_DIR``
    (ingested OpenCC dictionaries — the deployment path to full
    dictionary parity, VERDICT r11 #3; unset = curated gate path), and a
    :class:`ZhTables` is used as given.
    """
    tables = (
        None
        if tables is CURATED
        else (tables if tables is not None else opencc_tables_from_env())
    )
    e = _predicate_exprs(compat_names_typo)
    tags = F.col("tags")

    # F5 coalesce cascade (:227-235).
    hans = F.coalesce(e["hans_old"], to_simplified(e["zh"], tables))
    hant = F.coalesce(e["hant_old"], to_traditional(e["zh"], tables))
    return {
        **e,
        "hans": hans,
        "hant": hant,
        # F7: hstore ``||`` — LAST_WIN map_concat, right operand wins.
        "new_tags": F.map_concat(
            F.coalesce(tags, F.create_map().cast("map<string,string>")),
            F.create_map(F.lit(KEY_HANS), hans, F.lit(KEY_HANT), hant),
        ),
    }


def derive_zh_columns(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """Project + filter + derive. Returns
    ``(id_field, name, zh, hans_old, hant_old, hans, hant, needs_update)``
    for rows that pass the server-side filter AND have a usable zh source.

    Pure column expressions — Catalyst pushes the filter into the scan and
    prunes the projection to exactly (id_field, name, tags). ``tables``
    as in :func:`_zh_exprs`.
    """
    e = _zh_exprs(compat_names_typo, tables)
    return (
        df.where(e["qualifies"])
        .where(e["zh"].isNotNull())
        .select(
            F.col(id_field),
            F.col("name").alias("name"),
            *(
                e[c].alias(c)
                for c in (
                    "zh", "hans_old", "hant_old", "hans", "hant",
                    "needs_update",
                )
            ),
        )
    )


def updates_frame(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """The changed-rows frame ``(id_field, hans, hant)`` — the engine's
    equivalent of the reference's List<ChineseValues> per batch
    (OMTZHModifier.java:140-152), but computed distributed and lazy."""
    e = _zh_exprs(compat_names_typo, tables)
    return df.where(e["applies"]).select(
        F.col(id_field), e["hans"].alias("hans"), e["hant"].alias("hant")
    )


def updates_frame_with_tags(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """Changed-rows frame ``(id_field, hans, hant, new_tags_map)`` computed
    in ONE projection over ONE scan — for sinks that must write the full
    post-update tags value (the JDBC staging path, the cow merge).
    Deliberately NOT a join of :func:`updates_frame` back onto the source:
    over a live JDBC source, two scans are two snapshots, and pairing
    hans/hant from one snapshot with tags from another silently loses
    concurrent writes."""
    e = _zh_exprs(compat_names_typo, tables)
    return df.where(e["applies"]).select(
        F.col(id_field),
        e["hans"].alias("hans"),
        e["hant"].alias("hant"),
        e["new_tags"].alias("new_tags_map"),
    )


def backfill_table(
    df: DataFrame,
    id_field: str = "id",
    compat_names_typo: bool = False,
    tables=None,
) -> DataFrame:
    """Full-table rewrite form of the write-back (S5 option b).

    Computes the derivation inline and conditionally concatenates the two
    keys onto ``tags`` (F7; LAST_WIN gives hstore ``||`` right-wins
    semantics). NO JOIN and NO SHUFFLE: the update is recomputed where it
    applies, which at lake scale beats materializing an updates frame and
    joining it back. Every other column is passed through untouched.
    """
    e = _zh_exprs(compat_names_typo, tables)
    return df.withColumn(
        "tags", F.when(e["applies"], e["new_tags"]).otherwise(F.col("tags"))
    )


def backfill_counts(compat_names_typo: bool = False) -> tuple[Column, Column]:
    """Aggregates ``(n_updated, n_rows)`` over a SOURCE frame: the rows
    :func:`backfill_table` changes, and all rows. Evaluate them over the
    frame before the rewrite (afterwards the changed rows no longer
    qualify), e.g. as an ``Observation`` on the frame being written.
    The update predicate does not read the dictionaries."""
    applies = _predicate_exprs(compat_names_typo)["applies"]
    return (
        F.count_if(applies).alias("n_updated"),
        F.count(F.lit(1)).alias("n_rows"),
    )
