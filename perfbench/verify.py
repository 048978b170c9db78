"""Output checks for the back-fill workloads, run outside the timed windows.

The expected result comes from a DuckDB twin of the back-fill over the
generated input: the same qualification (raw ``IS NULL``, quirk B7), the
same zh source cascade and the engine's own ``to_simplified_sql`` /
``to_traditional_sql`` conversion chains. Written output is read back
with DuckDB straight from its parquet files, never through Spark, and
compared by order-insensitive fingerprints:

- ``zh``: row count and the sum of ``hash(key, hans, hant)``;
- ``other``: the sum of ``hash(key, name, entries)`` where ``entries``
  are the sorted tag entries other than the two written zh keys, so a
  lost or altered unrelated tag (or name) fails the check.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from openmaptiles_zh_modifier_spark.functions.zh import (
    HAN_REGEX_RE2,
    to_simplified_sql,
    to_traditional_sql,
)

_HANS = "element_at(tags, 'name:zh-Hans')[1]"
_HANT = "element_at(tags, 'name:zh-Hant')[1]"

_EXPECTED_SQL = f"""
WITH src AS (
  SELECT @KEY@ AS k, name,
         element_at(tags, 'name:zh')[1] AS zh_tag,
         {_HANS} AS hans_tag,
         {_HANT} AS hant_tag
  FROM @REL@
),
d AS (
  SELECT *,
         COALESCE(zh_tag,
                  CASE WHEN name IS NOT NULL AND name <> ''
                            AND regexp_matches(name, '{HAN_REGEX_RE2}')
                       THEN name END) AS zh,
         NULLIF(hans_tag, '') AS hans_old,
         NULLIF(hant_tag, '') AS hant_old
  FROM src
),
e AS (
  SELECT *,
         (name IS NOT NULL OR zh_tag IS NOT NULL)
         AND (hans_tag IS NULL OR hant_tag IS NULL)
         AND zh IS NOT NULL
         AND (hans_old IS NULL OR hant_old IS NULL) AS upd
  FROM d
)
SELECT k, hans_tag, hant_tag,
       COALESCE(hans_old, {to_simplified_sql('zh')}) AS hans,
       COALESCE(hant_old, {to_traditional_sql('zh')}) AS hant
FROM e
WHERE upd
"""

_ZH_PRINT_SQL = """
SELECT count(*), coalesce(sum(hash(k, hans, hant)), 0),
       count(*) FILTER (WHERE hans IS NOT NULL AND hant IS NOT NULL)
FROM ({q})
"""

_OTHER_PRINT_SQL = """
SELECT coalesce(sum(hash({key}, name, list_sort(list_filter(
         map_entries(tags),
         e -> e.key NOT IN ('name:zh-Hans', 'name:zh-Hant'))))), 0)
FROM {rel}
"""


@dataclass(frozen=True)
class Fingerprint:
    rows: int
    zh_hash: int
    both_keys: int  # rows carrying both zh keys
    other_hash: int


@dataclass(frozen=True)
class Expected:
    before: Fingerprint  # the input, unchanged
    after: Fingerprint  # the input after the back-fill
    updated: int


def _files_rel(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}])"


def _fingerprint(con: duckdb.DuckDBPyConnection, rel: str, key: str) -> Fingerprint:
    zh_q = f"SELECT {key} AS k, {_HANS} AS hans, {_HANT} AS hant FROM {rel}"
    rows, zh_hash, both = con.execute(_ZH_PRINT_SQL.format(q=zh_q)).fetchone()
    (other,) = con.execute(_OTHER_PRINT_SQL.format(key=key, rel=rel)).fetchone()
    return Fingerprint(int(rows), int(zh_hash), int(both), int(other))


def expected(files: list[str], key: str) -> Expected:
    """Fingerprints of the table in ``files`` before and after the back-fill, computed
    by the DuckDB twin. The twin converts only the rows it updates; the
    sums are additive, so the after-print is the before-print with those
    rows' old terms swapped for their new ones."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        rel = _files_rel(files)
        con.execute(
            "CREATE TEMP TABLE twin AS "
            + _EXPECTED_SQL.replace("@KEY@", key).replace("@REL@", rel)
        )
        before = _fingerprint(con, rel, key)
        _n, old_hash, old_both = con.execute(
            _ZH_PRINT_SQL.format(q="SELECT k, hans_tag AS hans, hant_tag AS hant FROM twin")
        ).fetchone()
        updated, new_hash, new_both = con.execute(
            _ZH_PRINT_SQL.format(q="SELECT k, hans, hant FROM twin")
        ).fetchone()
        after = Fingerprint(
            before.rows,
            before.zh_hash - int(old_hash) + int(new_hash),
            before.both_keys - int(old_both) + int(new_both),
            before.other_hash,
        )
        return Expected(before, after, int(updated))
    finally:
        con.close()


def fingerprint_files(files: list[str], key: str) -> Fingerprint:
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        return _fingerprint(con, _files_rel(files), key)
    finally:
        con.close()


def count_rows(files: list[str]) -> int:
    con = duckdb.connect()
    try:
        return int(con.execute(f"SELECT count(*) FROM {_files_rel(files)}").fetchone()[0])
    finally:
        con.close()
