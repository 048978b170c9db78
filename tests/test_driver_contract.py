"""The driver contract of ``__spark_entry__``: every registered query is
served exactly once, the gate window leads the order, and every oracle is
a complete DuckDB statement for a served query. Import-only: no Spark
session is started."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402
from openmaptiles_zh_modifier_spark.registry import QUERIES  # noqa: E402

# a str.format-style placeholder an oracle builder forgot to fill
_PLACEHOLDER = re.compile(r"\{[A-Z][A-Z0-9_]*\}")


def test_queries_serve_each_registered_name_once():
    names = list(entry.queries())
    assert len(names) == len(QUERIES)
    assert set(names) == set(QUERIES)


def test_gate_window_leads_the_order():
    window = entry._R14_WINDOW
    assert len(window) == len(set(window)) == 50
    assert list(entry.queries())[:50] == window


def test_oracles_belong_to_served_queries():
    assert set(entry.oracle_sql()) <= set(entry.queries())


def test_oracles_have_no_unresolved_placeholders():
    unresolved = {
        name: _PLACEHOLDER.findall(sql)
        for name, sql in entry.oracle_sql().items()
        if _PLACEHOLDER.search(sql)
    }
    assert not unresolved
