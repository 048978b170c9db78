"""Tests of the seeded input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def _digest(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    return out


def _lake_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _s, fs in os.walk(root) for f in fs
    )


def test_same_seed_gives_byte_identical_files(tmp_path):
    for run in ("a", "b"):
        gen.make_lake(7, str(tmp_path / run / "lake"))
        gen.make_cow_input(7, str(tmp_path / run / "cow.parquet"))
    a = _lake_files(str(tmp_path / "a"))
    b = _lake_files(str(tmp_path / "b"))
    assert [os.path.relpath(p, tmp_path / "a") for p in a] == [
        os.path.relpath(p, tmp_path / "b") for p in b
    ]
    assert _digest(a) == _digest(b)


def test_another_seed_gives_other_files(tmp_path):
    gen.make_cow_input(1, str(tmp_path / "one.parquet"))
    gen.make_cow_input(2, str(tmp_path / "two.parquet"))
    assert _digest([str(tmp_path / "one.parquet")]) != _digest([str(tmp_path / "two.parquet")])


def _tag_values(table: pa.Table, key: str) -> list:
    return [dict(m).get(key) for m in table.column("tags").to_pylist()]


@pytest.mark.parametrize(
    "shape",
    [gen.LAKE_TABLES["roads"][1], gen.COW_SHAPE],
    ids=["lake", "cow"],
)
def test_realised_shares_match_requested(shape):
    t = gen.make_table(3, shape)
    n = t.num_rows
    assert n == shape.rows
    names = t.column("name").to_pylist()
    # han, empty and null counts are exact (largest-remainder rounding)
    assert abs(gen.realised_han_share(t) - shape.han_share) <= 1 / n
    assert abs(names.count("") / n - shape.empty_share) <= 1 / n
    assert abs(names.count(None) / n - shape.null_share) <= 1 / n
    # drawn shares: within 4 standard errors
    zh = _tag_values(t, gen.KEY_ZH)
    p = shape.zh_tag_share
    assert abs(sum(v is not None for v in zh) / n - p) <= 4 * np.sqrt(p * (1 - p) / n)
    hans = _tag_values(t, gen.KEY_HANS)
    hant = _tag_values(t, gen.KEY_HANT)
    both_absent = sum(a is None and b is None for a, b in zip(hans, hant)) / n
    assert abs(both_absent - 0.70) <= 4 * np.sqrt(0.21 / n)


def test_tags_hold_three_to_eight_other_keys_and_each_b7_state():
    t = gen.make_table(5, gen.LAKE_TABLES["roads"][1])
    zh_keys = {gen.KEY_ZH, gen.KEY_HANS, gen.KEY_HANT}
    states = set()
    for m in t.column("tags").to_pylist():
        keys = [k for k, _v in m]
        assert len(keys) == len(set(keys))
        assert 3 <= len([k for k in keys if k not in zh_keys]) <= 8
        d = dict(m)
        states.add(tuple(
            "absent" if k not in d else ("blank" if d[k] == "" else "value")
            for k in (gen.KEY_HANS, gen.KEY_HANT)
        ))
    assert {("absent", "absent"), ("blank", "absent"), ("absent", "blank"),
            ("blank", "blank"), ("value", "value"), ("value", "absent")} <= states


def test_name_mix_has_every_kind():
    t = gen.make_table(9, gen.LAKE_TABLES["roads"][1])
    names = [s for s in t.column("name").to_pylist() if s]
    trad = set(gen._TRAD_SUFFIX) - set(gen._SIMP_SUFFIX)
    simp = set(gen._SIMP_SUFFIX) - set(gen._TRAD_SUFFIX)
    mixed = [s for s in names if " " in s and gen._HAN.search(s)]
    assert any(s.rsplit(" ", 1)[0] in gen._LATIN for s in mixed)
    assert any(any(s.endswith(x) for x in trad) for s in names)
    assert any(any(s.endswith(x) for x in simp) for s in names)
    assert any(s in gen._LATIN for s in names)


def test_han_rows_cluster_in_the_first_regions():
    shape = gen.COW_SHAPE
    t = gen.make_table(4, shape)
    han = gen.han_mask(t)
    region = t.column("region").to_numpy()
    assert region.min() >= 0 and region.max() < shape.regions
    assert set(region[han]) <= set(range(shape.han_regions))
    assert len(set(region[~han])) == shape.regions


def test_lake_tables_are_part_file_directories(tmp_path):
    files = gen.make_lake(1, str(tmp_path))
    assert sorted(files) == sorted(gen.LAKE_TABLES)
    for name, parts in files.items():
        assert len(parts) == gen.LAKE_FILES
        assert all(os.path.dirname(p) == str(tmp_path / f"{name}.parquet") for p in parts)
    assert os.path.isdir(tmp_path / f"{gen.LAKE_SKIPPED}.parquet")
