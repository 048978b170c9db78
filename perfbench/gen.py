"""Seeded OSM-shaped input generator for the back-fill benchmark.

Written with pyarrow and numpy only, in one process, never through Spark,
so no change to how the engine executes can alter the input bytes: the
same seed and parameters always give byte-identical parquet files. Names
are drawn from the curated vocabulary in ``functions/zh``, so an edit to
that vocabulary does change them.

Every generated table has the columns the back-fill reads: a key
(``id`` and/or ``osm_id``), ``name`` and a ``tags`` map. Names mix
traditional, simplified and mixed-script Han (built from the engine's
curated conversion vocabulary), Latin, ``''`` and NULL. Each ``tags`` map
holds 3-8 unrelated keys plus the zh keys in one of the B7 states (absent,
``''`` or a value for each of ``name:zh-Hans`` / ``name:zh-Hant``), and a
share of rows carries ``name:zh``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openmaptiles_zh_modifier_spark.functions import zh

KEY_ZH = "name:zh"
KEY_HANS = "name:zh-Hans"
KEY_HANT = "name:zh-Hant"

ROW_GROUP_SIZE = 8192

# name kinds, in the order their shares are drawn
TRAD, SIMP, MIXED, LATIN, EMPTY, NULL = range(6)
HAN_KINDS = (TRAD, SIMP, MIXED)

_TRAD_WORDS = sorted({t for t, _s in zh.T2S_PHRASES} | {t for _s, t in zh.S2T_PHRASES})
_SIMP_WORDS = sorted({s for _t, s in zh.T2S_PHRASES} | {s for s, _t in zh.S2T_PHRASES})
_TRAD_SUFFIX = ["路", "站", "公園", "廣場", "學校", "車站", "醫院", "大廈"]
_SIMP_SUFFIX = ["路", "站", "公园", "广场", "学校", "车站", "医院", "大厦"]
_LATIN = ["Berlin", "Main Street", "Central Park", "Taipei", "Harbour Road",
          "Station", "Market", "Old Town", "Riverside", "Hill"]
_OTHER_KEYS = ["highway", "amenity", "name:en", "ref", "surface", "website",
               "opening_hours", "addr:street", "building", "source", "lanes",
               "operator"]

# B7 states of one zh key: absent, '' or a value
ABSENT, BLANK, VALUE = 0, 1, 2
# (hans state, hant state) pairs and their weights
_ZH_STATES = [
    ((ABSENT, ABSENT), 0.70),
    ((BLANK, ABSENT), 0.05),
    ((ABSENT, BLANK), 0.05),
    ((BLANK, BLANK), 0.05),
    ((VALUE, VALUE), 0.10),
    ((VALUE, ABSENT), 0.05),
]


@dataclass(frozen=True)
class Shape:
    """What a generated table looks like.

    ``han_share`` is the share of rows whose name contains Han script
    (split evenly over traditional, simplified and mixed-script names).
    ``empty_share`` and ``null_share`` are the shares of ``''`` and NULL
    names, and Latin names fill the rest. ``zh_tag_share`` is the share
    of rows carrying ``name:zh``. With ``regions`` set, a ``region``
    column spreads rows over that many regions, and every Han row lands in
    one of the first ``han_regions`` of them (partition clustering).
    """

    rows: int
    han_share: float
    empty_share: float = 0.03
    null_share: float = 0.03
    zh_tag_share: float = 0.05
    regions: int | None = None
    han_regions: int | None = None


def _counts(n: int, shares: list[float]) -> list[int]:
    """Exact per-kind counts that sum to ``n`` (largest remainder)."""
    raw = np.array(shares, dtype=float) * n
    out = np.floor(raw).astype(int)
    short = n - int(out.sum())
    for i in np.argsort(-(raw - out), kind="stable")[:short]:
        out[i] += 1
    return [int(c) for c in out]


def _han_name(rng: np.random.Generator, kind: int) -> str:
    words, suffix = (
        (_SIMP_WORDS, _SIMP_SUFFIX) if kind == SIMP else (_TRAD_WORDS, _TRAD_SUFFIX)
    )
    parts = [words[i] for i in rng.integers(0, len(words), rng.integers(1, 3))]
    name = "".join(parts) + suffix[rng.integers(0, len(suffix))]
    if kind == MIXED:
        name = f"{_LATIN[rng.integers(0, len(_LATIN))]} {name}"
    return name


def _names(rng: np.random.Generator, shape: Shape) -> tuple[list, np.ndarray]:
    han_each = shape.han_share / 3
    latin = 1.0 - shape.han_share - shape.empty_share - shape.null_share
    if latin < 0:
        raise ValueError("han_share + empty_share + null_share exceeds 1")
    counts = _counts(
        shape.rows,
        [han_each, han_each, han_each, latin, shape.empty_share, shape.null_share],
    )
    kinds = rng.permutation(np.repeat(np.arange(6), counts))
    names: list[str | None] = []
    for k in kinds:
        if k in HAN_KINDS:
            names.append(_han_name(rng, int(k)))
        elif k == LATIN:
            names.append(_LATIN[rng.integers(0, len(_LATIN))])
        elif k == EMPTY:
            names.append("")
        else:
            names.append(None)
    return names, kinds


_OTHER_VALUES = np.array([f"v{i}" for i in range(1000)], dtype=object)
_ALL_KEYS = np.array(_OTHER_KEYS + [KEY_ZH, KEY_HANS, KEY_HANT], dtype=object)


def _tags(rng: np.random.Generator, shape: Shape) -> pa.Array:
    """The tags maps: 3-8 distinct unrelated keys in random order, then
    ``name:zh`` (for ``zh_tag_share`` of rows) and the two zh keys in
    their drawn B7 states. Built as one slot matrix per row, masked and
    flattened row-major into a MapArray."""
    n, n_other = shape.rows, len(_OTHER_KEYS)
    order = np.argsort(rng.random((n, n_other)), axis=1)
    other_mask = np.arange(n_other) < rng.integers(3, 9, size=n)[:, None]
    other_vals = _OTHER_VALUES[rng.integers(0, 1000, size=(n, n_other))]
    has_zh = rng.random(n) < shape.zh_tag_share
    state = rng.choice(len(_ZH_STATES), size=n, p=[w for _s, w in _ZH_STATES])
    hans_state = np.array([s[0] for s, _w in _ZH_STATES])[state]
    hant_state = np.array([s[1] for s, _w in _ZH_STATES])[state]

    def zh_values(st: np.ndarray, kind: int) -> np.ndarray:
        out = np.full(n, "", dtype=object)
        hit = np.flatnonzero(st == VALUE)
        out[hit] = [_han_name(rng, kind) for _ in hit]
        return out

    zh_vals = np.full(n, None, dtype=object)
    zh_vals[has_zh] = [_han_name(rng, TRAD) for _ in range(int(has_zh.sum()))]
    slot_keys = np.concatenate(
        [order, np.tile(np.arange(n_other, n_other + 3), (n, 1))], axis=1
    )
    slot_vals = np.concatenate(
        [
            np.take_along_axis(other_vals, order, axis=1),
            zh_vals[:, None],
            zh_values(hans_state, SIMP)[:, None],
            zh_values(hant_state, TRAD)[:, None],
        ],
        axis=1,
    )
    mask = np.concatenate(
        [
            other_mask,
            has_zh[:, None],
            (hans_state != ABSENT)[:, None],
            (hant_state != ABSENT)[:, None],
        ],
        axis=1,
    )
    offsets = np.concatenate([[0], np.cumsum(mask.sum(axis=1))]).astype(np.int32)
    return pa.MapArray.from_arrays(
        pa.array(offsets),
        pa.array(_ALL_KEYS[slot_keys][mask], pa.string()),
        pa.array(slot_vals[mask], pa.string()),
    )


def _regions(rng: np.random.Generator, shape: Shape, kinds: np.ndarray) -> np.ndarray:
    han = np.isin(kinds, HAN_KINDS)
    out = rng.integers(0, shape.regions, size=shape.rows)
    out[han] = rng.integers(0, shape.han_regions, size=int(han.sum()))
    return out.astype(np.int32)


def make_table(seed: int, shape: Shape, keys: tuple[str, ...] = ("id",)) -> pa.Table:
    """One OSM-shaped table. ``keys`` names the key columns (``id``,
    ``osm_id`` or both); keys are unique within the table."""
    rng = np.random.default_rng(seed)
    names, kinds = _names(rng, shape)
    cols: dict[str, pa.Array] = {}
    base = np.arange(1, shape.rows + 1, dtype=np.int64)
    for k in keys:
        cols[k] = pa.array(base if k == "id" else base * 10 + 7)
    if shape.regions is not None:
        cols["region"] = pa.array(_regions(rng, shape, kinds))
    cols["name"] = pa.array(names, pa.string())
    cols["tags"] = _tags(rng, shape)
    return pa.table(cols)


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP_SIZE)


def write_table_dir(table: pa.Table, path: str, files: int) -> list[str]:
    """Write ``table`` as a directory of ``files`` equal part files (one
    scan task each) and return their paths."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    out = []
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        write_table(table.slice(i * step, step), part)
        out.append(part)
    return out


_HAN = re.compile("[\u3400-\u9fff\U00020000-\U0002ffff]")


def han_mask(table: pa.Table) -> np.ndarray:
    """Per row: does the name contain a Han character?"""
    return np.array([bool(s and _HAN.search(s)) for s in table.column("name").to_pylist()])


def realised_han_share(table: pa.Table) -> float:
    """Realised share of rows whose name contains a Han character."""
    return float(han_mask(table).mean())


# lake_dense: a regional extract shaped like Taiwan or China
LAKE_TABLES = {
    # table: (key columns, shape)
    "roads": (("id",), Shape(rows=1200, han_share=0.75)),
    "places": (("osm_id",), Shape(rows=800, han_share=0.70)),
    "pois": (("id", "osm_id"), Shape(rows=600, han_share=0.65)),
}
# part files per lake table, so a table scans as one task per Spark task slot
LAKE_FILES = 2
# a table without tags: the back-fill must skip it
LAKE_SKIPPED = "stats"
LAKE_SKIPPED_ROWS = 500

# cow_sparse: planet-shaped, ~2% Han names clustered in 2 of 20 regions
COW_SHAPE = Shape(rows=50_000, han_share=0.02, empty_share=0.02,
                  null_share=0.02, zh_tag_share=0.005, regions=20, han_regions=2)


def make_lake(seed: int, root: str) -> dict[str, list[str]]:
    """Write the lake under ``root``, each table a ``<name>.parquet``
    directory, and return the part files of each qualifying table."""
    os.makedirs(root, exist_ok=True)
    out = {}
    for i, (name, (keys, shape)) in enumerate(sorted(LAKE_TABLES.items())):
        t = make_table(seed * 101 + i, shape, keys)
        out[name] = write_table_dir(t, os.path.join(root, f"{name}.parquet"), LAKE_FILES)
    rng = np.random.default_rng(seed * 101 + len(LAKE_TABLES))
    skipped = pa.table({
        "osm_id": pa.array(np.arange(1, LAKE_SKIPPED_ROWS + 1, dtype=np.int64)),
        "name": pa.array([_LATIN[i] for i in rng.integers(0, len(_LATIN), LAKE_SKIPPED_ROWS)]),
        "population": pa.array(rng.integers(0, 10**6, LAKE_SKIPPED_ROWS)),
    })
    write_table_dir(skipped, os.path.join(root, f"{LAKE_SKIPPED}.parquet"), 1)
    return out


def make_cow_input(seed: int, path: str) -> pa.Table:
    """Write the cow_sparse base rows to ``path`` and return them."""
    t = make_table(seed * 101, COW_SHAPE, ("id",))
    write_table(t, path)
    return t
