"""Multi-table ACID transactions over cow tables — an Iceberg-style
CATALOG whose versioned pointer file is the single commit truth.

The reference has no table format at all (it UPDATEs PostGIS rows in
autocommit batches, OMTZHModifier.java:210-236); the cow format built
here (operators/cow_table.py) gives single-table ACID via one
create-if-absent link per manifest. This module closes the last format
delta the round-12 verdict named vs Delta/Iceberg: MULTI-table
transactions.
Delta has none (each table's log is its own truth); Iceberg's REST
catalog protocol does — a commit carries per-table *requirements*
(expected base snapshots) and *updates* (new snapshots), and the
catalog applies all-or-nothing. This is that model on a filesystem:

- A catalog manifest ``_catalog/cat-000N.json`` maps table name ->
  (root, pinned manifest version). Publication uses the SAME
  create-if-absent link (``_publish_json``) as table manifests, so
  exactly one concurrent writer can create a given catalog version.
- Table-level mutations (cow_delete / cow_append / cow_merge / ...)
  are STAGING from the catalog's point of view: they publish table
  manifests, but a catalog reader never sees a version no catalog
  manifest pins. Crash after staging, before the catalog commit ->
  both tables' staged versions are invisible; atomicity across tables
  is exactly the atomicity of one catalog pointer write.
- Optimistic concurrency is per TOUCHED table (Iceberg's
  assert-ref-snapshot-id requirement): a commit declares the base pin
  it built each update on; it is rejected iff some OTHER committed
  transaction moved one of those pins in between. Transactions
  touching disjoint tables interleave freely — the loser of the
  catalog-version CAS revalidates against the new catalog and retries.

Snapshot isolation for readers: resolve every table through ONE
catalog version (``catalog_read(..., catalog_version=n)``) and you get
a cross-table-consistent view — the reason a catalog exists at all.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    CowConflictError,
    _latest_version,
    _list_versions,
    _manifest_path,
    _publish_json,
    cow_read,
)

_CAT_DIR = "_catalog"


def _cat_path(cat_root: str, version: int) -> str:
    return os.path.join(cat_root, _CAT_DIR, f"cat-{version:04d}.json")


def catalog_latest(cat_root: str) -> int:
    """Highest committed catalog version (scan, not a pointer file —
    the set of committed versions IS the directory listing, and the
    CAS guarantees it has no holes created by losers)."""
    try:
        versions = _list_versions(os.path.join(cat_root, _CAT_DIR), "cat-")
    except FileNotFoundError:
        versions = []
    if not versions:
        raise FileNotFoundError(f"no catalog at {cat_root}")
    return versions[-1]


def catalog_manifest(cat_root: str, version: int | None = None) -> dict:
    if version is None:
        version = catalog_latest(cat_root)
    with open(_cat_path(cat_root, version)) as f:
        return json.load(f)


def _publish(cat_root: str, manifest: dict) -> None:
    """Publish the catalog version with the cow manifest protocol
    (``_publish_json``): exactly one concurrent writer creates it."""
    _publish_json(
        _cat_path(cat_root, manifest["version"]),
        manifest,
        f"catalog version {manifest['version']}",
    )


def catalog_create(cat_root: str, tables: dict[str, str]) -> int:
    """Create catalog v1 pinning each table at its CURRENT latest
    manifest version. ``tables`` maps logical name -> cow table root."""
    pins = {}
    for name, troot in tables.items():
        pins[name] = {"root": os.path.abspath(troot),
                      "version": _latest_version(troot)}
    _publish(cat_root, {"version": 1, "tables": pins})
    return 1


def catalog_commit(
    cat_root: str,
    updates: dict[str, int],
    expected: dict[str, int],
    max_retries: int = 10,
) -> int:
    """Atomically repin ``updates`` (table name -> new manifest
    version); all-or-nothing across every named table.

    ``expected`` carries, per updated table, the pin the transaction
    based its staged mutations on (read it from the catalog manifest
    before staging). Commit is REJECTED with CowConflictError iff the
    current catalog pins one of the updated tables at a version other
    than ``expected`` — another committed transaction moved it, and
    the staged chain no longer attaches to the published state. Tables
    NOT in ``updates`` carry forward from the CURRENT latest (not from
    the transaction's base), so disjoint-table transactions serialize
    without conflict: the CAS loser revalidates and retries
    internally, up to ``max_retries`` catalog movements."""
    unknown = set(updates) - set(expected)
    if unknown:
        raise ValueError(f"updates without expected base pins: {sorted(unknown)}")
    for _ in range(max_retries):
        cur = catalog_manifest(cat_root)
        pins = dict(cur["tables"])
        for name, new_v in updates.items():
            if name not in pins:
                raise ValueError(f"table {name!r} not in catalog")
            if pins[name]["version"] != expected[name]:
                raise CowConflictError(
                    f"table {name!r} moved: catalog pins v"
                    f"{pins[name]['version']}, transaction staged on v"
                    f"{expected[name]} — restage on the current pin"
                )
            # the staged manifest must exist and chain onto the pin:
            # every version in (expected, new_v] is a manifest this
            # transaction (or its own sub-steps) published.
            root = pins[name]["root"]
            for v in range(expected[name] + 1, new_v + 1):
                if not os.path.exists(_manifest_path(root, v)):
                    raise ValueError(
                        f"table {name!r}: staged chain broken — manifest "
                        f"v{v} missing under {root}"
                    )
            pins[name] = {"root": root, "version": new_v}
        nxt = {"version": cur["version"] + 1, "tables": pins}
        try:
            _publish(cat_root, nxt)
            return nxt["version"]
        except CowConflictError:
            continue  # another txn won this catalog version: revalidate
    raise CowConflictError(
        f"catalog at {cat_root} kept moving; gave up after {max_retries} retries"
    )


def catalog_read(
    spark: SparkSession,
    cat_root: str,
    table: str,
    catalog_version: int | None = None,
) -> DataFrame:
    """Read ``table`` at the version the catalog pins — NEVER the table
    directory's latest, which may be a staged (uncommitted) version.
    Resolving several tables through the same ``catalog_version`` is a
    cross-table-consistent snapshot."""
    m = catalog_manifest(cat_root, catalog_version)
    if table not in m["tables"]:
        raise ValueError(f"table {table!r} not in catalog")
    pin = m["tables"][table]
    return cow_read(spark, pin["root"], version=pin["version"])


def catalog_abort(cat_root: str, table: str) -> list[int]:
    """Remove ORPHANED staged manifests for ``table`` — versions above
    the highest pin ANY catalog version holds (never referenced, so
    removal cannot break a reader; their data files become unreferenced
    and the table's own cow_vacuum collects them). This is the recovery
    path after a transaction crashed between staging and commit: the
    version numbers it consumed must be released before a new
    transaction can stage on that table (cow manifest CAS forbids
    reusing a taken version)."""
    latest_cat = catalog_latest(cat_root)
    root = None
    max_pinned = 0
    for cv in range(1, latest_cat + 1):
        m = catalog_manifest(cat_root, cv)
        if table in m["tables"]:
            root = m["tables"][table]["root"]
            max_pinned = max(max_pinned, m["tables"][table]["version"])
    if root is None:
        raise ValueError(f"table {table!r} not in catalog")
    removed = []
    v = max_pinned + 1
    while os.path.exists(_manifest_path(root, v)):
        os.unlink(_manifest_path(root, v))
        removed.append(v)
        v += 1
    return removed


class CatalogTxn:
    """Ergonomic wrapper: capture base pins, stage, commit.

    ::

        txn = CatalogTxn(cat_root)
        txn.stage("a", cow_delete(spark, txn.root("a"), "k % 10 = 0"))
        txn.stage("b", cow_append(spark, txn.root("b"), moved))
        txn.commit()

    ``read(table)`` gives the transaction's own snapshot (base pins),
    which is what its staged mutations should be derived from."""

    def __init__(self, cat_root: str):
        self.cat_root = cat_root
        self.base = catalog_manifest(cat_root)
        self._updates: dict[str, int] = {}

    def root(self, table: str) -> str:
        return self.base["tables"][table]["root"]

    def base_version(self, table: str) -> int:
        return self.base["tables"][table]["version"]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return catalog_read(
            spark, self.cat_root, table, catalog_version=self.base["version"]
        )

    def stage(self, table: str, new_version: int) -> None:
        base = self.base["tables"][table]["version"]
        if new_version <= base:
            raise ValueError(
                f"staged version {new_version} does not advance {table!r} "
                f"past its base pin v{base}"
            )
        prior = self._updates.get(table, base)
        if new_version <= prior:
            raise ValueError(
                f"staged version {new_version} does not advance {table!r} "
                f"past the already-staged v{prior}"
            )
        self._updates[table] = new_version

    def commit(self) -> int:
        if not self._updates:
            raise ValueError("nothing staged")
        expected = {
            t: self.base["tables"][t]["version"] for t in self._updates
        }
        return catalog_commit(self.cat_root, self._updates, expected)


def catalog_verify(cat_root: str) -> dict:
    """Invariant audit for tests/forensics: every pin's manifest file
    exists; pins move monotonically per table across catalog versions;
    returns {"versions": N, "tables": {name: [pins...]}}."""
    latest = catalog_latest(cat_root)
    tables: dict[str, list[int]] = {}
    for cv in range(1, latest + 1):
        m = catalog_manifest(cat_root, cv)
        for name, pin in m["tables"].items():
            if not os.path.exists(_manifest_path(pin["root"], pin["version"])):
                raise AssertionError(
                    f"catalog v{cv} pins {name!r}@v{pin['version']} but the "
                    f"manifest file is missing"
                )
            seq = tables.setdefault(name, [])
            if seq and pin["version"] < seq[-1]:
                raise AssertionError(
                    f"catalog v{cv} regresses {name!r}: v{pin['version']} "
                    f"after v{seq[-1]}"
                )
            seq.append(pin["version"])
    return {"versions": latest, "tables": tables}

