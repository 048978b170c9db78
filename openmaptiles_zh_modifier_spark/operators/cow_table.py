"""A minimal copy-on-write table format with ACID MERGE — the missing
transactional half of the keyed write-back (SURVEY §1.1 names Delta
``MERGE INTO`` as the true at-scale upsert; this container ships no
Delta/Iceberg, so the commit protocol itself is built here from
primitives, Spark-first).

Layout (all paths relative to the table root):

    <root>/_manifests/v0000000001.json   -- one immutable manifest per version
    <root>/commit-<uuid>/<part>=<val>/*.parquet  -- data files, per commit

A manifest is the SOLE source of truth for a version: it lists every
live data file (and its partition value). Readers never list data
directories — they read the manifest, then exactly those files. Writers
never mutate existing files — a MERGE rewrites only the files whose
partition intersects the source keys (copy-on-write at partition
granularity, Delta's file-pruning idea one level coarser) and publishes
a NEW manifest.

Atomicity + isolation come from the manifest commit protocol:
``os.link`` of a temp file onto ``v{N+1}.json`` — the link fails if the
target exists, so concurrent writers race to create the next version
and exactly one wins; the loser gets
``CowConflictError`` (optimistic concurrency, same contract as Delta's
ConcurrentAppendException) and must re-read + retry. Old manifests and
files remain: every historical version stays readable (time travel)
until ``cow_vacuum`` drops unreferenced files.

Deletion vectors (round 12): ``cow_delete`` publishes sidecar parquet
rows (fname, pos) instead of rewriting data files (Delta's DV /
merge-on-read delete); readers drop marked positions with one
anti-join; ``cow_compact`` materializes vectors; ``cow_changes`` diffs
(path, dv) pairs so DV commits surface as CDF deletes; vacuum tracks
sidecar liveness by directory. ``cow_delete(rewrite=True)`` is the
copy-on-write form for large deletes.

Partition-spec evolution, zone maps, CHECK constraints (round 12):
``cow_set_partition_spec`` flips the partition column as metadata (old
entries stamped, conservatively scanned, migrated by maintenance);
``_write_commit`` records per-file footer [min,max] zone maps that the
DSv2 reader uses for any-column file skipping; ``cow_add_constraint``
enforces SQL CHECK semantics on every write path before a manifest
publishes.

Column mapping (round 11): an optional manifest ``column_mapping``
(logical name -> stable PHYSICAL file column name) makes RENAME and
DROP COLUMN pure metadata commits — ``cow_rename_column`` /
``cow_drop_column``. Files never change; readers alias physical to
logical; writers (append/merge/compact/DSv2) emit physical names;
``retired_physical`` prevents a re-added logical name from resurrecting
dropped data. Tables that never rename keep no mapping and take the
original single-scan fast path unchanged.

Row-local updates: ``cow_update`` is Delta's ``UPDATE ... SET ...
WHERE`` — one predicate scan picks the FILES holding matching rows, and
only those files are rewritten, each row through its own SET
expression, with no join. ``cow_delete(rewrite=True)`` commits through
the same touched-file rewrite.

Scale notes: the only driver-side materialization is the DISTINCT
partition values of the merge source (bounded by partition count), or
the touched file names for UPDATE/DELETE (bounded by file count); the
merge itself is ONE
``merge_into`` plan (full-outer or broadcast-left join) over only the
affected partitions' files.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.merge import (
    _check_source_unique,
    _key_cond,
    _key_pairs,
    merge_into,
)

_MANIFEST_DIR = "_manifests"
_PV = "__cow_pv"  # duplicated partition column: directory AND data


class CowConflictError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version:010d}.json")


def _list_versions(dirpath: str, prefix: str) -> list[int]:
    """Committed version numbers in ``dirpath``, ascending: exactly the
    names ``<prefix><digits>.json``. Anything else in the directory (a
    publish's temp file, a stray ``vacuum.json``) is not a version.
    Raises FileNotFoundError when ``dirpath`` does not exist."""
    pattern = re.compile(rf"^{re.escape(prefix)}(\d+)\.json$")
    return sorted(
        int(hit.group(1))
        for f in os.listdir(dirpath)
        if (hit := pattern.match(f))
    )


def _latest_version(root: str) -> int:
    try:
        versions = cow_history(root)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"not a cow table (no {_MANIFEST_DIR}): {root}"
        ) from None
    if not versions:
        raise FileNotFoundError(f"cow table has no committed version: {root}")
    return versions[-1]


def _read_manifest(root: str, version: int | None = None) -> dict:
    v = _latest_version(root) if version is None else version
    path = _manifest_path(root, v)
    with open(path) as f:
        m = json.load(f)
    if m.get("version") != v:
        raise ValueError(
            f"manifest {path} records version {m.get('version')!r}, not {v}"
        )
    return m


def _publish_json(final: str, payload: dict, what: str) -> None:
    """Atomically create ``final`` holding ``payload`` (the version file
    of ``what``), or raise CowConflictError if it already exists.

    Protocol: write to a temp file in the SAME directory (a link must
    not cross filesystems), then ``os.link`` it onto the final name.
    The link fails with EEXIST if the target exists — unlike rename,
    which silently replaces — so exactly one concurrent writer creates
    a given version file. The temp file is always unlinked."""
    d = os.path.dirname(final)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        try:
            os.link(tmp, final)  # atomic create-if-absent
        except FileExistsError as exc:
            raise CowConflictError(
                f"{what} was committed concurrently ({final} exists)"
            ) from exc
    finally:
        os.unlink(tmp)


def _commit_manifest(root: str, manifest: dict) -> None:
    """Atomically publish ``manifest`` as its version, or raise
    CowConflictError if that version was committed concurrently
    (``_publish_json``).

    Every commit is stamped with a wall-clock ``commit_ts`` (VERDICT r11
    #4) so ``cow_read(as_of_ts=...)`` can resolve timestamp time travel
    (Delta ``timestampAsOf``); resolution MONOTONIZES the stamps, so
    clock skew between concurrent writers cannot reorder history."""
    import time

    if "commit_ts" not in manifest:
        ts = time.time()
        if manifest["version"] > 1:
            # never regress below the predecessor (Delta's in-commit
            # timestamp monotonicity): clock skew between writers makes
            # ties, not reordering. Reader-side monotonization in
            # _monotonized_stamps still guards legacy/external
            # manifests that carry raw regressing stamps.
            try:
                ts = max(ts, _effective_commit_ts(root, manifest["version"] - 1))
            except (FileNotFoundError, OSError, json.JSONDecodeError):
                pass  # predecessor vacuumed — nothing to anchor to
        manifest = {**manifest, "commit_ts": ts}
    _publish_json(
        _manifest_path(root, manifest["version"]),
        manifest,
        f"version {manifest['version']}",
    )


# Table metadata every next version carries forward from its
# predecessor unless the commit overrides it.
_TABLE_META = (
    "partition_by", "schema", "column_mapping", "retired_physical", "constraints",
)


def _commit_next(
    root: str, m: dict, files: list, txn: tuple[str, int] | None = None, **meta
) -> int:
    """Publish the version after ``m``: ``files`` plus ``m``'s table
    metadata with ``meta`` overriding per key. An override of None
    drops the key, except ``partition_by``, which is always written
    (None = unpartitioned). Returns the committed version.

    Exactly-once stamps: every commit carries ``m``'s ``stream_txns``
    (the max batch id per streaming app id) forward and records
    ``txn`` = ``(app_id, batch_id)`` when a streaming sink commits, so
    the latest manifest always holds the running max — replay detection
    (``_txn_recorded``) reads one manifest, and vacuuming old manifests
    cannot erase a stamp (Delta keeps SetTransaction (appId, version)
    in every snapshot for the same reason). The stamps are not
    ``_TABLE_META``: concurrent stream commits that advance them are
    not a metadata conflict."""
    nxt = {k: m[k] for k in _TABLE_META if k in m}
    nxt.update(meta)
    txns = dict(m.get("stream_txns", {}))
    if txn is not None:
        app_id, batch_id = txn
        txns[app_id] = max(txns.get(app_id, -1), batch_id)
    if txns:
        nxt["stream_txns"] = txns
    version = m["version"] + 1
    _commit_manifest(
        root,
        {
            "version": version,
            "files": files,
            **{k: v for k, v in nxt.items() if v is not None or k == "partition_by"},
        },
    )
    return version


def _txn_recorded(m: dict, txn: tuple[str, int] | None) -> bool:
    """True when ``m`` already records the streaming batch ``txn`` =
    ``(app_id, batch_id)``: the batch is a replay and commits nothing."""
    return txn is not None and txn[1] <= m.get("stream_txns", {}).get(txn[0], -1)


def _write_commit(
    df: DataFrame,
    root: str,
    partition_by: str | None,
    scatter_col: str | None = None,
) -> list[dict]:
    """Write ``df`` into a fresh commit directory; return file entries
    [{"path": rel, "partition": val-or-None}]. The partition column is
    DUPLICATED into the directory key (__cow_pv) so the data files keep
    the real column — readers need no basePath reconstruction and files
    from different commits mix freely in one scan.

    ``scatter_col`` (compaction's Z-bucket) additionally splits files by
    that column's value via a second directory level; the column is a
    file-LAYOUT label only — it is consumed by partitionBy (not written
    into the data files) and ignored by the manifest, which records only
    the table partition."""
    commit = f"commit-{uuid.uuid4().hex[:12]}"
    out = os.path.join(root, commit)
    dir_cols = []
    if partition_by is not None:
        df = df.withColumn(_PV, F.col(partition_by))
        dir_cols.append(_PV)
    if scatter_col is not None:
        dir_cols.append(scatter_col)
    if dir_cols:
        df.write.partitionBy(*dir_cols).parquet(out)
    else:
        df.write.parquet(out)
    from urllib.parse import unquote

    entries = []
    for dirpath, _dirs, files in os.walk(out):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            # make the BASENAME globally unique: Spark's partitionBy
            # writer reuses part-<taskid>-<jobuuid> across partition
            # directories, and deletion vectors key rows by file name
            # (_metadata.file_name — the only spelling that is identical
            # between the JVM scan and the pyarrow DSv2 reader). A
            # same-directory rename is atomic on a local FS; an
            # object-store deployment would instead configure unique
            # writer filenames up front.
            ufn = f"{fn[: -len('.parquet')]}-{uuid.uuid4().hex[:12]}.parquet"
            os.rename(os.path.join(dirpath, fn), os.path.join(dirpath, ufn))
            rel = os.path.relpath(os.path.join(dirpath, ufn), root)
            stats = _footer_stats(os.path.join(dirpath, ufn))
            part = None
            for seg in rel.split(os.sep):
                if seg.startswith(_PV + "="):
                    # Spark escapePathName percent-encodes special chars
                    # in the directory token; the manifest stores the RAW
                    # value so merge routing / pruning compare str(v)
                    # against str(v), never against an escaped token
                    part = unquote(seg.split("=", 1)[1])
            entry = {"path": rel, "partition": part}
            if stats:
                entry["stats"] = stats
            entries.append(entry)
    return entries


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] zone maps from the parquet FOOTER (metadata
    only — no data pages read), recorded in the manifest entry so scans
    can skip whole files on any-column predicates (Delta data skipping /
    the transactional form of q_zorder_vs_linear's zone-map probe).
    Columns are the PHYSICAL file names; only JSON-safe scalar types are
    kept (int/float/str/bool) — anything else simply gets no stats and
    is never pruned. Best-effort: a stat-less footer keeps the file
    scannable."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    mins: dict = {}
    maxs: dict = {}
    ok: set = set()
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaves: not a top-level zone map
            st = col.statistics
            if st is None or not st.has_min_max:
                mins.pop(name, None)
                maxs.pop(name, None)
                ok.discard(name)
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except (UnicodeDecodeError, AttributeError):
                    # a later row group failing decode must INVALIDATE
                    # the column, not leave the earlier groups' narrower
                    # range in place (review finding: stale-ok hole)
                    mins.pop(name, None)
                    maxs.pop(name, None)
                    ok.discard(name)
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                mins.pop(name, None)
                maxs.pop(name, None)
                ok.discard(name)
                continue
            if rg == 0 or name in ok:
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
                ok.add(name)
    return {n: [mins[n], maxs[n]] for n in ok if n in mins and n in maxs}


def cow_create(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_by: str | None = None,
) -> int:
    """Create a cow table at ``root`` from ``df``; returns version 1."""
    os.makedirs(root, exist_ok=True)
    files = _write_commit(df, root, partition_by)
    manifest = {
        "version": 1,
        "partition_by": partition_by,
        "files": files,
        "schema": df.schema.json(),
    }
    _commit_manifest(root, manifest)
    return 1


def _logical_schema(m: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(m["schema"]))


_DV_FN = "__cow_fn"
_DV_POS = "__cow_pos"
# sidecar rows: (_metadata.file_name, _metadata.row_index). A pinned
# schema keeps a DV'd read from running a schema-inference job at plan
# construction.
_DV_SCHEMA = "fname string, pos bigint"


def _read_files(
    spark: SparkSession,
    root: str,
    m: dict,
    entries,
    with_lineage: bool = False,
) -> DataFrame:
    """Read manifest ``entries`` projected to the manifest's LOGICAL
    schema. Without a column mapping this is the original fast path
    (one schema-pinned multi-path scan — pre-evolution files project
    missing columns as NULL). With a mapping (a rename or drop
    happened), files are scanned under their stable PHYSICAL names and
    aliased to the logical names — Delta's column-mapping idea: the
    files never change, only the manifest's name indirection does.

    Deletion vectors (round 12): an entry may carry ``dv`` — a sidecar
    parquet directory of (fname, pos) rows marking logically-deleted
    positions in that file. DV'd reads scan with the engine-native
    ``_metadata.file_name``/``row_index`` hidden columns and drop the
    marked rows with ONE anti-join against the union of the referenced
    sidecars — no sidecar scoping needed: a dv directory only ever
    holds rows for files whose entries were repointed to it in the same
    commit, so within any one version's entry set every (fname, pos) it
    contributes is a true deletion for that version (see cow_delete).
    The join side carries parquet size stats, so AQE broadcasts the
    (small) sidecars; a pathological DV bigger than the table is the
    signal to run cow_delete(rewrite=True) instead.

    ``with_lineage=True`` keeps the (fname, pos) columns on the result
    (post-DV-filter) as ``__cow_fn``/``__cow_pos`` — cow_delete's hook."""
    schema = _logical_schema(m)
    if not entries:
        out = spark.createDataFrame([], schema)
        if with_lineage:
            out = out.withColumn(_DV_FN, F.lit(None).cast("string")).withColumn(
                _DV_POS, F.lit(None).cast("bigint")
            )
        return out
    paths = [os.path.join(root, e["path"]) for e in entries]
    dv_dirs = sorted({e["dv"] for e in entries if e.get("dv")})
    cmap = m.get("column_mapping")
    if not cmap:
        df = spark.read.schema(schema).parquet(*paths)
        logical = [F.col(f.name) for f in schema.fields]
    else:
        from pyspark.sql.types import StructField, StructType

        phys = StructType(
            [
                StructField(cmap[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        df = spark.read.schema(phys).parquet(*paths)
        logical = [F.col(cmap[f.name]).alias(f.name) for f in schema.fields]
    if not dv_dirs and not with_lineage:
        return df.select(*logical)
    df = df.select(
        *logical,
        F.col("_metadata.file_name").alias(_DV_FN),
        F.col("_metadata.row_index").alias(_DV_POS),
    )
    if dv_dirs:
        dv = spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(root, d) for d in dv_dirs]
        )
        df = df.join(
            dv,
            (F.col(_DV_FN) == dv["fname"]) & (F.col(_DV_POS) == dv["pos"]),
            "left_anti",
        )
    return df if with_lineage else df.drop(_DV_FN, _DV_POS)


def _to_physical(df: DataFrame, m: dict, extra_cols: tuple = ()) -> DataFrame:
    """Rename a logical-schema frame to the manifest's physical column
    names before writing (identity when no mapping). ``extra_cols``
    (e.g. compaction's Z-bucket) pass through unrenamed."""
    cmap = m.get("column_mapping")
    if not cmap:
        return df
    keep = [F.col(c) for c in extra_cols if c in df.columns]
    return df.select(
        *[F.col(f.name).alias(cmap[f.name]) for f in _logical_schema(m).fields],
        *keep,
    )


def _physical_name(m: dict, logical: str | None) -> str | None:
    cmap = m.get("column_mapping")
    if logical is None or not cmap:
        return logical
    return cmap[logical]


def _entry_pcol(e: dict, m: dict) -> str | None:
    """The partition column an entry's recorded value belongs to:
    entries written before a partition-spec change carry an explicit
    ``pcol`` stamp (set by cow_set_partition_spec at evolution time);
    unstamped entries are current-spec by invariant."""
    return e.get("pcol", m["partition_by"])


def _entries_for_partitions(m: dict, values: set[str]) -> list:
    """Entries of ``m`` that can hold rows whose partition value (as
    ``str``) is in ``values`` — file pruning from metadata alone.
    Current-spec entries match by recorded value. An old-spec entry
    (``pcol`` stamp, written before a partition-spec change) records a
    value of a different column, so it is always kept (lossless,
    Iceberg's cross-spec behavior; its rows still pass the caller's
    row-level filter)."""
    return [
        e
        for e in m["files"]
        if _entry_pcol(e, m) != m["partition_by"] or e["partition"] in values
    ]


def cow_read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partition_values: list | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read a cow table at ``version`` (default latest). When
    ``partition_values`` is given, only manifest entries whose partition
    matches are scanned — file pruning decided from metadata alone, no
    directory listing, no footer reads of dead files. ``as_of_ts``
    (epoch seconds) is timestamp time travel — resolved to a version by
    :func:`cow_resolve_as_of_ts`; mutually exclusive with ``version``."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass either version or as_of_ts, not both")
        version = cow_resolve_as_of_ts(root, as_of_ts)
    m = _read_manifest(root, version)
    files = m["files"]
    if partition_values is not None:
        files = _entries_for_partitions(m, {str(v) for v in partition_values})
    # the MANIFEST schema is authoritative: files written before a schema
    # evolution lack the later columns and project them as NULL
    return _read_files(spark, root, m, files)


def cow_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    on: str | list[str],
    matched_update: dict | None = None,
    matched_delete=None,
    not_matched_insert: dict | None = None,
    base_version: int | None = None,
    strategy: str = "cow",
    txn: tuple[str, int] | None = None,
) -> int:
    """Delta-style ``MERGE INTO`` the cow table: rewrite ONLY the
    partitions whose values appear in the source (plus, when an INSERT
    clause is present on a partitioned table, source rows landing in
    untouched partitions become a new file without rewriting anything).
    Publishes the next manifest version atomically; raises
    ``CowConflictError`` if a concurrent writer won the version race.

    Clause semantics are ``operators.merge.merge_into``'s (t/s aliases).
    Returns the committed version.

    ``strategy`` (round 13 — Delta's deletion-vector MERGE / merge-on-
    read DML):

    - ``"cow"`` (default): copy-on-write — affected partitions are
      rewritten in full. Write amplification tracks PARTITION size;
      right when the matched fraction is large (the rewrite is mostly
      real work) or as the compaction-time materializer.
    - ``"dv"``: merge-on-read — matched rows' old images are marked
      deleted via a deletion-vector sidecar (no data file rewritten) and
      the updated images + inserts land as ordinary appended files.
      Write amplification tracks the MATCHED + INSERTED rows, not the
      partition: updating 10 rows inside a 1 GB partition costs a
      10-row sidecar + a 10-row file. Reads pay the existing one-DV
      anti-join; ``cow_compact`` materializes later. The CDF
      (``cow_changes``) emits IDENTICAL deltas under both strategies —
      it diffs (path, dv) pairs, so DV'd survivors cancel exactly like
      rewritten-but-unchanged rows do (hash-pinned in
      tests/test_cow_merge_dv.py).

    ``base_version`` pins the snapshot the merge is computed FROM and
    commits ``base_version + 1``: a caller that read version V, derived
    its source frame from V, and passes ``base_version=V`` gets true
    optimistic concurrency — if any other writer committed V+1 in the
    meantime, the commit raises ``CowConflictError`` instead of silently
    merging stale derivations onto a base the caller never saw (the
    read-derive-merge TOCTOU). Default (None) merges onto the latest
    version, which is only safe when the source was derived
    independently of the table's current contents.

    ``txn`` = ``(app_id, batch_id)`` makes a streaming micro-batch
    exactly-once (see ``_commit_next``): when the manifest already
    records that batch, the merge returns the version it read without
    reading or writing any data."""
    if strategy not in ("cow", "dv"):
        raise ValueError(f"cow_merge: unknown strategy {strategy!r}")

    m = _read_manifest(root, base_version)
    if _txn_recorded(m, txn):
        return m["version"]
    affected, keep = _merge_affected(source, m)
    if strategy == "dv":
        return _merge_dv(
            spark, root, m, source, on,
            matched_update, matched_delete, not_matched_insert,
            affected, txn,
        )

    # manifest schema is authoritative (not a sampled footer):
    # pre-evolution files must project their missing columns as
    # NULL, or a rewrite would silently drop evolved columns
    base = _read_files(spark, root, m, affected)
    merged = merge_into(
        base, source, on, matched_update, matched_delete, not_matched_insert
    )
    new_files = _write_commit(
        _to_physical(merged, m), root, _physical_name(m, m["partition_by"])
    )
    _validate_constraints(spark, root, m, new_files)
    return _commit_next(root, m, keep + new_files, txn=txn)


def _merge_affected(source: DataFrame, m: dict) -> tuple[list, list]:
    """Partition-prune a merge: (affected entries, untouched entries).
    Unpartitioned tables treat the whole table as affected — one
    copy-on-write unit. Bounded collect: one value per touched
    partition."""
    part_col = m["partition_by"]
    if part_col is None:
        return list(m["files"]), []
    vals = [r[0] for r in source.select(part_col).distinct().collect()]
    if any(v is None for v in vals):
        raise ValueError(
            f"cow_merge: source has NULL {part_col!r} partition values —"
            " a NULL partition cannot be pruned or routed; clean or"
            " default them upstream"
        )
    # old-spec entries (pre-partition-evolution) join the rewrite/DV
    # pass, which also MIGRATES them to the current spec (Iceberg's
    # progressive rewrite-to-new-spec behavior)
    affected = _entries_for_partitions(m, {str(v) for v in vals})
    _aff = {e["path"] for e in affected}
    keep = [e for e in m["files"] if e["path"] not in _aff]
    return affected, keep


def _merge_dv(
    spark: SparkSession,
    root: str,
    m: dict,
    source: DataFrame,
    on,
    matched_update: dict | None,
    matched_delete,
    not_matched_insert: dict | None,
    affected: list,
    txn: tuple[str, int] | None,
) -> int:
    """Merge-on-read MERGE (Delta deletion-vector DML): matched rows'
    positions go to a DV sidecar (old images logically deleted, zero
    data files rewritten); updated images + not-matched inserts are
    appended as ordinary files. Semantics mirror merge_into exactly —
    t/s clause aliases, delete-before-update clause order, source
    uniqueness validation — so the two strategies are interchangeable
    and the CDF emits identical deltas.

    Scale shape: ONE inner join of the pruned lineage scan against the
    source (broadcastable — the source is the small side of a keyed
    update), a localCheckpoint of only the MATCHED rows, a sidecar
    sized by matched rows, appends sized by matched-updates + inserts.
    The only driver-side materializations are the touched FILE NAME
    list and the partition-value list (both metadata-bounded)."""
    from functools import reduce

    key_pairs = _key_pairs(on)
    schema = _logical_schema(m)
    part_col = m["partition_by"]

    base = _read_files(spark, root, m, affected, with_lineage=True)
    _check_source_unique(base, source, key_pairs)
    t = base.alias("t")
    s = source.alias("s")
    cond = _key_cond(key_pairs)

    appends: list[DataFrame] = []
    touched: set[str] = set()
    hits = None
    if matched_update is not None or matched_delete is not None:
        upd = matched_update or {}
        del_cond = (
            F.coalesce(matched_delete.cast("boolean"), F.lit(False))
            if matched_delete is not None
            else F.lit(False)
        )
        # one projection carries everything the commit needs: the old
        # position (for the DV), the delete verdict, and the updated
        # image — materialized ONCE (matched rows only, the small set)
        matched = (
            t.join(s, cond, "inner")
            .select(
                F.col(f"t.{_DV_FN}").alias(_DV_FN),
                F.col(f"t.{_DV_POS}").alias(_DV_POS),
                del_cond.alias("__del"),
                *[
                    (upd.get(f.name, F.col(f"t.{f.name}"))).alias(f.name)
                    for f in schema.fields
                ],
            )
            .localCheckpoint(eager=True)
        )
        if matched_update is not None:
            # every matched-not-deleted row is rewritten (Delta's DV
            # MERGE rewrites the full matched set the update clause
            # touches); no-op updates cancel in the CDF's exceptAll
            hits = matched.select(
                F.col(_DV_FN).alias("fname"), F.col(_DV_POS).alias("pos")
            )
            appends.append(
                matched.where(~F.col("__del")).select(
                    *[F.col(f.name) for f in schema.fields]
                )
            )
        else:
            hits = matched.where(F.col("__del")).select(
                F.col(_DV_FN).alias("fname"), F.col(_DV_POS).alias("pos")
            )
        touched = {r.fname for r in hits.select("fname").distinct().collect()}

    if not_matched_insert is not None:
        ins = not_matched_insert
        base_keys = base.select(
            *[F.col(tc).alias(f"__bk_{i}") for i, (tc, _) in enumerate(key_pairs)]
        )
        anti_cond = reduce(
            Column.__and__,
            [
                F.col(f"s.{sc}") == F.col(f"__bk_{i}")
                for i, (_, sc) in enumerate(key_pairs)
            ],
        )
        appends.append(
            s.join(base_keys, anti_cond, "left_anti").select(
                *[
                    ins.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
        )

    new_files: list[dict] = []
    if appends:
        out = appends[0]
        for a in appends[1:]:
            out = out.unionByName(a)
        if part_col is not None:
            if out.where(F.col(part_col).isNull()).limit(1).count():
                raise ValueError(
                    f"cow_merge(dv): merge produces NULL {part_col!r}"
                    " partition values — clean or default them upstream"
                )
        new_files = _write_commit(
            _to_physical(out, m), root, _physical_name(m, part_col)
        )
        _validate_constraints(spark, root, m, new_files)

    files = _repoint_dv(spark, root, m["files"], hits, touched)
    return _commit_next(root, m, files + new_files, txn=txn)


def _fname(e: dict) -> str:
    return os.path.basename(e["path"])


def _repoint_dv(
    spark: SparkSession, root: str, entries: list, hits, touched: set
) -> list:
    """Deletion-vector commit body shared by cow_delete and the DV
    merge: write ONE sidecar carrying each touched file's FULL deleted
    set (fresh ``hits`` (fname, pos) rows unioned with the touched
    files' prior vectors) and repoint the touched entries at it. Each
    entry references exactly one sidecar, so reads stay one anti-join.
    No touched file: ``entries`` unchanged, nothing written."""
    if not touched:
        return entries
    prior_dirs = sorted(
        {e["dv"] for e in entries if e.get("dv") and _fname(e) in touched}
    )
    dv_rows = hits
    if prior_dirs:
        prior = spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(root, d) for d in prior_dirs]
        ).where(F.col("fname").isin(list(touched)))
        dv_rows = dv_rows.unionByName(prior)
    dv_rel = f"dv-{uuid.uuid4().hex[:12]}"
    dv_rows.write.parquet(os.path.join(root, dv_rel))
    return [({**e, "dv": dv_rel} if _fname(e) in touched else e) for e in entries]


def _commit_changes(root: str, sv: int, ev: int):
    """Yield ``(version, changes)`` for each committed version in
    ``(sv, ev]``, ascending: what that commit changed against its
    predecessor (version ``sv`` is the base; 0 or less = the empty
    table). ``changes`` lists ``(kind, path, dv, old_dv)``:

    - ``insert``: an entry added (``dv`` its sidecar, if any);
    - ``delete_dv``: an entry repointed from sidecar ``old_dv`` to
      ``dv`` — rows were deleted without a rewrite;
    - ``delete_file``: an entry removed (``dv`` its last sidecar).

    Per commit, not an endpoint diff: an add-then-delete inside the
    span shows up as both. Metadata only: O(span x files) manifest JSON,
    no data I/O."""

    def dvs(v: int) -> dict:
        return {e["path"]: e.get("dv") for e in _read_manifest(root, v)["files"]}

    prev = dvs(sv) if sv >= 1 else {}
    for v in range(max(sv + 1, 1), ev + 1):
        cur = dvs(v)
        changes = []
        for p, dv in cur.items():
            if p not in prev:
                changes.append(("insert", p, dv, None))
            elif prev[p] != dv:
                changes.append(("delete_dv", p, dv, prev[p]))
        changes += [
            ("delete_file", p, dv, None) for p, dv in prev.items() if p not in cur
        ]
        yield v, changes
        prev = cur


def _effective_commit_ts(root: str, version: int) -> float:
    """Wall-clock stamp for ``version``: the manifest's recorded
    ``commit_ts``, else the manifest FILE's mtime (legacy pre-round-12
    tables — the same fallback Delta uses for commits predating
    in-commit timestamps)."""
    m = _read_manifest(root, version)
    ts = m.get("commit_ts")
    return (
        float(ts)
        if ts is not None
        else os.path.getmtime(_manifest_path(root, version))
    )


def cow_resolve_as_of_ts(root: str, as_of_ts: float) -> int:
    """Latest version whose MONOTONIZED commit timestamp is <= as_of_ts
    (Delta ``timestampAsOf`` semantics). Raw per-version stamps can
    regress under clock skew between concurrent writers; the effective
    stamp is the running max over version order, so resolution is
    order-consistent (v <= w implies eff(v) <= eff(w)) and several
    versions sharing one effective stamp resolve to the LATEST of them.
    Raises ValueError for a timestamp before the first commit (nothing
    existed to read — same contract as Delta). Driver-side metadata
    scan, O(versions) manifest reads, no data I/O."""
    best: int | None = None
    for v, eff in _monotonized_stamps(root):
        if eff > as_of_ts:
            break  # monotone: every later version is strictly after ts
        best = v
    if best is None:
        raise ValueError(
            f"as_of_ts={as_of_ts} predates the first commit of cow table"
            f" {root}"
        )
    return best


def _monotonized_stamps(root: str):
    """Yield ``(version, effective stamp)`` for every committed version,
    ascending. The effective stamp is the running max of the raw
    stamps (``_effective_commit_ts``), so it never decreases: raw
    stamps of legacy or external manifests may regress under clock
    skew, and both timestamp time travel and age-based vacuum must see
    one order-consistent history."""
    eff = float("-inf")
    for v in cow_history(root):
        eff = max(eff, _effective_commit_ts(root, v))
        yield v, eff


def cow_history(root: str) -> list[int]:
    """All committed versions, ascending (every one is readable)."""
    return _list_versions(os.path.join(root, _MANIFEST_DIR), "v")


def cow_vacuum(
    root: str,
    keep_versions: int = 1,
    orphan_grace_seconds: float = 600.0,
    pinned_versions=None,
    keep_newer_than_ts: float | None = None,
) -> int:
    """Drop manifests older than the newest ``keep_versions`` (at least
    1: the latest version always survives) and delete every data file
    no surviving manifest references — including manifest-ORPHANS that
    never belonged to any version (files written by
    a streaming-sink epoch replay that was skipped at commit, or by a
    writer that crashed between task writes and manifest publish).
    Returns files deleted.

    The mtime grace applies ONLY to true manifest-orphans — files no
    manifest (kept or dropped) ever referenced: a concurrent writer's
    staged-but-unpublished commit-dir files look identical to orphans,
    and deleting them loses its commit. The grace window (Delta's
    retention-check analog) keeps in-flight commits safe; genuinely dead
    orphans are reclaimed by the next vacuum after the window passes.
    Files referenced ONLY by manifests this call deletes are provably
    dead (a dropped version is not an in-flight writer) and are removed
    unconditionally, so one vacuum reclaims recently-rewritten versions.
    Pass ``0`` to force-sweep orphans too when no writer can be live
    (tests, offline maintenance). ``keep_newer_than_ts`` adds AGE-based
    retention on top of ``keep_versions``: every version whose
    monotonized commit_ts is at or after the cutoff survives, so
    timestamp time travel stays total inside the retention window
    (Delta's retention semantics).

    ``pinned_versions`` is the reader-lease knob (the versions-domain
    analog of Delta's retention check): an iterable of snapshot versions
    live readers hold; each survives the vacuum — manifest AND data
    files — regardless of ``keep_versions``, so a reader pinned at
    snapshot N keeps bit-identical results across concurrent
    merge+vacuum cycles while its lease is registered, and intermediate
    unpinned versions are still reclaimed
    (tests/test_cow_multiprocess.py::test_snapshot_isolation_*).
    Without a lease, keep_versions alone WOULD reclaim a pinned
    snapshot's files once enough newer versions land."""
    import time

    if keep_versions < 1:
        raise ValueError(
            f"cow_vacuum: keep_versions must be at least 1, got {keep_versions}"
        )
    versions = cow_history(root)
    kept_vs = versions[-keep_versions:]
    if keep_newer_than_ts is not None:
        # AGE-based retention (round 12, composes with commit_ts /
        # timestamp time travel — Delta's retention window): every
        # version whose MONOTONIZED stamp is >= the cutoff survives,
        # so `cow_read(as_of_ts=t)` keeps working for any t inside the
        # retention window regardless of how many versions landed
        aged = {
            v for v, eff in _monotonized_stamps(root) if eff >= keep_newer_than_ts
        }
        kept_vs = sorted(set(kept_vs) | aged)
    if pinned_versions:
        kept_vs = sorted(
            set(kept_vs) | (set(pinned_versions) & set(versions))
        )
    dropped_vs = [v for v in versions if v not in set(kept_vs)]
    live: set[str] = set()
    live_dv_dirs: set[str] = set()
    for v in kept_vs:
        for e in _read_manifest(root, v)["files"]:
            live.add(e["path"])
            if e.get("dv"):
                live_dv_dirs.add(e["dv"])
    # files referenced by the manifests we are about to delete: once
    # those manifests are gone these are provably dead (not orphans of
    # an in-flight writer), so no mtime grace applies to them
    dropped_refs: set[str] = set()
    dropped_dv_dirs: set[str] = set()
    for v in dropped_vs:
        for e in _read_manifest(root, v)["files"]:
            dropped_refs.add(e["path"])
            if e.get("dv"):
                dropped_dv_dirs.add(e["dv"])
    dropped_refs -= live
    dropped_dv_dirs -= live_dv_dirs
    removed = 0
    for v in dropped_vs:
        os.unlink(_manifest_path(root, v))
    cutoff = time.time() - orphan_grace_seconds
    # sweep the data directories: anything not referenced by a kept
    # manifest is dead, whether it came from a dropped version or from
    # a commit that never published — but a TRUE orphan young enough to
    # be an in-flight writer's staged file gets the grace window
    for dirpath, _dirs, files in os.walk(root):
        if _MANIFEST_DIR in dirpath.split(os.sep):
            continue
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root)
            if rel in live:
                continue
            # deletion-vector sidecars are referenced by DIRECTORY: a
            # part file under a live dv dir is live; under a dv dir
            # only dropped manifests referenced, provably dead
            top = rel.split(os.sep, 1)[0]
            if top in live_dv_dirs:
                continue
            provably_dead = rel in dropped_refs or top in dropped_dv_dirs
            try:
                if not provably_dead and os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight commit — keep
                os.unlink(full)
                removed += 1
            except OSError:
                pass  # raced with the writer's own abort/cleanup
    return removed


def cow_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two versions: every row inserted or
    deleted going from ``from_version`` to ``to_version`` (default
    latest), tagged with ``_change_type`` ('insert' | 'delete'). An
    update surfaces as its delete+insert pair (Delta CDF's
    pre/post-image, recoverable by joining the two tags on the key).

    The crucial property is what is NOT read: the manifest diff first
    narrows to files ADDED or REMOVED between the versions — untouched
    partitions' files are never opened, so the scan cost tracks the
    churn, not the table. Because a copy-on-write MERGE rewrites whole
    partitions, rewritten-but-unchanged rows appear in both the added
    and removed file sets; ``exceptAll`` (multiset difference, exact
    row-content semantics) cancels them so only true changes emerge.
    At very large row widths, production would compare on a content
    hash instead of full rows — same plan shape, narrower shuffle."""
    from pyspark.sql.types import StructType

    m_from = _read_manifest(root, from_version)
    m_to = _read_manifest(root, to_version)
    # the diff unit is (path, dv): a deletion-vector commit changes no
    # file set, but repointing an entry's sidecar changes its LIVE ROWS
    # — diffing the pair makes the file contribute its from-state to
    # "removed" and its to-state to "added", and exceptAll cancels the
    # surviving rows so exactly the newly-deleted rows emerge as CDF
    # deletes (tests/test_cow_deletion_vectors.py)
    pairs_from = {(e["path"], e.get("dv")) for e in m_from["files"]}
    pairs_to = {(e["path"], e.get("dv")) for e in m_to["files"]}
    # compare in the TO-version's schema space: pre-evolution files on
    # either side project missing columns as NULL, keeping exceptAll's
    # arity aligned across a schema evolution inside the span
    to_schema = StructType.fromJson(json.loads(m_to["schema"]))

    def read_pairs(pairs: set) -> DataFrame:
        # project through the TO-version manifest (schema AND mapping):
        # a renamed column diffs under its current logical name
        entries = [
            {"path": p, **({"dv": d} if d else {})}
            for p, d in sorted(pairs, key=lambda x: (x[0], x[1] or ""))
        ]
        return _read_files(spark, root, m_to, entries)

    added = read_pairs(pairs_to - pairs_from)
    removed = read_pairs(pairs_from - pairs_to)
    inserts = added.exceptAll(removed).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = removed.exceptAll(added).withColumn(
        "_change_type", F.lit("delete")
    )
    return inserts.unionByName(deletes)


def cow_restore(root: str, version: int) -> int:
    """RESTORE TABLE to ``version`` (Delta ``RESTORE ... VERSION AS OF``):
    the target version's manifest — files, schema, partition spec,
    column mapping, constraints — is republished as the NEXT version.
    History is preserved (the bad versions stay readable for forensics);
    the restore itself is one metadata commit, rolled forward through
    the same optimistic version race as every other writer.

    The target's data files must still exist — a vacuum that already
    reclaimed them makes the restore impossible (Delta raises the same
    way), checked here file-by-file BEFORE publishing so a failed
    restore commits nothing. The CDF across a restore emits exactly the
    rows that changed: re-inserts of what the bad versions deleted,
    deletes of what they added (cow_changes diffs (path, dv) pairs —
    no special casing needed)."""
    m_cur = _read_manifest(root)
    if version == m_cur["version"]:
        raise ValueError(
            f"cow_restore: table is already at version {version}"
        )
    m_target = _read_manifest(root, version)
    missing = [
        e["path"]
        for e in m_target["files"]
        if not os.path.exists(os.path.join(root, e["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"cow_restore: version {version} is not restorable — "
            f"{len(missing)} data file(s) already vacuumed "
            f"(first: {missing[0]}); pin versions before vacuuming "
            "if restores must stay possible"
        )
    return _commit_next(
        root, m_cur, m_target["files"],
        **{k: m_target.get(k) for k in _TABLE_META},
    )


def cow_set_partition_spec(root: str, new_partition_by: str | None) -> int:
    """Partition-spec evolution as a METADATA-ONLY commit (Iceberg's
    partition evolution; round 12): the manifest's ``partition_by``
    flips to ``new_partition_by`` (or None = unpartitioned) and every
    existing entry is stamped with the column its recorded partition
    value belongs to (``pcol``), so the value is never misread under
    the new spec. No data file is touched — files carry ALL columns
    (the partition column is duplicated into the directory key, never
    removed from the data), which is exactly what makes evolution free:

    - new writes route and record by the NEW spec;
    - metadata pruning (cow_read partition_values, DSv2 pushFilters)
      applies only to entries whose spec matches the current one —
      old-spec entries are conservatively scanned (lossless);
    - MERGE treats old-spec entries as always-affected and its rewrite
      emits new-spec files; OPTIMIZE groups old-spec entries by their
      own (col, value) and migrates qualifying groups — the table
      converges to the new spec through normal maintenance, Iceberg's
      progressive-rewrite story.

    The new column must exist in the table schema. Same-column call is
    rejected (no version burned for a no-op)."""
    m = _read_manifest(root)
    if new_partition_by == m["partition_by"]:
        raise ValueError(
            f"cow_set_partition_spec: table already partitioned by"
            f" {new_partition_by!r}"
        )
    if new_partition_by is not None:
        schema_cols = [f.name for f in _logical_schema(m).fields]
        if new_partition_by not in schema_cols:
            raise ValueError(
                f"cow_set_partition_spec: {new_partition_by!r} is not a"
                f" table column ({schema_cols})"
            )
    files = [
        (e if "pcol" in e else {**e, "pcol": m["partition_by"]})
        for e in m["files"]
    ]
    return _commit_next(root, m, files, partition_by=new_partition_by)


class CowConstraintError(ValueError):
    """A write violates a table CHECK constraint — nothing was published."""


# SQL CHECK semantics, one helper per engine: a row violates when the
# expression evaluates to FALSE; NULL passes (unknown is not a
# violation). Each returns at most one violating row (empty = none).
def _first_violation(df: DataFrame, expr: str) -> list:
    return (
        df.where(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)))
        .limit(1)
        .collect()
    )


def _duckdb_first_violation(con, relation: str, expr: str) -> list:
    return con.execute(
        f"SELECT * FROM {relation}"
        f" WHERE NOT COALESCE(CAST(({expr}) AS BOOLEAN), TRUE) LIMIT 1"
    ).fetchall()


def _validate_constraints(spark: SparkSession, root: str, m: dict, entries):
    """Validate freshly-written ``entries`` against the manifest's CHECK
    constraints BEFORE the manifest is published: cost is one scan of
    the NEW files only (never the table), and a violation unlinks the
    staged files and raises — readers never saw them, so enforcement
    rides the same atomicity the manifest protocol already provides."""
    cons = m.get("constraints")
    if not cons or not entries:
        return
    df = _read_files(spark, root, m, entries)
    for name, expr in cons.items():
        bad = _first_violation(df, expr)
        if bad:
            for e in entries:
                try:
                    os.unlink(os.path.join(root, e["path"]))
                except OSError:
                    pass
            raise CowConstraintError(
                f"CHECK constraint {name!r} ({expr}) violated by the"
                f" write; example row: {bad[0].asDict()}"
            )


def _constraint_probe_error(schema, expr: str) -> Exception | None:
    """Evaluate CHECK ``expr`` with DuckDB on a 0-row relation of the
    logical ``schema``; return the error if it does not parse or bind
    (None when it does). The DSv2 write path evaluates constraints this
    way, so a constraint that fails here would brick every later
    write."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    with duckdb.connect() as con:
        con.register(
            "__cow_probe",
            pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in arrow], schema=arrow
            ),
        )
        try:
            _duckdb_first_violation(con, "__cow_probe", expr)
        except duckdb.Error as exc:
            return exc
    return None


def cow_add_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """ADD CONSTRAINT ``name`` CHECK (``expr``) — Delta parity: the
    EXISTING data is validated first (one scan; a violating table
    refuses the constraint), then the constraint lands as a metadata
    commit and every subsequent append/merge/DSv2 write validates its
    new rows before publishing. NULL evaluations pass (SQL CHECK)."""
    m = _read_manifest(root)
    cons = dict(m.get("constraints") or {})
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
    # dialect-portability gate (review finding): the DSv2 write path
    # evaluates constraints with DuckDB (no live SparkSession in its
    # runner), so an expression only Spark can parse would brick every
    # later DSv2 write with a parser error instead of a verdict
    exc = _constraint_probe_error(_logical_schema(m), expr)
    if exc is not None:
        raise ValueError(
            f"CHECK constraint {name!r} ({expr}) is not portable to the"
            f" DuckDB-evaluated DSv2 write path: {exc}. Use the ANSI"
            " subset both engines parse (the repo-wide oracle dialect)."
        ) from exc
    bad = _first_violation(_read_files(spark, root, m, m["files"]), expr)
    if bad:
        raise CowConstraintError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing row"
            f" violates it: {bad[0].asDict()}"
        )
    cons[name] = expr
    return _commit_next(root, m, m["files"], constraints=cons)


def cow_drop_constraint(root: str, name: str) -> int:
    """DROP CONSTRAINT — metadata-only commit."""
    m = _read_manifest(root)
    cons = dict(m.get("constraints") or {})
    if name not in cons:
        raise ValueError(f"no constraint {name!r} (have {sorted(cons)})")
    del cons[name]
    return _commit_next(root, m, m["files"], constraints=cons or None)


def cow_delete(
    spark: SparkSession,
    root: str,
    condition,
    rewrite: bool = False,
) -> int:
    """DELETE WHERE ``condition`` (a Column or SQL string over the
    LOGICAL schema; NULL predicate rows are kept, SQL DELETE semantics).

    Default mode is a DELETION-VECTOR commit (Delta's DV / merge-on-read
    delete): no data file is rewritten — the commit publishes sidecar
    parquet rows (fname, pos) marking the deleted positions, and every
    reader drops them with one anti-join (see _read_files). The write
    cost tracks the DELETED rows, not the touched files' sizes: deleting
    10 rows from a 1 GB file costs a 10-row sidecar, where copy-on-write
    would re-encode the gigabyte. Sidecars accumulate by UNION: a
    second delete touching the same file writes that file's full
    deleted set into the new sidecar and repoints the entry, so each
    entry references exactly ONE sidecar (reads stay one anti-join) and
    a sidecar's rows are valid for every version whose entries point at
    it. ``cow_compact`` naturally MATERIALIZES vectors (fragments are
    read through the DV filter; rewritten entries carry no dv), and
    ``cow_changes`` diffs (path, dv) pairs so a DV commit surfaces its
    rows as CDF deletes.

    ``rewrite=True`` is the copy-on-write form: touched files are
    rewritten without the matching rows (and with any PRIOR vectors
    applied, so it also materializes them for those files) — the right
    mode when the delete is a large fraction of the data and the DV
    anti-join side would rival the table.

    Scale shape: one scan of the live files evaluates the predicate
    (each manifest entry carries footer zone maps (``stats``) that the
    DSv2 reader prunes by, but this JVM scan does not consult them, so
    every live file is read), and the only driver-side materialization
    is the touched FILE NAME list (bounded by file count, the same
    metadata-scale collect cow_merge does for partition values). DV
    mode materializes the hit positions once (the touched-file collect
    and the sidecar both consume them); rewrite mode needs only the
    touched names and commits through ``_rewrite_touched``, the body
    ``cow_update`` uses. Both modes commit under the optimistic version
    race.

    Streaming caveat (same as Delta without ignoreDeletes): the
    cowtable streaming source replays ADDED files, so a DV commit adds
    nothing and its deletions do not flow into downstream streams."""
    m = _read_manifest(root)
    cond_true = _cond_true(condition)
    live = _read_files(spark, root, m, m["files"], with_lineage=True)
    if rewrite:
        touched = _touched_counts(live, cond_true)
        if not touched:
            return m["version"]  # nothing matched; no version burned
        return _rewrite_touched(
            spark, root, m, touched, lambda df: df.where(~cond_true)
        )
    # the predicate must be evaluated against ONE snapshot of the scan
    hits = (
        live.where(cond_true)
        .select(F.col(_DV_FN).alias("fname"), F.col(_DV_POS).alias("pos"))
        .localCheckpoint(eager=True)
    )
    touched = {r.fname for r in hits.select("fname").distinct().collect()}
    if not touched:
        return m["version"]  # nothing matched; no version burned
    return _commit_next(
        root, m, _repoint_dv(spark, root, m["files"], hits, touched)
    )


def _cond_true(condition) -> Column:
    """A DML predicate (Column or SQL string) with SQL WHERE semantics:
    a NULL verdict does not match."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    return F.coalesce(cond.cast("boolean"), F.lit(False))


def _touched_counts(live: DataFrame, cond_true: Column) -> dict:
    """{file name: matching rows} over a lineage scan, for the files
    holding at least one match. One grouped collect, bounded by file
    count."""
    return {
        r[0]: r[1]
        for r in live.where(cond_true).groupBy(_DV_FN).count().collect()
    }


def _rewrite_touched(
    spark: SparkSession, root: str, m: dict, touched, transform
) -> int:
    """Copy-on-write commit body shared by cow_update and
    cow_delete(rewrite=True): read the entries whose file name is in
    ``touched`` (any container of names, e.g. ``_touched_counts``'
    dict; their deletion vectors applied, so the rewrite
    materializes them), write ``transform`` of that frame as one new
    commit directory, validate it against the CHECK constraints, and
    publish the untouched entries plus the new files as the version
    after ``m``. Untouched entries carry over unchanged, ``dv`` and
    all."""
    keep = [e for e in m["files"] if _fname(e) not in touched]
    rewritten = [e for e in m["files"] if _fname(e) in touched]
    out = transform(_read_files(spark, root, m, rewritten))
    new_files = _write_commit(
        _to_physical(out, m), root, _physical_name(m, m["partition_by"])
    )
    _validate_constraints(spark, root, m, new_files)
    return _commit_next(root, m, keep + new_files)


def cow_update(
    spark: SparkSession,
    root: str,
    condition,
    assignments: dict,
    base_version: int | None = None,
) -> tuple[int, int]:
    """UPDATE ... SET ``assignments`` WHERE ``condition`` (Delta's
    UPDATE): ``condition`` is a Column or SQL string over the LOGICAL
    schema (a NULL verdict does not match); ``assignments`` maps column
    names to Column expressions evaluated on the row being updated.
    Returns ``(version, n_updated)``.

    Two passes, no join and no shuffle of table rows:

    1. one predicate scan of the pinned version counts the matching
       rows per data file (a grouped collect bounded by file count);
    2. only the files holding a match are read (deletion vectors
       applied), rewritten through ``when(cond, expr).otherwise(col)``
       per assigned column, and committed with every other entry
       carried over byte-identical — file-granular copy-on-write, so an
       unpartitioned multi-file table rewrites only the touched files.

    Every row is updated from itself, so duplicate keys need no
    uniqueness check. ``base_version`` pins the snapshot exactly like
    ``cow_merge``'s: a commit landing after the pin makes the publish
    raise ``CowConflictError``. No matching row: the current version is
    returned with 0 and no version is burned. The partition column
    cannot be assigned (a row would have to move between partitions)."""
    m = _read_manifest(root, base_version)
    fields = _logical_schema(m).fields
    names = [f.name for f in fields]
    unknown = [c for c in assignments if c not in names]
    if unknown:
        raise ValueError(f"cow_update: no column(s) {unknown} (have {names})")
    if m["partition_by"] in assignments:
        raise ValueError("cow_update: cannot assign the partition column")
    cond_true = _cond_true(condition)
    live = _read_files(spark, root, m, m["files"], with_lineage=True)
    touched = _touched_counts(live, cond_true)
    n_updated = sum(touched.values())
    if not n_updated:
        return m["version"], 0

    def apply(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.when(cond_true, assignments[f.name].cast(f.dataType))
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in fields
            ]
        )

    return _rewrite_touched(spark, root, m, touched, apply), n_updated


def cow_append(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    evolve_schema: bool = False,
) -> int:
    """Append ``df`` as a new version (no rewrite of existing files).

    Schema contract: the incoming frame must carry every table column
    with matching types (missing or retyped columns are rejected — an
    append must never silently narrow the table). With
    ``evolve_schema=True`` the frame may ADD new nullable columns: the
    manifest schema evolves to the union, and because readers project
    every file through the MANIFEST schema, all pre-evolution files
    serve NULL for the new columns — schema evolution is metadata-only,
    no data file is touched (the Delta/Iceberg add-column semantics).
    On a partitioned table the partition column must be present and
    non-NULL as usual."""
    from pyspark.sql.types import StructType

    m = _read_manifest(root)
    table_schema = StructType.fromJson(json.loads(m["schema"]))
    table_types = {f.name: f.dataType for f in table_schema.fields}
    df_types = {f.name: f.dataType for f in df.schema.fields}

    missing = [n for n in table_types if n not in df_types]
    if missing:
        raise ValueError(f"cow_append: frame lacks table columns {missing}")
    retyped = [
        n for n in table_types if n in df_types and df_types[n] != table_types[n]
    ]
    if retyped:
        raise ValueError(
            f"cow_append: column type mismatch for {retyped} "
            f"(table {[str(table_types[n]) for n in retyped]}, "
            f"frame {[str(df_types[n]) for n in retyped]})"
        )
    extra = [f for f in df.schema.fields if f.name not in table_types]
    if extra and not evolve_schema:
        raise ValueError(
            f"cow_append: frame adds columns {[f.name for f in extra]}; "
            "pass evolve_schema=True to evolve the table schema"
        )
    new_schema = StructType(table_schema.fields + extra)
    part_col = m["partition_by"]
    if part_col is not None and df.where(F.col(part_col).isNull()).limit(1).count():
        raise ValueError(f"cow_append: NULL {part_col!r} partition values")

    meta = {"schema": new_schema.json()}
    cmap = m.get("column_mapping")
    if cmap is not None:
        # physical names for evolved columns must never collide with a
        # CURRENT or RETIRED physical name — a dropped column's data
        # would otherwise resurface under a re-added logical name
        # (Delta's unique-physical-name rule, deterministic here)
        cmap = dict(cmap)
        taken = set(cmap.values()) | set(m.get("retired_physical", []))
        for f in extra:
            phys = f.name
            while phys in taken:
                phys = f"{phys}__v{m['version'] + 1}"
            cmap[f.name] = phys
            taken.add(phys)
        meta["column_mapping"] = cmap
    nxt = {**m, **meta}  # the next version's metadata, for the write

    # column order normalized to the evolved schema so the files are uniform
    ordered = df.select(*[f.name for f in new_schema.fields])
    new_files = _write_commit(
        _to_physical(ordered, nxt), root, _physical_name(nxt, part_col)
    )
    _validate_constraints(spark, root, nxt, new_files)
    return _commit_next(root, m, m["files"] + new_files, **meta)


def _identity_mapping(m: dict) -> dict:
    """The mapping a mapping-less table implicitly has: every logical
    name IS its physical name (how all pre-rename files were written)."""
    return {f.name: f.name for f in _logical_schema(m).fields}


def cow_rename_column(root: str, old: str, new: str) -> int:
    """RENAME COLUMN as a pure metadata commit (Delta column-mapping
    semantics): no data file changes — the manifest's logical schema
    renames the field while the column mapping keeps pointing at the
    STABLE physical name the files were written under. Readers of the
    new version see ``new``; time travel to prior versions still sees
    ``old``; every append/merge/compact after the rename keeps writing
    the physical name, so files from before and after the rename mix
    freely in one scan. Concurrency: same optimistic version race as
    every other commit (CowConflictError on loss)."""
    from pyspark.sql.types import StructField, StructType

    m = _read_manifest(root)
    schema = _logical_schema(m)
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"cow_rename_column: no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"cow_rename_column: column {new!r} already exists")
    cmap = dict(m.get("column_mapping") or _identity_mapping(m))
    cmap[new] = cmap.pop(old)
    renamed = StructType(
        [
            StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in schema.fields
        ]
    )
    # Delta refuses a RENAME COLUMN a CHECK constraint uses, for the
    # same reason cow_drop_column refuses the drop
    for cname, cexpr in (m.get("constraints") or {}).items():
        if _constraint_probe_error(renamed, cexpr) is not None:
            raise ValueError(
                f"cow_rename_column: CHECK constraint {cname!r} ({cexpr})"
                f" uses {old!r}; drop the constraint first"
            )
    return _commit_next(
        root, m, m["files"],
        partition_by=new if m["partition_by"] == old else m["partition_by"],
        schema=renamed.json(),
        column_mapping=cmap,
    )


def cow_drop_column(root: str, name: str) -> int:
    """DROP COLUMN as a pure metadata commit: the field leaves the
    logical schema and its physical name is RETIRED — files keep the
    data (time travel to prior versions still serves it), current-
    version readers project it away, and a later evolve-add of the same
    logical name gets a FRESH physical name so the dropped values can
    never resurface (the Delta unique-physical-name rule; pinned by
    tests/test_cow_column_mapping.py)."""
    from pyspark.sql.types import StructType

    m = _read_manifest(root)
    schema = _logical_schema(m)
    names = [f.name for f in schema.fields]
    if name not in names:
        raise ValueError(f"cow_drop_column: no column {name!r} (have {names})")
    if name == m["partition_by"]:
        raise ValueError("cow_drop_column: cannot drop the partition column")
    kept = StructType([f for f in schema.fields if f.name != name])
    # Delta refuses a DROP COLUMN a CHECK constraint uses: committing it
    # would leave a constraint no later write can evaluate
    for cname, cexpr in (m.get("constraints") or {}).items():
        if _constraint_probe_error(kept, cexpr) is not None:
            raise ValueError(
                f"cow_drop_column: CHECK constraint {cname!r} ({cexpr})"
                f" uses {name!r}; drop the constraint first"
            )
    cmap = dict(m.get("column_mapping") or _identity_mapping(m))
    retired = list(m.get("retired_physical", []))
    retired.append(cmap.pop(name))
    return _commit_next(
        root, m, m["files"],
        schema=kept.json(), column_mapping=cmap, retired_physical=retired,
    )


# Value-preserving type promotions the parquet readers upcast natively
# (verified on this Spark: schema-pinned scans read int32 files as long,
# float as double, int as decimal; the Arrow DSv2 path casts per batch).
# Deliberately conservative — Delta's type-widening table minus the
# date/timestamp and decimal-rescale rows this format doesn't need.
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"), ("integer", "double"),
    ("float", "double"),
}


def cow_widen_column(root: str, name: str, new_type) -> int:
    """WIDEN COLUMN TYPE as a pure metadata commit: the manifest schema
    adopts the wider type, no data file changes — readers project every
    file through the manifest schema and the parquet scan upcasts the
    narrower stored type natively (int32 files serve long, float files
    serve double), the same authoritative-manifest rule add-column
    evolution rides. Only the value-preserving promotions in
    ``_WIDENINGS`` are allowed; narrowing or cross-kind changes raise.
    Appends/merges after the widen must carry the wider type (the
    ordinary append type check enforces it), so new files store wide
    while old files stay narrow — OPTIMIZE materializes them wide when
    it rewrites. Time travel to pre-widen versions serves the narrow
    type (each manifest speaks its own schema)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    if isinstance(new_type, str):
        new_type = _parse_datatype_string(new_type)
    m = _read_manifest(root)
    schema = _logical_schema(m)
    names = [f.name for f in schema.fields]
    if name not in names:
        raise ValueError(f"cow_widen_column: no column {name!r} (have {names})")
    if name == m["partition_by"]:
        # manifest entries store partition VALUES as strings of the
        # narrow type ('5'); post-widen writers would route '5.0' —
        # the same logical partition would split into two tokens and
        # merge/pruning would silently miss the pre-widen files
        raise ValueError("cow_widen_column: cannot widen the partition column")
    old_type = next(f.dataType for f in schema.fields if f.name == name)
    if old_type == new_type:
        return m["version"]  # no-op; no version burned
    pair = (old_type.typeName(), new_type.typeName())
    if pair not in _WIDENINGS:
        raise ValueError(
            f"cow_widen_column: {pair[0]} -> {pair[1]} is not a"
            f" value-preserving widening (allowed: {sorted(_WIDENINGS)})"
        )
    fields = [
        StructField(f.name, new_type, f.nullable) if f.name == name else f
        for f in schema.fields
    ]
    return _commit_next(root, m, m["files"], schema=StructType(fields).json())


_ZB = "__cow_zb"  # compaction's Z-bucket directory label


def _morton_sql(x: str, y: str, bits: int, intdiv: str = "div") -> str:
    """Engine-neutral Morton interleave of two nonneg ``bits``-bit
    ints, shifts spelled as integer division/`%` (same construction as
    queries_scale._morton_expr, parameterized on width; the
    integer-division token is `div` for Spark SQL, `//` for DuckDB)."""
    terms = []
    for k in range(bits):
        terms.append(f"((({x}) {intdiv} {1 << k}) % 2) * {1 << (2 * k)}")
        terms.append(f"((({y}) {intdiv} {1 << k}) % 2) * {1 << (2 * k + 1)}")
    return "(" + " + ".join(terms) + ")"


def cow_compact(
    spark: SparkSession,
    root: str,
    min_files_per_partition: int = 2,
    zorder_by: tuple[str, str] | None = None,
    zorder_files: int = 8,
    zorder_bits: int = 6,
    max_rows_per_file: int | None = None,
) -> int:
    """OPTIMIZE: bin-pack each partition's small files, published as a
    new version (old versions still time-travel; vacuum reclaims the
    superseded files). Only partitions holding at least
    ``min_files_per_partition`` files are rewritten — everything else is
    carried by reference, so the rewrite cost tracks fragmentation, not
    table size. Runs under the same optimistic commit protocol as MERGE:
    a concurrent writer winning the version race raises CowConflictError
    and the compaction (pure maintenance, no semantic content) can simply
    be retried against the new snapshot. A reader holding a lease on any
    prior version is untouched: compaction never deletes files, so the
    pinned snapshot stays bit-identical until vacuum — the lease-safe
    swap (tests/test_cow_multiprocess.py).

    Without ``zorder_by`` each rewritten partition comes out as ONE
    file — unless ``max_rows_per_file`` is set, which bin-packs each
    partition into ceil(rows / max_rows_per_file) hash-scattered files
    instead (the at-scale form: a partition larger than one task's
    working set must not funnel through one writer). With it (`OPTIMIZE ZORDER BY (c1, c2)`), each partition's rows
    are re-clustered into ``zorder_files`` files cut by equal Morton-code
    ranges over the two columns (normalized per partition to a
    ``zorder_bits``-bit grid from their min/max), so each output file
    carries a tight min/max zone map on BOTH dims — the data-skipping
    layout q_zorder_vs_linear prices, made transactional. File
    assignment is a pure integer function of the row, so the layout is
    deterministic.

    Scale shape: ALL fragmented partitions are rewritten by ONE write
    job (plus the broadcast bounds subquery), never a per-partition
    driver loop — data files keep the real partition column, so one
    multi-path scan unions every fragmented partition, per-partition
    min/max comes from one grouped aggregate broadcast-joined back
    (no driver collect at all), and a hash `repartition` on
    (partition, z-bucket) routes each output cell to exactly one task
    before `partitionBy` splits it into exactly one file. Job count is
    independent of partition count (asserted in
    tests/test_backfill_cow.py) — the per-job launch floor that
    dominates a thousand-partition table under a sequential loop is
    paid once; this is how Delta's OPTIMIZE parallelizes.

    Schema-evolution interaction (MATERIALIZE): fragments are read
    through the MANIFEST schema, so rewritten pre-evolution rows come
    out in physical files that carry every evolved column (real NULLs
    for rows that predate it) — after OPTIMIZE the partition no longer
    depends on the manifest projection for those columns. Untouched
    files stay projected; pre-evolution versions still time-travel
    bit-identically (tests/test_cow_table.py::
    test_cow_compact_after_schema_evolution).

    Semantic no-op by construction: each rewritten partition is read
    fully and written back unchanged (re-laid-out only), so
    ``cow_changes`` across a compaction cancels to empty — asserted in
    the test, and the property that distinguishes OPTIMIZE from MERGE."""
    if zorder_by is not None and max_rows_per_file is not None:
        raise ValueError(
            "cow_compact: max_rows_per_file applies to the bin-pack path"
            " only; the zorder path sizes files via zorder_files"
        )
    m = _read_manifest(root)
    part_col = m["partition_by"]
    by_part: dict = {}
    for e in m["files"]:
        # group key includes the entry's SPEC: after a partition-spec
        # change, old-spec entries fragment per their own (col, value)
        # for the threshold decision, and a qualifying rewrite emits
        # CURRENT-spec files — OPTIMIZE doubles as spec migration
        by_part.setdefault((_entry_pcol(e, m), e["partition"]), []).append(e)
    rewrite = {
        p: es for p, es in by_part.items() if len(es) >= min_files_per_partition
    }
    if not rewrite:
        return m["version"]  # nothing fragmented; no version burned
    keep = [e for p, es in by_part.items() if p not in rewrite for e in es]
    n_parts = len(rewrite)
    frag = _read_files(
        spark, root, m, [e for es in rewrite.values() for e in es]
    )
    group = [F.col(part_col)] if part_col is not None else []
    if zorder_by is None and max_rows_per_file is not None:
        # size-targeted bin-pack (Delta OPTIMIZE's real behavior): one
        # file per partition is wrong once a partition outgrows a task —
        # a 1 TB partition must NOT funnel through one writer. Target
        # file count per partition = ceil(rows / max_rows_per_file) from
        # ONE grouped count broadcast-joined back; rows scatter to
        # buckets by a deterministic row-content hash (approximate
        # balance, multinomial spread — the file-count guarantee is
        # exact, the per-file row bound is a target, same contract as
        # byte-targeted OPTIMIZE). Write parallelism now scales with
        # total rewrite volume, not partition count.
        counts = frag.groupBy(*group).agg(F.count(F.lit(1)).alias("__bpn"))
        joined = (
            frag.join(F.broadcast(counts), part_col)
            if group
            else frag.crossJoin(F.broadcast(counts))
        )
        k = F.ceil(F.col("__bpn") / F.lit(int(max_rows_per_file))).cast("int")
        cols = [c for c in frag.columns]
        bdf = (
            joined.withColumn(
                _ZB, F.pmod(F.hash(*[F.col(c) for c in cols]), k).cast("int")
            )
            .drop("__bpn")
            .repartition(n_parts * 4, *group, F.col(_ZB))
        )
        new_files = _write_commit(
            _to_physical(bdf, m, extra_cols=(_ZB,)),
            root,
            _physical_name(m, part_col),
            scatter_col=_ZB,
        )
    elif zorder_by is None:
        # hash on the partition value: every row of a partition lands in
        # one task, partitionBy then yields exactly one file per
        # partition (collisions co-locating two partitions in a task
        # still split into one file each)
        packed = frag.repartition(n_parts, *group) if group else frag.coalesce(1)
        new_files = _write_commit(
            _to_physical(packed, m), root, _physical_name(m, part_col)
        )
    else:
        cx, cy = zorder_by
        # per-partition grid bounds in ONE grouped aggregate; BIGINT
        # casts truncate toward zero exactly like the int() the
        # per-partition literal form used, so the bucket arithmetic is
        # bit-identical to a partition-at-a-time rewrite
        bounds = (
            frag.groupBy(*group)
            .agg(
                F.min(cx).cast("bigint").alias("__zx0"),
                F.max(cx).cast("bigint").alias("__zx1"),
                F.min(cy).cast("bigint").alias("__zy0"),
                F.max(cy).cast("bigint").alias("__zy1"),
            )
            .select(
                *group,
                "__zx0",
                "__zy0",
                F.greatest(
                    F.col("__zx1") - F.col("__zx0") + F.lit(1), F.lit(1)
                ).alias("__zspx"),
                F.greatest(
                    F.col("__zy1") - F.col("__zy0") + F.lit(1), F.lit(1)
                ).alias("__zspy"),
            )
        )
        joined = (
            frag.join(F.broadcast(bounds), part_col)
            if group
            else frag.crossJoin(F.broadcast(bounds))
        )
        xn = f"(CAST((({cx}) - __zx0) * {1 << zorder_bits} AS BIGINT) div __zspx)"
        yn = f"(CAST((({cy}) - __zy0) * {1 << zorder_bits} AS BIGINT) div __zspy)"
        zb = (
            f"(({_morton_sql(xn, yn, zorder_bits)} * {zorder_files})"
            f" div {1 << (2 * zorder_bits)})"
        )
        zdf = (
            joined.withColumn(_ZB, F.expr(zb))
            .drop("__zx0", "__zy0", "__zspx", "__zspy")
            .repartition(n_parts * zorder_files, *group, F.col(_ZB))
        )
        new_files = _write_commit(
            _to_physical(zdf, m, extra_cols=(_ZB,)),
            root,
            _physical_name(m, part_col),
            scatter_col=_ZB,
        )
    return _commit_next(root, m, keep + new_files)


def cow_clone(src_root: str, dst_root: str, version: int | None = None) -> int:
    """SHALLOW CLONE ``src_root``@``version`` (default latest) into a new
    table at ``dst_root`` — Delta's ``CREATE TABLE ... SHALLOW CLONE``:
    ONE metadata write, zero data files copied. The clone's v1 manifest
    references the source's data files (and deletion-vector sidecars)
    by ABSOLUTE path; every reader path (_read_files, zone-map
    pruning, DV anti-join) resolves them unchanged because relative
    entries are joined onto the root with os.path.join, which passes
    absolute paths through. Schema, partition spec, column mapping and
    CHECK constraints carry over; stream_txns and commit history do
    NOT (the clone starts its own history at v1, like Delta).

    Divergence after the clone is free in both directions: appends /
    deletes / merges on the clone land under the clone's root (new DV
    sidecars key rows by globally-unique file basenames, so a clone DV
    cannot alias a source file), and source mutations never touch the
    pinned entries. ``cow_vacuum`` on the clone walks only the clone's
    directory, so it can never reclaim source data; ``cow_vacuum`` on
    the SOURCE does not know about clones and can break them — Delta's
    documented shallow-clone hazard, deliberately preserved (the
    mitigation is the same: source retention >= clone lifetime, or
    cow_compact on the clone to materialize it into its own files)."""
    m = _read_manifest(src_root, version)
    src_abs = os.path.abspath(src_root)
    files = []
    for e in m["files"]:
        e2 = dict(e)
        e2["path"] = os.path.join(src_abs, e["path"])
        if e2.get("dv"):
            e2["dv"] = os.path.join(src_abs, e["dv"])
        files.append(e2)
    manifest = {
        k: v
        for k, v in m.items()
        if k not in ("version", "files", "commit_ts", "stream_txns")
    }
    manifest.update(
        {
            "version": 1,
            "files": files,
            "cloned_from": {"root": src_abs, "version": m["version"]},
        }
    )
    os.makedirs(dst_root, exist_ok=True)
    _commit_manifest(dst_root, manifest)
    return 1
