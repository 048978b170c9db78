"""Benchmark of the zh back-fill product path.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload lake_dense --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``lake_dense``: ``plans.pipeline.run_backfill`` rewrites a small
  OSM-shaped parquet lake in which most names are Han.
- ``cow_sparse``: ``operators.cow_table.cow_clone`` then
  ``plans.pipeline.run_backfill_cow`` on a planet-shaped cow table in which
  ~2% of names are Han, clustered in 2 of 20 region partitions; then a
  read of the new version.

Load model: a closed loop with one client (this process) against
``local[2]`` (fewer if the process may use fewer cores). Inputs come from
the seeded pyarrow generator in ``gen.py``. Every unit's output is checked
against a DuckDB twin outside the timed windows (``verify.py``). The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run alternates untraced and traced units and reports per-layer metrics
(``trace.py``), and writes every span to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("lake_dense", "cow_sparse")
MIN_UNITS = 3  # timed units per run, even past --seconds
READS_PER_UNIT = 3  # read_after_write samples per unit
# Spark task slots. Fewer than the host's cores, so the JIT compiler, GC,
# the Python workers and this process are not queued behind the tasks.
MAX_CORES = 2
# /proc comm names of HotSpot's JIT compiler threads (cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_tree() -> list[int]:
    """This process and every process below it: the JVM and any Python
    workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        tree.append(pid)
    return tree


def peak_rss_mb() -> float:
    """Sum of the high-water RSS (VmHWM) of the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


def cpu_s() -> tuple[float, float]:
    """CPU seconds the process tree has used so far, and the part of them
    that went to the JVM's JIT compiler threads. Processes that have ended
    count through their parent (``cutime``/``cstime``), threads that have
    ended through their process."""
    total = jit = 0
    for pid in process_tree():
        try:
            total += _ticks(f"/proc/{pid}/stat", slice(11, 15))
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        jit += _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
        except OSError:
            continue
    return total / CLOCK_TICKS, jit / CLOCK_TICKS


class CpuClock:
    """CPU seconds over a window, split into the program's own work
    (``app``) and JIT compilation (``jit``)."""

    def __enter__(self):
        self._start = cpu_s()
        return self

    def __exit__(self, *exc):
        total, jit = cpu_s()
        self.jit = jit - self._start[1]
        self.app = total - self._start[0] - self.jit
        self.total = self.app + self.jit


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def start_session(work: str):
    from openmaptiles_zh_modifier_spark.session import get_spark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                # compiler threads that exit would take their CPU time out
                # of the JIT share and into the program's
                " -XX:-UseDynamicNumberOfCompilerThreads"
                # as many GC workers as task slots: fewer threads to spin
                # while a co-tenant holds the host's cores
                " -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def check(problems: list[str], ok: bool, what: str) -> None:
    """Record ``what`` as a problem with a unit's output unless ``ok``."""
    if not ok:
        problems.append(what)


# --------------------------------------------------------------- lake_dense


class LakeDense:
    """``run_backfill`` over a lake of three qualifying tables (one
    ``id``-keyed, one ``osm_id``-keyed, one with both keys) and one table
    that does not qualify."""

    warmup_units = 1  # untimed units before the timed ones: JIT and caches settle

    def __init__(self, spark, work: str, seed: int):
        from perfbench import gen, verify

        self.spark, self.work = spark, work
        self.lake = os.path.join(work, "lake")
        files = gen.make_lake(seed, self.lake)
        self.keys = {name: keys[0] for name, (keys, _s) in gen.LAKE_TABLES.items()}
        self.expected = {
            name: verify.expected(files[name], key) for name, key in self.keys.items()
        }
        self.input_rows = sum(e.before.rows for e in self.expected.values())
        self.skipped = gen.LAKE_SKIPPED
        self._n = 0

    def setup_engine(self) -> None:
        pass  # the lake is read as generated

    def _out(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"out{self._n}")

    def unit(self) -> tuple[float, dict]:
        from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill

        out = self._out()
        t0 = time.perf_counter()
        report = run_backfill(self.spark, self.lake, out)
        wall = time.perf_counter() - t0
        return wall, {
            "out": out,
            "tables": {t.table: (t.id_field, t.n_updated, t.n_rows) for t in report.tables},
        }

    def traced_unit(self, tracer) -> dict:
        """``run_backfill``'s calls, in its order, as spans."""
        from openmaptiles_zh_modifier_spark.catalog import (
            classify_all,
            discover_parquet_tables,
        )
        from openmaptiles_zh_modifier_spark.operators.zh_backfill import (
            backfill_table,
            updates_frame,
        )
        from openmaptiles_zh_modifier_spark.sources.io import write_parquet

        with tracer.span("reset"):
            out = self._out()
            shutil.rmtree(out, ignore_errors=True)
        done = {}
        with tracer.span("unit"):
            with tracer.span("catalog.discover") as s:
                tables = discover_parquet_tables(self.spark, self.lake)
                classes = classify_all(tables)
                s.counts["tables_qualified"] = len(classes)
            for tc in classes:
                df = tables[tc.table]
                path = f"{out}/{tc.table}.parquet"
                with tracer.span("zh.derive") as s:
                    n_updated = updates_frame(df, tc.id_field).count()
                    s.counts["rows_updated"] = n_updated
                with tracer.span("write.rewrite"):
                    write_parquet(backfill_table(df, tc.id_field), path)
                with tracer.span("io.readback"):
                    n_rows = self.spark.read.parquet(path).count()
                done[tc.table] = (tc.id_field, n_updated, n_rows)
        return {"out": out, "tables": done}

    def read_after_write(self, result: dict) -> tuple[float, int]:
        """One job: the union of the written tables' tags, counting rows
        that carry both zh keys."""
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        tags = F.col("tags")
        t0 = time.perf_counter()
        frames = [
            self.spark.read.parquet(f"{result['out']}/{name}.parquet").select("tags")
            for name in sorted(self.keys)
        ]
        n = (
            reduce(DataFrame.unionByName, frames)
            .where(tags["name:zh-Hans"].isNotNull() & tags["name:zh-Hant"].isNotNull())
            .count()
        )
        return time.perf_counter() - t0, n

    def verify(self, result: dict, both_keys: int | None) -> tuple[dict, list[str]]:
        """The unit's write statistics, and every way its output differs
        from the DuckDB twin."""
        from perfbench import verify

        out, problems = result["out"], []
        check(
            problems,
            sorted(result["tables"]) == sorted(self.keys),
            f"tables back-filled {sorted(result['tables'])} != {sorted(self.keys)}",
        )
        check(
            problems,
            not os.path.exists(os.path.join(out, f"{self.skipped}.parquet")),
            f"non-qualifying table {self.skipped} was written",
        )
        stats = {"bytes": 0, "files": 0, "rows_rewritten": 0, "partitions": 0, "updated": 0}
        for name, key in self.keys.items():
            id_field, n_updated, n_rows = result["tables"][name]
            exp = self.expected[name]
            check(problems, id_field == key, f"{name}: keyed by {id_field}, expected {key}")
            check(problems, n_updated == exp.updated,
                  f"{name}: {n_updated} updated, expected {exp.updated}")
            files = parquet_files(os.path.join(out, f"{name}.parquet"))
            got = verify.fingerprint_files(files, key)
            check(problems, got == exp.after, f"{name}: output fingerprint {got} != {exp.after}")
            check(problems, n_rows == got.rows,
                  f"{name}: read-back {n_rows} rows, files hold {got.rows}")
            stats["bytes"] += sum(os.path.getsize(f) for f in files)
            stats["files"] += len(files)
            stats["rows_rewritten"] += got.rows
            stats["partitions"] += 1
            stats["updated"] += n_updated
        if both_keys is not None:
            want = sum(e.after.both_keys for e in self.expected.values())
            check(problems, both_keys == want,
                  f"read-after-write counted {both_keys}, expected {want}")
        return stats, problems

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["out"], ignore_errors=True)


# --------------------------------------------------------------- cow_sparse


class CowSparse:
    """``cow_clone`` + ``run_backfill_cow`` on a region-partitioned cow
    table, then a read of the new version."""

    warmup_units = 2  # its CPU per unit still falls after the first

    def __init__(self, spark, work: str, seed: int):
        from perfbench import gen, verify

        self.spark, self.work = spark, work
        self.input = os.path.join(work, "cow_input.parquet")
        table = gen.make_cow_input(seed, self.input)
        self.expected = verify.expected([self.input], "id")
        self.input_rows = table.num_rows
        self.base = os.path.join(work, "base")
        self._n = 0

    def setup_engine(self) -> None:
        from openmaptiles_zh_modifier_spark.operators.cow_table import cow_create

        cow_create(
            self.spark, self.base, self.spark.read.parquet(self.input),
            partition_by="region",
        )

    def _clone(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"clone{self._n}")

    def unit(self) -> tuple[float, dict]:
        from openmaptiles_zh_modifier_spark.operators.cow_table import cow_clone
        from openmaptiles_zh_modifier_spark.plans.pipeline import run_backfill_cow

        clone = self._clone()
        t0 = time.perf_counter()
        cow_clone(self.base, clone)
        version, n_updated = run_backfill_cow(self.spark, clone)
        wall = time.perf_counter() - t0
        return wall, {"clone": clone, "version": version, "updated": n_updated}

    def traced_unit(self, tracer) -> dict:
        """``run_backfill_cow``'s calls, in its order, as spans."""
        from pyspark.sql import functions as F

        from openmaptiles_zh_modifier_spark.catalog import classify_schema
        from openmaptiles_zh_modifier_spark.operators.cow_table import (
            _latest_version,
            _read_manifest,
            cow_clone,
            cow_merge,
            cow_read,
        )
        from openmaptiles_zh_modifier_spark.operators.zh_backfill import (
            updates_frame_with_tags,
        )

        clone = self._clone()
        with tracer.span("unit"):
            with tracer.span("reset"):
                cow_clone(self.base, clone)
            with tracer.span("catalog.discover") as s:
                base = _latest_version(clone)
                part_col = _read_manifest(clone, base)["partition_by"]
                df = cow_read(self.spark, clone, version=base)
                tc = classify_schema(df.schema, clone)
                s.counts["tables_qualified"] = int(tc is not None)
            with tracer.span("zh.derive") as s:
                updates = updates_frame_with_tags(df, tc.id_field)
                src = (
                    updates.join(df.select(tc.id_field, part_col), tc.id_field)
                    .select(tc.id_field, "new_tags_map", part_col)
                    .persist()
                )
                n_updated = src.count()
                s.counts["rows_updated"] = n_updated
                s.counts["pinned_bytes"] = tracer.pinned_bytes()
            try:
                with tracer.span("write.rewrite"):
                    version = cow_merge(
                        self.spark, clone, src, on=tc.id_field,
                        matched_update={"tags": F.col("s.new_tags_map")},
                        base_version=base,
                    )
            finally:
                src.unpersist()
        result = {"clone": clone, "version": version, "updated": n_updated}
        with tracer.span("io.readback") as s:
            s.counts["both_keys"] = self._count_both(result)
        result["both_keys"] = s.counts["both_keys"]
        return result

    def _count_both(self, result: dict) -> int:
        from pyspark.sql import functions as F

        from openmaptiles_zh_modifier_spark.operators.cow_table import cow_read

        tags = F.col("tags")
        return (
            cow_read(self.spark, result["clone"], version=result["version"])
            .where(tags["name:zh-Hans"].isNotNull() & tags["name:zh-Hant"].isNotNull())
            .count()
        )

    def read_after_write(self, result: dict) -> tuple[float, int]:
        t0 = time.perf_counter()
        n = self._count_both(result)
        return time.perf_counter() - t0, n

    def _manifest(self, root: str, version: int) -> dict:
        with open(os.path.join(root, "_manifests", f"v{version:010d}.json")) as f:
            return json.load(f)

    def verify(self, result: dict, both_keys: int | None) -> tuple[dict, list[str]]:
        """The unit's write statistics, and every way its output differs
        from the DuckDB twin."""
        from perfbench import verify

        clone, exp, problems = result["clone"], self.expected, []
        check(problems, result["version"] == 2,
              f"merge committed v{result['version']}, expected v2")
        check(problems, result["updated"] == exp.updated,
              f"{result['updated']} updated, expected {exp.updated}")
        new = self._manifest(clone, 2)["files"]
        check(problems, not any(e.get("dv") for e in new), "merge wrote deletion vectors")
        got = verify.fingerprint_files([os.path.join(clone, e["path"]) for e in new], "id")
        check(problems, got == exp.after, f"v2 fingerprint {got} != {exp.after}")
        old = self._manifest(clone, 1)["files"]
        got1 = verify.fingerprint_files([os.path.join(clone, e["path"]) for e in old], "id")
        check(problems, got1 == exp.before, f"v1 fingerprint changed: {got1} != {exp.before}")
        check(
            problems,
            os.listdir(os.path.join(self.base, "_manifests")) == ["v0000000001.json"],
            "the base table gained a version",
        )
        if both_keys is not None:
            check(problems, both_keys == exp.after.both_keys,
                  f"read-after-write counted {both_keys}, expected {exp.after.both_keys}")
        written = [e for e in new if not os.path.isabs(e["path"])]
        paths = [os.path.join(clone, e["path"]) for e in written]
        stats = {
            "bytes": sum(os.path.getsize(f) for f in paths),
            "files": len(paths),
            "rows_rewritten": verify.count_rows(paths) if paths else 0,
            "partitions": len({e["partition"] for e in written}),
            "updated": result["updated"],
        }
        return stats, problems

    def cleanup(self, result: dict) -> None:
        shutil.rmtree(result["clone"], ignore_errors=True)


# ------------------------------------------------------------------- runner


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.attempted = self.failed = 0
        self.rss_mb = 0.0

    def attempt(self, fn):
        """Run one operation and count it. ``fn`` returns its value and the
        problems found in its output; the operation failed if it raised or
        any problem was found. The value is kept either way: a unit whose
        output is wrong was still timed."""
        self.attempted += 1
        try:
            value, problems = fn()
        except Exception:
            self.failed += 1
            log(f"{self.workload} seed {self.seed}: operation failed\n{traceback.format_exc()}")
            return None
        if problems:
            self.failed += 1
            log(f"{self.workload} seed {self.seed}: wrong output: " + "; ".join(problems))
        return value

    def checked_unit(self, wl, with_read: bool):
        """One untraced unit, its read-after-write samples and its check.
        Returns the unit's wall and CPU seconds, the wall seconds of each
        read and the CPU seconds of the reads together, and the unit's
        write statistics."""

        def op():
            with CpuClock() as unit_cpu:
                wall, result = wl.unit()
            reads, both = [], None
            with CpuClock() as read_cpu:
                for _ in range(READS_PER_UNIT if with_read else 0):
                    secs, both = wl.read_after_write(result)
                    reads.append(secs)
            try:
                stats, problems = wl.verify(result, both)
            finally:
                wl.cleanup(result)
            return {"wall": wall, "cpu": unit_cpu, "reads": reads, "read_cpu": read_cpu,
                    "stats": stats}, problems

        out = self.attempt(op)
        self.rss_mb = max(self.rss_mb, peak_rss_mb())
        return out

    def main(self, trace: bool) -> dict:
        from perfbench.trace import Tracer

        with CpuClock() as session_cpu:
            t0 = time.perf_counter()
            spark = start_session(self.work)
            session_s = time.perf_counter() - t0
        try:
            cls = LakeDense if self.workload == "lake_dense" else CowSparse
            t1 = time.perf_counter()
            wl = cls(spark, self.work, self.seed)  # generator: not set-up time
            t2 = time.perf_counter()
            with CpuClock() as engine_cpu:
                wl.setup_engine()
            t3 = time.perf_counter()
            warm = [self.checked_unit(wl, with_read=True) for _ in range(wl.warmup_units)]
            # the engine's work in set-up; the checks of the warm-up units
            # run in this process and are left out
            setup_cpu = session_cpu.total + engine_cpu.total + sum(
                u["cpu"].total + u["read_cpu"].total for u in warm if u)
            log(f"set-up: session {session_s:.2f} s, inputs {t2 - t1:.2f} s, "
                f"engine set-up {t3 - t2:.2f} s, warm-up {time.perf_counter() - t3:.2f} s; "
                f"{setup_cpu:.2f} CPU s")
            if trace:
                return self.traced(spark, wl, Tracer(spark.sparkContext), session_s, warm)
            return self.untraced(wl, setup_cpu)
        finally:
            stop_session(spark)

    def untraced(self, wl, setup_cpu: float) -> dict:
        units, tried = [], 0
        t0 = time.perf_counter()
        while tried < MIN_UNITS or time.perf_counter() - t0 < self.seconds:
            tried += 1
            u = self.checked_unit(wl, with_read=True)
            if u is not None:
                units.append(u)
                log(f"unit {tried}: {u['wall']:.3f} s, {u['cpu'].app:.2f} CPU s "
                    f"+ {u['cpu'].jit:.2f} JIT s; reads {[round(r, 3) for r in u['reads']]} s, "
                    f"{u['read_cpu'].app / len(u['reads']):.3f} CPU s each")
        if not units:
            raise RuntimeError("no unit completed")
        log(f"median wall: unit {statistics.median(u['wall'] for u in units):.3f} s, "
            f"read {statistics.median(r for u in units for r in u['reads']):.3f} s")
        unit_cpu = statistics.median(u["cpu"].app for u in units)
        return {
            "setup_s": (setup_cpu, "s"),
            "unit_cpu_s": (unit_cpu, "s"),
            "rows_per_cpu_s": (wl.input_rows / unit_cpu, "rows/s"),
            "read_after_write_cpu_s": (
                statistics.median(u["read_cpu"].app / len(u["reads"]) for u in units), "s",
            ),
            "bytes_written_per_updated_row": (
                statistics.median(u["stats"]["bytes"] / u["stats"]["updated"] for u in units),
                "B/row",
            ),
            "peak_rss_mb": (self.rss_mb, "MB"),
        }

    def traced(self, spark, wl, tracer, session_s: float, warm) -> dict:
        from perfbench.trace import union_within

        untraced, per_unit = [], []
        t0 = time.perf_counter()
        while tracer.unit < 2 or time.perf_counter() - t0 < self.seconds:
            out = self.checked_unit(wl, with_read=False)
            if out is not None:
                untraced.append(out)
            tracer.unit += 1
            unit = tracer.unit

            def op():
                result = wl.traced_unit(tracer)
                try:
                    checked = wl.verify(result, result.get("both_keys"))
                finally:
                    wl.cleanup(result)
                tracer.collect(unit)
                return checked

            stats = self.attempt(op)
            if stats is not None:
                per_unit.append(layer_metrics(tracer.unit_spans(unit), stats, union_within))
        if not untraced or not per_unit:
            raise RuntimeError("no traced or untraced unit completed")
        self.write_spans(tracer)
        metrics = {k: (statistics.median(u[k][0] for u in per_unit), per_unit[0][k][1])
                   for k in per_unit[0]}
        wall = statistics.median(u["wall"] for u in untraced)
        metrics["session.start_s"] = (session_s, "s")
        metrics["setup.warmup_s"] = (sum(u["wall"] for u in warm if u), "s")
        metrics["jit.compile_cpu_s"] = (statistics.median(u["cpu"].jit for u in untraced), "s")
        metrics["trace.untraced_wall_s"] = (wall, "s")
        metrics["trace.overhead_s"] = (metrics["trace.total_s"][0] - wall, "s")
        return metrics

    def write_spans(self, tracer) -> None:
        path = os.path.join(ROOT, ".perfbench", f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "parent": s.parent, "unit": s.unit,
                     "start": s.start, "seconds": s.seconds,
                     "counts": s.counts, "spark": s.spark}
                    for s in tracer.spans
                ],
                f, indent=1,
            )
        log(f"spans written to {os.path.relpath(path, ROOT)}")


LAYER_SPANS = {
    "reset_s": "reset",
    "catalog.discover_s": "catalog.discover",
    "zh.derive_s": "zh.derive",
    "write.rewrite_s": "write.rewrite",
    "io.readback_s": "io.readback",
}


def layer_metrics(spans, stats: dict, union_within) -> dict:
    """Per-layer metrics of one traced unit."""

    def total(name: str, key: str | None = None) -> float:
        return sum(
            (s.seconds if key is None else s.counts.get(key, 0))
            for s in spans if s.name == name
        )

    def spark_sum(key: str, name: str | None = None) -> float:
        return sum(s.spark.get(key, 0) for s in spans if name is None or s.name == name)

    unit = next(s for s in spans if s.name == "unit")
    children = sum(s.seconds for s in spans if s.parent == "unit")
    intervals = [iv for s in spans for iv in s.job_intervals]
    top = [s for s in spans if s.parent is None]
    driver_only = sum(s.seconds - union_within(intervals, s.start, s.end) for s in top)
    scanned = spark_sum("scan_rows", "zh.derive")
    updated = total("zh.derive", "rows_updated")
    m = {k: (total(name), "s") for k, name in LAYER_SPANS.items()}
    m.update({
        "trace.total_s": (unit.seconds, "s"),
        "trace.unattributed_s": (unit.seconds - children, "s"),
        "catalog.tables_qualified": (total("catalog.discover", "tables_qualified"), "count"),
        "zh.rows_scanned": (scanned, "rows"),
        "zh.rows_updated": (updated, "rows"),
        "zh.update_ratio": (updated / scanned if scanned else 0.0, "ratio"),
        "write.bytes": (stats["bytes"], "B"),
        "write.files": (stats["files"], "count"),
        "write.rows_rewritten": (stats["rows_rewritten"], "rows"),
        "write.partitions_rewritten": (stats["partitions"], "count"),
        "write.rewrite_ratio": (stats["rows_rewritten"] / stats["updated"], "ratio"),
        "cache.pinned_bytes": (total("zh.derive", "pinned_bytes"), "B"),
        "spark.jobs": (spark_sum("jobs"), "count"),
        "spark.stages": (spark_sum("stages"), "count"),
        "spark.tasks": (spark_sum("tasks"), "count"),
        "spark.driver_only_s": (driver_only, "s"),
        "spark.task_run_s": (spark_sum("task_run_s"), "s"),
        "spark.task_cpu_s": (spark_sum("task_cpu_s"), "s"),
        "spark.gc_s": (spark_sum("gc_s"), "s"),
        "scan.bytes": (spark_sum("scan_bytes"), "B"),
        "scan.rows": (spark_sum("scan_rows"), "rows"),
        "shuffle.write_bytes": (spark_sum("shuffle_write_bytes"), "B"),
        "shuffle.read_bytes": (spark_sum("shuffle_read_bytes"), "B"),
        "spill.bytes": (spark_sum("spill_bytes"), "B"),
    })
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import openmaptiles_zh_modifier_spark as engine
    except ImportError as exc:
        log(f"the engine package is not in this checkout ({exc})")
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        log(f"the engine package was imported from outside {ROOT}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # Spark, the JVM and Python keep their temporary files in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    run = Run(args.workload, args.seed, args.seconds, work)
    try:
        metrics = run.main(trace=bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in metrics.items():
        log(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
