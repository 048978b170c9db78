"""Local replica of the driver's correctness gate.

Runs every QUERIES[name] on Spark and the matching ORACLE_SQL[name] on
DuckDB over the same parquet, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified). Each row prints the seconds Spark (build + collect) and
DuckDB (execute + fetch) took, and the five slowest rows are listed
before the final tally. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class NonScalarCell(TypeError):
    """A result cell the DRIVER's canonicalizer cannot handle.

    The driver pandas-sorts result rows before hashing; list/map/struct
    cells raise ``TypeError: unhashable type`` inside pandas and the query
    is recorded as ``err`` regardless of value correctness (this killed
    q_map_hofs in rounds 1-2). Be faithful to that: refuse to stringify
    non-scalar cells so the failure shows up HERE first. Queries must
    project arrays/maps to strings (array_join / array_to_string)."""


def norm(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # canonical float text: kill -0.0 and trailing noise
        return repr(round(v + 0.0, 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (str, int, bool, bytes, datetime.date, datetime.time)):
        return str(v)
    if hasattr(v, "__len__") or isinstance(v, (list, tuple, dict, set)):
        raise NonScalarCell(
            f"non-scalar result cell {type(v).__name__}: the driver's "
            "canonicalizer would crash on this — project it to a string "
            "(array_join / array_to_string) in the query"
        )
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), sorted_cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Driver-faithful session: the driver builds a PLAIN SparkSession (no
    # creation-time semantic confs) and calls the __spark_entry__ wrappers,
    # which apply_semantic_confs() at runtime. Replicate exactly that, so
    # environment drift (e.g. a conf that is runtime-dead on the installed
    # Spark) shows up HERE before it shows up in CORRECTNESS_r{N}.json.
    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    QUERIES = entrymod.queries()
    ORACLE_SQL = entrymod.oracle_sql()
    names = sys.argv[2:] or list(QUERIES)
    spark = (
        SparkSession.builder.appName("oracle-check")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    timings: list[tuple[float, str, float, float]] = []
    for name in names:
        fn = QUERIES[name]
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # one broken query must not kill the run
            print(f"  [FAIL] {name}: spark error: {str(exc)[:300]}")
            failures += 1
            continue
        spark_s = time.perf_counter() - t0
        try:
            s_fp = frame_fingerprint(s_cols, s_rows)
        except NonScalarCell as exc:
            print(f"  [FAIL] {name}: driver-canonicalizer: {exc}")
            failures += 1
            continue

        if name not in ORACLE_SQL:
            print(
                f"  {name}: rows={s_fp[0]} (rows-only check, no oracle)"
                f" spark={spark_s:.2f}s"
            )
            timings.append((spark_s, name, spark_s, 0.0))
            continue
        t0 = time.perf_counter()
        res = con.execute(ORACLE_SQL[name])
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
        duck_s = time.perf_counter() - t0
        timings.append((spark_s + duck_s, name, spark_s, duck_s))
        try:
            d_fp = frame_fingerprint(d_cols, d_rows)
        except NonScalarCell as exc:
            print(f"  [FAIL] {name}: oracle canonicalizer: {exc}")
            failures += 1
            continue

        ok = s_fp == d_fp
        status = "OK " if ok else "FAIL"
        print(
            f"  [{status}] {name}: spark(rows={s_fp[0]}, hash={s_fp[2]})"
            f" duckdb(rows={d_fp[0]}, hash={d_fp[2]})"
            f" spark={spark_s:.2f}s duckdb={duck_s:.2f}s"
        )
        if not ok:
            failures += 1
            if s_fp[1] != d_fp[1]:
                print(f"      cols spark={s_fp[1]} duckdb={d_fp[1]}")
            if s_fp[0] == d_fp[0] and s_fp[1] == d_fp[1]:
                order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                sl = sorted("|".join(norm(r[i]) for i in order) for r in s_rows)
                d_order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                dl = sorted("|".join(norm(r[i]) for i in d_order) for r in d_rows)
                for a, b in zip(sl, dl):
                    if a != b:
                        print(f"      spark : {a[:200]}\n      duckdb: {b[:200]}")
                        break
    print("slowest rows:")
    for total, name, spark_s, duck_s in sorted(timings, reverse=True)[:5]:
        print(f"  {name}: spark={spark_s:.2f}s duckdb={duck_s:.2f}s")
    print(f"{len(names) - failures}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
