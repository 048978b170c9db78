"""Driver-hash-risk detector: compare the DuckDB output type of every
oracle query against the Spark dtype of the matching engine query.

The correctness gate hashes STRINGIFIED values after its own
normalization, and some normalizations (e.g. pandas conversion) turn
DuckDB HUGEINT into float64 — so a value-identical result can
hash-mismatch purely on output type. Round 1 lost q_dedup_simhash and
q_decontamination to exactly this. Rule enforced here: no oracle output
column may be HUGEINT (CAST integer SUMs / bit ops to BIGINT), and
flagged non-cosmetic type divergences should be pinned on both sides.

Usage: python tools/type_audit.py [sf_dir]     (exit 1 on HUGEINT hits)
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# cosmetic pairs that stringify identically — not a risk
_EQUIV = {
    ("VARCHAR", "STRING"),
    ("BOOLEAN", "BOOLEAN"),
    ("BOOL", "BOOLEAN"),
}


def _norm_duck(t: str) -> str:
    t = str(t).upper()
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if "TIMESTAMP" in t:
        return "ts"
    return t


def _norm_spark(t: str) -> str:
    t = t.lower()
    if t in ("bigint", "int", "smallint", "tinyint"):
        return "int"
    if t in ("double", "float"):
        return "float"
    if "timestamp" in t:
        return "ts"
    return t.upper()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from openmaptiles_zh_modifier_spark.registry import ORACLE_SQL, QUERIES
    from openmaptiles_zh_modifier_spark.session import get_spark

    spark = get_spark(app_name="type-audit")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    hugeint_hits = 0
    nonscalar_hits = 0
    errors = 0
    # Rule: NO registered query may output array/map/struct columns — the
    # driver's canonicalizer pandas-sorts rows and crashes on unhashable
    # cells (killed q_map_hofs/q_approx_sketches in rounds 1-2). Audit
    # EVERY query, including oracle-less ones: the driver canonicalizes
    # those too for its rows-only record.
    for name in QUERIES:
        try:
            dtypes = QUERIES[name](spark, sf_dir).dtypes
        except Exception as exc:
            print(f"  [ERR ] {name}: {str(exc)[:120]}")
            errors += 1
            continue
        for col, typ in dtypes:
            if typ.startswith(("array<", "map<", "struct<")):
                print(
                    f"  [LIST] {name}.{col}: spark={typ} — the driver "
                    "canonicalizer crashes on non-scalar cells; "
                    "array_join it to a string"
                )
                nonscalar_hits += 1
    # Rule: constructing a registered query must trigger ZERO Spark jobs
    # (the queries() contract is a lazy plan; the driver decides when to
    # act). Measured on a WARM second construction — the first pass above
    # already ran every registry.session_memo build (the cow measurement
    # tables, skew stats, the rows the driver-side queries collect, the
    # memo frames' plans), whose one-time build is legitimate; the memo
    # frames themselves stay unpopulated until an action reads them. Streaming queries are excused: their
    # run_to_memory materialization IS the query (availableNow to a
    # memory sink), so construction necessarily executes.
    eager_hits = 0
    tracker = spark.sparkContext.statusTracker()
    # Iterative loops run real Spark jobs at EVERY construction by
    # design, and their finished results are not memoized, so a repeat
    # timed run rebuilds from the parquet inputs. Same class as the
    # streaming drains excused below (materialization IS the query):
    # - q_cc_star, q_kcore: the loop acts per round to test the fixpoint;
    # - q_bfs_reachability: each relax round reads the previous distance
    #   table twice, so every round needs a lineage boundary
    #   (eager_checkpoint), which runs the round's stages; the
    #   boundary-free form that reads it once was slower at sf0.1.
    _CONVERGENCE_LOOPS = {"q_cc_star", "q_kcore", "q_bfs_reachability"}
    for name in QUERIES:
        if name.startswith("q_stream_") or name in _CONVERGENCE_LOOPS:
            continue
        group = f"lazy-audit-{name}"
        spark.sparkContext.setJobGroup(group, name)
        try:
            QUERIES[name](spark, sf_dir)
        except Exception:
            continue  # already reported as ERR above
        finally:
            spark.sparkContext.setJobGroup(None, None)
        n_jobs = len(tracker.getJobIdsForGroup(group))
        if n_jobs:
            print(
                f"  [EAGER] {name}: construction ran {n_jobs} Spark "
                "job(s) on a warm cache — the lazy queries() contract "
                "forbids actions at construction"
            )
            eager_hits += 1
    for name, sql in ORACLE_SQL.items():
        try:
            rows = con.execute(
                f"DESCRIBE SELECT * FROM ({sql}) AS q LIMIT 0"
            ).fetchall()
            s_types = {k: _norm_spark(v) for k, v in QUERIES[name](spark, sf_dir).dtypes}
        except Exception as exc:
            print(f"  [ERR ] {name}: {str(exc)[:120]}")
            errors += 1
            continue
        for col, typ, *_ in rows:
            dt = str(typ).upper()
            if dt.endswith("[]") or dt.startswith(("MAP(", "STRUCT(")):
                print(
                    f"  [LIST] {name}.{col}: duckdb={typ} — non-scalar "
                    "oracle output; array_to_string it"
                )
                nonscalar_hits += 1
            d = _norm_duck(typ)
            s = s_types.get(col, "MISSING")
            if "HUGEINT" in d:
                print(f"  [HUGE] {name}.{col}: duckdb={typ} spark={s} — CAST AS BIGINT in the oracle")
                hugeint_hits += 1
            elif d != s and (str(typ).upper(), s) not in _EQUIV and not (
                d.startswith("VARCHAR") and s == "STRING"
            ):
                print(f"  [DIFF] {name}.{col}: duckdb={typ} spark={s}")
    print(
        f"{hugeint_hits} HUGEINT output columns, "
        f"{nonscalar_hits} non-scalar output columns, "
        f"{eager_hits} eager-construction queries, "
        f"{errors} unauditable queries"
    )
    # an unauditable oracle could hide a HUGEINT — fail on errors too
    return 1 if (hugeint_hits or nonscalar_hits or eager_hits or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
