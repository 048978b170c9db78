"""Robustness proofs: AQE skew-join splitting fires, MERGE matches a
reference implementation on randomized inputs, malformed JSON rows are
quarantined instead of killing the scan."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.operators.merge import merge_into


def test_aqe_splits_skewed_join_partition(spark):
    """One hot key dominating the left side must trigger AQE's
    OptimizeSkewedJoin (the executed plan marks the SMJ with skew=true) —
    the runtime guard this engine relies on for unsalted skew."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        # select a narrow output; collect (NOT count — count builds its own
        # QueryExecution and the inspected plan would stay non-final)
        out = left.join(right, "k").select("k")
        n = len(out.collect())
        # 360k rows carry hot key 0; the id%10==9 rows keep k=id and match
        # only for id < 2000 (200 of them)
        assert n == 360_000 + 200
        executed = str(out._jdf.queryExecution().executedPlan())
        assert "skew=true" in executed, executed[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _reference_merge(base, src, update_amt, delete_keys, insert_rows):
    out = {}
    for k, v, bal in base:
        if k in delete_keys:
            continue
        out[k] = (k, v, bal + update_amt.get(k, 0.0))
    for k, v, bal in insert_rows:
        out[k] = (k, v, bal)
    return sorted(out.values())


def test_merge_matches_reference_on_random_inputs(spark):
    rng = random.Random(42)
    for _ in range(5):
        base_rows = [(k, f"b{k}", float(rng.randint(0, 99))) for k in
                     rng.sample(range(30), rng.randint(5, 15))]
        src_keys = rng.sample(range(40), rng.randint(5, 15))
        src_rows = [
            (k, float(rng.randint(1, 9)), rng.random() < 0.3) for k in src_keys
        ]
        base = spark.createDataFrame(base_rows, "k int, v string, bal double")
        src = spark.createDataFrame(src_rows, "key int, amt double, del boolean")
        got = sorted(
            tuple(r)
            for r in merge_into(
                base,
                src,
                on={"k": "key"},
                matched_update={"bal": F.col("t.bal") + F.col("s.amt")},
                matched_delete=F.col("s.del"),
                not_matched_insert={
                    "k": F.col("s.key"),
                    "v": F.lit("new"),
                    "bal": F.col("s.amt"),
                },
            ).collect()
        )
        base_keys = {k for k, _, _ in base_rows}
        want = _reference_merge(
            base_rows,
            src_rows,
            {k: a for k, a, d in src_rows if not d and k in base_keys},
            {k for k, _, d in src_rows if d and k in base_keys},
            [(k, "new", a) for k, a, d in src_rows if k not in base_keys],
        )
        assert got == want


def test_corrupt_json_rows_are_quarantined(spark, tmp_path):
    p = str(tmp_path / "j")
    lines = ['{"a": 1, "b": "x"}', "{not json at all", '{"a": 3, "b": "z"}']
    (tmp_path / "j").mkdir()
    (tmp_path / "j" / "part.json").write_text("\n".join(lines))
    df = (
        spark.read.schema("a long, b string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.a for r in good} == {1, 3}
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record


def test_udf_queries_work_from_foreign_launch_directory(tmp_path):
    """Round-9 finding: cloudpickle serializes the package's pandas-UDF
    functions by reference, so Python WORKERS must re-import the package
    — which used to fail (worker read_udfs crash on every UDF-bearing
    query) when the driver process was launched outside the repo root.
    session._export_package_pythonpath exports the repo root into
    PYTHONPATH before the JVM starts; this test drives a UDF query from
    a foreign cwd in a clean subprocess."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from openmaptiles_zh_modifier_spark.registry import QUERIES\n"
        "from openmaptiles_zh_modifier_spark.session import get_spark\n"
        "spark = get_spark(app_name='cwd-robustness', master='local[2]')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "n = QUERIES['q_udaf_mode'](spark, '/root/testdata/sf0.001').count()\n"
        "assert n > 0, n\n"
        "print('ROWS', n)\n" % str(repo)
    )
    env = {
        k: v
        for k, v in __import__("os").environ.items()
        if k != "PYTHONPATH"
    }
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ROWS" in out.stdout


def test_bench_panel_names_stay_registered():
    """The fixed 30-query reference panel (BASELINE.md) only works as a
    constant basket if every name stays in the registry — a rename
    would silently shrink the basket (bench.py filters, not fails)."""
    import bench
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    missing = [q for q in bench.PANEL if q not in QUERIES]
    assert missing == [], missing
    assert len(bench.PANEL) == 30


def test_local_frame_parses_ddl_names_and_keeps_integers_exact(spark):
    """``local_frame`` takes column names from Spark's DDL parse, so a
    type with a comma (``decimal(10,2)``) does not split a column in two,
    and a None in a bigint column does not round its other values
    through float64 (2**53 + 1 is not representable as a double)."""
    from decimal import Decimal

    from openmaptiles_zh_modifier_spark.registry import local_frame

    big = 2**53 + 1
    df = local_frame(
        spark,
        [(big, Decimal("1.25")), (None, None)],
        "a bigint, d decimal(10,2)",
    )
    assert df.schema.simpleString() == "struct<a:bigint,d:decimal(10,2)>"
    assert [tuple(r) for r in df.collect()] == [
        (big, Decimal("1.25")),
        (None, None),
    ]
