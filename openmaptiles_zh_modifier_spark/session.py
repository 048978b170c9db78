"""SparkSession factory with the engine's load-bearing configuration.

The reference mutates an hstore ``tags`` column with ``||`` concatenation
where the RIGHT operand wins on key collision (OMTZHModifier.java:157-159).
Spark's ``map_concat`` throws on duplicate keys by default, so
``spark.sql.mapKeyDedupPolicy=LAST_WIN`` is *load-bearing*: the zh write-back
is silently impossible without it.

Everything else is scale hygiene: AQE for runtime re-planning (skew joins,
partition coalescing — the Spark-native answer to the reference's hand-rolled
maxID/100 batch sizing, OMTZHModifier.java:122-126), Arrow for the few
pandas-UDF boundaries, and shuffle-partition counts sized for the test
machine but overridable for a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that change SEMANTICS (not just speed). Never override these.
SEMANTIC_CONFS: dict[str, str] = {
    # hstore `||` right-wins concat semantics for map_concat (F7).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # Deterministic timestamp behavior across JVM/pandas/Arrow boundaries.
    "spark.sql.session.timeZone": "UTC",
}

# Compatibility confs. Spark 4.1 refuses to read a parquet TIMESTAMP(NANOS)
# column (PARQUET_TYPE_ILLEGAL) unless nanosAsLong is set; with it the
# column reads as BIGINT nanoseconds, which registry.load() and
# read_events_stream() turn into a micros timestamp. TIMESTAMP(MICROS)
# columns, as in every testdata scale, read as timestamp_ntz either way.
COMPAT_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Performance defaults — sized for local[32] testing; a cluster deployment
# overrides via spark-defaults or the `extra` argument.
#
# Scale posture (optimization round 13): shuffle partitions are
# PARAMETERIZED, not a constant tuned for this box — the default
# tracks the session's core count (SPARK_GRAFT_CPUS when the driver
# sets it, else the machine), floored at 32 so the local bench keeps
# its historical plan shape, and a cluster sets
# SPARK_GRAFT_SHUFFLE_PARTITIONS (or spark-defaults) to data-sized
# values (100 MB-1 GB per post-AQE partition, guide §2.2). AQE
# coalescing then right-sizes small shuffles at runtime either way.
def _default_shuffle_partitions() -> str:
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit:
        return explicit
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    try:
        n = int(cpus)
    except ValueError:
        n = os.cpu_count() or 32
    return str(max(32, n))


PERF_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # spark.sql.shuffle.partitions is resolved at session-BUILD time in
    # session_builder() (ADVICE r13: an import-time read silently
    # ignores SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_GRAFT_CPUS set
    # after this module is imported, e.g. by a test fixture).
    # 128 MiB splits — the Parquet-native replacement for the reference's
    # manual BETWEEN-range batching (OMTZHModifier.java:130-137).
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def _export_package_pythonpath() -> None:
    """Make the package importable in Python WORKERS regardless of the
    launch directory. Cloudpickle serializes the package's pandas-UDF /
    mapInPandas functions BY REFERENCE, so each worker re-imports
    ``openmaptiles_zh_modifier_spark`` — which only works if the repo
    root is on the worker's import path. Driver-side sys.path edits do
    not propagate; PYTHONPATH in the driver env does (local-mode workers
    inherit the JVM's env, which inherits ours if set BEFORE the JVM
    launches). Found round 9: every UDF-bearing query failed when the
    gate script was launched from outside the repo root."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            root + (os.pathsep + existing if existing else "")
        )


def session_builder(
    app_name: str = "openmaptiles-zh-modifier-spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession.Builder:
    """Return a configured builder (callers may add more config)."""
    _export_package_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in {
        **PERF_CONFS,
        "spark.sql.shuffle.partitions": _default_shuffle_partitions(),
        **COMPAT_CONFS,
        **(extra or {}),
        **SEMANTIC_CONFS,
    }.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "openmaptiles-zh-modifier-spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create the engine session.

    If a session already exists (e.g. the driver handed us one), the
    semantic confs are applied to it at runtime — they are all
    runtime-settable — so engine code behaves identically either way.

    CAVEAT (measured, round 10): when a session already exists,
    ``getOrCreate`` ALSO applies this builder's non-static confs to it
    — including PERF_CONFS like ``spark.sql.shuffle.partitions`` — so
    calling ``get_spark`` inside someone else's session OVERWRITES
    their runtime tuning. Code that should adopt a caller's session
    untouched must use ``SparkSession.getActiveSession()`` +
    ``apply_semantic_confs`` instead (see ``__main__.main``)."""
    spark = session_builder(app_name, master, extra).getOrCreate()
    for k, v in SEMANTIC_CONFS.items():
        spark.conf.set(k, v)
    return spark


def apply_semantic_confs(spark: SparkSession) -> SparkSession:
    """Ensure an externally-created session has the semantics we rely on."""
    for k, v in SEMANTIC_CONFS.items():
        spark.conf.set(k, v)
    return spark
