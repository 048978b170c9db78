"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``openmaptiles_zh_modifier_spark.registry``;
this module is the thin driver-facing adapter.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from openmaptiles_zh_modifier_spark.registry import ORACLE_SQL, QUERIES  # noqa: E402
from openmaptiles_zh_modifier_spark.session import (  # noqa: E402
    _export_package_pythonpath,
    apply_semantic_confs,
)

# workers must be able to re-import the package even if the driver was
# launched from another directory; effective when this import precedes
# the JVM launch (see session._export_package_pythonpath)
_export_package_pythonpath()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the zh back-fill pipeline) on sf0.001."""
    apply_semantic_confs(spark)
    return QUERIES["zh_backfill"](spark, "/root/testdata/sf0.001")


# The driver gate samples the FIRST 50 registry entries each round, so the
# dict ordering decides what gets externally verified. Round-14 window
# (routine rotation, optimization round 2): the TWENTY-ONE query paths
# this round's optimizations touched take their external confirmation
# reads FIRST (memo removals: BFS/LPA/cc_star/kcore/merge-DV; the VAD
# witness fold; single-buffer IQR quantiles; Arrow local-frame
# consumers: pagerank/HITS/textrank/haar/PCA/benford/zh lexicons;
# 16-partition python-stateful drains + the streaming CDF bundle read);
# the remaining 29 slots are the never-sampled/stalest rows from
# ``python tools/gate_coverage.py --window``.
_R14_WINDOW = [
    "q_bfs_reachability",
    "q_label_propagation",
    "q_cc_star",
    "q_kcore",
    "q_cow_merge_dv",
    "q_multimodal_vad",
    "q_outliers_iqr",
    "q_pagerank_nations",
    "q_hits_scores",
    "q_textrank_keywords",
    "q_haar_wavelet",
    "q_embed_pca_power",
    "q_benford_audit",
    "q_stream_running_totals",
    "q_stream_heavy_hitters",
    "q_stream_cusum",
    "q_stream_sprt",
    "q_stream_trajectory",
    "q_stream_cow_changes",
    "q_zh_segment_fmm",
    "q_zh_convert_audit",
    "q_scalar_functions",
    "q_skew_audit",
    "q_stratified_sample",
    "q_token_budget_select",
    "q_topk_per_group_agg",
    "q_unigram_apply",
    "q_unigram_lm_step",
    "q_unpivot_measures",
    "q_vocab_coverage",
    "zh_backfill_typo_compat",
    "q10_returned_items",
    "q11_important_parts",
    "q12_late_shipments",
    "q14_promo_share",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q_dedup_edit_distance",
    "q_embed_maxsim",
    "q_embed_neardup",
    "q_event_transitions",
    "q_events_from_json",
    "q_events_sessionize",
    "q_events_sliding",
    "q_events_tumbling",
    "q_funnel_analysis",
    "q_hll_distinct",
    "q_kmeans_step",
]


def _gate_order(names) -> list[str]:
    head = [n for n in _R14_WINDOW if n in names]
    return head + [n for n in names if n not in set(head)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_semantic_confs(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(QUERIES[name]) for name in _gate_order(QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for each oracle-checkable query."""
    return dict(ORACLE_SQL)
