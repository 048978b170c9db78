"""Invariant tests for the scale-infrastructure and analytics operators
added on top of the oracle gate: bloom pruning, table diff, priority
sampling, PageRank, equi-depth binning, transition matrix."""

from __future__ import annotations

from openmaptiles_zh_modifier_spark.queries_dedup import PRIORITY_K
from openmaptiles_zh_modifier_spark.queries_graph import PR_DAMP, q_pagerank_nations
from openmaptiles_zh_modifier_spark.queries_dedup import q_priority_sample
from openmaptiles_zh_modifier_spark.queries_events import q_event_transitions
from openmaptiles_zh_modifier_spark.queries_scale import (
    DRIFT_MOD,
    q_assign_ids,
    q_bloom_join_prune,
    q_tablediff_checksum,
)
from openmaptiles_zh_modifier_spark.queries_skew import (
    EQUI_DEPTH_BINS,
    q_histogram_equidepth,
)


def test_bloom_never_false_negative(spark, sf_dir):
    rows = q_bloom_join_prune(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_false_neg == 0          # bloom's defining guarantee
        assert r.n_pass >= r.n_true        # only over-approximates
        assert r.n_pass == r.n_true + r.n_false_pos


def test_tablediff_finds_exactly_the_drifted_keys(spark, sf_dir):
    rows = q_tablediff_checksum(spark, sf_dir).collect()
    keys = sorted(r.o_orderkey for r in rows)
    assert keys and all(k % DRIFT_MOD == 0 for k in keys)
    for r in rows:
        assert r.cents_b - r.cents_a == 100


def test_priority_sample_estimator_shape(spark, sf_dir):
    rows = q_priority_sample(spark, sf_dir).collect()
    assert len(rows) == PRIORITY_K
    tau = None
    for r in rows:
        assert r.w_hat >= r.w              # estimator never shrinks a kept row
        if r.w_hat > r.w:
            tau = tau or r.w_hat
            assert r.w_hat == tau          # all below-threshold rows share tau


def test_pagerank_mass_conserved(spark, sf_dir):
    rows = q_pagerank_nations(spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r.pagerank for r in rows)
    # dangling nodes (no out-edges at tiny SF) leak mass — total is
    # bounded by 1 and by the teleport floor from below
    assert (1.0 - PR_DAMP) - 1e-9 <= total <= 1.0 + 1e-9
    assert all(r.pagerank > 0 for r in rows)
    assert [r.rk for r in sorted(rows, key=lambda r: -r.pagerank)] == list(
        range(1, 26)
    )


def test_equidepth_bins_balanced(spark, sf_dir):
    rows = q_histogram_equidepth(spark, sf_dir).collect()
    assert len(rows) == EQUI_DEPTH_BINS
    sizes = [r.n for r in rows]
    assert max(sizes) - min(sizes) <= 1    # ntile's defining guarantee
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo                # bins tile the value axis in order


def test_transition_rows_are_stochastic(spark, sf_dir):
    rows = q_event_transitions(spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.from_type, []).append(r)
    for src, out in by_src.items():
        p = sum(r.prob for r in out)
        assert 0.99 <= p <= 1.0 + 1e-9     # floor-of-ppm: sums to <= 1
        assert all(r.prob > 0 for r in out)


def test_assign_ids_are_contiguous_and_unique(spark, sf_dir):
    rows = q_assign_ids(spark, sf_dir).collect()
    ids = sorted(r.row_id for r in rows)
    assert ids == list(range(1, len(rows) + 1))


def test_assign_ids_property_random_frames(spark):
    """Property: for seeded random key sets (with gaps, negatives, and
    string-sortable collision patterns), assign_contiguous_ids is a
    bijection onto 1..N whose order matches the declared
    (h32%B, h32, key) total order computed independently in Python."""
    import hashlib
    import random

    from openmaptiles_zh_modifier_spark.operators.ids import (
        assign_contiguous_ids,
    )

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    rng = random.Random(20260814)
    cases = [
        [],                       # empty frame
        [7],                      # singleton
        list(range(100)),         # dense
        rng.sample(range(10**9), 257),  # sparse, crosses buckets
        [-5, -1, 0, 3, -(10**12), 10**12],  # negatives + extremes
    ]
    for n_buckets in (1, 8):
        for keys in cases:
            df = spark.createDataFrame(
                [(k,) for k in keys], "k long"
            )
            got = {
                r.k: r.row_id
                for r in assign_contiguous_ids(
                    df, "k", n_buckets=n_buckets
                ).collect()
            }
            expect_order = sorted(
                keys,
                key=lambda k: (
                    h32_py(str(k)) % n_buckets, h32_py(str(k)), k
                ),
            )
            assert got == {k: i + 1 for i, k in enumerate(expect_order)}
