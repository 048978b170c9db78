"""Sketch accuracy contracts."""

from __future__ import annotations

import pytest

from openmaptiles_zh_modifier_spark.queries_sketches import (
    QSK_BINW,
    q_quantile_sketch,
)
from openmaptiles_zh_modifier_spark.registry import QUERIES


def test_approx_sketches_within_rated_error(spark, sf_dir):
    # The query now self-asserts the rated-error contract as 0/1 flag
    # columns (scalar outputs — the driver canonicalizer rejects arrays);
    # every flag must be 1 and the exact columns must be positive.
    rows = QUERIES["q_approx_sketches"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_parts > 0 and r.n > 0
        assert r.approx_parts_ok == 1
        assert r.p25_ok == 1 and r.p50_ok == 1 and r.p75_ok == 1
        assert r.iqr_monotone_ok == 1


# ------------------------------------------------- portable sketch bounds

def test_portable_sketches_respect_their_contracts(spark, sf_dir):
    from openmaptiles_zh_modifier_spark.queries_sketches import (
        q_cms_heavy_hitters,
        q_hll_distinct,
        q_kmv_set_overlap,
    )

    # CMS: min-over-rows can only OVER-count
    for r in q_cms_heavy_hitters(spark, sf_dir).collect():
        assert r.overcount >= 0
        assert r.cms_estimate >= r.exact_count

    # HLL m=64: raw estimate within ~5 sigma of exact (sigma ~ 1.04/8)
    for r in q_hll_distinct(spark, sf_dir).collect():
        assert r.rel_error < 5 * 1.04 / 8, (r.o_orderpriority, r.rel_error)

    # KMV: union estimate >= each side's true overlap; agreement <= k
    row = q_kmv_set_overlap(spark, sf_dir).collect()[0]
    assert 0 <= row.sketch_agreement <= 128
    assert row.overlap_estimate >= 0
    # overlap cannot exceed the union estimate
    assert row.overlap_estimate <= row.union_estimate + 1e-9


def test_quantile_sketch_rated_error_and_monotone(spark, sf_dir):
    rows = q_quantile_sketch(spark, sf_dir).orderBy("p").collect()
    assert [r.p for r in rows] == [25, 50, 75, 90, 99]
    assert all(r.within_bound == 1 for r in rows)
    ests = [r.est_cents for r in rows]
    assert ests == sorted(ests)  # quantile estimates monotone in p
    assert all(r.est_cents >= 0 and r.est_cents <= r.bin * QSK_BINW + QSK_BINW
               for r in rows)
