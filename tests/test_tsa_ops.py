"""DTW + Haar wavelet: independent in-test replicas beside the
dual-scale oracle hashes."""

from __future__ import annotations

import duckdb

from openmaptiles_zh_modifier_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _series(con):
    rows = con.execute(
        f"""
        SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS BIGINT) // 2 AS b,
               COUNT(*) AS c
        FROM '{SF}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    out: dict[str, list[int]] = {}
    for t, b, c in rows:
        out.setdefault(t, [0] * 12)[b] = c
    return out


def _dtw(x, y):
    n, m = len(x), len(y)
    inf = float("inf")
    d = [[inf] * (m + 1) for _ in range(n + 1)]
    d[0][0] = 0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            d[i][j] = abs(x[i - 1] - y[j - 1]) + min(
                d[i - 1][j - 1], d[i - 1][j], d[i][j - 1]
            )
    return d[n][m]


def test_dtw_matches_reference_and_properties(spark):
    rows = {
        (r.type_a, r.type_b): r.dtw
        for r in QUERIES["q_dtw_profiles"](spark, SF).collect()
    }
    series = _series(duckdb.connect())
    types = sorted(series)
    assert len(rows) == len(types) * (len(types) - 1) // 2
    for (ta, tb), got in rows.items():
        want = _dtw(series[ta], series[tb])
        assert got == want
        # DTW lower/upper bounds: |sum diff| <= dtw <= L1 on the
        # identity alignment
        l1 = sum(abs(a - b) for a, b in zip(series[ta], series[tb]))
        assert got <= l1
        assert got >= 0
    for t in types:
        assert _dtw(series[t], series[t]) == 0  # identity sanity


def test_haar_reconstruction_and_order(spark):
    rows = QUERIES["q_haar_wavelet"](spark, SF).collect()
    approx = [r for r in rows if r.level == 99]
    dets = [r for r in rows if r.level != 99]
    assert len(approx) == 1
    con = duckdb.connect()
    total = con.execute(
        f"""
        WITH hours AS (
          SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c
          FROM '{SF}/events.parquet' GROUP BY 1
        ), idx AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS i, c FROM hours
        )
        SELECT COALESCE(SUM(c), 0) FROM idx WHERE i < 512
        """
    ).fetchone()[0]
    # the level-9 approximation of the unnormalized transform IS the
    # series total over the (possibly truncated) 512-hour window
    assert approx[0].coef == total
    mags = [abs(r.coef) for r in sorted(dets, key=lambda r: r.rk)]
    assert mags == sorted(mags, reverse=True)
    assert all(1 <= r.level <= 9 for r in dets)


def test_isotonic_invariants(spark):
    rows = QUERIES["q_isotonic_fit"](spark, SF).collect()
    assert rows
    fits = [r.iso_fit_cents for r in rows]
    assert fits == sorted(fits)  # isotonic
    con = duckdb.connect()
    months = con.execute(
        f"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
                        + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS x,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y,
                   COUNT(*) AS n
            FROM '{SF}/orders.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert [r.mth_index for r in rows] == [m[0] for m in months]
    # weighted-mean preservation: sum(fit * n) == sum(cents) exactly
    # up to float on the per-block division (each block's fit*weight
    # reassembles its integer sum to within rounding)
    got = sum(f * r.n_orders for f, r in zip(fits, rows))
    want = sum(m[1] for m in months)
    assert abs(got - want) < 1e-3 * max(1, abs(want)) ** 0.5 + 1.0
    means = [m[1] / m[2] for m in months]
    assert min(means) - 1e-9 <= fits[0] and fits[-1] <= max(means) + 1e-9


class TestHaarDriverButterfly:
    """The q_haar_wavelet driver butterfly is lossless integer math —
    assert perfect reconstruction (the inverse transform restores the
    series) and the level-9 approximation equals the series total."""

    def test_roundtrip_and_total(self):
        import random

        rng = random.Random(7)
        series = [rng.randint(0, 1000) for _ in range(512)]
        a = list(series)
        levels = []  # det coefficients per level
        while len(a) > 1:
            nxt = [a[2 * p] + a[2 * p + 1] for p in range(len(a) // 2)]
            det = [a[2 * p] - a[2 * p + 1] for p in range(len(a) // 2)]
            levels.append(det)
            a = nxt
        assert a[0] == sum(series)
        # inverse: left = (s+d)/2, right = (s-d)/2 — exact integers
        rec = a
        for det in reversed(levels):
            nxt = []
            for s, d in zip(rec, det):
                left = (s + d) // 2
                right = (s - d) // 2
                assert left + right == s and left - right == d
                nxt.extend((left, right))
            rec = nxt
        assert rec == series
