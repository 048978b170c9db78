"""Round-7 operator tests: algebraic invariants the oracle gate cannot
see — kappa on degenerate raters, binary-Hamming packing identities,
token-budget monotonicity/exactness, negative-sampling label safety,
skew-audit Gini bounds, unigram Viterbi optimality on a hand corpus,
DP census post-processing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.registry import QUERIES


def test_kappa_bounds_and_form_equivalence(spark):
    """The integer form (agree*N - chance)/(N^2 - chance) must agree
    with the textbook (po-pe)/(1-pe) within output rounding, and the
    fixture's known disagreement rate (every 4th doc) must show."""
    row = QUERIES["q_annotator_kappa"](spark, _sf_dir()).collect()[0]
    assert 0 < row.po < 1 and 0 < row.pe < 1
    # kappa must equal (po-pe)/(1-pe) within rounding of the two forms
    assert abs(row.kappa - (row.po - row.pe) / (1 - row.pe)) < 2e-4
    # the fixture disagrees on exactly the doc_id % 4 == 0 quarter
    assert abs(row.po - 0.75) < 0.05


def _sf_dir() -> str:
    return "/root/testdata/sf0.001"


def test_binary_hamming_packing_identity(spark):
    """The two 32-bit sign words must reproduce per-dimension signs:
    unpacking word bits == (e[i] > 0) for a handful of vectors."""
    from openmaptiles_zh_modifier_spark.queries_embeddings import (
        _sign_word,
    )

    df = (
        spark.read.parquet(f"{_sf_dir()}/embeddings.parquet")
        .limit(8)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
            _sign_word(F.col("embedding").cast("array<double>"), 1, 32).alias(
                "w1"
            ),
            _sign_word(
                F.col("embedding").cast("array<double>"), 33, 32
            ).alias("w2"),
        )
    )
    for r in df.collect():
        bits = [1 if x > 0 else 0 for x in r.e]
        got1 = [(r.w1 >> (31 - i)) & 1 for i in range(32)]
        got2 = [(r.w2 >> (31 - i)) & 1 for i in range(32)]
        assert got1 == bits[:32] and got2 == bits[32:64]
        assert 0 <= r.w1 < (1 << 32) and 0 <= r.w2 < (1 << 32)


def test_token_budget_exact_cut(spark):
    """Selected token mass must be the maximal prefix <= budget: adding
    the first unselected doc in global order must exceed the budget."""
    from openmaptiles_zh_modifier_spark.functions.text import tokens
    from openmaptiles_zh_modifier_spark.queries_trainprep import BUDGET_FRAC

    sf = _sf_dir()
    out = QUERIES["q_token_budget_select"](spark, sf)
    sel_tokens = sum(r.tokens_selected for r in out.collect())
    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            "doc_id",
            F.col("n_chars").alias("q"),
            F.size(tokens(F.col("text"))).cast("long").alias("t"),
        )
        .orderBy(F.desc("q"), "doc_id")
        .collect()
    )
    total = sum(r.t for r in d)
    budget = math.floor(BUDGET_FRAC * total)
    cum, n_sel = 0, 0
    for r in d:
        if cum + r.t > budget:
            break
        cum += r.t
        n_sel += 1
    assert sel_tokens == cum
    assert cum <= budget < cum + d[n_sel].t


def test_negative_sampling_never_emits_positives(spark):
    """No sampled negative may collide with any positive of its user,
    and every user's witness is consistent with its negative count."""
    sf = _sf_dir()
    out = {r.user_id: r for r in QUERIES["q_negative_sampling"](spark, sf).collect()}
    from openmaptiles_zh_modifier_spark.queries_trainprep import (
        NEG_ITEMS,
        NEG_K,
    )

    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.pmod(F.col("event_id"), NEG_ITEMS).alias("item"))
        .distinct()
        .collect()
    )
    pos = {}
    for r in ev:
        pos.setdefault(r.user_id, set()).add(r.item)
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for uid, row in out.items():
        assert row.n_pos == len(pos[uid])
        cands = {
            h32(f"{uid}:{item}:{k}") % NEG_ITEMS
            for item in pos[uid]
            for k in range(NEG_K)
        }
        kept = cands - pos[uid]
        assert row.n_neg == len(kept)
        assert row.neg_witness == sum(kept)


def test_skew_audit_gini_bounds_and_counts(spark):
    row = QUERIES["q_skew_audit"](spark, _sf_dir()).collect()[0]
    assert 0 <= row.gini < 1
    assert row.p50_f <= row.p99_f <= row.max_f
    assert row.n_keys <= row.n_rows
    assert abs(row.top1_share - row.max_f / row.n_rows) < 1e-9


def test_unigram_viterbi_is_optimal_on_hand_corpus(spark):
    """Brute-force check: for every word in a small corpus, the DP cost
    equals the minimum over ALL 1/2-piece segmentations (in-vocab)."""
    from itertools import product

    from openmaptiles_zh_modifier_spark.queries_trainprep import (
        UNI_BIGRAMS,
    )

    # reuse the registered query's internals indirectly: recompute the
    # vocab/cost model in python over the sf0.001 corpus and brute-force
    docs = spark.read.parquet(f"{_sf_dir()}/documents.parquet")
    words = {}
    for r in docs.select("text").collect():
        for w in r.text.split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    chars, bigs = {}, {}
    for w, wc in words.items():
        for i, c in enumerate(w):
            chars[c] = chars.get(c, 0) + wc
            if i >= 1:
                b = w[i - 1 : i + 1]
                bigs[b] = bigs.get(b, 0) + wc
    top = sorted(bigs.items(), key=lambda kv: (-kv[1], kv[0]))[:UNI_BIGRAMS]
    pieces = dict(chars)
    pieces.update(dict(top))
    tot = sum(pieces.values())
    cost = {
        p: round(-math.log(c / tot) * 1e6) for p, c in pieces.items()
    }

    def best(w):
        # brute force over all segmentations into pieces of len 1-2
        L = len(w)
        bestc = None
        for mask in product([1, 2], repeat=L):  # overgenerates; filter
            segs, pos = [], 0
            for m in mask:
                if pos >= L:
                    break
                segs.append(w[pos : pos + m])
                pos += m
            if pos != L or any(
                len(s) == 2 and s not in cost for s in segs
            ):
                continue
            c = sum(cost[s] for s in segs)
            bestc = c if bestc is None else min(bestc, c)
        return bestc

    # run the registered query's DP via its seg witness: recompute DP
    # from the registered piece model must match brute force
    for w in list(words)[:12]:
        dp = [0] * (len(w) + 1)
        for i in range(1, len(w) + 1):
            one = dp[i - 1] + cost[w[i - 1]]
            two = (
                dp[i - 2] + cost[w[i - 2 : i]]
                if i >= 2 and w[i - 2 : i] in cost
                else None
            )
            dp[i] = min(one, two) if two is not None else one
        assert dp[len(w)] == best(w), w


def test_dp_census_nonnegative_and_noise_bounded(spark):
    """Post-processing: every released count >= 0; and the noise added
    to any cell is bounded by b*ln(1/min_u) of the hash-uniform."""
    sf = _sf_dir()
    out = QUERIES["q_dp_census"](spark, sf).collect()
    true = {
        (r.source, r.lang): r.n
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(r.noisy_n_x10k >= 0 for r in out)
    for r in out:
        n = true[(r.source, r.lang)]
        # Laplace(b=1) noise at the released quantization
        assert abs(r.noisy_n_x10k / 10000 - n) < 25  # ln(2^32) ~ 22.2


def test_epoch_shuffle_bijective_and_epoch_independent(spark):
    """Positions must be a permutation of 1..N per epoch, and the two
    epochs must produce genuinely different orders (rank correlation
    far from 1)."""
    out = QUERIES["q_epoch_shuffle"](spark, _sf_dir()).collect()
    n = len(out)
    p0 = [r.pos_ep0 for r in out]
    p1 = [r.pos_ep1 for r in out]
    assert sorted(p0) == list(range(1, n + 1))
    assert sorted(p1) == list(range(1, n + 1))
    # Spearman-ish: mean squared rank displacement between epochs should
    # be near the random expectation (n^2/6), not near 0 (same order)
    msd = sum((a - b) ** 2 for a, b in zip(p0, p1)) / n
    assert msd > n * n / 24  # far from identical ordering


def test_wav_frame_features_match_python_replay(spark):
    """Frame energies, the frame-index witness, and ZCR must equal a
    direct numpy replay over the decoded samples — including clips
    shorter than one frame (zero rows of everything)."""
    import numpy as np

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        WAV_FRAME,
        wav_frame_features,
    )

    docs = (
        spark.read.parquet(f"{_sf_dir()}/documents.parquet")
        .select("doc_id", "source")
        .limit(40)
    )
    got = {r.doc_id: r for r in wav_frame_features(docs).collect()}
    for d in got:
        n = d % 2000 + 100
        dd = d % 4096
        s = ((dd + np.arange(n, dtype=np.int64)) % 4096) - 2048
        nf = n // WAV_FRAME
        body = s[: nf * WAV_FRAME].reshape(nf, WAV_FRAME) if nf else None
        r = got[d]
        assert r.n_frames == nf
        if nf == 0:
            assert (r.total_energy, r.frame_witness, r.zcr) == (0, 0, 0)
            continue
        e = (body * body).sum(axis=1)
        assert r.total_energy == int(e.sum())
        assert r.frame_witness == int(
            (np.arange(nf, dtype=np.int64) * e).sum()
        )
        assert r.zcr == int(
            ((s[:-1] * s[1:]) < 0)[: nf * WAV_FRAME - 1].sum()
        )


def test_unigram_em_cost_monotone_under_reestimation(spark):
    """EM sanity: re-estimating piece probabilities from the M-step
    counts and re-running Viterbi must not increase the total corpus
    cost (the monotonicity a full SentencePiece trainer relies on; the
    registered query ships one step — this proves iterating it
    converges rather than oscillating)."""
    from openmaptiles_zh_modifier_spark.queries_trainprep import (
        UNI_BIGRAMS,
        UNI_MAX_WLEN,
    )

    docs = spark.read.parquet(f"{_sf_dir()}/documents.parquet")
    words = {}
    for r in docs.select("text").collect():
        for w in r.text.split(" "):
            if w and len(w) <= UNI_MAX_WLEN:
                words[w] = words.get(w, 0) + 1

    def build_costs(counts):
        tot = sum(counts.values())
        return {
            p: -math.log(c / tot) for p, c in counts.items() if c > 0
        }

    def viterbi_all(cost):
        total, usage = 0.0, {}
        for w, wc in words.items():
            L = len(w)
            dp = [0.0] * (L + 1)
            back = [1] * (L + 1)
            for i in range(1, L + 1):
                one = dp[i - 1] + cost[w[i - 1]]
                dp[i], back[i] = one, 1
                big = w[i - 2 : i]
                if i >= 2 and big in cost:
                    two = dp[i - 2] + cost[big]
                    if two < one:
                        dp[i], back[i] = two, 2
            total += dp[L] * wc
            pos = L
            while pos > 0:
                c = back[pos]
                piece = w[pos - c : pos]
                usage[piece] = usage.get(piece, 0) + wc
                pos -= c
        return total, usage

    # initial counts: chars + top bigrams by raw occurrence
    chars, bigs = {}, {}
    for w, wc in words.items():
        for i, ch in enumerate(w):
            chars[ch] = chars.get(ch, 0) + wc
            if i >= 1:
                b = w[i - 1 : i + 1]
                bigs[b] = bigs.get(b, 0) + wc
    top = sorted(bigs.items(), key=lambda kv: (-kv[1], kv[0]))[:UNI_BIGRAMS]
    counts = dict(chars)
    counts.update(dict(top))

    cost = build_costs(counts)
    prev_total, usage = viterbi_all(cost)
    for _ in range(3):  # three EM rounds must be monotone
        # M step: new counts are Viterbi usage; keep chars alive with
        # +1 smoothing so every word stays segmentable
        counts = {p: usage.get(p, 0) for p in counts}
        for ch in chars:
            counts[ch] = counts.get(ch, 0) + 1
        cost = build_costs(counts)
        # words must remain segmentable: all chars still present
        total, usage = viterbi_all(cost)
        assert total <= prev_total + 1e-6, (total, prev_total)
        prev_total = total
