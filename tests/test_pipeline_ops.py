"""Unit tests for the training-data pipeline operators: text primitives,
dedup sketches, embedding similarity, multimodal plumbing, streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openmaptiles_zh_modifier_spark.functions.text import (
    FP_MOD,
    P31,
    PERMS,
    h32,
    rolling_fingerprint,
    shingles,
    simhash_bit_weights,
    tokens,
)
from openmaptiles_zh_modifier_spark.registry import QUERIES


def one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


# ---------------------------------------------------------------- text prims

def test_h32_matches_md5_prefix(spark):
    import hashlib

    df = spark.createDataFrame([("hello",)], "s string").select(h32(F.col("s")))
    expected = int(hashlib.md5(b"hello").hexdigest()[:8], 16)
    assert one(df)[0] == expected


def test_shingles_small_doc_is_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "s string").select(
        shingles(tokens(F.col("s"))).alias("sh")
    )
    rows = [r.sh for r in df.collect()]
    assert rows[0] == []
    assert rows[1] == ["a b c", "b c d"]


def test_shingles_distinct(spark):
    df = spark.createDataFrame([("x y z x y z x y z x y",)], "s string").select(
        shingles(tokens(F.col("s"))).alias("sh")
    )
    sh = one(df).sh
    assert len(sh) == len(set(sh)) == 3  # x y z / y z x / z x y


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([("a b c",), ("c b a",)], "s string").select(
        rolling_fingerprint(tokens(F.col("s"))).alias("fp")
    )
    fps = [r.fp for r in df.collect()]
    assert fps[0] != fps[1]
    assert all(0 <= fp < FP_MOD for fp in fps)


def test_minhash_perms_fixed_and_in_range():
    assert len(PERMS) == 16
    assert PERMS == type(PERMS)(PERMS)  # deterministic constants
    for a, b in PERMS:
        assert 0 < a < P31 and 0 <= b < P31 and a % 2 == 1


def test_simhash_bits_are_plus_minus_one(spark):
    df = spark.createDataFrame([(123456789,)], "h long").select(
        simhash_bit_weights(F.col("h")).alias("w")
    )
    w = one(df).w
    assert len(w) == 32 and set(w) <= {-1, 1}


# ------------------------------------------------------------------- queries

def test_dedup_exact_all_unique_are_canonical(spark, sf_dir):
    out = QUERIES["q_dedup_exact"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    # canonical id is always the min of its group; singleton groups are self
    for r in rows:
        if r.n_copies == 1:
            assert r.is_canonical and r.canonical_id == r.doc_id
        assert r.canonical_id <= r.doc_id


def test_minhash_lsh_superset_check(spark, sf_dir):
    """Every exact-Jaccard pair >= threshold that LSH finds must verify with
    the same jaccard value the exact query computes."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["q_dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    # LSH output is a subset of exact pairs (post-verification) with equal values
    for pair, jc in lsh.items():
        assert exact[pair] == jc
    # at the planted-dup similarity (~0.9+) 4x4 banding should recall everything
    high = {p for p, jc in exact.items() if jc >= 0.9}
    assert high <= set(lsh)


def test_embed_topk_shape_and_self_exclusion(spark, sf_dir):
    out = QUERIES["q_embed_topk_cosine"](spark, sf_dir).collect()
    by_q = {}
    for r in out:
        assert r.nn_id != r.qid
        assert -1.0001 <= r.cosine <= 1.0001
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.cosine for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_embed_lsh_bucket_partition(spark, sf_dir):
    out = QUERIES["q_embed_lsh_buckets"](spark, sf_dir).collect()
    assert sum(r.n_vectors for r in out) == spark.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    ).count()
    assert all(0 <= r.bucket < 16 for r in out)


def test_multimodal_decode_real_stub_raises():
    from openmaptiles_zh_modifier_spark.functions.multimodal import real_decode_image

    with pytest.raises(NotImplementedError):
        real_decode_image(b"\x89PNG")


def test_multimodal_mapinpandas_schema(spark, sf_dir):
    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        attach_payload,
        decode_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    with_payload = attach_payload(docs)
    assert dict(with_payload.dtypes)["payload"] == "binary"
    decoded = decode_features(with_payload)
    assert set(decoded.columns) == {
        "doc_id", "source", "n_bytes", "width", "height", "n_frames", "aspect"
    }
    row = decoded.orderBy("doc_id").first()
    assert row.n_bytes > 0 and 1 <= row.width <= 64 and 1 <= row.n_frames <= 16


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    batch = QUERIES["q_events_tumbling"](spark, sf_dir)
    stream = QUERIES["q_stream_tumbling"](spark, sf_dir)
    b = [(r.window_start, r.event_type, r.n, r.sum_value) for r in batch.collect()]
    s = [(r.window_start, r.event_type, r.n, r.sum_value) for r in stream.collect()]
    assert b == s


def test_streaming_dedup_is_noop_on_unique_ids(spark, sf_dir):
    out = QUERIES["q_stream_dedup"](spark, sf_dir)
    total = sum(r.n_unique for r in out.collect())
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """Native streaming session_window must produce the same sessions as
    the batch lag/cumsum sessionization (same 30-min gap rule)."""
    from openmaptiles_zh_modifier_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        session_aggregation,
    )

    stream = run_to_memory(
        session_aggregation(read_events_stream(spark, sf_dir))
    )
    batch = QUERIES["q_events_sessionize"](spark, sf_dir)
    s = sorted(
        (r.user_id, r.session_start, r.n_events, r.session_value)
        for r in stream.collect()
    )
    b = sorted(
        (r.user_id, r.session_start, r.n_events, r.session_value)
        for r in batch.collect()
    )
    assert s == b


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState running totals: the final per-user state
    (last emitted row per user) must equal the batch groupBy totals."""
    from openmaptiles_zh_modifier_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        running_user_totals,
    )

    out = run_to_memory(
        running_user_totals(read_events_stream(spark, sf_dir)),
        output_mode="update",
    )
    # keep the final update per user (availableNow may emit several)
    w_rows = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
    )
    got = {r.user_id: (r.n_events, r.total_value) for r in w_rows.collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r.user_id: (r.n, round(r.t, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 0.05


def test_sample_frames_explode_shape(spark, sf_dir):
    """Every doc yields ceil(n_frames/stride) frame rows; indices are
    stride-aligned and bounded by the doc's frame count."""
    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        attach_payload,
        sample_frames,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "text")
        .limit(200)
    )
    frames = sample_frames(attach_payload(docs), stride=4).cache()
    per_doc = {
        r.doc_id: (r.n, r.max_idx)
        for r in frames.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("frame_idx").alias("max_idx"))
        .collect()
    }
    expected = {
        r.doc_id: len(r.text.encode("utf-8")) % 16 + 1 for r in docs.collect()
    }
    assert set(per_doc) == set(expected)
    for doc_id, n_frames in expected.items():
        n, max_idx = per_doc[doc_id]
        assert n == -(-n_frames // 4)
        assert max_idx % 4 == 0 and max_idx < n_frames
    frames.unpersist()


def test_sliding_window_duplicates_rows(spark, sf_dir):
    """1h/30m sliding windows assign every event to exactly 2 windows."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = QUERIES["q_events_sliding"](spark, sf_dir)
    total = out.agg(F.sum("n")).collect()[0][0]
    assert total == 2 * ev.count()


def test_salted_join_and_agg_match_plain(spark, sf_dir):
    """Salting is physical-only: salted join + two-phase agg must equal
    the plain join + single-phase agg exactly."""
    from openmaptiles_zh_modifier_spark.operators.salted import (
        salted_agg,
        salted_join,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(orders, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_l_quantity"))
    )
    salted = salted_agg(
        salted_join(li, orders, on="l_orderkey", tiebreak="l_linenumber", n_salt=4),
        keys=["o_orderpriority"],
        sums=["l_quantity"],
        tiebreak="l_orderkey",
        n_salt=4,
    )
    p = {r.o_orderpriority: (r.n, r.sum_l_quantity) for r in plain.collect()}
    s = {r.o_orderpriority: (r.n, r.sum_l_quantity) for r in salted.collect()}
    assert p == s


def test_connected_components_known_graph(spark):
    """Chains and isolated pairs collapse to min-id components; the
    iterative loop must reach the fixpoint regardless of chain length."""
    from openmaptiles_zh_modifier_spark.operators.graph import (
        connected_components,
    )

    # one 5-chain (1..5), one pair (10,11), one triangle (20,21,22)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_recursive_cte_matches_sequence(spark):
    """Spark's ANSI WITH RECURSIVE produces the same series as the
    sequence() spine the registered query uses (the query prefers
    sequence because each recursion step is a separate tiny job)."""
    rec = spark.sql(
        """
WITH RECURSIVE t(m) AS (
  SELECT TIMESTAMP '2024-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM t WHERE m < TIMESTAMP '2024-12-01'
)
SELECT m FROM t ORDER BY m
"""
    ).collect()
    seq = spark.sql(
        """
SELECT explode(sequence(TIMESTAMP '2024-01-01', TIMESTAMP '2024-12-01',
                        INTERVAL 1 MONTH)) AS m ORDER BY m
"""
    ).collect()
    assert rec == seq and len(rec) == 12


def test_stream_foreachbatch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: the production sink pattern (stream -> per-batch
    batch-DataFrame writes, where MERGE/upsert logic would run). The
    accumulated parquet output must equal the batch read of the source."""
    import tempfile

    from openmaptiles_zh_modifier_spark.streaming.events import (
        read_events_stream,
    )

    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id):
        batch_df.select("event_id", "user_id", "value").write.mode(
            "append"
        ).parquet(out)

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="omt-fb-"))
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert got.count() == src.count()
    assert got.agg(F.sum("event_id")).collect()[0][0] == \
        src.agg(F.sum("event_id")).collect()[0][0]


def test_ppm_codec_roundtrip_and_parser_edges():
    """The real PPM codec: roundtrip equals ground truth, the parser
    skips comment lines, and malformed payloads raise instead of
    returning garbage."""
    import numpy as np
    import pytest

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        decode_ppm,
        encode_ppm,
        real_decode_image,
    )

    # seed 5 embeds a '# synthetic' comment line in the header
    for seed in (0, 5, 123, 300):
        w, h = seed % 16 + 4, seed * 3 % 16 + 4
        f = decode_ppm(encode_ppm(w, h, seed))
        assert (f["width"], f["height"]) == (w, h)
        n = 3 * w * h
        ramp = (np.arange(n, dtype=np.int64) + seed) % 256
        assert f["n_pixel_bytes"] == n
        assert f["pixel_sum"] == int(ramp.sum())
        assert f["checksum64"] == int(ramp[:64].sum())

    # dispatch hook: P6 decodes; PNG routes to the REAL round-7 decoder
    # (truncated payload is a parse error, no longer the stub); JPEG
    # routes to the REAL round-8 decoder (garbage after the magic is a
    # parse error too); only genuinely unregistered formats still raise
    # NotImplementedError
    assert real_decode_image(encode_ppm(4, 4, 1))["width"] == 4
    with pytest.raises(ValueError):
        real_decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        real_decode_image(b"\xff\xd8\xff\xe0....jpeg-junk")
    with pytest.raises(NotImplementedError):
        real_decode_image(b"RIFF....WEBPVP8 ")
    with pytest.raises(ValueError):
        decode_ppm(b"P3\n4 4\n255\n")  # ASCII PPM is not P6


def test_ppm_resize_matches_numpy_reference():
    """Nearest-neighbor resize equals direct numpy index-mapped slicing
    of the decoded array, for non-square and degenerate-to-1px targets,
    and the resized payload round-trips through the decoder."""
    import numpy as np

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_ppm,
    )

    for (w, h, seed), (tw, th) in [
        ((13, 7, 42), (8, 8)),
        ((4, 19, 0), (2, 5)),
        ((5, 5, 200), (1, 1)),
        ((16, 4, 255), (16, 4)),  # identity-size resize
    ]:
        payload = encode_ppm(w, h, seed)
        resized = resize_ppm(payload, tw, th)
        got = decode_ppm(resized)
        assert (got["width"], got["height"]) == (tw, th)
        src = (
            np.frombuffer(payload[-3 * w * h :], dtype=np.uint8)
            .reshape(h, w, 3)
        )
        rows = (np.arange(th) * h) // th
        cols = (np.arange(tw) * w) // tw
        want = src[rows][:, cols]
        assert got["pixel_sum"] == int(want.astype(np.int64).sum())
        back = np.frombuffer(
            resized[-3 * tw * th :], dtype=np.uint8
        ).reshape(th, tw, 3)
        assert (back == want).all()


def test_wav_codec_roundtrip_and_parser_edges():
    import struct

    import numpy as np
    import pytest

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        decode_wav,
        encode_wav,
        real_decode_audio,
    )

    # roundtrip across shapes incl. the junk-LIST-chunk path (seed%5==0)
    # and the ramp wrap (seed near 4096)
    for n, rate, seed in [(100, 8000, 5), (1, 12000, 7), (300, 16000, 4090),
                          (2099, 8000, 0), (64, 12000, 4095)]:
        f = decode_wav(encode_wav(n, rate, seed))
        d = seed % 4096
        s = ((d + np.arange(n, dtype=np.int64)) % 4096) - 2048
        assert f["n_samples"] == n and f["sample_rate"] == rate
        assert f["sum_samples"] == int(s.sum())
        assert f["checksum64"] == int(s[:64].sum())
        assert f["min_sample"] == int(s.min())
        assert f["max_sample"] == int(s.max())

    good = encode_wav(50, 8000, 3)
    # container magic errors
    with pytest.raises(ValueError):
        decode_wav(b"OggS" + good[4:])
    with pytest.raises(ValueError):
        decode_wav(good[:8] + b"AVI " + good[12:])
    # non-PCM / stereo / wrong-width fmt rejected
    bad_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    payload = (b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt))
               + b"WAVE" + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt)
    with pytest.raises(ValueError):
        decode_wav(payload)
    # missing data chunk
    ok_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    payload = (b"RIFF" + struct.pack("<I", 4 + 8 + len(ok_fmt))
               + b"WAVE" + b"fmt " + struct.pack("<I", len(ok_fmt)) + ok_fmt)
    with pytest.raises(ValueError):
        decode_wav(payload)
    # dispatch hook: unknown container raises NotImplementedError
    with pytest.raises(NotImplementedError):
        real_decode_audio(b"ID3\x03" + b"\x00" * 32)
    assert real_decode_audio(good)["n_samples"] == 50


def test_y4m_codec_frames_and_parser_edges():
    import numpy as np
    import pytest

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        decode_y4m_frames,
        encode_y4m,
        real_decode_video,
    )

    # roundtrip across shapes incl. FRAME-parameter tags (seed%4==0),
    # single frame, stride sampling, and >256-byte frames (full cycles)
    for w, h, nf, seed, stride in [
        (3, 2, 5, 4, 4), (2, 2, 1, 7, 1), (9, 9, 10, 300, 4), (8, 8, 7, 0, 2)
    ]:
        frames = decode_y4m_frames(encode_y4m(w, h, nf, seed), stride=stride)
        n = 3 * w * h
        assert [f["frame_idx"] for f in frames] == list(range(0, nf, stride))
        for fr in frames:
            f = fr["frame_idx"]
            ref = (np.arange(f * n, (f + 1) * n, dtype=np.int64) + seed) % 256
            assert fr["width"] == w and fr["height"] == h
            assert fr["frame_sum"] == int(ref.sum())
            assert fr["first64"] == int(ref[: min(64, n)].sum())
    # parser edges
    good = encode_y4m(2, 2, 2, 1)
    with pytest.raises(ValueError):
        decode_y4m_frames(b"RIFF" + good[9:])
    with pytest.raises(ValueError):  # C420 unsupported (honest gap)
        decode_y4m_frames(good.replace(b"C444", b"C420", 1))
    with pytest.raises(ValueError):  # truncated frame payload
        decode_y4m_frames(good[:-5])
    with pytest.raises(ValueError):  # corrupt frame marker
        decode_y4m_frames(good.replace(b"FRAME", b"FRAMX", 1))
    with pytest.raises(NotImplementedError):
        real_decode_video(b"\x00\x00\x00\x20ftypmp42" + b"\x00" * 16)


def test_codec_property_fuzz_roundtrips():
    """Hypothesis fuzz over the three real codecs: arbitrary shapes and
    seeds must roundtrip encode -> decode with statistics equal to the
    generation rule recomputed independently in numpy."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        decode_ppm,
        decode_wav,
        decode_y4m_frames,
        encode_ppm,
        encode_wav,
        encode_y4m,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24), h=st.integers(1, 24),
        seed=st.integers(0, 1000),
    )
    def ppm(w, h, seed):
        f = decode_ppm(encode_ppm(w, h, seed))
        n = 3 * w * h
        ref = (np.arange(n, dtype=np.int64) + seed) % 256
        assert f["width"] == w and f["height"] == h
        assert f["n_pixel_bytes"] == n
        assert f["pixel_sum"] == int(ref.sum())
        assert f["checksum64"] == int(ref[:64].sum())

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(1, 5000), rate=st.sampled_from([8000, 12000, 16000]),
        seed=st.integers(0, 9000),
    )
    def wav(n, rate, seed):
        f = decode_wav(encode_wav(n, rate, seed))
        ref = ((seed % 4096 + np.arange(n, dtype=np.int64)) % 4096) - 2048
        assert f["n_samples"] == n and f["sample_rate"] == rate
        assert f["sum_samples"] == int(ref.sum())
        assert f["min_sample"] == int(ref.min())
        assert f["max_sample"] == int(ref.max())

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 10), h=st.integers(1, 10),
        nf=st.integers(1, 12), seed=st.integers(0, 600),
        stride=st.integers(1, 5),
    )
    def y4m(w, h, nf, seed, stride):
        frames = decode_y4m_frames(encode_y4m(w, h, nf, seed), stride=stride)
        n = 3 * w * h
        assert [fr["frame_idx"] for fr in frames] == list(range(0, nf, stride))
        for fr in frames:
            f = fr["frame_idx"]
            ref = (np.arange(f * n, (f + 1) * n, dtype=np.int64) + seed) % 256
            assert fr["frame_sum"] == int(ref.sum())

    ppm()
    wav()
    y4m()


def test_bmp_codec_roundtrip_and_layout_quirks():
    """BMP decode must handle the three layout quirks (bottom-up rows,
    BGR channels, 4-byte row padding) and reject unsupported variants."""
    import struct

    import numpy as np
    import pytest

    from openmaptiles_zh_modifier_spark.functions.multimodal import (
        decode_bmp,
        encode_bmp,
        real_decode_image,
    )

    # widths 4..7 cycle through all four padding residues (12/15/18/21
    # byte strides -> pad 0/1/2/3)
    for w, h, seed in [(4, 4, 0), (5, 3, 100), (6, 2, 200), (7, 5, 255)]:
        f = decode_bmp(encode_bmp(w, h, seed))
        n = 3 * w * h
        ramp = (np.arange(n, dtype=np.int64) + seed) % 256
        assert (f["width"], f["height"], f["n_pixel_bytes"]) == (w, h, n)
        assert f["pixel_sum"] == int(ramp.sum())
        assert f["checksum64"] == int(ramp[:64].sum())

    # top-down (negative height) storage decodes to the same logical image
    p = bytearray(encode_bmp(5, 3, 42))
    stride = 3 * 5 + ((-3 * 5) % 4)
    body = p[54:]
    flipped = b"".join(
        bytes(body[r * stride : (r + 1) * stride]) for r in range(2, -1, -1)
    )
    p2 = p[:14] + struct.pack(
        "<IiiHHIIiiII", 40, 5, -3, 1, 24, 0, len(body), 2835, 2835, 0, 0
    ) + flipped
    assert decode_bmp(bytes(p2)) == decode_bmp(bytes(p))

    # dispatch: BM magic routes to the BMP decoder
    assert real_decode_image(encode_bmp(4, 4, 1))["width"] == 4

    # unsupported variants are loud errors, not silent garbage
    bad_bpp = bytearray(encode_bmp(4, 4, 0))
    bad_bpp[28] = 8  # biBitCount = 8
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad_bpp))
    with pytest.raises(ValueError):
        decode_bmp(b"XX not a bmp")
