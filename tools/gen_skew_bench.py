"""Second bench anchor: a seeded ~3x-of-sf0.1 SKEWED dataset + a timing
run over the most expensive registry queries, validating that the
skew/AQE claims measured at sf0.1 still hold when the data grows and a
hot key appears (VERDICT round-3 item #7).

The dataset is DERIVED from the driver's immutable sf0.1 parquet (never
synthesized from scratch, so schemas and value distributions stay
faithful) by replicating the fact tables REPS times with shifted keys
and then skewing a slice of the foreign keys onto one hot value:

- lineitem/orders: 3 copies, orderkey shifted per copy (join integrity
  preserved within each copy); SKEW_PCT% of o_custkey rewired to one
  hot customer — the celebrity-key shape that breaks unsalted joins.
- events: 3 copies, event ids shifted; SKEW_PCT% of user_id onto one
  hot user (stresses streaming state + session windows).
- documents: 3 copies, doc_id shifted (near-dup structure triples).
- dimension tables: copied as-is (key spaces unchanged by design — the
  replicas reuse them, which also grows join fan-in per dim key 3x).

Everything is deterministic (key arithmetic + pmod hashing, no RNG), so
two runs produce byte-identical inputs. Output parquet lands under
.benchdata/sf03skew (gitignored: the GENERATOR is committed, the data
is not). Usage:

    python tools/gen_skew_bench.py            # generate (if absent) + bench
    python tools/gen_skew_bench.py --regen    # force regeneration
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = str(Path(__file__).resolve().parent.parent / ".benchdata" / "sf03skew")
REPS = 3
SKEW_PCT = 20  # percent of fact rows rewired onto the hot key
HOT_CUST = 1
HOT_USER = 1
KEY_SHIFT = 10_000_000  # > max orderkey at sf0.1 (6e6), keeps copies disjoint

# the round-3 driver bench tail: most expensive non-trivial queries,
# spanning iterative graph, skewed join, dedup, text, window, streaming
BENCH_QUERIES = [
    # round-13 operators with data-dependent cost (q_jaro_winkler_linkage
    # is NOT here: its input `part` is a dim the replicas copy as-is, so
    # a 3x anchor would be trivially flat — its volume anchor is the
    # sf0.01 -> sf0.1 pair, measured directly like q_geo_polygon_overlay)
    "q_cow_merge_dv",
    "q_multimodal_mulaw_roundtrip",
    "q_multimodal_adpcm_roundtrip",
    "q_spearman_corr",
    "q_acf_lags",
    "q_gini_concentration",
    # round-13 second wave (q_fellegi_sunter is part-dim like jaro —
    # its volume anchor is the sf0.01 -> sf0.1 pair; the cow metadata
    # ops — txn/restore/clone — have no data-dependent axis)
    "q_kendall_tau",
    "q_quantile_normalize",
    "q_sprt_monitor",
    "q_geo_convex_hull",
    "q_textrank_keywords",
    "q_theilsen_trend",
    "q_dtw_profiles",
    "q_haar_wavelet",
    "q_stream_sprt",
    "q_isotonic_fit",
    "q1_pricing_summary",
    "q_window_frames",
    "q_salted_skew_join",
    "q_pagerank_nations",
    "q_label_propagation",
    "q_triangle_count",
    "q_degree_capped_triangles",
    "q_substring_dupfrac",
    "q_dedup_minhash_lsh",
    "q_stream_tumbling",
    "q_stream_stream_join",
    # round-5 additions: the cleaned-text passes (token-explode-bound;
    # the 3x replica set makes every doc an exact triple, so the span
    # pass marks ~everything — the worst-case coverage-explode shape)
    "q_boilerplate_cleaned",
    "q_substring_span_clean",
    # late round-5 additions: char explode (3x docs), shingle pair join
    # (3x docs = every shingle's source set triples), hot-user Holt fold
    # (20% of all events collapse onto one user's daily series), and the
    # Gram-matmul covariance pass (3x embeddings, output size constant)
    "q_char_entropy",
    "q_cross_source_overlap",
    "q_holt_linear",
    "q_embed_covariance",
    # round-6 additions: NB model+scoring over 3x docs (vocab DF counts
    # triple, model size constant), the wedge join of link prediction
    # (same middle-vertex shape as triangles — the densified graph is
    # its stress case), the rank-histogram Mann-Whitney (distinct-value
    # domain fixed while rows triple), and the heavy-hitter state path
    # with 20% of events on one hot user.
    "q_nb_source_classifier",
    "q_link_prediction",
    "q_mannwhitney_u",
    "q_stream_heavy_hitters",
    # round-7 additions (VERDICT r6 #7): the remaining iterative /
    # resampling round-6 ops. HITS edge build triples (and the hot
    # customer concentrates edge weight on one nation) while the
    # iteration itself stays on the 25-node state; k-core's peel loop
    # runs on the co-purchase graph the densified replicas grow; the
    # Poisson bootstrap is one combinable aggregate whose resample
    # weights ride the hot user's 20% slice.
    "q_hits_scores",
    "q_kcore",
    "q_bootstrap_ci",
    # round-7 operators: unigram's working set is the distinct-word
    # domain (replication only grows counts); binary-Hamming's wide
    # stage reads two BIGINTs/vector; budget-select/skew-audit live on
    # value-domain histograms; negative sampling is bounded by
    # NEG_K * positives with the item space fixed.
    "q_unigram_lm_step",
    "q_embed_binary_hamming",
    "q_token_budget_select",
    "q_negative_sampling",
    "q_skew_audit",
    "q_vocab_coverage",
    # round-8 operators: segmentation/tokenizer working sets are the
    # distinct-word domain; codecs are per-item parallel; edit-distance
    # dedup's block cap is load-bearing here (3x replicas triple block
    # sizes, pushing celebrity prefixes over the cap BY DESIGN); url
    # dedup and pii scrub are in-row + one hash-uniform shuffle;
    # bucketing/mixture are value-domain aggregates.
    "q_zh_segment_fmm",
    "q_multimodal_jpeg_decode",
    "q_unigram_train3",
    "q_tokenize_wordpiece",
    "q_dedup_edit_distance",
    "q_url_dedup",
    "q_pii_scrub",
    "q_length_bucketing",
    "q_mixture_temperature",
    # band join: the hot user (20% of 3x events) is the stress case the
    # bucket key exists for; drift/diff are join+aggregate shapes
    "q_band_join",
    "q_token_drift",
    "q_snapshot_diff",
    "q_multimodal_scene_cut",
    "q_multimodal_vad",
    "q_image_phash_dedup",
    "q_zorder_vs_linear",
    "q_prefix_cache_hits",
    "q_geo_nearest",
    "q_geo_geohash",
    "q_geo_bbox_join",
    "q_tile_pyramid",
    "q_geo_trajectory",
    # round-9 operators: the radius join's facility side (documents)
    # triples while the probe side (customer, copied as-is) stays fixed
    # — candidate pairs grow ~3x, bounded per probe by 9 cells x cell
    # density; tile rollup re-censuses the tripled point set at max
    # zoom then shifts (child->parent arithmetic is row-count-free)
    "q_geo_radius_join",
    "q_tile_rollup",
    "q_geo_knn_join",
    # round-10: containment join — the polygon side (nation) is fixed
    # while the point side triples; candidates grow ~3x, bounded by
    # bbox-covered cells x point density per cell
    "q_geo_polygon_join",
    # round-11: geodesic containment — same shape with a per-row
    # latitude-derived lon span; the high-latitude polygons' full-ring
    # probes are the stress case (fan-out capped at the 18-cell ring);
    # the geodesic segment join triples its way side (orders) while
    # roads (supplier, copied as-is) stay fixed — the planar twin's
    # scaling with modular cells
    "q_geo_polygon_join_geodesic",
    "q_geo_segment_join_geodesic",
    # OPTIMIZE end-to-end: 3x orders triple every append + the rewrite,
    # so the whole ingest->compact->probe loop should scale ~linearly
    "q_cow_compact_zorder",
    # late round-10: DBSCAN's eps^2 = budget/n keeps expected degree
    # constant as points triple (pair stream ~3x, component loop
    # iteration count density-bound); the segment overlay's fan-out is
    # <= 4 cells per side into one equi-join (ways sampled from 3x
    # orders -> 3x segments); schema evolution is manifest-arithmetic
    # (ONE manifest write per evolution regardless of data size) + two
    # snapshot reads over the 3x ingested chunks. All three memoize
    # their build per (session, sf_dir), so anchor reps must
    # clear_frame_cache() first — see --late10 below.
    "q_geo_dbscan",
    # round-12 COW additions: the DV build is two predicate scans +
    # sidecars sized by deleted rows (3x table -> 3x scan, sidecar
    # proportional); partition evolution is manifest arithmetic (ONE
    # metadata write at any size) + three census reads over 3x chunks
    "q_cow_delete_dv",
    "q_cow_partition_evolution",
    # round-12 late wave: star CC is linear in blocks (3x docs = 3x
    # bounded components, rounds O(log^2 of the largest block)); RVQ is
    # a corpus pass per level against a broadcast codebook + the
    # 256-cell pair table (constant)
    "q_cc_star",
    "q_embed_rvq_adc",
    # round-12: geodesic DBSCAN — the pair stream is the radius join
    # (documents x documents), so 3x docs means ~9x pairs INSIDE the
    # two implanted blobs (quadratic by design: a denser blob is more
    # pairs, not more clusters) and ~3x scatter candidates; the
    # component loop stays on the blob edges. Expect super-linear but
    # bounded growth, dominated by the blob pair verify.
    "q_geo_dbscan_geodesic",
    "q_geo_segment_join",
    "q_cow_schema_evolution",
    # streaming geofence: stateless blocked containment on the event
    # stream — scan-bound, so 3x events ride ~linearly (the stateful
    # stream ops flatten on their state floor instead)
    "q_stream_geofence",
]


def _write_single_file(df, dest: str) -> None:
    """Write as ONE parquet FILE named exactly like the driver testdata
    (streaming readers pathGlobFilter on the file name, and parquet is
    row-group-splittable so single files don't cost scan parallelism)."""
    import glob

    tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")
    assert len(part) == 1, part
    os.replace(part[0], dest)
    shutil.rmtree(tmp)


def _copies(df, shift_cols: dict[str, int], reps: int = REPS):
    """``reps`` stacked copies of ``df``, copy i shifting each key column
    by ``i * base`` so the copies stay disjoint."""
    parts = []
    for i in range(reps):
        c = df
        for col, base in shift_cols.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * base))
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def generate(spark) -> None:
    os.makedirs(OUT, exist_ok=True)

    # dims: straight copies
    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{OUT}/{t}.parquet")

    cust_keys = spark.read.parquet(f"{SRC}/customer.parquet").agg(
        F.max("c_custkey")
    ).collect()[0][0]

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    orders3 = _copies(orders, {"o_orderkey": KEY_SHIFT})
    # deterministic skew: pmod(hash) < pct -> hot customer. xxhash64 is
    # seed-stable across runs; the hot key keeps ~REPS*PCT% of all orders
    skewed = orders3.withColumn(
        "o_custkey",
        F.when(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(100)) < SKEW_PCT,
            F.lit(HOT_CUST).cast("long"),
        ).otherwise(
            # keep within the (unreplicated) customer key space
            F.pmod(F.col("o_custkey") - 1, F.lit(cust_keys)) + 1
        ),
    )
    _write_single_file(skewed, f"{OUT}/orders.parquet")

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    _write_single_file(_copies(li, {"l_orderkey": KEY_SHIFT}), f"{OUT}/lineitem.parquet")

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    ev3 = _copies(ev, {"event_id": KEY_SHIFT})
    ev_skewed = ev3.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(100)) < SKEW_PCT,
            F.lit(HOT_USER).cast(ev3.schema["user_id"].dataType.simpleString()),
        ).otherwise(F.col("user_id")),
)
    _write_single_file(ev_skewed, f"{OUT}/events.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    _write_single_file(_copies(docs, {"doc_id": KEY_SHIFT}), f"{OUT}/documents.parquet")

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    _write_single_file(
        _copies(emb, {"vec_id": KEY_SHIFT}), f"{OUT}/embeddings.parquet"
    )


# --x10 mode (VERDICT r9 #8): a seeded ~10x dataset for ONLY the five
# most expensive non-stream queries (BENCH_r09/r10 cost tail) —
# separates "flat because designed" from "flat because small" without
# paying a 10x replication of every table. No skew: the hot-key story
# is the 3x anchor's job; this one isolates pure volume scaling.
OUT10 = str(Path(__file__).resolve().parent.parent / ".benchdata" / "sf1x10")
X10_REPS = 10
X10_QUERIES = [
    # embeddings-bound: corpus 10x, output size constant (d x d / top-k)
    "q_embed_pca_power",
    "q_embed_neardup",
    "q_pq_recall",
    "q_embed_pq_adc",
    # graph: edge build 10x (orders/lineitem), iteration on 25 nodes
    "q_pagerank_nations",
    # round-13 (VERDICT r12 #5): separate "flat because designed" from
    # "flat because small" for the round-12 heavy tail. Geodesic DBSCAN
    # runs on documents-derived points (documents now 10x-replicated
    # below); the implanted blobs grow with the corpus, so the in-blob
    # pair count grows ~quadratically — the anchor reads whether the
    # BLOCKED join keeps that quadratic confined to the blobs.
    "q_geo_dbscan_geodesic",
    "q_embed_rvq_adc",
    "q_rvq_recall",
]


def generate_x10(spark) -> None:
    os.makedirs(OUT10, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "events"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{OUT10}/{t}.parquet")
    for t, key in (("documents", "doc_id"), ("orders", "o_orderkey"),
                   ("lineitem", "l_orderkey"), ("embeddings", "vec_id")):
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        _write_single_file(
            _copies(df, {key: KEY_SHIFT}, X10_REPS), f"{OUT10}/{t}.parquet"
        )


# Queries whose expensive build memoizes per (session, sf_dir): a warm
# min-of-2 on these times a cache hit, not the query, so EVERY timed rep
# must evict their memos first: registry.clear_frame_cache evicts the
# memo frames and the cow-table build memos alike.
MEMOIZING_QUERIES = {
    "q_cow_merge_dv",
    "q_cc_star",
    "q_cow_delete_dv",
    "q_cow_partition_evolution",
    "q_embed_rvq_adc",
    "q_geo_dbscan",
    "q_geo_dbscan_geodesic",
    "q_geo_segment_join",
    "q_geo_segment_join_geodesic",
    "q_cow_schema_evolution",
    "q_cow_compact_zorder",
}


def _session(app_name: str, out_dir: str, gen, warm):
    """Start the Spark session, (re)generate ``out_dir`` with ``gen`` when
    asked or absent, and warm codegen/shuffle/Arrow pools like bench.py
    does — on BOTH dirs, so neither anchor pays first-touch
    page-cache/footer costs in its rows. ``warm`` lists (table, group
    column or None): a grouped count, or a plain count."""
    from openmaptiles_zh_modifier_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    if "--regen" in sys.argv and os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    if not os.path.isdir(out_dir):
        t0 = time.monotonic()
        gen(spark)
        print(f"# generated {out_dir} in {time.monotonic() - t0:.1f}s")
    for d in (SRC, out_dir):
        for table, col in warm:
            df = spark.read.parquet(f"{d}/{table}.parquet")
            (df.groupBy(col).count() if col else df).count()
    spark.range(8).mapInPandas(lambda it: it, schema="id long").count()
    return spark


def _anchor(spark, names, out_label: str, out_dir: str, cold: bool = False):
    """Min-of-2 timing (co-tenant variance guard) of every query in
    ``names`` at sf0.1 and at ``out_dir``; prints one line per run and
    the ratio table, and returns {query: {label: seconds}}. A rep clears
    the query memos first when ``cold`` or when the query memoizes its
    build (rep 2 would otherwise time a memo hit), so both reps price
    the same cold quantity."""
    from openmaptiles_zh_modifier_spark.registry import QUERIES, clear_frame_cache

    results: dict[str, dict[str, float]] = {}
    for sf_label, sf_dir in (("sf0.1", SRC), (out_label, out_dir)):
        for name in names:
            best = None
            for _ in range(2):
                if cold or name in MEMOIZING_QUERIES:
                    clear_frame_cache()
                t0 = time.monotonic()
                n = QUERIES[name](spark, sf_dir).count()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            results.setdefault(name, {})[sf_label] = round(best, 3)
            print(f"# {sf_label} {name}: {best:.3f}s ({n} rows)")
    print(f"| query | sf0.1 s | {out_label} s | ratio |")
    print("|---|---|---|---|")
    for name in names:
        a, b = results[name]["sf0.1"], results[name][out_label]
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.2f}x |")
    return results


def main_x10() -> None:
    spark = _session("x10-bench", OUT10, generate_x10,
                     [("embeddings", None), ("lineitem", "l_returnflag")])
    results = _anchor(spark, X10_QUERIES, "sf1x10", OUT10)
    print(json.dumps({"results": results, "reps": X10_REPS}))


def main() -> None:
    # --only a,b,c: anchor a subset (e.g. one new operator) without
    # re-timing the whole suite. Validated BEFORE the (expensive)
    # replica generation so a typo fails in milliseconds.
    names = BENCH_QUERIES
    if "--only" in sys.argv:
        idx = sys.argv.index("--only") + 1
        if idx >= len(sys.argv):
            raise SystemExit("--only requires a comma-separated name list")
        want = set(sys.argv[idx].split(","))
        unknown = want - set(BENCH_QUERIES)
        if unknown:
            # a typo must not silently time zero queries and read as a
            # clean no-regression run
            raise SystemExit(f"--only: not in BENCH_QUERIES: {sorted(unknown)}")
        names = [n for n in BENCH_QUERIES if n in want]

    spark = _session("skew-bench", OUT, generate,
                     [("lineitem", "l_returnflag"), ("events", "event_type")])
    results = _anchor(spark, names, "sf0.3skew", OUT)
    print(json.dumps({"results": results, "reps": REPS, "skew_pct": SKEW_PCT}))


# q_geo_polygon_overlay is NOT here: both its inputs (customer, nation)
# are dims the skew replica copies as-is, so a 3x "anchor" would be
# trivially flat. Its volume anchor is the sf0.01 -> sf0.1 pair (10x
# boxes), measured directly (BASELINE.md late-round-10 table).
LATE10_QUERIES = [
    "q_geo_dbscan",
    # round-12 COW additions: the DV build is two predicate scans +
    # sidecars sized by deleted rows (3x table -> 3x scan, sidecar
    # proportional); partition evolution is manifest arithmetic (ONE
    # metadata write at any size) + three census reads over 3x chunks
    "q_cow_delete_dv",
    "q_cow_partition_evolution",
    # round-12 late wave: star CC is linear in blocks (3x docs = 3x
    # bounded components, rounds O(log^2 of the largest block)); RVQ is
    # a corpus pass per level against a broadcast codebook + the
    # 256-cell pair table (constant)
    "q_cc_star",
    "q_embed_rvq_adc",
    # round-12: geodesic DBSCAN — the pair stream is the radius join
    # (documents x documents), so 3x docs means ~9x pairs INSIDE the
    # two implanted blobs (quadratic by design: a denser blob is more
    # pairs, not more clusters) and ~3x scatter candidates; the
    # component loop stays on the blob edges. Expect super-linear but
    # bounded growth, dominated by the blob pair verify.
    "q_geo_dbscan_geodesic",
    "q_geo_segment_join",
    "q_cow_schema_evolution",
]


def main_late10() -> None:
    """Anchor ONLY the late round-10 set. These memoize their expensive
    build per (session, sf_dir), so a warm min-of-2 would time an empty
    cache hit on rep 2 — instead every rep clears the query memos first
    (min-of-2 COLD: each rep prices the full build + census at both
    scales, which is the comparable quantity)."""
    spark = _session("late10-bench", OUT, generate,
                     [("documents", None), ("orders", "o_orderstatus")])
    results = _anchor(spark, LATE10_QUERIES, "sf0.3skew", OUT, cold=True)
    print(json.dumps({"results": results, "reps": REPS, "mode": "cold-min2"}))


if __name__ == "__main__":
    if "--x10" in sys.argv:
        main_x10()
    elif "--late10" in sys.argv:
        main_late10()
    else:
        main()
