"""Round-14 optimization internals.

Pins the identity the q_multimodal_vad rewrite rests on (witness folded
into the segment ladder — one codec pass instead of two).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


class TestVadWitnessFolding:
    """Σ frame_idx over speech frames == Σ per-segment partial sums
    (each speech frame belongs to exactly one gaps-and-islands run)."""

    def test_witness_identity(self, spark, sf_dir):
        from openmaptiles_zh_modifier_spark.functions.multimodal import (
            wav_vad_frames,
        )
        from openmaptiles_zh_modifier_spark.registry import load

        docs = (
            load(spark, sf_dir, "documents")
            .select("doc_id", "source")
            .limit(50)
        )
        frames = wav_vad_frames(docs).cache()
        speech = frames.where(F.col("energy") > 0)
        direct = {
            r["doc_id"]: r["wit"]
            for r in speech.groupBy("doc_id")
            .agg(F.sum("frame_idx").alias("wit"))
            .collect()
        }
        w = Window.partitionBy("doc_id").orderBy("frame_idx")
        via_segs = {
            r["doc_id"]: r["wit"]
            for r in speech.withColumn(
                "grp", F.col("frame_idx") - F.row_number().over(w)
            )
            .groupBy("doc_id", "grp")
            .agg(F.sum("frame_idx").alias("wp"))
            .groupBy("doc_id")
            .agg(F.sum("wp").alias("wit"))
            .collect()
        }
        frames.unpersist()
        assert direct == via_segs and direct


class TestCowBundlePacking:
    """_bundle_partitions packing math (round 14): one task per
    split-size of real bytes, capped by file count, all files kept."""

    def test_packing_counts_and_membership(self, tmp_path):
        from openmaptiles_zh_modifier_spark.sources.cow_datasource import (
            CowBundle,
            CowFilePartition,
            _bundle_partitions,
        )

        paths = []
        for i, size in enumerate([10, 20, 30, 40, 50, 60]):
            p = tmp_path / f"f{i}.bin"
            p.write_bytes(b"x" * size)
            paths.append(str(p))
        parts = [CowFilePartition(p, None) for p in paths]

        out = _bundle_partitions(parts, target=1000)
        assert len(out) == 1 and isinstance(out[0], CowBundle)
        assert {i.path for i in out[0].items} == set(paths)

        # split of 100 bytes over 210 total -> 3 tasks, balanced
        out = _bundle_partitions(parts, target=100)
        assert len(out) == 3
        got = [i.path for b in out for i in b.items]
        assert sorted(got) == sorted(paths)

        # split of 1 byte -> one task per file, UNbundled passthrough
        out = _bundle_partitions(parts, target=1)
        assert len(out) == len(parts)
        assert all(isinstance(p, CowFilePartition) for p in out)
