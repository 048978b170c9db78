"""Streaming drain attribution (round 14, VERDICT r13 #5, guide §1).

Runs one registered streaming query's drain and prints the
StreamingQueryProgress cost attribution per micro-batch — triggerExecution,
addBatch, getBatch, queryPlanning, walCommit, commitOffsets,
stateOperators (commit times, memory), and Python-source runner counts —
so the multi-second stateful floor can be attributed to its dominant
term instead of re-litigated from totals.

Usage: python tools/stream_attrib.py [--sf DIR] q_stream_running_totals ...
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from openmaptiles_zh_modifier_spark import streaming  # noqa: F401
    from openmaptiles_zh_modifier_spark.registry import QUERIES
    from openmaptiles_zh_modifier_spark.session import get_spark

    spark = get_spark(app_name="omt-zh-stream-attrib")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py
    spark.read.parquet(f"{args.sf}/nation.parquet").count()
    spark.range(8).mapInPandas(lambda it: it, schema="id long").count()

    for name in args.queries:
        for rep in range(args.reps):
            t0 = time.perf_counter()
            QUERIES[name](spark, args.sf).count()
            wall = time.perf_counter() - t0
            # the drain has terminated; read its recentProgress off the
            # inactive query via the listener-free route: run_to_memory
            # drops the handle, so instead re-run with a hook below.
            print(f"== {name} rep{rep}: wall {wall:.3f}s")
        # hook: monkeypatch run_to_memory's awaitTermination to capture
        # progress before the query object is dropped
        captured: list = []

        import pyspark.sql.streaming.query as q_mod

        orig_await = q_mod.StreamingQuery.awaitTermination

        def patched(self, timeout=None):
            try:
                return orig_await(self, timeout)
            finally:
                try:
                    captured.append(
                        [json.loads(p.json) for p in self.recentProgress]
                    )
                except Exception as exc:  # noqa: BLE001
                    captured.append([{"error": str(exc)}])

        q_mod.StreamingQuery.awaitTermination = patched
        try:
            t0 = time.perf_counter()
            QUERIES[name](spark, args.sf).count()
            wall = time.perf_counter() - t0
        finally:
            q_mod.StreamingQuery.awaitTermination = orig_await
        print(f"== {name} attributed rep: wall {wall:.3f}s")
        for prog_list in captured:
            for p in prog_list:
                if "error" in p:
                    print("  progress error:", p["error"])
                    continue
                dur = p.get("durationMs", {})
                srcs = p.get("sources", [])
                n_in = sum(s.get("numInputRows", 0) for s in srcs)
                ops = [
                    {
                        "op": so.get("operatorName"),
                        "commitMs": so.get("allUpdatesTimeMs"),
                        "removeMs": so.get("allRemovalsTimeMs"),
                        "commitTimeMs": so.get("commitTimeMs"),
                        "rows": so.get("numRowsTotal"),
                    }
                    for so in p.get("stateOperators", [])
                ]
                print(
                    f"  batch {p.get('batchId')}: rows={n_in} "
                    f"durationMs={dur}"
                )
                for o in ops:
                    print(f"    state: {o}")


if __name__ == "__main__":
    main()
