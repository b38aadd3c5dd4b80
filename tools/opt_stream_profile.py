"""Round-10 optimization instrument: per-micro-batch duration breakdown
for the graded streaming drains.

Replays a drain's stream on the tuned session and prints each
micro-batch's ``durationMs`` components (addBatch, getBatch,
latestOffset, queryPlanning, walCommit, commitOffsets, triggerExecution)
plus stateOperators metrics — the empirical answer to "where does a
5-second drain actually spend its time" (guide §1.1).

Usage: python tools/opt_stream_profile.py <drain_query> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from data_warehouse_co_healthy_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("opt-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]

    # every drain starts through streaming.drains.drain: have it hand
    # each query's recentProgress to this list
    from data_warehouse_co_healthy_spark.streaming import drains

    captured: list = []
    real_drain = drains.drain

    def spy_drain(*args, **kwargs):
        kwargs["progress"] = captured
        return real_drain(*args, **kwargs)

    drains.drain = spy_drain

    # warm once (staging dirs, JIT) then measure a second cold-ish run
    for label in ("warm", "measured"):
        captured.clear()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        if label == "warm":
            print(f"== warm run: {wall:.2f}s")
            continue
        print(f"== measured run: {wall:.2f}s")
        for p in captured:
            d = p.get("durationMs", {})
            so = [
                {
                    k: s.get(k)
                    for k in (
                        "operatorName",
                        "commitTimeMs",
                        "numRowsTotal",
                        "numShufflePartitions",
                    )
                }
                for s in p.get("stateOperators", [])
            ]
            print(
                json.dumps(
                    {
                        "batchId": p.get("batchId"),
                        "numInputRows": p.get("numInputRows"),
                        "durationMs": d,
                        "stateOperators": so,
                    }
                )
            )


if __name__ == "__main__":
    main()
