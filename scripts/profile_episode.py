#!/usr/bin/env python
"""Single-core cProfile of the fused episode pass's python interior.

Runs the real worker function, ``slot_fill._skeleton_episode_batches``
(generation, extraction, anchor gate, episode waves, frame build), over a
``perfbench/gen.documents`` skeleton in 4096-row Arrow-sized batches —
WITHOUT Spark, on one core — so the function-level costs (regex scan vs
python object churn) and the cyclic-GC passes are visible and comparable
across commits.

    python scripts/profile_episode.py --docs 20000 --sort cumtime --top 40
"""

from __future__ import annotations

import argparse
import cProfile
import gc
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATCH_ROWS = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch default


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20_000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sort", default="tottime")
    ap.add_argument("--top", type=int, default=30)
    args = ap.parse_args()

    from autoextraction_spark.operators import slot_fill
    from perfbench.gen import documents

    skel = documents(args.seed, args.docs).select(["doc_id", "lang"]).to_pandas()
    batches = [skel.iloc[i:i + BATCH_ROWS] for i in range(0, len(skel), BATCH_ROWS)]
    run = slot_fill._skeleton_episode_batches(
        "rl", slot_fill.MAX_STEPS, dedup_assignments=True
    )

    # per generation: [passes, seconds, objects collected]
    gc_stats = {g: [0, 0.0, 0] for g in range(3)}
    started = [0.0]

    def on_gc(phase: str, info: dict) -> None:
        if phase == "start":
            started[0] = time.perf_counter()
            return
        st = gc_stats[info["generation"]]
        st[0] += 1
        st[1] += time.perf_counter() - started[0]
        st[2] += info["collected"]

    gc.callbacks.append(on_gc)
    t0 = time.time()
    pr = cProfile.Profile()
    pr.enable()
    n = sum(len(frame) for frame in run(iter(batches)))
    pr.disable()
    wall = time.time() - t0
    gc.callbacks.remove(on_gc)

    print(f"docs={args.docs} completed_states={n} "
          f"wall={wall:.2f}s docs_per_core_sec={args.docs / wall:.0f}")
    for g, (passes, secs, collected) in gc_stats.items():
        print(f"gc gen{g}: passes={passes} time={secs:.3f}s collected={collected}")
    pstats.Stats(pr).sort_stats(args.sort).print_stats(args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
