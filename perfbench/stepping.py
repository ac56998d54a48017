"""Check that timing rounds from outside does not change the crawl.

run.py times each round by calling ``CrawlEngine.run(max_rounds=r + 1)``
once per round. This script crawls a workload's web for several rounds, with
a compaction among them, both ways, stepped and with one ``run()`` call,
alternating the order after one warm-up crawl, and checks that the committed outputs and manifest
state are identical. It prints both walls, so the cost of stepping (one
manifest read and uncommitted-dir sweep per call) shows.

    python3 perfbench/stepping.py --workload crawl_bench --seed 1 --rounds 3 --pairs 2
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402

TABLES = ("crawl_log", "url_seen", "edges", "docs", "evictions", "round_metrics")


def committed(eng) -> dict:
    """Every committed output as sorted rows, plus the manifest's state and
    history without the wall-clock fields."""
    out = {}
    for t in TABLES:
        df = getattr(eng, t)()
        if t == "round_metrics":
            df = df.drop("wall_ms", "lineage")
        out[t] = sorted(tuple(r) for r in df.collect())
    m = eng.store.manifest()
    out["state"] = m["state"]
    out["history"] = [
        {k: v for k, v in h.items() if k != "wall_ms"} for h in m["history"]
    ]
    return out


def crawl(spark, fx: str, cfg, rounds: int, stepped: bool) -> tuple[float, dict]:
    from twitter_crawler_spark.crawl.engine import CrawlEngine

    state_dir = os.path.join(bench.WORK, "state-stepping")
    shutil.rmtree(state_dir, ignore_errors=True)
    eng = CrawlEngine(spark, fx, state_dir, cfg)
    t0 = time.perf_counter()
    eng.init_state()
    if stepped:
        for r in range(rounds):
            eng.run(max_rounds=r + 1)
    else:
        eng.run(max_rounds=rounds)
    wall = time.perf_counter() - t0
    return wall, committed(eng)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="crawl_bench", choices=sorted(bench.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--pairs", type=int, default=2)
    args = ap.parse_args()
    bench.prepare_env()
    from twitter_crawler_spark.config import CrawlConfig

    cfg = CrawlConfig(max_rounds=args.rounds, compact_every=2)
    spark, _walls, inputs = bench.setup(
        len(os.sched_getaffinity(0)), args.workload, args.seed, cfg
    )
    walls = {"stepped": [], "single": []}
    same = True
    try:
        # the first crawl in a process pays the Python-worker and JIT warm-up
        _wall, ref = crawl(spark, inputs["fx"], cfg, args.rounds, stepped=False)
        for i in range(args.pairs):
            order = ("stepped", "single") if i % 2 == 0 else ("single", "stepped")
            for mode in order:
                wall, out = crawl(spark, inputs["fx"], cfg, args.rounds, mode == "stepped")
                walls[mode].append(wall)
                same = same and out == ref
                bench.log(f"{mode}: {wall:.2f}s, identical so far: {same}")
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(os.path.join(bench.WORK, "state-stepping"), ignore_errors=True)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "rounds": args.rounds,
        "identical": same,
        "stepped_s": walls["stepped"], "single_s": walls["single"],
        "stepping_adds_s": statistics.median(walls["stepped"]) - statistics.median(walls["single"]),
    }))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
