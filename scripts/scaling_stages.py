"""N → 4N scaling of the crawl engine's own round stages.

Runs one round's pipeline up to the seen tiers — ``_frontier_live`` /
``_hosts_live`` → ``_pop`` → a synthetic fetch → ``_outlinks`` →
``_candidates`` → ``_seen_tiers``, the same ``CrawlEngine`` methods
``_round`` calls — over real crawl state, at ``local[lo]`` and
``local[hi]`` with ``hi`` = the host's cores and ``lo = hi // 4``.

* Fixture: Spark writes ``seeds.txt`` (a text dir of N urls over cubic-zipf
  hosts) plus tiny robots / redirects / politeness parquet tables.
* State: ``CrawlEngine.init_state()`` builds the banded frontier, hosts,
  bucketed url_seen and bloom shards once per N (cached under the temp
  dir). Children only read it: every stage output is a localCheckpoint.
* Fetch: each popped url gets one synthetic page whose html holds three
  hrefs — relative, root-relative and absolute, the absolute one pointing
  at a seed for about half the pages — so the Arrow extract, canonicalize,
  murmur3 and bloom/cuckoo/exact tiers all see real work. The pages table
  is not read.
* Protocol: K time-adjacent lo/hi pairings (both sides of a pairing see
  the same host weather), ``-XX:ActiveProcessorCount`` pinned to the
  measured cores, shuffle partitions fixed across configs. Per pairing
  ``eff = wall_lo / wall_hi / (hi / lo)``; the headline is the median over
  CLEAN pairings, where both walls are within ``CLEAN_FACTOR`` of their
  side's minimum.
* Per stage it reports wall, Spark task CPU (status store) and Python worker
  CPU (/proc): in local mode the Arrow UDF workers run outside the task
  slots, so a stage whose Python CPU is large borrows cores at ``local[lo]``.

There is no full-crawl workload here: ``perfbench/`` measures the whole
crawl end to end, and at a size one host can crawl, a round's fixed
per-job Spark overhead swamps the data-parallel work measured here.

Usage: python scripts/scaling_stages.py [n_urls] [K] [shuffle_partitions]
Writes the ``stages_<n_urls>`` section of BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from perfbench.spans import proc_cpu, read_status_store  # noqa: E402
from twitter_crawler_spark import schemas  # noqa: E402
from twitter_crawler_spark.config import CrawlConfig  # noqa: E402
from twitter_crawler_spark.crawl.engine import CrawlEngine  # noqa: E402
from twitter_crawler_spark.crawl.state import SnapshotStore  # noqa: E402
from twitter_crawler_spark.session import get_spark, local_df  # noqa: E402

N_HOSTS = 4096
BUDGET = 64
WARMUP_N = 20_000
CLEAN_FACTOR = 1.3
STAGES = ("live", "pop", "fetch", "outlinks", "seen_tiers")


def crawl_config() -> CrawlConfig:
    return CrawlConfig(default_budget=BUDGET)


def _host_rank(idx):
    u = (idx * F.lit(2654435761)) % F.lit(1 << 31) / F.lit(float(1 << 31))
    return F.floor(F.pow(u, F.lit(3.0)) * F.lit(N_HOSTS)).cast("long")


def _page_url(idx):
    return F.format_string(
        "http://host%d.example.org/page/%d", _host_rank(idx), idx
    )


def write_fixture(spark, fx: str, n_urls: int) -> None:
    """N seed urls over cubic-zipf hosts + tiny robots/redirects/politeness."""
    spark.range(n_urls).select(_page_url(F.col("id")).alias("value")).write.mode(
        "overwrite"
    ).text(os.path.join(fx, "seeds.txt"))
    tables = {
        "robots": ([("host1.example.org", "/page/1", False),
                    ("host1.example.org", "/page/12", True),
                    ("host2.example.org", "/abs/", False)], schemas.ROBOTS),
        "redirects": ([("http://host3.example.org/abs/5",
                        "http://host0.example.org/page/0")], schemas.REDIRECTS),
        "politeness": ([("host0.example.org", 4 * BUDGET, 0)], schemas.POLITENESS),
    }
    for name, (rows, schema) in tables.items():
        local_df(spark, rows, schema).write.mode("overwrite").parquet(
            os.path.join(fx, f"{name}.parquet")
        )


def synthetic_fetched(popped, n_urls: int):
    """One page per popped url: relative, root-relative and absolute hrefs;
    the absolute one is a seed url when its id falls below n_urls."""
    seq = F.col("seq").cast("long")
    target = (seq * 7919) % (2 * n_urls)
    html = F.format_string(
        '<html><body><a href="next/%d">n</a> <a href="/abs/%d">a</a> '
        '<a href="%s">s</a></body></html>',
        seq * 3 + 1, seq * 3 + 2, _page_url(target),
    )
    return popped.select(
        "url", F.lit(0).cast("long").alias("ts_logical"),
        F.encode(html, "UTF-8").alias("html"),
    )


def run_stages(eng, n_urls: int, on_stage=None) -> dict:
    """One round's pipeline up to the seen tiers, over committed round -1.
    ``on_stage(name)`` returns a context manager wrapped around each stage.
    Returns the popped / candidate / new counts."""
    stage = on_stage or (lambda name: nullcontext())
    with stage("live"):
        due = eng._frontier_live(-1, due_band=0)
        hosts = eng._hosts_live(-1).localCheckpoint()
    with stage("pop"):
        popped, n_popped, _, _ = eng._pop(due, hosts, 0, 0)
    with stage("fetch"):
        fetched = synthetic_fetched(popped, n_urls).localCheckpoint()
    with stage("outlinks"):
        outlinks = eng._outlinks(fetched)
    with stage("seen_tiers"):
        new_urls, new_stats, tiers = eng._seen_tiers(
            eng._candidates(outlinks, popped), -1, eng.store.bloom_paths()
        )
    for df in (hosts, popped, fetched, outlinks, new_urls):
        df.unpersist()
    return {
        "popped": n_popped,
        "candidates": tiers["candidates"],
        "new": sum(new_stats.values()),
    }


def cache_dirs(n_urls: int) -> tuple[str, str]:
    root = os.path.join(tempfile.gettempdir(), "tcs_scaling_stages", f"n{n_urls}")
    return os.path.join(root, "fx"), os.path.join(root, "state")


def _session(cores: int, parts: int):
    return get_spark(
        app_name=f"tcs-stages-{cores}", cores=cores, shuffle_partitions=parts,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={cores}",
        },
    )


def child(cores: int, n_urls: int, parts: int) -> dict:
    """One measured run in a fresh JVM (Spark pins the master per JVM)."""
    spark = _session(cores, parts)
    sc = spark.sparkContext
    # warm-up on a small state: codegen, JIT and the Python worker pool
    run_stages(CrawlEngine(spark, *cache_dirs(WARMUP_N), crawl_config()), WARMUP_N)
    eng = CrawlEngine(spark, *cache_dirs(n_urls), crawl_config())
    walls: dict[str, float] = {}
    py_cpu: dict[str, float] = {}

    @contextmanager
    def on_stage(name):
        sc.setJobGroup(name, name)
        c0, t0 = proc_cpu()["py_worker"], time.time()
        yield
        walls[name] = round(time.time() - t0, 3)
        py_cpu[name] = round(proc_cpu()["py_worker"] - c0, 3)

    counts = run_stages(eng, n_urls, on_stage)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stages = read_status_store(sc, 0)
    task_cpu = dict.fromkeys(STAGES, 0.0)
    for j in jobs:
        if j["group"] in task_cpu:
            task_cpu[j["group"]] += sum(stages[s]["cpu_s"] for s in j["stages"])
    return {
        "cores": cores,
        "wall_s": round(sum(walls.values()), 3),
        "counts": counts,
        "stages": {
            s: {"wall_s": walls[s], "task_cpu_s": round(task_cpu[s], 3),
                "py_worker_cpu_s": py_cpu[s]}
            for s in STAGES
        },
    }


def prepare(n_urls: int, parts: int) -> None:
    """Write the fixture and the init_state snapshot once per N (and for the
    warm-up size)."""
    spark = _session(os.cpu_count() or 1, parts)
    for n in (WARMUP_N, n_urls):
        fx, state = cache_dirs(n)
        if SnapshotStore(state).committed_round() is None:
            write_fixture(spark, fx, n)
            CrawlEngine(spark, fx, state, crawl_config()).init_state()


def _spawn(mode: str, *args) -> dict | None:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), mode, *map(str, args)],
        capture_output=True, text=True, timeout=4000,
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-3000:])
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def summarize(pairs: list[dict], n_urls: int, parts: int) -> dict:
    """The BENCH_SCALING.json section for a list of lo/hi pairings."""
    lo, hi = pairs[0]["lo"]["cores"], pairs[0]["hi"]["cores"]
    min_lo = min(p["lo"]["wall_s"] for p in pairs)
    min_hi = min(p["hi"]["wall_s"] for p in pairs)
    clean = [
        p for p in pairs
        if p["lo"]["wall_s"] <= CLEAN_FACTOR * min_lo
        and p["hi"]["wall_s"] <= CLEAN_FACTOR * min_hi
    ]

    def med(values) -> float:
        return round(statistics.median(values), 3)

    return {
        "script": "scripts/scaling_stages.py",
        "n_urls": n_urls,
        "k_pairings": len(pairs),
        "cores": {"lo": lo, "hi": hi},
        "shuffle_partitions": parts,
        "active_processor_count_pinned": True,
        "config": {"default_budget": BUDGET, "n_hosts": N_HOSTS},
        "counts": pairs[0]["lo"]["counts"],
        "pairings": pairs,
        "per_stage_median": {
            side: {
                s: {m: med(p[side]["stages"][s][m] for p in pairs)
                    for m in ("wall_s", "task_cpu_s", "py_worker_cpu_s")}
                for s in STAGES
            }
            for side in ("lo", "hi")
        },
        "per_stage_clean_median_eff": {
            s: med(
                p["lo"]["stages"][s]["wall_s"] / p["hi"]["stages"][s]["wall_s"]
                / (hi / lo)
                for p in clean
            )
            for s in STAGES
        },
        "eff_of_min_walls": round(min_lo / min_hi / (hi / lo), 3),
        "clean_factor": CLEAN_FACTOR,
        "n_clean": len(clean),
        "clean_median": med(p["eff"] for p in clean),
        "all_median": med(p["eff"] for p in pairs),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    parts = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    hi = os.cpu_count() or 1
    lo = max(1, hi // 4)
    _spawn("--prepare", n, parts)
    pairs = []
    for i in range(k):
        r_lo = _spawn("--child", lo, n, parts)
        r_hi = _spawn("--child", hi, n, parts)
        if r_lo["counts"] != r_hi["counts"]:
            raise RuntimeError(f"counts differ across cores: {r_lo} vs {r_hi}")
        eff = r_lo["wall_s"] / r_hi["wall_s"] / (hi / lo)
        pairs.append({"lo": r_lo, "hi": r_hi, "eff": round(eff, 3)})
        print(f"# pairing {i + 1}/{k}: local[{lo}]={r_lo['wall_s']}s "
              f"local[{hi}]={r_hi['wall_s']}s eff={eff:.3f}",
              file=sys.stderr, flush=True)
    section = summarize(pairs, n, parts)
    print(json.dumps(section))
    path = os.path.join(REPO, "BENCH_SCALING.json")
    with open(path) as f:
        data = json.load(f)
    data[f"stages_{n}"] = section
    with open(path, "w") as f:
        json.dump(data, f, indent=2)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        print(json.dumps(child(*map(int, sys.argv[2:5]))))
    elif len(sys.argv) > 1 and sys.argv[1] == "--prepare":
        prepare(*map(int, sys.argv[2:4]))
    else:
        main()
