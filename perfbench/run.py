"""Crawl benchmark: committed-round latency, throughput and CPU of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_bench --seed 1 --seconds 30 --trace 0

Each run is one process with one client in a closed loop. It generates the
workload's synthetic web from ``--seed`` (cached per workload and seed under
``.perfbench_work/``), computes the pure-Python oracle's answer (outside
every timed region), starts Spark at ``local[<cores available>]`` and then
crawls the web from fresh state, timing ``init_state`` and each committed
round from outside by calling ``run(max_rounds=r + 1)``. Crawls repeat while
another one fits in ``--seconds``. Every crawl is checked against the oracle:
the crawl_log of each round in order, each round's counters, the url_seen
rows each round added, and the final url_seen set.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one crawl with
spans around the layer entry points (see spans.py) and prints the per-layer
metrics instead. The last stdout line is the JSON result; a full record of the
run goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import asdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# Web shapes and crawl length. Each crawl is init_state plus one committed
# round: a JVM start, set-up, init_state and one round already take about a
# minute on 4 busy cores, and 22 runs of each workload must fit well inside
# an hour. The generator takes one seed per host until it has used
# min(n_hosts, n_seeds) hosts, so n_seeds is kept below the number of hosts a
# web of that size uses (~190 of 200, ~1,000 of 3,000 here): every --seed
# then yields exactly n_seeds crawl seeds, where reaching the cap would switch
# to a second mode with several times as many. The round fetches about one
# page per crawl seed that robots.txt allows.
# crawl_bench is the bench.py fixture shape (hosts = pages/40): ~140 pages are
# fetched, so the round's fixed cost (its Spark jobs and driver work) carries
# it, and compact_every=1 makes the round also compact, so the state layer's
# rewrite path runs. crawl_wide spreads the pages over many hosts (hosts =
# pages/4): ~800 pages are fetched, so the per-row layers (fetch join,
# extract, canonicalize, seen check) carry a larger share of the round; it
# never compacts.
WORKLOADS = {
    "crawl_bench": {
        "web": {"n_pages": 8000, "n_hosts": 200, "n_seeds": 160, "mean_outdeg": 10},
        "rounds": 1,
        "compact_every": 1,
    },
    "crawl_wide": {
        "web": {"n_pages": 12000, "n_hosts": 3000, "n_seeds": 900, "mean_outdeg": 10},
        "rounds": 1,
        "compact_every": 8,
    },
}
# the generator needs a snapshot time span of at least two rounds
SPAN_ROUNDS = 2
SETUP_REPS = 3
STATE_TABLES = (
    "frontier", "hosts", "url_seen", "edges", "docs", "crawl_log",
    "round_metrics", "evictions", "frontier_ins", "frontier_del",
    "frontier_gains", "hosts_touch", "hosts_new", "bloom",
)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package from it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    sys.path.insert(0, ROOT)


def crawl_config(wl: dict):
    from twitter_crawler_spark.config import CrawlConfig

    return CrawlConfig(max_rounds=wl["rounds"], compact_every=wl["compact_every"])


# ---------------------------------------------------------------- inputs


def input_paths(name: str, seed: int) -> tuple[dict, str, str]:
    """(generator arguments, fixture dir, oracle file) of (workload, seed)."""
    wl = WORKLOADS[name]
    cfg = crawl_config(wl)
    gen_args = {**wl["web"], "seed": seed, "span_rounds": SPAN_ROUNDS,
                "pages_buckets": cfg.pages_buckets}
    key = hashlib.sha256(
        json.dumps([gen_args, asdict(cfg)], sort_keys=True).encode()
    ).hexdigest()[:12]
    cdir = os.path.join(WORK, "cache", f"{name}-s{seed}-{key}")
    return gen_args, os.path.join(cdir, "fx"), os.path.join(cdir, "oracle.json")


def make_inputs(name: str, seed: int) -> None:
    """Generate the web and the oracle's answer for it. Runs in a child
    process, beside the JVM launch, so it is never inside a timed region."""
    from twitter_crawler_spark.fixtures.webgen import generate_web
    from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle

    gen_args, fx, done = input_paths(name, seed)
    shutil.rmtree(os.path.dirname(fx), ignore_errors=True)
    generate_web(fx, **gen_args)
    res = FrontierOracle(fx, crawl_config(WORKLOADS[name])).run()
    oracle = {
        "crawl_order": res.crawl_order,
        "url_seen": sorted(res.url_seen),
        "metrics": res.metrics,
    }
    with open(done + ".tmp", "w") as f:
        json.dump(oracle, f)
    os.replace(done + ".tmp", done)


def load_inputs(name: str, seed: int) -> tuple[str, dict, dict]:
    """Fixture dir, oracle answer and the fixture's meta.json."""
    _gen_args, fx, done = input_paths(name, seed)
    with open(done) as f:
        oracle = json.load(f)
    with open(os.path.join(fx, "meta.json")) as f:
        meta = json.load(f)
    return fx, oracle, meta


# ---------------------------------------------------------------- set-up


def start_spark(cores: int):
    from twitter_crawler_spark.session import get_spark

    spark_local = os.environ["SPARK_LOCAL_DIRS"]
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": spark_local,
            # no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            # keep every job and stage of a crawl in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def setup(cores: int, name: str, seed: int, cfg) -> tuple[object, list[float], dict]:
    """Set-up, SETUP_REPS times: session start, a warm-up query and engine
    construction. The first launches the JVM while a child process makes the
    inputs if they are not cached (its wait is not counted); later ones stop
    and restart the SparkContext. Returns the live session, each set-up wall
    and the input record."""
    from twitter_crawler_spark.crawl.engine import CrawlEngine

    _gen_args, _fx, done = input_paths(name, seed)
    child = None
    t_inputs = time.perf_counter()
    if not os.path.exists(done):
        # a plain child interpreter: multiprocessing would also start a
        # resource-tracker process that outlives the run
        child = subprocess.Popen(
            [sys.executable, "-c",
             "import sys; from perfbench.run import make_inputs; "
             "make_inputs(sys.argv[1], int(sys.argv[2]))",
             name, str(seed)],
            cwd=ROOT,
        )
    walls = []
    inputs = {"cache_hit": child is None}
    spark = None
    try:
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = start_spark(cores)
            spark.range(1000).selectExpr("sum(id)").collect()
            wall = time.perf_counter() - t0
            if i == 0:
                if child is not None:
                    if child.wait() != 0:
                        raise RuntimeError(f"input generation failed ({child.returncode})")
                inputs["inputs_s"] = time.perf_counter() - t_inputs
                fx, oracle, meta = load_inputs(name, seed)
                t0 = time.perf_counter()
            CrawlEngine(spark, fx, os.path.join(WORK, "state-setup"), cfg)
            walls.append(wall + time.perf_counter() - t0)
            if i < SETUP_REPS - 1:
                spark.stop()
    except BaseException:
        if child is not None and child.poll() is None:
            child.terminate()
            child.wait()
        if spark is not None:
            stop_spark(spark)
        raise
    shutil.rmtree(os.path.join(WORK, "state-setup"), ignore_errors=True)
    return spark, walls, {"fx": fx, "oracle": oracle, "meta": meta, **inputs}


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and its workers) have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- crawl


def crawl(spark, fx: str, cfg, rounds: int, tracer=None) -> dict:
    """One crawl from fresh state: ``init_state``, then one
    ``run(max_rounds=r + 1)`` call per round, each timed from outside."""
    from perfbench.spans import last_job_id, proc_cpu

    from twitter_crawler_spark.crawl.engine import CrawlEngine

    sc = spark.sparkContext
    state_dir = os.path.join(WORK, "state")
    shutil.rmtree(state_dir, ignore_errors=True)
    eng = CrawlEngine(spark, fx, state_dir, cfg)
    cpu0 = proc_cpu()
    t0 = time.time()
    eng.init_state()
    rec = {"init": {"start": t0, "end": time.time()}, "rounds": []}
    for r in range(rounds):
        cpu_a = proc_cpu()
        jobs_a = last_job_id(sc) + 1 if tracer else None
        t_a = time.time()
        summary = eng.run(max_rounds=r + 1)
        t_b = time.time()
        if summary["rounds"] != [r]:
            raise RuntimeError(f"round {r} did not run: {summary}")
        row = {"round": r, "start": t_a, "end": t_b,
               "cpu": {k: v - cpu_a[k] for k, v in proc_cpu().items()}}
        if tracer:
            row["jobs"] = (jobs_a, last_job_id(sc))
        rec["rounds"].append(row)
    rec["crawl_s"] = time.time() - t0
    cpu1 = proc_cpu()
    rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    rec["engine"] = eng
    return rec


def verify(eng, oracle: dict, rounds: int) -> tuple[int, int, dict]:
    """Engine against oracle. Operations: init, each round, final state.
    Returns (attempted, failed, observed outputs)."""
    log_rows = (
        eng.crawl_log()
        .select("round", "seq", "url", "host", "depth", "score", "attempt")
        .orderBy("round", "seq").collect()
    )
    got_log = defaultdict(list)
    for r in log_rows:
        got_log[r.round].append(tuple(r))
    want_log = defaultdict(list)
    for c in oracle["crawl_order"]:
        want_log[c["round"]].append(
            (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
        )
    counters = ("fetched", "hits", "results", "new_urls", "dupes", "robots_blocked", "evicted")
    metrics = {
        m.round: m.asDict()
        for m in eng.round_metrics().where("partition_id = -1").collect()
    }
    want_m = {m["round"]: m for m in oracle["metrics"]}
    seen = eng.url_seen().select("url", "first_round").collect()
    new_by_round = defaultdict(int)
    for s in seen:
        new_by_round[s.first_round] += 1

    failed = 0
    n_seed = len(oracle["url_seen"]) - sum(m["new_urls"] for m in oracle["metrics"])
    if new_by_round[-1] != n_seed:
        log(f"init: {new_by_round[-1]} seeds scheduled, oracle {n_seed}")
        failed += 1
    for r in range(rounds):
        bad = []
        if got_log[r] != want_log[r]:
            bad.append("crawl_log")
        m, w = metrics.get(r), want_m.get(r)
        if m is None or w is None or any(m[c] != w[c] for c in counters):
            bad.append("counters")
        if w is None or new_by_round[r] != w["new_urls"]:
            bad.append("url_seen")
        if bad:
            log(f"round {r}: mismatch in {bad}")
            failed += 1
    if {s.url for s in seen} != set(oracle["url_seen"]):
        log("final url_seen set differs from the oracle")
        failed += 1
    observed = {
        "metrics": [metrics[r] for r in sorted(metrics)],
        "crawl_log_urls": sorted({r.url for r in log_rows}),
        "seen_urls": [s.url for s in seen],
    }
    return rounds + 2, failed, observed


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def crawl_metrics(rec: dict, observed: dict) -> dict:
    walls = [r["end"] - r["start"] for r in rec["rounds"]]
    ms = observed["metrics"]
    urls = sum(m["new_urls"] + m["dupes"] + m["robots_blocked"] for m in ms)
    pages = sum(m["fetched"] for m in ms)
    _files, size = dir_stats(rec["engine"].store.root)
    return {
        "round_s": statistics.median(walls),
        "crawl_s": rec["crawl_s"],
        "urls_per_s": urls / rec["crawl_s"],
        "pages_per_s": pages / rec["crawl_s"],
        "cpu_s": sum(rec["cpu"].values()),
        "state_bytes_per_url": size / len(observed["seen_urls"]),
    }


E2E_UNITS = {
    "setup_s": "s", "round_s": "s", "crawl_s": "s",
    "urls_per_s": "1/s", "pages_per_s": "1/s", "cpu_s": "s",
    "state_bytes_per_url": "B",
}


# ---------------------------------------------------------------- per layer


def layer_metrics(rec: dict, tracer, observed: dict, fx: str, cfg) -> dict:
    """Per-layer metrics of one traced crawl, as (value, unit) pairs. Per-round
    figures are medians over the crawl's rounds."""
    from perfbench.spans import clip, read_status_store, sid_of, union_s

    sc = rec["engine"].spark.sparkContext
    jobs, stages = read_status_store(sc, rec["rounds"][0]["jobs"][0])
    by_id = {s.sid: s for s in tracer.spans}

    def root_of(sid):
        while by_id[sid].parent is not None:
            sid = by_id[sid].parent
        return sid

    run_spans = sorted(
        (s for s in tracer.spans if s.name == "engine.run"), key=lambda s: s.start
    )
    per_round = defaultdict(list)
    unattributed = 0
    for rd, span in zip(rec["rounds"], run_spans):
        lo, hi = rd["jobs"]
        rjobs = [j for j in jobs if lo <= j["id"] <= hi]
        for j in rjobs:
            sid = sid_of(j["group"])
            if sid is None or sid not in by_id or root_of(sid) != span.sid:
                unattributed += 1
        sids = {s for j in rjobs for s in j["stages"]}
        ran = [stages[s] for s in sids if stages[s]["status"] != "SKIPPED"]
        wall = rd["end"] - rd["start"]
        busy = union_s(clip(
            [(j["start"], j["end"]) for j in rjobs if j["start"] and j["end"]],
            rd["start"], rd["end"],
        ))
        mine = [s for s in tracer.spans if root_of(s.sid) == span.sid]

        def spans_s(*names):
            return union_s((s.start, s.end) for s in mine if s.name in names)

        p = per_round
        p["engine.jobs"].append(len(rjobs))
        p["engine.stages"].append(len(ran))
        p["engine.tasks"].append(sum(s["tasks"] for s in ran))
        p["engine.driver_gap_s"].append(wall - busy)
        p["engine.executor_cpu_s"].append(sum(s["cpu_s"] for s in ran))
        p["engine.executor_run_s"].append(sum(s["run_s"] for s in ran))
        p["engine.shuffle_read_bytes"].append(sum(s["shuffle_read"] for s in ran))
        p["engine.shuffle_write_bytes"].append(sum(s["shuffle_write"] for s in ran))
        p["engine.input_bytes"].append(sum(s["input"] for s in ran))
        p["proc.driver_cpu_s"].append(rd["cpu"]["driver"])
        p["proc.jvm_cpu_s"].append(rd["cpu"]["jvm"])
        p["proc.py_worker_cpu_s"].append(rd["cpu"]["py_worker"])
        p["state.write_s"].append(spans_s("state.write_round", "state.write_gen"))
        p["state.write_gen_s"].append(spans_s("state.write_gen"))
        p["state.write_calls"].append(
            sum(s.name in ("state.write_round", "state.write_gen") for s in mine)
        )
        p["state.read_log_s"].append(spans_s("state.read_log", "state.read_rounds"))
        p["state.commit_s"].append(spans_s("state.commit"))
        p["state.gc_s"].append(spans_s(
            "state.gc_bloom", "state.gc_rounds_below", "state.gc_gens_below",
            "state.clean_uncommitted",
        ))
    rec["per_round"] = {k: list(v) for k, v in per_round.items()}

    out = {}
    units = {"bytes": "B", "_s": "s"}
    for k, v in per_round.items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (statistics.median(v), unit)
    out["session.tasks_per_job"] = (
        sum(per_round["engine.tasks"]) / sum(per_round["engine.jobs"]), "count"
    )
    out["trace.unattributed_jobs"] = (unattributed, "count")
    out["trace.crawl_s"] = (rec["crawl_s"], "s")

    total_files = total_bytes = 0
    for t in STATE_TABLES:
        files, size = dir_stats(os.path.join(rec["engine"].store.root, t))
        out[f"state.files.{t}"] = (files, "count")
        out[f"state.bytes.{t}"] = (size, "B")
        total_files += files
        total_bytes += size
    out["state.files_total"] = (total_files, "count")
    out["state.bytes_total"] = (total_bytes, "B")

    ms = observed["metrics"]
    new = sum(m["new_urls"] for m in ms)
    cand = new + sum(m["dupes"] for m in ms)
    bloom_neg = sum(m["bloom_negative"] for m in ms)
    cuckoo_rej = sum(m["cuckoo_rejected"] for m in ms)
    out["seen.candidates"] = (cand, "count")
    out["seen.bloom_neg_share"] = (bloom_neg / cand, "share")
    out["seen.cuckoo_rej_share"] = (cuckoo_rej / cand, "share")
    out["seen.exact_share"] = ((cand - bloom_neg - cuckoo_rej) / cand, "share")
    out["seen.exact_new"] = (new - bloom_neg - cuckoo_rej, "count")
    out.update(kernel_probes(rec["engine"], observed, fx, cfg))
    return out


def _median_wall(fn, reps: int = 3):
    """(median wall, result) of ``reps`` calls."""
    walls, res = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), res


def kernel_probes(eng, observed: dict, fx: str, cfg) -> dict:
    """Time the per-row kernels the crawl runs in Python workers, on this
    crawl's fetched pages, their links and the committed seen shards."""
    import pandas as pd

    from twitter_crawler_spark.crawl.seen import make_seen_check_fn
    from twitter_crawler_spark.functions.hashing import murmur3_64
    from twitter_crawler_spark.functions.html import decode_html, extract_links
    from twitter_crawler_spark.functions.urls import canonicalize_series

    pages = pd.read_parquet(
        os.path.join(fx, "pages"), columns=["url", "warc_ts", "html"]
    )
    pages = (
        pages[pages["url"].isin(set(observed["crawl_log_urls"]))]
        .sort_values(["url", "warc_ts"])
        .drop_duplicates("url", keep="last")
        .reset_index(drop=True)
    )
    t_ext, links = _median_wall(lambda: extract_links(decode_html(pages["html"])))
    links = links.reset_index(level=1, drop=True)
    href = links["href"].reset_index(drop=True)
    base = pages["url"].iloc[links.index].reset_index(drop=True)
    t_can, dst = _median_wall(lambda: canonicalize_series(href, base))
    cand = pd.Series(dst.dropna().unique(), dtype=object)
    seen_urls = pd.Series(observed["seen_urls"], dtype=object)
    t_hash, _ = _median_wall(lambda: murmur3_64(seen_urls))

    h = murmur3_64(cand)
    pdf = pd.DataFrame({"dst": cand, "url_hash": h, "bucket": h % cfg.seen_partitions})
    check = make_seen_check_fn(eng.store.bloom_paths())
    groups = [g for _, g in pdf.groupby("bucket")]
    t_seen, _ = _median_wall(lambda: [check(g) for g in groups])
    return {
        "html.extract_us_per_page": (t_ext / len(pages) * 1e6, "us"),
        "urls.canon_us_per_link": (t_can / len(href) * 1e6, "us"),
        "hashing.murmur3_us_per_url": (t_hash / len(seen_urls) * 1e6, "us"),
        "seen.check_us_per_url": (t_seen / len(cand) * 1e6, "us"),
    }


# ---------------------------------------------------------------- processes

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    Python workers that outlive the JVM that forked them are re-parented here
    and ``reap_children`` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    me = os.getpid()
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(entry))
    return kids


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until every process this run started, and every descendant
    re-parented here, has ended: reap the exited ones, give the others
    ``grace_s`` to finish, then kill them."""
    deadline = time.monotonic() + grace_s
    while True:
        kids = child_pids()
        if not kids:
            return
        late = time.monotonic() > deadline
        if late:
            log(f"killing leftover processes {kids}")
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


# ---------------------------------------------------------------- main


def run(args) -> tuple[dict, dict]:
    """Returns (result line, full record)."""
    from perfbench.spans import Tracer, instrumented

    wl = WORKLOADS[args.workload]
    cfg = crawl_config(wl)
    cores = len(os.sched_getaffinity(0))
    spark, setup_walls, inputs = setup(cores, args.workload, args.seed, cfg)
    fx, oracle = inputs.pop("fx"), inputs.pop("oracle")
    log(f"set-up walls {[round(w, 2) for w in setup_walls]}, inputs {inputs}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, "config": asdict(cfg), "setup_walls": setup_walls,
              **inputs, "crawls": []}
    attempted = failed = 0
    results = []
    try:
        t_start = time.perf_counter()
        while True:
            tracer = Tracer(spark.sparkContext) if args.trace else None
            try:
                if tracer:
                    with instrumented(tracer):
                        rec = crawl(spark, fx, cfg, wl["rounds"], tracer)
                else:
                    rec = crawl(spark, fx, cfg, wl["rounds"])
                n, bad, observed = verify(rec["engine"], oracle, wl["rounds"])
            except Exception:  # noqa: BLE001 — a failed crawl is counted, not fatal
                traceback.print_exc()
                attempted += wl["rounds"] + 2
                failed += wl["rounds"] + 2
                break
            attempted += n
            failed += bad
            m = crawl_metrics(rec, observed)
            if tracer:
                m["layers"] = layer_metrics(rec, tracer, observed, fx, cfg)
            walls = [round(r["end"] - r["start"], 3) for r in rec["rounds"]]
            log(f"crawl {len(results) + 1}: {m['crawl_s']:.2f}s, rounds {walls}, "
                f"{bad} of {n} operations failed")
            rec.pop("engine")
            record["crawls"].append(rec)
            results.append(m)
            elapsed = time.perf_counter() - t_start
            if args.trace or elapsed + rec["crawl_s"] > args.seconds:
                break
    finally:
        stop_spark(spark)

    out = {"correct": failed == 0 and bool(results), "attempted": attempted,
           "failed": failed, "metrics": {}}
    if not results:
        return out, record
    if args.trace:
        out["metrics"] = {
            k: {"value": v, "unit": u} for k, (v, u) in results[0]["layers"].items()
        }
    else:
        values = {"setup_s": setup_walls,
                  **{k: [m[k] for m in results] for k in E2E_UNITS if k != "setup_s"}}
        out["metrics"] = {
            k: {"value": statistics.median(values[k]), "unit": unit}
            for k, unit in E2E_UNITS.items()
        }
    return out, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind through the finally blocks that stop Spark and the
    # input child, so no process outlives the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "twitter_crawler_spark")):
        log(f"no twitter_crawler_spark package under {ROOT}; nothing to measure")
        return 2
    become_subreaper()
    prepare_env()
    try:
        out, record = run(args)
    finally:
        reap_children()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(
        WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    )
    with open(path, "w") as f:
        json.dump({"result": out, "record": record}, f, default=str)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
