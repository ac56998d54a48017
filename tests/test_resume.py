"""Resumability (north rule: "resumes mid-round without re-fetching").

* A crawl interrupted after round k and resumed in a NEW engine instance must
  produce exactly the state a single uninterrupted run produces.
* Crash debris (an uncommitted round directory) must be discarded on resume.
* No committed round is ever re-fetched: the crawl_log contains each
  (round, url) pop exactly once across the interrupted + resumed run.
"""

from __future__ import annotations

import collections
import os

import pytest

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.crawl.state import FORMAT_VERSION

ROUNDS = 4


def _trace(eng):
    return [
        (r.round, r.seq, r.url) for r in eng.crawl_log().orderBy("round", "seq").collect()
    ]


def test_resume_equals_single_run(spark, fixture_dir, tmp_path_factory):
    one = str(tmp_path_factory.mktemp("resume") / "oneshot")
    eng1 = CrawlEngine(spark, fixture_dir, one, TEST_CFG)
    eng1.run(max_rounds=ROUNDS)

    two = str(tmp_path_factory.mktemp("resume") / "interrupted")
    eng2a = CrawlEngine(spark, fixture_dir, two, TEST_CFG)
    eng2a.run(max_rounds=2)
    assert eng2a.store.committed_round() == 1

    # fresh instance = process restart; must pick up from the snapshot
    eng2b = CrawlEngine(spark, fixture_dir, two, TEST_CFG)
    summary = eng2b.run(max_rounds=ROUNDS)
    assert summary["start_round"] == 2

    assert _trace(eng1) == _trace(eng2b)
    seen1 = {r.url for r in eng1.url_seen().collect()}
    seen2 = {r.url for r in eng2b.url_seen().collect()}
    assert seen1 == seen2


def test_zero_refetch_on_resume(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("resume") / "zrf")
    CrawlEngine(spark, fixture_dir, state, TEST_CFG).run(max_rounds=2)
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run(max_rounds=ROUNDS)
    pops = collections.Counter(
        (r.round, r.url) for r in eng.crawl_log().collect()
    )
    dup = {k: c for k, c in pops.items() if c > 1}
    assert not dup, f"re-fetched pops: {dup}"


def test_resume_across_compaction_boundary(spark, fixture_dir, tmp_path_factory):
    """Compaction (compact_every=4 → rounds 3 and 7 here) folds the frontier
    sidecar logs into a fresh banded base, merges url_seen/docs/edges into
    generation dirs and GCs the folded round dirs. A run interrupted right
    before a compaction round and resumed by a fresh engine must still equal
    the uninterrupted run, and the manifest's arithmetic frontier count must
    equal the materialized merge-on-read view."""
    import dataclasses

    from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle

    cfg = dataclasses.replace(TEST_CFG, compact_every=4, max_rounds=9)
    rounds = 9

    one = str(tmp_path_factory.mktemp("compact") / "oneshot")
    eng1 = CrawlEngine(spark, fixture_dir, one, cfg)
    eng1.run(max_rounds=rounds)

    two = str(tmp_path_factory.mktemp("compact") / "interrupted")
    CrawlEngine(spark, fixture_dir, two, cfg).run(max_rounds=3)
    eng2 = CrawlEngine(spark, fixture_dir, two, cfg)
    eng2.run(max_rounds=rounds)

    # compaction must be invisible to the semantics: the compacted run is
    # still golden vs the pure-Python oracle
    want = [(c["round"], c["seq"], c["url"]) for c in FrontierOracle(
        fixture_dir, cfg).run().crawl_order]
    assert _trace(eng1) == want
    assert _trace(eng1) == _trace(eng2)
    assert {r.url for r in eng1.url_seen().collect()} == {
        r.url for r in eng2.url_seen().collect()
    }
    d1 = {r.url: r.text_sha256 for r in eng1.docs().collect()}
    d2 = {r.url: r.text_sha256 for r in eng2.docs().collect()}
    assert d1 == d2
    for eng in (eng1, eng2):
        assert eng.store.state("frontier_base_round") >= 0, "compaction ran"
        assert eng.frontier_live().count() == eng.store.state("frontier_count")
    # folded round dirs are GC'd: only the base generation + tail remain
    base = eng1.store.state("frontier_base_round")
    frontier_dirs = sorted(os.listdir(os.path.join(one, "frontier")))
    assert frontier_dirs == [f"r={base}"]
    seen_dirs = sorted(os.listdir(os.path.join(one, "url_seen")))
    seen_gens = eng1.store.log_gens("url_seen")
    assert seen_gens, "url_seen compacted at least once"
    for g in seen_gens:
        assert f"gen={g}" in seen_dirs
    assert all(
        not d.startswith("r=") or int(d.split("=")[1]) > base for d in seen_dirs
    )
    # leveled compaction: the generations cover disjoint round ranges and no
    # stray gen dirs survive outside the manifest list
    assert seen_gens == sorted(set(seen_gens))
    assert {d for d in seen_dirs if d.startswith("gen=")} == {
        f"gen={g}" for g in seen_gens
    }


def test_uncommitted_debris_discarded(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("resume") / "debris")
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run(max_rounds=2)
    committed = eng.store.committed_round()
    # simulate a crash mid-round: orphan round dir the manifest never saw
    orphan = eng.store.round_dir("crawl_log", committed + 1)
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    eng2 = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng2.run(max_rounds=3)
    assert eng2.store.committed_round() == 2
    # the junk file must be gone (round re-ran cleanly)
    assert not os.path.exists(os.path.join(orphan, "part-junk.parquet"))


def test_hosts_merge_on_read_equals_fold(spark, fixture_dir, tmp_path_factory):
    """The live views must be layout-independent: a pure sidecar-log run
    (compact_every=0, never folds) and a per-round-fold run (compact_every=1,
    the legacy full-rewrite write pattern) must expose identical hosts and
    frontier rows — the merge-on-read resolution (base ∪ inserts ∖ crawl_log
    pops, gains folded, last fetch round from crawl_log) is exactly
    equivalent to rewriting the tables every round."""
    import dataclasses

    cfg_logs = dataclasses.replace(TEST_CFG, compact_every=0)
    cfg_fold = dataclasses.replace(TEST_CFG, compact_every=1)
    s1 = str(tmp_path_factory.mktemp("hosts") / "logs")
    s2 = str(tmp_path_factory.mktemp("hosts") / "fold")
    e1 = CrawlEngine(spark, fixture_dir, s1, cfg_logs)
    e1.run(max_rounds=4)
    e2 = CrawlEngine(spark, fixture_dir, s2, cfg_fold)
    e2.run(max_rounds=4)
    cols = ["host", "budget_per_round", "crawl_delay_rounds", "last_fetch_round"]
    h1 = sorted(tuple(r[c] for c in cols) for r in e1.hosts_live().collect())
    h2 = sorted(tuple(r[c] for c in cols) for r in e2.hosts_live().collect())
    assert h1 == h2
    fcols = ["url", "attempt", "score", "next_fetch_ts", "last_cursor", "depth"]
    f1 = sorted(tuple(r[c] for c in fcols) for r in e1.frontier_live().collect())
    f2 = sorted(tuple(r[c] for c in fcols) for r in e2.frontier_live().collect())
    assert f1 == f2 and len(f1) == e1.store.state("frontier_count")
    # and the log run really did stay on the delta path: no base was
    # rewritten after init
    assert sorted(os.listdir(os.path.join(s1, "hosts"))) == ["r=-1"]
    assert sorted(os.listdir(os.path.join(s1, "frontier"))) == ["r=-1"]
    # crawl_log is the only pop record, and one base round serves both views
    for state in (s1, s2):
        for tbl in ("frontier_del", "hosts_touch", "evictions"):
            assert not os.path.exists(os.path.join(state, tbl)), (state, tbl)
    assert "hosts_base_round" not in e2.store.manifest()["state"]
    assert e2.store.state("frontier_base_round") == e2.store.committed_round()


@pytest.mark.parametrize("version", [None, FORMAT_VERSION + 1])
def test_foreign_format_version_refused(
    spark, fixture_dir, tmp_path_factory, version
):
    """State written under another (or no) format_version must fail loudly
    and leave the state dir byte-identical — in particular the resume path's
    crash-debris sweep must not run on it."""
    import json

    state = str(tmp_path_factory.mktemp("format") / "s")
    manifest = {
        "committed_round": 0,
        "history": [{"round": -1}, {"round": 0}],
        "state": {"frontier_base_round": -1, "hosts_base_round": -1},
    }
    if version is not None:
        manifest["format_version"] = version
    os.makedirs(state)
    with open(os.path.join(state, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    # debris a resume would sweep (round 1 > committed round 0)
    for tbl in ("crawl_log", "frontier_del"):
        os.makedirs(os.path.join(state, tbl, "r=1"))
        with open(os.path.join(state, tbl, "r=1", "part-0.parquet"), "wb") as f:
            f.write(b"old")

    def snapshot():
        out = {}
        for root, dirs, files in os.walk(state):
            for d in dirs:
                out[os.path.join(root, d)] = None
            for n in files:
                with open(os.path.join(root, n), "rb") as f:
                    out[os.path.join(root, n)] = f.read()
        return out

    before = snapshot()
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    with pytest.raises(RuntimeError, match="format_version") as exc:
        eng.run(max_rounds=2)
    assert state in str(exc.value)
    assert repr(version) in str(exc.value) and str(FORMAT_VERSION) in str(exc.value)
    assert snapshot() == before


def test_read_rounds_skips_schema_less_empty_dirs(spark, tmp_path_factory):
    """A zero-row PARTITIONED write leaves a round dir with only _SUCCESS —
    no part file, no schema. On a long crawl a table goes quiet for a whole
    compaction window (docs once first-fetches dry up), so the tail can be
    ALL such dirs; reading it must yield None, not an AnalysisException
    (found by scripts/long_crawl_stats.py at round ~24 of a 50-round run)."""
    from twitter_crawler_spark.crawl.state import SnapshotStore

    st = SnapshotStore(str(tmp_path_factory.mktemp("state") / "s"))
    empty = spark.range(0).selectExpr("id as url", "id % 4 as bucket")
    st.write_round(empty, "docs", 3, ("bucket",))
    st.write_round(empty, "docs", 4, ("bucket",))
    assert st.read_rounds(spark, "docs", 4) is None
    assert st.read_log(spark, "docs", 4) is None
    # a mixed tail (one quiet round, one data-bearing) still unions fine
    st.write_round(
        spark.range(2).selectExpr("id as url", "id % 4 as bucket"),
        "docs", 5, ("bucket",),
    )
    got = st.read_rounds(spark, "docs", 5)
    assert got is not None and got.count() == 2
