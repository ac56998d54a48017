"""The correctness gate: Spark engine ≡ pure-Python oracle on every golden
trace (BASELINE.json: "crawl ordering and final URL-seen membership set must
exactly match the reference's" — the oracle replays the reference frontier
semantics; see twitter_crawler_spark/oracle/frontier_oracle.py)."""

from __future__ import annotations

import pytest

from tests.conftest import TEST_CFG
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.oracle.frontier_oracle import FrontierOracle


@pytest.fixture(scope="module")
def oracle_result(fixture_dir):
    return FrontierOracle(fixture_dir, TEST_CFG).run()


@pytest.fixture(scope="module")
def engine(spark, fixture_dir, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("state") / "s")
    eng = CrawlEngine(spark, fixture_dir, state, TEST_CFG)
    eng.run()
    return eng


def _engine_log(engine):
    return [
        (r.round, r.seq, r.url, r.host, r.depth, r.score, r.attempt)
        for r in engine.crawl_log().orderBy("round", "seq").collect()
    ]


def test_crawl_order_exact(engine, oracle_result):
    got = _engine_log(engine)
    want = [
        (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
        for c in oracle_result.crawl_order
    ]
    assert got == want


def test_url_seen_exact(engine, oracle_result):
    got = {r.url for r in engine.url_seen().collect()}
    assert got == oracle_result.url_seen


def test_edges_exact(engine, oracle_result):
    got = {(r.src_url, r.dst_url, r.round) for r in engine.edges().collect()}
    assert got == oracle_result.edges


def test_docs_byte_identical(engine, oracle_result):
    got = {r.url: (r.round, r.text_sha256) for r in engine.docs().collect()}
    sha = oracle_result.text_sha()
    want = {u: (rd, sha[u]) for u, (rd, _) in oracle_result.docs.items()}
    assert got == want


def test_evictions_exact(engine, oracle_result):
    got = sorted(r.url for r in engine.evictions().collect())
    assert got == sorted(oracle_result.evictions)


def test_round_metrics_totals(engine, oracle_result):
    """Round totals in the metrics table agree with the oracle's counters."""
    m = {
        r.round: r
        for r in engine.round_metrics().where("partition_id = -1").collect()
    }
    om = {r["round"]: r for r in oracle_result.metrics}
    assert set(m) == set(om)
    for rd, row in m.items():
        assert row.fetched == om[rd]["fetched"], rd
        assert row.new_urls == om[rd]["new_urls"], rd
        assert row.results == om[rd]["results"], rd
        assert row.evicted == om[rd]["evicted"], rd
        assert row.robots_blocked == om[rd]["robots_blocked"], rd
        assert row.dupes == om[rd]["dupes"], rd


def test_lineage_present(engine):
    rows = engine.round_metrics().where("partition_id = -1").collect()
    assert all(r.lineage and "inputs" in r.lineage for r in rows)


def test_filterless_path_identical(spark, fixture_dir, tmp_path_factory, engine):
    """bloom/cuckoo prefilter tiers must be semantics-free: the pure exact
    anti-join path yields the identical crawl (SURVEY.md §5.4)."""
    state = str(tmp_path_factory.mktemp("state_nf") / "s")
    eng2 = CrawlEngine(spark, fixture_dir, state, TEST_CFG, use_filters=False)
    eng2.run()
    a = _engine_log(engine)
    b = _engine_log(eng2)
    assert a == b
    seen_a = {r.url for r in engine.url_seen().collect()}
    seen_b = {r.url for r in eng2.url_seen().collect()}
    assert seen_a == seen_b


def test_messy_seed_lines_match_oracle(spark, fixture_dir, tmp_path_factory):
    """Seed lines are stripped of exactly what the oracle's ``str.strip()``
    drops: blank, tab-only, ``\\x0b``/``\\xa0``-padded and duplicate lines
    must give the oracle's seed set (no phantom whitespace url), and the
    first rounds must crawl identically."""
    import dataclasses
    import os
    import shutil

    fx = str(tmp_path_factory.mktemp("messy_seeds") / "fx")
    shutil.copytree(fixture_dir, fx)
    seeds_path = os.path.join(fx, "seeds.txt")
    with open(seeds_path, encoding="utf-8") as f:
        seeds = [line for line in f.read().split("\n") if line]
    messy = [
        "", "\t", " \t ", "\x0b", "\xa0", "\u3000",
        f"\x0b{seeds[0]}\xa0", f"\t{seeds[1]}  ", seeds[0],
        *seeds[2:], f"\xa0{seeds[2]}\t", "\t\t",
    ]
    with open(seeds_path, "w", encoding="utf-8") as f:
        f.write("\n".join(messy) + "\n")

    cfg = dataclasses.replace(TEST_CFG, max_rounds=2)
    oracle = FrontierOracle(fx, cfg)
    assert sorted(set(oracle.seeds)) == sorted(seeds)
    want = oracle.run()
    eng = CrawlEngine(spark, fx, str(tmp_path_factory.mktemp("messy") / "s"), cfg)
    eng.run()
    assert eng.store.manifest()["history"][0]["seeds"] == len(oracle.seeds)
    got_seeds = {r.url for r in eng.url_seen().where("first_round = -1").collect()}
    assert got_seeds == {u for u in oracle.seeds if oracle.allowed(u)}
    assert {r.url for r in eng.url_seen().collect()} == want.url_seen
    assert _engine_log(eng) == [
        (c["round"], c["seq"], c["url"], c["host"], c["depth"], c["score"], c["attempt"])
        for c in want.crawl_order
    ]
