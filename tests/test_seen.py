"""SeenShard (bloom + cuckoo) invariants.

The contract for the three-tier URL-seen test (SURVEY.md §2.3):
* bloom: NO false negatives ever; false positives allowed;
* cuckoo: no false negatives while inserts succeed; overflow flags the shard
  and makes it claim "maybe present" for everything (safe);
* the exact anti-join tier (exercised in the engine tests) is the arbiter.
"""

from __future__ import annotations

import numpy as np
import pytest

from twitter_crawler_spark.crawl.seen import SeenShard, make_seen_check_fn, shard_path


def _shard(bits=1 << 14, cb=1 << 10):
    return SeenShard(bits, 4, cb, 4)


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(1)
    added = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    sh = _shard(bits=1 << 17, cb=1 << 12)
    sh.add(added)
    assert sh.bloom_contains(added).all()
    assert sh.cuckoo_contains(added).all() or sh.overflowed


def test_bloom_false_positive_rate_bounded():
    rng = np.random.default_rng(2)
    added = rng.integers(-(2**62), 2**62, 2000, dtype=np.int64)
    probe = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    probe = np.setdiff1d(probe, added)
    sh = _shard(bits=1 << 17, cb=1 << 12)
    sh.add(added)
    fp = sh.bloom_contains(probe).mean()
    # m/n ≈ 65, k=4 → theoretical fp ~ 1e-5; allow slack
    assert fp < 0.01, fp


def test_cuckoo_rejects_most_bloom_positives():
    rng = np.random.default_rng(3)
    added = rng.integers(-(2**62), 2**62, 1000, dtype=np.int64)
    probe = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    probe = np.setdiff1d(probe, added)
    sh = _shard(bits=1 << 10, cb=1 << 12)  # deliberately tiny bloom → many FPs
    sh.add(added)
    pos = probe[sh.bloom_contains(probe)]
    if len(pos):
        ver = sh.cuckoo_contains(pos)
        # 16-bit fingerprints, 2 buckets × 4 slots → FP ~ 8/2^16
        assert ver.mean() < 0.01


def test_overflow_is_safe_not_wrong():
    rng = np.random.default_rng(4)
    added = rng.integers(-(2**62), 2**62, 4000, dtype=np.int64)
    sh = _shard(bits=1 << 14, cb=1 << 6)  # 256 slots « 4000 keys → overflow
    sh.add(added)
    assert sh.overflowed
    # overflowed shard must answer "maybe present" for everything
    assert sh.cuckoo_contains(added).all()
    assert sh.cuckoo_contains(np.array([123456789], dtype=np.int64)).all()


def test_save_load_roundtrip(tmp_path):
    rng = np.random.default_rng(5)
    added = rng.integers(-(2**62), 2**62, 500, dtype=np.int64)
    sh = _shard()
    sh.add(added)
    p = str(tmp_path / "bucket=0.npz")
    sh.save(p)
    back = SeenShard.load(p)
    assert (back.bits == sh.bits).all()
    assert (back.cuckoo == sh.cuckoo).all()
    assert back.overflowed == sh.overflowed


def test_check_fn_classification(tmp_path):
    import pandas as pd

    rng = np.random.default_rng(6)
    added = rng.integers(-(2**62), 2**62, 300, dtype=np.int64)
    sh = _shard(bits=1 << 17, cb=1 << 12)
    sh.add(added)
    d = str(tmp_path)
    sh.save(shard_path(d, 3))
    check = make_seen_check_fn({3: shard_path(d, 3)})
    fresh = rng.integers(-(2**62), 2**62, 300, dtype=np.int64)
    fresh = np.setdiff1d(fresh, added)
    pdf = pd.DataFrame(
        {
            "url_hash": np.concatenate([added, fresh]),
            "bucket": 3,
        }
    )
    out = check(pdf)
    seen_part = out.iloc[: len(added)]
    new_part = out.iloc[len(added):]
    # every truly-seen hash must be routed to the exact tier (flag 2)
    assert (seen_part["seen_flag"] == 2).all()
    # almost all fresh hashes short-circuit as definitely-new (flag 0/1)
    assert (new_part["seen_flag"] < 2).mean() > 0.99


def test_n_added_persists_and_legacy_shard_fails_loudly(tmp_path):
    """The capacity policy's occupancy counter survives save/load, and a
    pre-round-5 shard file (5-element meta, no n_added) raises instead of
    loading with a made-up counter. Such files only exist in unversioned
    state dirs, which the manifest's format_version check refuses first."""
    rng = np.random.default_rng(5)
    sh = _shard()
    sh.add(rng.integers(-(2**62), 2**62, 1234, dtype=np.int64))
    assert sh.n_added == 1234
    p = str(tmp_path / "bucket=0.npz")
    sh.save(p)
    back = SeenShard.load(p)
    assert back.n_added == 1234 and back.m == sh.m
    # legacy file: strip n_added from meta
    z = np.load(p)
    legacy = str(tmp_path / "legacy.npz")
    np.savez_compressed(legacy, bits=z["bits"], cuckoo=z["cuckoo"],
                        meta=z["meta"][:5])
    with pytest.raises(ValueError):
        SeenShard.load(legacy)


def test_grown_geometry_doubles_until_headroom():
    from twitter_crawler_spark.config import CrawlConfig
    from twitter_crawler_spark.crawl.seen import grown_geometry

    cfg = CrawlConfig(bloom_bits_per_partition=1 << 10,
                      cuckoo_buckets_per_partition=1 << 8)
    m, cb = grown_geometry(50, cfg)
    assert (m, cb) == (1 << 10, 1 << 8)  # under load: unchanged
    m, cb = grown_geometry(500, cfg)
    # 500 keys: load ≤ max_load/2 = 1/16 needs m ≥ 8000 → 8192; cuckoo
    # load ≤ 0.5 needs cb*cs ≥ 1000 → cb = 256 (256*4 = 1024 ≥ 1000)
    assert m == 1 << 13 and cb == 1 << 8
    assert 500 <= (cfg.bloom_max_load / 2) * m
    # geometry is monotone in n and always a power-of-two multiple
    m2, cb2 = grown_geometry(5000, cfg)
    assert m2 > m and cb2 > cb and m2 % (1 << 10) == 0


def test_rebuild_fn_restores_fp_rate(tmp_path):
    """A saturated tiny bloom claims nearly everything seen; the rebuild fn
    (the compaction capacity policy) rebuilds from the authoritative key
    set with grown geometry and the FP rate collapses — with zero false
    negatives before OR after (the correctness invariant)."""
    import pandas as pd

    from twitter_crawler_spark.config import CrawlConfig
    from twitter_crawler_spark.crawl.seen import (
        grown_geometry,
        make_shard_rebuild_fn,
    )

    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(-(2**62), 2**62, 2000, dtype=np.int64))
    cfg = CrawlConfig(bloom_bits_per_partition=1 << 10,
                      cuckoo_buckets_per_partition=1 << 8)
    small = SeenShard(cfg.bloom_bits_per_partition, cfg.bloom_num_hashes,
                      cfg.cuckoo_buckets_per_partition, cfg.cuckoo_slots)
    small.add(keys)
    probe = np.unique(rng.integers(-(2**62), 2**62, 20000, dtype=np.int64))
    probe = probe[~np.isin(probe, keys)]
    fp_small = small.bloom_contains(probe).mean()
    assert fp_small > 0.5  # saturated: the pruning tier stopped paying

    geom = {7: grown_geometry(len(keys), cfg)}
    rebuild = make_shard_rebuild_fn(str(tmp_path), geom, cfg)
    stats = rebuild(pd.DataFrame({"bucket": 7, "url_hash": keys}))
    assert int(stats["n_total"].iloc[0]) == len(keys)
    grown = SeenShard.load(shard_path(str(tmp_path), 7))
    assert grown.m == geom[7][0] and grown.n_added == len(keys)
    assert grown.bloom_contains(keys).all()  # still no false negatives
    fp_grown = grown.bloom_contains(probe).mean()
    assert fp_grown < 0.05 < fp_small
