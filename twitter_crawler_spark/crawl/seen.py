"""URL-seen membership at scale (SURVEY.md §2.3 D1-D4).

Replaces the reference's three independent dedup mechanisms — Redis
``hexists`` (storages/RedisFutureStorage.scala:29), the in-memory ``urlSet``
(storages/FutureTasksStorage.scala:17) and Lucene ``isNew`` probes
(storages/GraphStorage.scala:134-141, TweetStorage.scala:53-60) — with a
three-tier membership test sharded by ``murmur3_64(url) % P``:

1. **Partitioned bloom filter** (bitmap sidecar per shard, persisted and
   versioned with each snapshot round): bloom-NEGATIVE candidates are
   *definitely new* and skip everything else.
2. **Cuckoo verification shard** (16-bit fingerprints, 4-slot buckets):
   bloom-positive candidates that the cuckoo filter rejects are also new
   (cuckoo has no false negatives while inserts succeed; an overflowed shard
   flags itself and is bypassed).
3. **Exact anti-join** against the ``url_seen`` table — the final arbiter for
   the doubly-positive slice (exactness is mandated by the north rule).

Shards are loaded *per bucket inside executor tasks* (``applyInPandas`` over
a bucket-grouped DataFrame), so at 10^10 urls each task touches only its own
~MBs-sized sidecar, never a global structure. Sidecars are versioned per
bucket: round k writes ``bloom/r=k/bucket=N.npz`` ONLY for buckets k
touched, and a reader resolves each bucket through the committed manifest's
``bloom_map`` (bucket → newest round, one dict lookup — O(1) per bucket
regardless of crawl length, no copy-forward of untouched shards and no
newest-first filesystem probing). Superseded shard files are GC'd after each
commit, so the sidecar tree stays O(#buckets) files. Resume always reads
filters consistent with the committed snapshot (SURVEY.md §7 hard part 3):
the map lives in the atomically-replaced manifest, and uncommitted round
dirs are removed by ``clean_uncommitted`` before any read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd


class SeenShard:
    """Bloom bitmap + cuckoo filter for one url_hash bucket."""

    def __init__(
        self,
        bloom_bits: int,
        num_hashes: int,
        cuckoo_buckets: int,
        cuckoo_slots: int,
        bits: np.ndarray | None = None,
        cuckoo: np.ndarray | None = None,
        overflowed: bool = False,
        n_added: int = 0,
    ):
        assert bloom_bits % 64 == 0 and cuckoo_buckets & (cuckoo_buckets - 1) == 0
        self.m = bloom_bits
        self.k = num_hashes
        self.bits = bits if bits is not None else np.zeros(bloom_bits // 64, np.uint64)
        self.cb = cuckoo_buckets
        self.cs = cuckoo_slots
        self.cuckoo = (
            cuckoo if cuckoo is not None else np.zeros((cuckoo_buckets, cuckoo_slots), np.uint16)
        )
        self.overflowed = overflowed
        # keys inserted over the shard's lifetime (callers pass distinct new
        # urls, so this is exact) — the occupancy input to the capacity
        # policy: compaction rebuilds a shard whose n_added/m load crossed
        # CrawlConfig.bloom_max_load with doubled geometry (a saturated
        # bloom degrades FP→1: correct but the pruning tier stops paying)
        self.n_added = int(n_added)

    # --- hashing: reuse the two murmur3_32 halves inside the 64-bit url_hash ---

    def _h12(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = h.astype(np.int64).view(np.uint64)
        h1 = (h >> np.uint64(32)).astype(np.uint64)
        h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)  # odd → full cycle
        return h1, h2

    # --- bloom -------------------------------------------------------------------

    def bloom_add(self, hashes: np.ndarray) -> None:
        h1, h2 = self._h12(hashes)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            np.bitwise_or.at(
                self.bits, (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )

    def bloom_contains(self, hashes: np.ndarray) -> np.ndarray:
        h1, h2 = self._h12(hashes)
        out = np.ones(len(hashes), bool)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(self.m)
            word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
            out &= ((word >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
        return out

    # --- cuckoo ---------------------------------------------------------------------

    def _fp_idx(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        hu = h.astype(np.int64).view(np.uint64)
        fp = ((hu >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = (hu & np.uint64(self.cb - 1)).astype(np.int64)
        alt = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(self.cb - 1)
        i2 = (i1 ^ alt.astype(np.int64)) & (self.cb - 1)
        return fp, i1, i2

    def cuckoo_add(self, hashes: np.ndarray, max_kicks: int = 200) -> None:
        """Insert a batch. The common no-kick path is fully vectorized (one
        numpy scatter per (bucket-choice, slot)); only the colliding residue
        — rare at sane load factors — walks the per-item kick loop. Exact
        duplicate hashes collapse up front; two DISTINCT urls colliding on
        (bucket, fingerprint) within one batch may both occupy a slot where
        the per-item path would have deduped — harmless (no false negatives,
        marginal occupancy)."""
        if self.overflowed or len(hashes) == 0:
            return
        hashes = np.unique(hashes)
        fps, i1s, i2s = self._fp_idx(hashes)
        # vectorized membership vs the pre-batch table
        present = (self.cuckoo[i1s] == fps[:, None]).any(axis=1) | (
            self.cuckoo[i2s] == fps[:, None]
        ).any(axis=1)
        keep = ~present
        fps, i1s, i2s = fps[keep], i1s[keep], i2s[keep]
        pending = np.ones(len(fps), bool)
        for idxs in (i1s, i2s):
            for s in range(self.cs):
                cand = np.nonzero(pending & (self.cuckoo[idxs, s] == 0))[0]
                if not len(cand):
                    continue
                # one writer per target bucket wins this slot; losers retry
                # the next slot against the updated table
                _, first = np.unique(idxs[cand], return_index=True)
                win = cand[first]
                self.cuckoo[idxs[win], s] = fps[win]
                pending[win] = False
        # residue: both buckets full → per-item kick walk
        for j in np.nonzero(pending)[0]:
            if self.overflowed:
                return
            b, f = int(i1s[j]), int(fps[j])
            for kick in range(max_kicks):
                slot = kick % self.cs
                f, self.cuckoo[b, slot] = int(self.cuckoo[b, slot]), f
                alt = (f * 0x5BD1E995) & (self.cb - 1)
                b = b ^ alt
                row = self.cuckoo[b]
                empty = np.nonzero(row == 0)[0]
                if len(empty):
                    row[empty[0]] = f
                    f = 0
                    break
            if f != 0:
                self.overflowed = True  # shard unreliable → bypassed on reads

    def cuckoo_contains(self, hashes: np.ndarray) -> np.ndarray:
        if self.overflowed:
            return np.ones(len(hashes), bool)  # can't prove absence
        fp, i1, i2 = self._fp_idx(hashes)
        in1 = (self.cuckoo[i1] == fp[:, None]).any(axis=1)
        in2 = (self.cuckoo[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    # --- add both ------------------------------------------------------------------

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        self.bloom_add(hashes)
        self.cuckoo_add(hashes)
        self.n_added += len(hashes)

    # --- persistence ------------------------------------------------------------------

    def save(self, path: str) -> None:
        tmp = path + ".tmp.npz"  # np.savez requires/infers the suffix
        with open(tmp, "wb") as f:
            np.savez_compressed(
                f,
                bits=self.bits,
                cuckoo=self.cuckoo,
                meta=np.array([self.m, self.k, self.cb, self.cs,
                               int(self.overflowed), self.n_added]),
            )
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "SeenShard":
        z = np.load(path)
        m, k, cb, cs, ov, n_added = (int(x) for x in z["meta"])
        return cls(m, k, cb, cs, bits=z["bits"], cuckoo=z["cuckoo"],
                   overflowed=bool(ov), n_added=n_added)


def shard_path(bloom_dir: str, bucket: int) -> str:
    return os.path.join(bloom_dir, f"bucket={bucket}.npz")


def make_seen_check_fn(bucket_paths: dict[int, str]):
    """applyInPandas fn over candidates grouped by ``bucket``: classify each
    candidate as 0 = bloom-negative (definitely new), 1 = cuckoo-negative
    (new), 2 = needs the exact anti-join. ``bucket_paths`` is the committed
    manifest's bucket → shard-file map (SnapshotStore.bloom_paths) — one dict
    lookup per bucket, no filesystem probing. A bucket with no shard yet has
    an empty filter → everything is definitely new."""

    def check(pdf: pd.DataFrame) -> pd.DataFrame:
        flags = np.full(len(pdf), 2, np.int32)
        if len(pdf):
            bucket = int(pdf["bucket"].iloc[0])
            p = bucket_paths.get(bucket)
            if p is not None:
                shard = SeenShard.load(p)
                h = pdf["url_hash"].to_numpy(np.int64)
                pos = shard.bloom_contains(h)
                flags[~pos] = 0
                if pos.any():
                    ver = shard.cuckoo_contains(h[pos])
                    idx = np.nonzero(pos)[0]
                    flags[idx[~ver]] = 1
            else:  # no shard written for this bucket yet → everything new
                flags[:] = 0
        pdf = pdf.copy()
        pdf["seen_flag"] = flags
        return pdf

    return check


# applyInPandas output schema shared by the update and rebuild fns (and the
# engine call sites): per-bucket stats the driver folds into the manifest's
# bloom_map (shard version) and bloom_load (capacity-policy occupancy) maps
SHARD_STATS_SCHEMA = (
    "bucket int, added long, overflowed boolean, n_total long, m_bits long"
)


def make_seen_update_fn(bucket_paths: dict[int, str], new_bloom_dir: str, cfg):
    """applyInPandas fn over NEW urls grouped by ``bucket``: load the
    bucket's committed sidecar (manifest map lookup), add the new hashes,
    write this round's shard for JUST this bucket. Runs inside executor
    tasks — each task touches one shard file; untouched buckets get no new
    file this round, and the superseded file is GC'd after the commit."""

    def update(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        prev = bucket_paths.get(bucket)
        if prev is not None:
            shard = SeenShard.load(prev)
        else:
            shard = SeenShard(
                cfg.bloom_bits_per_partition,
                cfg.bloom_num_hashes,
                cfg.cuckoo_buckets_per_partition,
                cfg.cuckoo_slots,
            )
        shard.add(pdf["url_hash"].to_numpy(np.int64))
        os.makedirs(new_bloom_dir, exist_ok=True)
        shard.save(shard_path(new_bloom_dir, bucket))
        return pd.DataFrame(
            {"bucket": [bucket], "added": [len(pdf)],
             "overflowed": [shard.overflowed],
             "n_total": [shard.n_added], "m_bits": [shard.m]}
        )

    return update


def grown_geometry(n: int, cfg) -> tuple[int, int]:
    """Target shard geometry for n keys under the capacity policy: bloom bits
    doubled from the configured base until the post-rebuild load n/m is at
    most half of ``bloom_max_load`` (headroom for the next compaction
    window), cuckoo buckets doubled until occupancy n/(cb*cs) is at most
    ``cuckoo_target_load``. Growth is geometric, so a shard is rebuilt
    O(log n) times over the whole crawl regardless of length."""
    m = cfg.bloom_bits_per_partition
    while n > (cfg.bloom_max_load / 2) * m:
        m *= 2
    cb = cfg.cuckoo_buckets_per_partition
    while n > cfg.cuckoo_target_load * cb * cfg.cuckoo_slots:
        cb *= 2
    return m, cb


def make_shard_rebuild_fn(new_bloom_dir: str, geom: dict[int, tuple[int, int]], cfg):
    """applyInPandas fn over the FULL url_seen slice of saturated buckets
    (bucket-pruned scan — compaction reads these rows anyway), grouped by
    ``bucket``: build a fresh shard with the grown geometry
    ``geom[bucket] = (bloom_bits, cuckoo_buckets)`` and write it into this
    round's sidecar dir. A bloom filter cannot be resized in place (bit
    positions are hash(m)-dependent), so growth = exact rebuild from the
    authoritative url_seen table at the compaction commit — the same atomic
    point that rewrites the frontier base. Runs inside executor tasks; the
    superseded small shard is GC'd post-commit like any replaced shard."""

    def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        m, cb = geom[bucket]
        shard = SeenShard(m, cfg.bloom_num_hashes, cb, cfg.cuckoo_slots)
        shard.add(pdf["url_hash"].to_numpy(np.int64))
        os.makedirs(new_bloom_dir, exist_ok=True)
        shard.save(shard_path(new_bloom_dir, bucket))
        return pd.DataFrame(
            {"bucket": [bucket], "added": [len(pdf)],
             "overflowed": [shard.overflowed],
             "n_total": [shard.n_added], "m_bits": [shard.m]}
        )

    return rebuild
