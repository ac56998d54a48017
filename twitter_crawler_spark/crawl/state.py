"""Iceberg-style snapshot store on parquet, with merge-on-read state.

The sandbox has no Iceberg runtime jar (no network), so this module provides
the same *semantics* on plain parquet + an atomically-replaced JSON manifest:

* every crawl round writes its outputs under ``<table>/r=<k>/`` directories;
* a round becomes visible ONLY when the manifest is atomically replaced
  (``os.replace``) with ``committed_round = k`` — the analog of an Iceberg
  snapshot commit (and of the reference's single-writer actor serialization,
  storages/GraphStorage.scala:236-253, where the commit is the serialization
  point);
* readers always filter partition ``r <= committed_round`` so half-written
  rounds are invisible — resume after a crash re-runs the uncommitted round
  from the last committed state with zero re-fetch of committed rounds;
* ``crawl_log`` is the one pop record: each round appends its popped
  ``(url, attempt)`` rows with their host and an ``evicted`` flag. The
  frontier's deletes, the hosts' fetch rounds and the eviction log are all
  read from it, never written separately;
* the **frontier is merge-on-read** (the Iceberg MERGE / delete-file
  analog): a banded base (``frontier/r=<g>/band=<B>`` where band =
  next_fetch_ts div band_ticks) plus per-round sidecar logs —
  ``frontier_ins`` (inserted rows, banded) and ``frontier_gains`` (pending
  OPIC cash) — with crawl_log's since-base ``(url, attempt)`` keys as the
  equality deletes. A round writes only its O(batch) delta; the live view
  is base ∪ ins ∖ popped with gains folded at read time. Periodic
  compaction (``CrawlConfig.compact_every``) writes the live view out as
  the new base and truncates the logs, exactly Iceberg's rewrite_data_files
  maintenance action;
* append-only logs that the round loop reads (``url_seen``, ``docs``,
  ``edges``) compact into **leveled generations** (``<table>/gen=<g>`` dirs
  listed in the manifest's ``log_gens``): a minor compaction folds only the
  rounds since the newest generation into a new one (O(batch·K) bytes — the
  ever-growing history is NOT rewritten), and once ``max_log_gens``
  generations accumulate a major compaction merges them into one (LSM
  size-tiering). Listings stay O(rounds-since-compaction + #generations) and
  the O(total-history) rewrite is amortized over
  ``max_log_gens × compact_every`` rounds;
* the manifest carries ``format_version``; a store written under any other
  (or no) version is refused with an error instead of being half-loaded;
* the bloom/cuckoo sidecar for each bucket is resolved through the
  manifest's ``bloom_map`` (bucket → newest committed round that wrote that
  bucket's shard) — O(1) per bucket, no newest-first filesystem probing;
* ``hosts`` is merge-on-read too (O(#hosts) ~ 10^8 rows at the design
  point): a base snapshot plus the per-round ``hosts_new`` (insert-once
  rows) sidecar log, with ``last_fetch_round`` taken from the since-base
  crawl_log (last-writer-wins on the monotone round); the same periodic
  compaction writes the live view out as a fresh base, and both bases
  share the manifest's ``frontier_base_round``. The READ side of hosts
  stays a full scan per round (the pop path joins budgets/delays to the due slice, and new-host
  discovery anti-joins against host keys) — deliberately: the scan is
  O(#hosts), 10^2-10^3 x smaller than the frontier, carries no per-round
  write amplification, and cannot be key-pruned because the due slice's
  host set is dense in any hash-bucket layout. The costs that scale with
  crawl LENGTH (writes, listings, shard probes) are the ones made O(batch)
  or O(1) above.

On a real cluster this class is swapped for ``spark.table("cat.db.t")`` +
Iceberg ``MERGE INTO`` / snapshot IDs; the engine only touches this
interface. All paths must be on a shared filesystem for a multi-node master
(enforced by ``engine.require_shared_state``).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATE_TABLES = ("frontier", "hosts")
LOG_TABLES = (
    "url_seen", "edges", "docs", "crawl_log", "round_metrics",
    "frontier_ins", "frontier_gains", "hosts_new",
)
# loop-read logs that compaction merges into a generation dir
COMPACTED_LOGS = ("url_seen", "docs", "edges")
# on-disk layout + manifest keys; any incompatible change bumps it
FORMAT_VERSION = 1


def _has_data_files(path: str) -> bool:
    """True if any non-metadata file (not ``_SUCCESS``/``.crc``) exists under
    ``path`` — i.e. the parquet dir actually carries rows + schema."""
    for _root, _dirs, files in os.walk(path):
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- manifest ---------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def manifest(self) -> dict | None:
        """The committed manifest, or None for a fresh store. A manifest of
        another (or no) ``format_version`` raises and the store is left
        untouched: old state fails loudly instead of half-loading."""
        try:
            with open(self._manifest_path) as f:
                m = json.load(f)
        except FileNotFoundError:
            return None
        found = m.get("format_version")
        if found != FORMAT_VERSION:
            raise RuntimeError(
                f"state dir {self.root!r} has format_version {found!r}, but "
                f"this engine reads format_version {FORMAT_VERSION}; it will "
                "not load or modify it — resume with the engine that wrote "
                "it, or start a fresh crawl in a new state dir"
            )
        return m

    def committed_round(self) -> int | None:
        m = self.manifest()
        return None if m is None else m["committed_round"]

    def state(self, key: str, default=None):
        """Structured snapshot state carried by the manifest (base rounds,
        counts, the bloom bucket map) — updated atomically with the commit."""
        m = self.manifest() or {}
        return m.get("state", {}).get(key, default)

    def commit(self, round_: int, info: dict | None = None,
               state: dict | None = None) -> None:
        """Atomic snapshot commit — the round's outputs become visible, and
        the structured state (``state`` keys replace previous values) with
        them. Nothing written this round is readable before this replace."""
        m = self.manifest() or {"history": [], "state": {}}
        m["format_version"] = FORMAT_VERSION
        m["committed_round"] = round_
        m["history"] = m.get("history", []) + [
            {"round": round_, **(info or {})}
        ]
        st = m.get("state", {})
        st.update(state or {})
        m["state"] = st
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path)

    # --- paths ------------------------------------------------------------

    def round_dir(self, table: str, round_: int) -> str:
        return os.path.join(self.root, table, f"r={round_}")

    def gen_dir(self, table: str, round_: int) -> str:
        return os.path.join(self.root, table, f"gen={round_}")

    @property
    def bloom_root(self) -> str:
        return os.path.join(self.root, "bloom")

    def bloom_dir(self, round_: int) -> str:
        return os.path.join(self.bloom_root, f"r={round_}")

    # --- bloom sidecar resolution (manifest map, O(1) per bucket) ---------

    def bloom_map(self) -> dict[int, int]:
        """bucket → newest committed round holding that bucket's shard."""
        return {int(k): int(v) for k, v in self.state("bloom_map", {}).items()}

    def bloom_paths(self) -> dict[int, str]:
        """bucket → shard file path, resolved from the committed manifest.
        One dict lookup per bucket inside executor tasks — no O(#rounds)
        newest-first existence probing, no driver listdir of the history."""
        from twitter_crawler_spark.crawl.seen import shard_path

        return {
            b: shard_path(self.bloom_dir(rd), b)
            for b, rd in self.bloom_map().items()
        }

    def gc_bloom(self, superseded: dict[int, int]) -> int:
        """Delete shard files that a newly COMMITTED round replaced (the old
        shard is a strict subset — bloom/cuckoo adds are monotone). Keeps the
        sidecar tree at O(#buckets) files for the whole crawl. Idempotent and
        crash-safe: only dead files are touched, after the commit."""
        from twitter_crawler_spark.crawl.seen import shard_path

        removed = 0
        for bucket, old_round in superseded.items():
            p = shard_path(self.bloom_dir(old_round), bucket)
            if os.path.exists(p):
                os.remove(p)
                removed += 1
        # drop bloom round dirs emptied by shard GC
        if os.path.isdir(self.bloom_root):
            for d in os.listdir(self.bloom_root):
                full = os.path.join(self.bloom_root, d)
                if d.startswith("r=") and os.path.isdir(full) and not os.listdir(full):
                    os.rmdir(full)
        return removed

    # --- write ------------------------------------------------------------

    def write_round(
        self,
        df: DataFrame,
        table: str,
        round_: int,
        partition_by: tuple[str, ...] | None = None,
    ) -> str:
        path = self.round_dir(table, round_)
        if partition_by:
            # hash-distribute on the partition columns before the write
            # (Iceberg write.distribution-mode=hash analog): without it every
            # write task can emit a file into every partition dir — at the
            # design point (10^3 executors × 512 buckets) that is ~10^5-10^6
            # files per round dir, a metadata-layer killer. One tiny extra
            # shuffle (AQE coalesces it) caps files at ~1 per partition value.
            df = df.repartition(*partition_by)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    def write_gen(
        self,
        df: DataFrame,
        table: str,
        round_: int,
        partition_by: tuple[str, ...] | None = None,
    ) -> str:
        """Write a compaction generation dir. A minor compaction's generation
        holds only the round tail it folded; a major one holds the full
        merge — which is which is recorded by the manifest's ``log_gens``."""
        path = self.gen_dir(table, round_)
        if partition_by:
            # same hash distribution as write_round — a MAJOR merge rewrites
            # the whole log, exactly where stray per-task files multiply most
            df = df.repartition(*partition_by)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    # --- read -------------------------------------------------------------

    def _round_dirs(self, table: str) -> list[tuple[int, str]]:
        troot = os.path.join(self.root, table)
        if not os.path.isdir(troot):
            return []
        out = []
        for d in os.listdir(troot):
            if d.startswith("r="):
                out.append((int(d.split("=", 1)[1]), os.path.join(troot, d)))
        return sorted(out)

    def read_rounds(
        self,
        spark: SparkSession,
        table: str,
        upto_round: int,
        min_round: int | None = None,
        drop_r: bool = True,
    ) -> DataFrame | None:
        """Union of per-round appends with ``min_round <= r <= upto_round``
        (partition column ``r`` from the layout). The caller bounds
        ``min_round`` (e.g. to the frontier base round) so the scan lists and
        reads O(rounds-since-compaction) dirs, never the full history."""
        root = os.path.join(self.root, table)
        dirs = [
            p for k, p in self._round_dirs(table)
            if k <= upto_round and (min_round is None or k >= min_round)
        ]
        # A zero-row PARTITIONED write leaves a round dir holding only
        # _SUCCESS (no part file, hence no schema): on a long crawl a table
        # can go quiet for a whole compaction window (e.g. docs once
        # first-fetches dry up), making every listed dir schema-less and
        # crashing inference. Data-bearing dirs carry the schema for the
        # union, so empty ones are skippable outright.
        dirs = [p for p in dirs if _has_data_files(p)]
        if not dirs:
            return None
        df = spark.read.option("basePath", root).parquet(*dirs)
        df = df.filter(F.col("r") <= upto_round)
        if min_round is not None:
            df = df.filter(F.col("r") >= min_round)
        return df.drop("r") if drop_r else df

    def log_gens(self, table: str) -> list[int]:
        """Committed generation rounds for an append-only log (ascending).
        Disjoint by construction: gen g covers rounds (prev_gen, g]."""
        return [int(g) for g in self.state("log_gens", {}).get(table, [])]

    def read_log(
        self, spark: SparkSession, table: str, upto_round: int
    ) -> DataFrame | None:
        """Current view of an append-only log: the leveled generation dirs
        (disjoint round ranges, manifest ``log_gens``) plus the rounds after
        the newest one. Listing and file count stay
        O(#generations + rounds-since-compaction), bounded by
        ``max_log_gens`` and ``compact_every``."""
        gens = self.log_gens(table)
        parts = []
        for g in gens:
            gdir = self.gen_dir(table, g)
            parts.append(spark.read.option("basePath", gdir).parquet(gdir))
        tail = self.read_rounds(
            spark, table, upto_round,
            min_round=(gens[-1] + 1) if gens else None,
        )
        if tail is not None:
            parts.append(tail)
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read_state(self, spark: SparkSession, table: str, round_: int) -> DataFrame:
        return spark.read.parquet(self.round_dir(table, round_))

    # --- GC (post-commit, idempotent) -------------------------------------

    def gc_rounds_below(self, table: str, min_round: int) -> list[str]:
        """Delete ``r=<k>`` dirs with k < min_round — rounds folded into a
        committed generation / base. Post-commit only; readers already
        exclude these dirs via the manifest pointers, so a crash mid-GC just
        leaves dead bytes for the next GC pass."""
        removed = []
        for k, p in self._round_dirs(table):
            if k < min_round:
                shutil.rmtree(p)
                removed.append(p)
        return removed

    def gc_gens_below(self, table: str, min_round: int) -> list[str]:
        """Delete superseded generation dirs (gen < the manifest's)."""
        troot = os.path.join(self.root, table)
        removed = []
        if not os.path.isdir(troot):
            return removed
        for d in os.listdir(troot):
            if d.startswith("gen=") and int(d.split("=", 1)[1]) < min_round:
                p = os.path.join(troot, d)
                shutil.rmtree(p)
                removed.append(p)
        return removed

    # --- recovery ---------------------------------------------------------

    def clean_uncommitted(self) -> list[str]:
        """Drop round/generation directories newer than the committed round
        (crash debris).

        This is what makes resume idempotent: an interrupted round leaves
        orphan ``r=k`` (or compaction ``gen=k``) dirs that the manifest never
        referenced.
        """
        committed = self.committed_round()
        removed = []
        for table in STATE_TABLES + LOG_TABLES + ("bloom",):
            troot = os.path.join(self.root, table)
            if not os.path.isdir(troot):
                continue
            for d in os.listdir(troot):
                if not (d.startswith("r=") or d.startswith("gen=")):
                    continue
                k = int(d.split("=", 1)[1])
                if committed is None or k > committed:
                    shutil.rmtree(os.path.join(troot, d))
                    removed.append(f"{table}/{d}")
        return removed
