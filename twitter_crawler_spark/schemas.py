"""Explicit StructType schemas for every engine table (SURVEY.md §1.3).

The reference is schema-less (ad-hoc Neo4j property bags, Redis strings —
storages/GraphStorage.scala:88-115, storages/RedisFutureStorage.scala:61);
this engine is schema-first. ``pages`` is authoritative from
BASELINE.json.input_hint.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input table (BASELINE.json input_hint) + engine-added bucket column for
# storage-partitioned fetch joins (Iceberg bucket(url) analog)
PAGES = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

# replaces the Redis zset + per-value hash fields (RedisFutureStorage.scala:14-29)
FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("score", LongType(), False),  # OPIC micro-cash (integer)
        StructField("attempt", IntegerType(), False),
        StructField("next_fetch_ts", LongType(), False),  # logical seconds
        StructField("last_cursor", LongType(), False),  # max warc_ts seen (logical)
        StructField("src_round", IntegerType(), False),
    ]
)

# replaces jedis.hexists / Lucene isNew (RedisFutureStorage.scala:29;
# GraphStorage.scala:136-141); bloom/cuckoo sidecars shard by url_hash % P
URL_SEEN = StructType(
    [
        StructField("url_hash", LongType(), False),
        StructField("url", StringType(), False),
        StructField("first_round", IntegerType(), False),
    ]
)

# replaces POSTED/RT/MENTION/TAGGED relationships (GraphStorage.scala:143-218)
# src_bucket = murmur3_64(src_url) % seen_partitions is the layout partition
# column: per-source analytics scans (J1/J5) partition-prune on it
EDGES = StructType(
    [
        StructField("src_url", StringType(), False),
        StructField("dst_url", StringType(), False),
        StructField("anchor", StringType()),
        StructField("round", IntegerType(), False),
        StructField("ts", LongType(), False),  # logical fetch time
        StructField("src_bucket", IntegerType(), False),
    ]
)

# replaces the Lucene tweet index (TweetStorage.scala:39-51)
DOCS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("round", IntegerType(), False),
        StructField("text", StringType()),
        StructField("text_sha256", StringType()),
    ]
)

# per-host politeness state (threads/RedisRetweetsThread.scala:20-25 analog)
HOSTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("budget_per_round", IntegerType(), False),
        StructField("crawl_delay_rounds", IntegerType(), False),
        StructField("last_fetch_round", IntegerType()),
    ]
)

# the golden crawl-order trace (implicit zset pop order,
# RedisFutureStorage.scala:50,94) and the one pop record: the frontier's
# (url, attempt) deletes, the hosts' last_fetch_round and the eviction log
# ("Delete rare url", RedisFutureStorage.scala:123-143) are read from it
CRAWL_LOG = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("seq", IntegerType(), False),
        StructField("url", StringType(), False),
        StructField("host", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("score", LongType(), False),
        StructField("attempt", IntegerType(), False),
        StructField("evicted", BooleanType(), False),
    ]
)

# per-round, per-partition lineage + fetch metrics (north rule)
ROUND_METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("fetched", LongType(), False),
        StructField("hits", LongType(), False),
        StructField("results", LongType(), False),
        StructField("new_urls", LongType(), False),
        StructField("dupes", LongType(), False),
        StructField("robots_blocked", LongType(), False),
        StructField("evicted", LongType(), False),
        StructField("bloom_negative", LongType(), False),
        StructField("cuckoo_rejected", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("lineage", StringType()),
    ]
)

REDIRECTS = StructType(
    [
        StructField("short_url", StringType(), False),
        StructField("long_url", StringType(), False),
    ]
)

ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("prefix", StringType(), False),
        StructField("allow", BooleanType(), False),
    ]
)

POLITENESS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("budget_per_round", IntegerType(), False),
        StructField("crawl_delay_rounds", IntegerType(), False),
    ]
)
