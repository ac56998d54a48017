"""Round stage methods driven from outside ``_round``.

* The salted two-stage politeness window (``_pop_survivors``) pops exactly a
  direct per-host top-``budget`` even when one hot host holds far more than
  ``host_salt × budget`` due rows — salting changes the task layout, never
  the popped set.
* ``scripts/scaling_stages.py`` measures scaling on the engine's own stage
  methods; its in-process pipeline runs here at tiny N so a drifted stage
  signature fails this suite instead of leaving the script broken.
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import replace

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import TEST_CFG
from twitter_crawler_spark import schemas
from twitter_crawler_spark.crawl.engine import CrawlEngine
from twitter_crawler_spark.session import local_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _skewed_frontier(spark, n: int, n_hot: int, n_cold_hosts: int):
    """``n_hot`` due rows on one host, the rest spread over cold hosts."""
    host = F.when(F.col("id") < n_hot, F.lit("hot.example.org")).otherwise(
        F.format_string("cold%d.example.org", F.col("id") % n_cold_hosts)
    )
    return (
        spark.range(n)
        .withColumn("host", host)
        .withColumn("url", F.format_string("http://%s/p/%d", host, F.col("id")))
        .withColumn("url_hash", (F.col("id") * 2654435761) % 1000003)
        .withColumn("depth", (F.col("id") % 3).cast("int"))
        .withColumn("score", (F.col("id") * 37 % 1009).cast("long"))
        .withColumn("attempt", F.lit(0))
        .withColumn("next_fetch_ts", F.lit(0).cast("long"))
        .drop("id")
    )


def test_salted_pop_equals_direct_per_host_top_budget(spark, fixture_dir, tmp_path):
    budget, n_hot = 16, 6000
    frontier = _skewed_frontier(spark, 9000, n_hot, n_cold_hosts=40).cache()
    order = [F.col("depth").asc(), F.col("score").desc(), F.col("url").asc()]
    direct = {
        r.url
        for r in frontier.withColumn(
            "rk", F.row_number().over(Window.partitionBy("host").orderBy(*order))
        ).where(F.col("rk") <= budget).select("url").collect()
    }
    hosts = local_df(spark, [], schemas.HOSTS)
    for salt in (1, 8):
        assert n_hot > 10 * salt * budget
        cfg = replace(TEST_CFG, host_salt=salt, default_budget=budget)
        eng = CrawlEngine(spark, fixture_dir, str(tmp_path / f"s{salt}"), cfg)
        popped = {
            r.url for r in eng._pop_survivors(frontier, hosts, 0, 0).select("url").collect()
        }
        assert popped == direct, f"host_salt={salt} changed the popped set"
    assert len(direct) == budget * 41
    frontier.unpersist()


def _scaling_stages():
    spec = importlib.util.spec_from_file_location(
        "scaling_stages", os.path.join(REPO, "scripts", "scaling_stages.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scaling_stages_counts_identical_across_shuffle_partitions(spark, tmp_path):
    drv = _scaling_stages()
    n = 3000
    fx, state = str(tmp_path / "fx"), str(tmp_path / "state")
    drv.write_fixture(spark, fx, n)
    eng = CrawlEngine(spark, fx, state, drv.crawl_config())
    eng.init_state()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    counts = {}
    try:
        for parts in (2, 8):
            spark.conf.set(key, str(parts))
            counts[parts] = drv.run_stages(eng, n)
    finally:
        spark.conf.set(key, before)
    assert counts[2] == counts[8], counts
    assert all(v > 0 for v in counts[2].values()), counts[2]
