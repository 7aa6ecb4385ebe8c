"""Trap guard inside the crawl engine (EngineConfig.trap_max_urls):
cumulative per-(host, template) fetch counts gate each wave's unseen set,
trapped templates trickle at trap_keep new URLs per wave, overflow DEFERS
(stays in the frontier) rather than dropping."""

import shutil
import tempfile

from pyspark.sql import functions as F

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.plans.frontier import CrawlEngine
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S


def _engine(spark, state, trap_max_urls, trap_keep=2):
    world = FB.FabricConfig(n_images=8, n_hosts=4).with_certs()
    images = S.images_df(spark, world, partitions=2)
    return CrawlEngine(
        spark, images, dns=None, robots=None,
        scan_cfg=ScanConfig(),  # no enrichment: scheduling is under test
        engine_cfg=EngineConfig(
            partitions=4, per_host_budget=10,
            include_payload=False, trap_max_urls=trap_max_urls,
            trap_keep=trap_keep,
        ),
        fabric_cfg=world, state_dir=state,
    )


def _seeds(spark):
    # 40 distinct URLs on h1.test sharing ONE template /d{N}/img{H}
    # (8-digit image ids collapse to {H}) + 5 healthy URLs on h2.test
    rows = [(f"https://h1.test/d{i}/img00000001",) for i in range(40)]
    rows += [(f"https://h2.test/li/img0000000{i}",) for i in range(5)]
    return spark.createDataFrame(rows, "raw string")


def test_trap_guard_throttles_template(spark):
    state = tempfile.mkdtemp(prefix="httpz_trap_")
    try:
        eng = _engine(spark, state, trap_max_urls=15, trap_keep=2)
        eng.init_frontier(_seeds(spark))
        fetched = []
        for w in range(4):
            stats = eng.run_wave(w)
            fetched.append(stats["n_fetched"])
        # wave0: h1 budget 10 + h2's 5 (cum h1=10, under cap)
        # wave1: 10 more      (cum 20 — crosses cap AFTER the wave)
        # wave2+: template trapped -> trickle trap_keep=2
        assert fetched == [15, 10, 2, 2], fetched
        # overflow DEFERRED, not dropped: remaining h1 urls still queued
        frontier = eng.store.read("frontier")
        assert frontier.count() == 40 - (10 + 10 + 2 + 2)
        # state table sums to exactly the fetched counts per template
        tpl = (
            eng.store.read("template_counts")
            .groupBy("host", "template").agg(F.sum("n_urls").alias("n"))
            .collect()
        )
        got = {(r["host"], r["template"]): r["n"] for r in tpl}
        assert got == {
            ("h1.test", "/d{N}/img{H}"): 24,
            ("h2.test", "/li/img{H}"): 5,
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_trap_guard_off_by_default(spark):
    state = tempfile.mkdtemp(prefix="httpz_notrap_")
    try:
        eng = _engine(spark, state, trap_max_urls=None)
        eng.init_frontier(_seeds(spark))
        fetched = [eng.run_wave(w)["n_fetched"] for w in range(4)]
        # pure politeness pacing, no capping, no state table
        assert fetched == [15, 10, 10, 10], fetched
        assert eng.store.read("template_counts") is None
    finally:
        shutil.rmtree(state, ignore_errors=True)
