"""Trap guard inside the crawl engine (EngineConfig.trap_max_urls):
cumulative per-(host, template) fetch counts gate each wave's unseen set,
trapped templates trickle at trap_keep new URLs per wave, overflow is HELD
(stays in the frontier) rather than dropped."""

import re
import shutil
import tempfile

from pyspark.sql import functions as F

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.plans.frontier import CrawlEngine
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S


def _engine(spark, state, trap_max_urls, trap_keep=2, robots=None):
    world = FB.FabricConfig(n_images=8, n_hosts=4).with_certs()
    images = S.images_df(spark, world, partitions=2)
    return CrawlEngine(
        spark, images, dns=None, robots=robots,
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


def test_trap_guard_schedules_in_one_seen_gated_pass(spark):
    """With the guard fired, the wave's schedule still gates the frontier
    against seen ONCE: the held flag rides the one ranked frame — one
    frontier scan, one anti-join, no union of split branches."""
    state = tempfile.mkdtemp(prefix="httpz_trap_plan_")
    try:
        eng = _engine(spark, state, trap_max_urls=15, trap_keep=2)
        eng.init_frontier(_seeds(spark))
        fetched = [eng.run_wave(w)["n_fetched"] for w in range(3)]
        assert fetched == [15, 10, 2], fetched  # the guard fired at wave 2
        ranked = eng._schedule(eng.store.read("frontier"), sum(fetched))
        assert sum(r["scheduled"] for r in ranked.collect()) == 2
        ex = ranked._jdf.queryExecution().executedPlan().toString()
        final = ex.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, ex
        assert final.count("LeftAnti") == 1, final
        assert len(re.findall(r"Scan \w+ .*frontier", final)) == 1, final
        assert "Union" not in final, final
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_trap_guard_holds_robots_disallowed_rows(spark):
    """Held rows skip the robots filter like any deferral: URLs of a trapped
    template that arrive after the guard fired and match a ``Disallow``
    stay in the frontier while they are held (a Disallowed row is dropped
    only when the politeness pass ranks it)."""
    state = tempfile.mkdtemp(prefix="httpz_trap_robots_")
    try:
        robots = spark.createDataFrame(
            [("h1.test", 100, 6, ["/d3"], []), ("h2.test", 100, 10, [], [])],
            S.ROBOTS_SCHEMA)
        eng = _engine(spark, state, trap_max_urls=8, robots=robots)
        eng.init_frontier(_seeds(spark))
        late = [f"https://h1.test/d{p}{i}/img00000001"
                for p in (3, 5) for i in range(10)]
        fetched = []
        for w in range(6):
            if w == 2:  # the template is trapped from this wave on
                eng.add_seeds(spark.createDataFrame(
                    [(u,) for u in late], "raw string"))
            fetched.append(eng.run_wave(w)["n_fetched"])
        # wave0: h1's robots budget 6 (its 11 /d3 urls dropped) + h2's 5;
        # wave1: 6 more (cum 12 > 8); wave2+: trickle trap_keep=2
        assert fetched == [11, 6, 2, 2, 2, 2], fetched
        frontier = eng.store.read("frontier")
        assert frontier.count() == 29
        queued = {r["url_canon"] for r in frontier.collect()}
        assert {u for u in late if "/d3" in u} <= queued
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
