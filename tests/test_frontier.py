"""Frontier engine: waves, dedup, politeness, checkpoint/resume."""

import glob
import json
import os
import shutil
import tempfile
import warnings

import pytest
from pyspark.sql import functions as F

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.operators.frontier_dedup import dedup_unseen
from httpz_spark.plans.frontier import CrawlEngine, urls_to_frontier
from httpz_spark.plans.scan import META, PAYLOAD
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S


@pytest.fixture(scope="module")
def world():
    return FB.FabricConfig(n_images=64, n_hosts=12).with_certs()


def make_engine(spark, world, state_dir, robots=None, **eover):
    images = S.images_df(spark, world, partitions=4)
    dns = S.dns_df(spark, world)
    if robots is None:
        robots = S.robots_df(spark, world)
    scan_cfg = ScanConfig.all_on(discover_links=True)
    ecfg = EngineConfig(partitions=8, per_host_budget=4, max_depth=2,
                        state_dir=state_dir, **eover)
    return CrawlEngine(spark, images, dns, robots, scan_cfg, ecfg, world,
                       state_dir=state_dir)


def seed_df(spark, world):
    return S.seeds_df(spark, S.seed_url_lines(world))


def table_fingerprint(df, cols):
    rows = [tuple(r) for r in df.select(*cols).collect()]
    return sorted(rows)


def lineage_counters(eng):
    return sorted(
        (r["wave_id"], r["n_ready"], r["n_scheduled"], r["n_deferred"],
         r["n_fetched"], sorted((r["errors_by_type"] or {}).items()))
        for r in eng.store.read("lineage").collect())


def test_bloom_dedup_equals_exact_antijoin(spark):
    from httpz_spark.operators.frontier_dedup import BloomIndex

    cand = spark.range(0, 5000).select(
        (F.col("id") * 2654435761 % 999999937).alias("url_hash"),
        F.col("id").alias("payload"),
    )
    seen = spark.range(2000, 9000).select(
        (F.col("id") * 2654435761 % 999999937).alias("url_hash")
    )
    want = table_fingerprint(cand.join(seen, "url_hash", "left_anti"), ["url_hash", "payload"])
    assert len(want) > 0

    # plain JVM path
    got = table_fingerprint(dedup_unseen(cand, seen, partitions=8), ["url_hash", "payload"])
    assert got == want

    # persisted-bloom path: exact same result (FPs re-checked, no FNs)
    root = tempfile.mkdtemp(prefix="httpz_bloom_")
    try:
        idx = BloomIndex.open_or_create(root, partitions=8, capacity_per_part=10_000)
        idx.update(seen)
        got_b = table_fingerprint(
            dedup_unseen(cand, seen, partitions=8, bloom=idx), ["url_hash", "payload"]
        )
        assert got_b == want
        # idempotent re-update (the resume path) changes nothing
        idx.update(seen)
        got_b2 = table_fingerprint(
            dedup_unseen(cand, seen, partitions=8, bloom=idx), ["url_hash", "payload"]
        )
        assert got_b2 == want
        # missing bloom file degrades to exact check, never to wrong results
        import os

        os.remove(os.path.join(root, "pid=0.npy"))
        got_deg = table_fingerprint(
            dedup_unseen(cand, seen, partitions=8, bloom=idx), ["url_hash", "payload"]
        )
        assert got_deg == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_urls_to_frontier_canonical(spark):
    df = spark.createDataFrame(
        [("HTTPS://H1.Test/a?b=2&a=1#f",), ("h2.test/x",), ("https://h1.test/a?a=1&b=2",)],
        "raw string",
    )
    fr = urls_to_frontier(df, "raw", depth=0, wave_id=0)
    rows = {r["url_canon"]: r for r in fr.collect()}
    assert "https://h1.test/a?a=1&b=2" in rows
    assert rows["https://h1.test/a?a=1&b=2"]["host"] == "h1.test"
    assert rows["https://h1.test/a?a=1&b=2"]["path"] == "/a"
    assert rows["https://h2.test/x"]["scheme"] == "https"


def test_crawl_waves_and_politeness(spark, world):
    state = tempfile.mkdtemp(prefix="httpz_crawl_")
    try:
        eng = make_engine(spark, world, state)
        eng.init_frontier(seed_df(spark, world))
        results = eng.crawl(max_waves=4)
        n = results.count()
        assert n > 0

        # seen-set: unique url_hash, every fetched URL present
        seen = eng.store.read("seen")
        assert seen.count() == seen.select("url_hash").distinct().count()
        assert results.select("url_hash").distinct().count() == n

        # politeness: per (wave, host) fetched count <= per-host budget
        budgets = {r["host"]: r["per_wave_budget"] for r in S.robots_df(spark, world).collect()}
        per = results.groupBy("wave_id", "host").agg(F.count("*").alias("n")).collect()
        for r in per:
            assert r["n"] <= budgets.get(r["host"], 4), (r["host"], r["n"])

        # robots disallow: no /r/ paths fetched for disallowing hosts
        disallowing = {h for h, b in budgets.items()
                       if FB.h64(f"{world.seed}:robots:{h}") % 5 == 0}
        bad = results.filter(
            F.col("host").isin(list(disallowing)) & F.col("path").startswith("/r/")
        ).count()
        assert bad == 0

        # lineage: one row per wave, counters consistent
        lineage = eng.store.read("lineage").orderBy("wave_id").collect()
        assert [r["wave_id"] for r in lineage] == list(range(len(lineage)))
        assert sum(r["n_fetched"] for r in lineage) == n

        # multi-wave: discovered links were crawled (depth > 0 rows exist)
        assert results.filter(F.col("depth") > 0).count() > 0
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_crawl_bloom_path_equals_plain(spark, world):
    """Forcing the bloom dedup path (bloom_min_seen=0), or crossing
    bloom_min_seen mid-crawl (wave 0 fetches 47 URLs, so the index is
    built and backfilled at wave 1, then updated and probed), produces the
    exact same crawl and lineage as the default plain anti-join path —
    which never builds the index at all."""
    import os

    base = tempfile.mkdtemp(prefix="httpz_bloomcrawl_")
    try:
        fps, lins, has_index = [], [], []
        for sub, over in (("plain", {}), ("bloom", {"bloom_min_seen": 0}),
                          ("cross", {"bloom_min_seen": 30})):
            eng = make_engine(spark, world, f"{base}/{sub}", **over)
            eng.init_frontier(seed_df(spark, world))
            eng.crawl(max_waves=3)
            fps.append(table_fingerprint(
                eng.store.read("results"), ["url_hash", "status", "wave_id"]))
            lins.append(lineage_counters(eng))
            has_index.append(os.path.exists(f"{base}/{sub}/bloom/meta.json"))
        assert fps[0] == fps[1] == fps[2] and len(fps[0]) > 0
        assert lins[0] == lins[1] == lins[2]
        assert lins[0][0][4] >= 30  # seen crosses bloom_min_seen after wave 0
        assert has_index == [False, True, True]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_lineage_counters_match_tables(spark, world, tmp_path):
    """The counters that ride the staging writes are exact: per wave,
    lineage n_ready is the frontier's row count before the wave, and
    n_fetched / errors_by_type are a groupBy over that wave's results.
    Only the committed tables remain: no staging table outlives its wave."""
    import os

    state = str(tmp_path / "counters")
    eng = make_engine(spark, world, state)
    eng.init_frontier(seed_df(spark, world))
    for w in range(3):
        n_frontier = eng.store.read("frontier").count()
        stats = eng.run_wave(w)
        row = eng.store.read("lineage").filter(F.col("wave_id") == w).collect()[0]
        assert row["n_ready"] == stats["n_ready"] == n_frontier > 0
        by_type = {
            r["error_type"]: r["count"]
            for r in eng.store.read("results").filter(F.col("wave_id") == w)
            .groupBy("error_type").count().collect()
        }
        assert row["n_fetched"] == row["n_scheduled"] == sum(by_type.values())
        assert dict(row["errors_by_type"]) == {
            k: v for k, v in by_type.items() if k is not None}
        assert stats["errors"] == dict(row["errors_by_type"])
        assert not [d for d in os.listdir(state) if d.startswith("wave")]


def test_resume_after_kill_is_exact(spark, world):
    """north_rule: a killed job resumes exactly.  Three kill points:
    (a) between waves, (b) after staging but before merges, (c) fresh run."""
    base = tempfile.mkdtemp(prefix="httpz_resume_")
    try:
        # uninterrupted reference run
        full_dir = f"{base}/full"
        eng_full = make_engine(spark, world, full_dir)
        eng_full.init_frontier(seed_df(spark, world))
        eng_full.crawl(max_waves=4)
        want_results = table_fingerprint(
            eng_full.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        )
        want_seen = table_fingerprint(eng_full.store.read("seen"), ["url_hash", "first_wave"])

        # (a) kill between waves: run wave 0 only, then resume with crawl()
        a_dir = f"{base}/a"
        eng_a = make_engine(spark, world, a_dir)
        eng_a.init_frontier(seed_df(spark, world))
        eng_a.run_wave(0)
        # as an older build commits it: the frontier without a summary
        eng_a.store.write("frontier", eng_a.store.read("frontier"))
        del eng_a  # "kill"
        eng_a2 = make_engine(spark, world, a_dir)
        eng_a2.crawl(max_waves=4)
        assert table_fingerprint(
            eng_a2.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        ) == want_results
        assert table_fingerprint(eng_a2.store.read("seen"), ["url_hash", "first_wave"]) == want_seen
        assert lineage_counters(eng_a2) == lineage_counters(eng_full)

        # (b) kill mid-wave: staging written, merges not applied
        b_dir = f"{base}/b"
        eng_b = make_engine(spark, world, b_dir)
        eng_b.init_frontier(seed_df(spark, world))
        s0 = eng_b.run_wave(0)
        assert eng_b._stage(1, s0["n_fetched"])["n_fetched"] > 0
        del eng_b  # "kill" before merges/lineage
        eng_b2 = make_engine(spark, world, b_dir)
        eng_b2.crawl(max_waves=4)
        assert table_fingerprint(
            eng_b2.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        ) == want_results
        assert table_fingerprint(eng_b2.store.read("seen"), ["url_hash", "first_wave"]) == want_seen
        assert lineage_counters(eng_b2) == lineage_counters(eng_full)

        # re-calling crawl on a finished state is a no-op
        eng_a2.crawl(max_waves=4)
        assert table_fingerprint(
            eng_a2.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        ) == want_results
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_cooperative_stop_and_resume_exact(spark, world):
    """Mid-wave stop() drains cleanly: (a) a stop between waves halts the
    loop, (b) a stop during the fetch UDF aborts staging pre-commit; both
    resume to tables byte-identical to an uninterrupted run."""
    base = tempfile.mkdtemp(prefix="httpz_stop_")
    try:
        full_dir = f"{base}/full"
        eng_full = make_engine(spark, world, full_dir)
        eng_full.init_frontier(seed_df(spark, world))
        eng_full.crawl(max_waves=4)
        want = table_fingerprint(
            eng_full.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        )

        # (a) stop between waves
        a_dir = f"{base}/a"
        eng = make_engine(spark, world, a_dir)
        eng.init_frontier(seed_df(spark, world))
        eng.run_wave(0)
        eng.request_stop()
        eng.crawl(max_waves=4)  # no-op: drained
        assert eng.committed_waves() == {0}
        eng.clear_stop()
        eng.crawl(max_waves=4)
        got = table_fingerprint(
            eng.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        )
        assert got == want

        # (b) stop lands while wave 1 stages: the schedule (no python
        # stage) commits, the fetch UDF's sentinel aborts wave1_out before
        # its commit, and run_wave reports stopped
        b_dir = f"{base}/b"
        eng_b = make_engine(spark, world, b_dir)
        eng_b.init_frontier(seed_df(spark, world))
        s0 = eng_b.run_wave(0)
        eng_b.request_stop()
        failed = []  # (table, error) of each staging write that raised
        write = eng_b.store.write

        def spy(name, df, summary=()):
            try:
                return write(name, df, summary)
            except Exception as e:
                failed.append((name, str(e)))
                raise

        eng_b.store.write = spy
        assert eng_b._stage(1, s0["n_fetched"]) is None
        eng_b.store.write = write
        # the abort _stage swallowed is the in-UDF sentinel's, on the fetch
        assert [n for n, _e in failed] == ["wave1_out"], failed
        assert "cooperative stop" in failed[0][1], failed
        assert eng_b.store.exists("wave1_sched")
        stats = eng_b.run_wave(1)
        assert stats.get("stopped") is True
        assert not eng_b.store.exists("wave1_out")  # staging never committed
        eng_b.clear_stop()
        eng_b.crawl(max_waves=4)
        got_b = table_fingerprint(
            eng_b.store.read("results"), ["url_hash", "status", "title", "wave_id"]
        )
        assert got_b == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_partition_lineage_consistent_and_resume_exact(spark, world, tmp_path):
    """Per-partition fetch lineage (north rule: partition-granular
    metrics checkpoint): row counts reconcile with the wave-level
    lineage, and a kill + resume re-derives the identical table."""
    state = str(tmp_path / "pl_state")
    eng = make_engine(spark, world, state)
    eng.init_frontier(seed_df(spark, world))
    eng.crawl(max_waves=2)

    pl = eng.store.read("partition_lineage")
    lineage = {r["wave_id"]: r for r in eng.store.read("lineage").collect()}
    rows = pl.collect()
    assert rows
    by_wave = {}
    for r in rows:
        by_wave.setdefault(r["wave_id"], 0)
        by_wave[r["wave_id"]] += r["n_rows"]
        assert 0 <= r["n_errors"] <= r["n_rows"]
        assert r["latency_ms_max"] is not None
    for w, n in by_wave.items():
        assert n == lineage[w]["n_fetched"], (w, n)
    want = table_fingerprint(pl, ["wp_key", "n_rows", "n_errors",
                                  "latency_ms_sum", "latency_ms_max"])

    # fresh engine over the same state: committed waves are skipped and
    # the table is untouched; a re-crawl from scratch in a NEW state dir
    # derives the identical fingerprint (partitioning is deterministic)
    eng2 = make_engine(spark, world, state)
    eng2.crawl(max_waves=2)
    assert table_fingerprint(
        eng2.store.read("partition_lineage"),
        ["wp_key", "n_rows", "n_errors", "latency_ms_sum",
         "latency_ms_max"]) == want

    state_b = str(tmp_path / "pl_state_b")
    eng3 = make_engine(spark, world, state_b)
    eng3.init_frontier(seed_df(spark, world))
    eng3.crawl(max_waves=2)
    assert table_fingerprint(
        eng3.store.read("partition_lineage"),
        ["wp_key", "n_rows", "n_errors", "latency_ms_sum",
         "latency_ms_max"]) == want


def test_resume_from_older_build_staging_raises(spark, world, tmp_path):
    """A wave staged by an older build (``wave<k>_out`` next to its
    ``wave<k>_deferred``/``wave<k>_meta``, no ``wave<k>_sched``) carries
    none of the counters the lineage row needs: run_wave raises a clear
    error naming all three tables instead of degrading silently, and
    merges nothing.  With ``wave<k>_out`` dropped (an older build killed
    mid-fetch leaves exactly that), the wave re-stages, and its commit GCs
    the older build's staging too."""
    state = str(tmp_path / "old_staging")
    eng = make_engine(spark, world, state)
    eng.init_frontier(seed_df(spark, world))
    for name in ("wave0_deferred", "wave0_meta", "wave0_out"):
        eng.store.write(name, spark.range(1))

    with pytest.raises(RuntimeError, match="older build") as err:
        eng.run_wave(0)
    for name in ("wave0_deferred", "wave0_meta", "wave0_out"):
        assert name in str(err.value), err.value
    assert eng.store.read("results") is None
    assert eng.store.read("lineage") is None

    eng.store.drop("wave0_out")
    assert eng.run_wave(0)["n_fetched"] > 0
    for name in ("wave0_deferred", "wave0_meta", "wave0_sched", "wave0_out"):
        assert not eng.store.exists(name), name


def test_robots_txt_fetched_once_per_engine(spark, world, tmp_path):
    """Crawling 3 waves with a robots table that ``build_robots_table``
    fetches requests each host's robots.txt as often as one evaluation of
    that table does — once: the engine resolves the table at construction,
    and a wave's schedule never re-runs the fetch."""
    from httpz_spark.operators.robotsfetch import build_robots_table

    def factory(log):
        def make():
            from httpz_spark.sources.transport import Response

            class LoggingTransport:
                def fetch(self, url, protocol, **kw):
                    with open(log, "a") as f:
                        f.write(url + "\n")
                    return Response(url=url, status=200, headers={},
                                    body=b"User-agent: *\nDisallow: /r/\n",
                                    cert_der=None, history=[], charset="utf-8",
                                    latency_ms=1.0)

            return LoggingTransport()

        return make

    def requests(log):
        with open(log) as f:
            return sorted(f.read().split())

    hosts = spark.createDataFrame([(h,) for h in FB.all_hosts(world)], "host string")
    once = str(tmp_path / "count.log")
    build_robots_table(hosts, world, transport_factory=factory(once),
                       partitions=4).count()
    want = requests(once)
    assert len(want) == len(set(want)) == len(FB.all_hosts(world))

    crawl = str(tmp_path / "crawl.log")
    robots = build_robots_table(hosts, world, transport_factory=factory(crawl),
                                partitions=4).drop("fetch_status")
    eng = make_engine(spark, world, str(tmp_path / "state"), robots=robots)
    eng.init_frontier(seed_df(spark, world))
    for w in range(3):
        assert eng.run_wave(w)["n_fetched"] > 0
    assert requests(crawl) == want
    assert eng.store.read("results").filter(F.col("path").startswith("/r/")).count() == 0


def test_fabric_is_the_pages_only_source(world):
    """The fetch stage serves every page from the fabric alone: a batch
    whose ``w/h/fmt/caption`` columns disagree with the fabric (the shape
    an in-process re-fetch of stored results passes) fetches the same
    pages as one without them.  The emitted ``image_id`` is the page the
    fabric serves at the row's bare host and path on every row — root rows
    arrive NULL, as ``CrawlEngine._fetch`` leaves them."""
    import pandas as pd

    from httpz_spark.operators.fetch import make_fetch_stage

    rows = [  # (host, path, image_id as _fetch resolves it natively)
        ("h1.test", "/", None),
        ("h2.test:8080", "/", None),
        ("h3.test", "/li/img00000005", "img00000005"),
        ("h4.test", "/li/img00000017", "img00000017"),
        ("h5.test", "/d0/img00000029", "img00000029"),
        ("h6.test", "/about", None),
    ]
    n = len(rows)
    batch = pd.DataFrame({
        "url_hash": range(n),
        "image_id": [iid for _h, _p, iid in rows],
        "host": [h for h, _p, _i in rows],
        "path": [p for _h, p, _i in rows],
        "scan_target": [h + p for h, p, _i in rows],
        "port": [None] * n,
        "proto_first": ["https"] * n,
        "proto_second": ["http"] * n,
    })
    stage = make_fetch_stage(ScanConfig.all_on(discover_links=True), world,
                             ["url_hash", "image_id", "host", "path"])

    def fetch(pdf):
        return pd.concat(list(stage(iter([pdf]))), ignore_index=True)

    want = fetch(batch)
    got = fetch(batch.assign(w=1, h=1, fmt="gif", caption="not the real caption"))
    for c in ("title", "body_preview", "body_clean"):
        assert got[c].tolist() == want[c].tolist(), c
    assert not got["body_clean"].str.contains("not the real caption").any()
    ids = [FB.page_image_id(h.split(":")[0], p, world) for h, p, _i in rows]
    assert ids[0] and ids[1] and ids[-1] is None
    assert got["image_id"].tolist() == want["image_id"].tolist() == ids
    # every page row was served, titled from the fabric's own record
    for i, iid in enumerate(ids[:-1]):
        rec = FB.page_record(iid, world)
        assert got["status"][i] == 200, i
        assert got["title"][i] == f"Image {iid} [{rec['w']}x{rec['h']} {rec['fmt']}]"


# Spark jobs of one steady-state wave (wave 1) on this module's world,
# counted under a job group the test sets.  The build before the schema-
# recording manifests, the once-per-engine robots table and the literal
# lineage row ran 26 here, measured the same way: a mergeSchema footer job
# per StateStore read, the robots source run twice in the schedule write,
# and the lineage row through a PythonRDD.  The bucket-offset politeness
# rank, which evaluated the seen-gated frontier twice (a counts branch and
# a rank branch), ran 20; the build whose fetch write joined the payload
# (a shuffle of the whole images table) ran 17.  The wave-sized payload
# join adds two: the wave's distinct image ids and their broadcast; with
# them, the fetch write's pre-fetch META join (a broadcast of every image's
# light columns) ran 19.  The merge tail's jobs run concurrently, on
# threads of their own; they are counted here only because each tail
# thread inherits the caller's job group.
WAVE_JOBS = 18


def test_steady_state_wave_job_budget(spark, world, tmp_path, job_group):
    eng = make_engine(spark, world, str(tmp_path / "state"))
    eng.init_frontier(seed_df(spark, world))
    eng.run_wave(0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with job_group("frontier-wave-1") as jobs:
            assert eng.run_wave(1)["n_fetched"] > 0
            n_jobs = len(jobs())
    assert n_jobs == WAVE_JOBS, n_jobs
    # a tail thread wrapped without the session warns that tags are lost
    util = os.path.join("pyspark", "util.py")
    assert not [str(w.message) for w in caught
                if issubclass(w.category, UserWarning)
                and w.filename.endswith(util)]


PAYLOAD_COLS = [n for n, _t in META + PAYLOAD]


def results_fingerprint(df):
    """The results columns a resume must reproduce, the payload bytes by
    digest."""
    return table_fingerprint(df, [
        "url_hash", "image_id", "status", "title", "depth", "wave_id",
        "w", "h", "fmt", "caption", "phash", F.md5("bytes").alias("bytes")])


@pytest.fixture(scope="module")
def full_crawl(spark, world, tmp_path_factory):
    """An uninterrupted 4-wave crawl: the reference the resume tests
    below compare with."""
    eng = make_engine(spark, world, str(tmp_path_factory.mktemp("full")))
    eng.init_frontier(seed_df(spark, world))
    eng.crawl(max_waves=4)
    return eng


def test_failed_tail_write_commits_no_lineage(spark, world, tmp_path, full_crawl):
    """A merge-tail write that raises fails its wave after every other
    (concurrent) tail write finished, and before the lineage row: the
    wave stays uncommitted, and a fresh engine re-applies the whole
    idempotent tail — the crawl equals an uninterrupted one."""
    state = str(tmp_path / "state")
    eng = make_engine(spark, world, state)
    eng.init_frontier(seed_df(spark, world))
    eng.run_wave(0)
    merge = eng.store.merge_upsert

    def failing(name, df, key):
        if name == "seen":
            raise RuntimeError("seen merge failed")
        return merge(name, df, key)

    eng.store.merge_upsert = failing
    with pytest.raises(RuntimeError, match="seen merge failed"):
        eng.run_wave(1)
    assert eng.committed_waves() == {0}
    assert eng.store.exists("wave1_out")  # staging kept for the resume

    eng2 = make_engine(spark, world, state)
    eng2.crawl(max_waves=4)
    assert results_fingerprint(eng2.store.read("results")) == \
        results_fingerprint(full_crawl.store.read("results"))
    assert table_fingerprint(eng2.store.read("seen"), ["url_hash", "first_wave"]) == \
        table_fingerprint(full_crawl.store.read("seen"), ["url_hash", "first_wave"])
    assert lineage_counters(eng2) == lineage_counters(full_crawl)


def test_resume_from_output_staged_with_payload(spark, world, tmp_path, full_crawl):
    """A ``wave<k>_out`` staged by a build that joined the payload in the
    fetch write (the staged output left-joined with the images' META and
    PAYLOAD columns, ``wave_id`` last) resumes to the results of an
    uninterrupted run, each payload column present once."""
    eng = make_engine(spark, world, str(tmp_path / "state"))
    eng.init_frontier(seed_df(spark, world))
    s0 = eng.run_wave(0)
    assert eng._stage(1, s0["n_fetched"])["n_fetched"] > 0
    staged = eng.store.read("wave1_out")
    summary = eng.store.summary("wave1_out")
    old = (staged.drop("wave_id")
           .join(eng.images.select("image_id", *PAYLOAD_COLS), "image_id", "left")
           .withColumn("wave_id", F.lit(1)))
    eng.store.write("wave1_out", old, summary=(summary,))
    assert set(PAYLOAD_COLS) <= set(eng.store.read("wave1_out").columns)

    assert eng.run_wave(1)["n_fetched"] == summary["n_fetched"]
    got, want = eng.store.read("results"), full_crawl.store.read("results")
    assert got.columns == want.columns
    for c in PAYLOAD_COLS:
        assert got.columns.count(c) == 1, got.columns
    assert results_fingerprint(got) == results_fingerprint(
        want.filter(F.col("wave_id") <= 1))


def test_lineage_phase_secs(spark, world, tmp_path):
    """Each lineage row carries the driver seconds of the wave's four
    phases, which lie inside the wave's [t_start, t_end]."""
    eng = make_engine(spark, world, str(tmp_path / "state"))
    eng.init_frontier(seed_df(spark, world))
    eng.crawl(max_waves=2)
    rows = eng.store.read("lineage").collect()
    assert sorted(r["wave_id"] for r in rows) == [0, 1]
    for r in rows:
        secs = r["phase_secs"]
        assert sorted(secs) == ["commit", "fetch", "merge", "sched"], secs
        assert all(v >= 0 for v in secs.values()), secs
        assert sum(secs.values()) <= r["t_end"] - r["t_start"], r


def test_resume_across_schema_upgrade_is_exact(spark, world, tmp_path):
    """State written by a build whose manifests record no schema (every
    ``schema`` key deleted after 2 waves) resumes to the results and
    lineage counters of an uninterrupted crawl, and the tables it commits
    record a schema again."""
    full = make_engine(spark, world, str(tmp_path / "full"))
    full.init_frontier(seed_df(spark, world))
    full.crawl(max_waves=4)
    cols = ["url_hash", "status", "title", "wave_id"]

    state = str(tmp_path / "up")
    eng = make_engine(spark, world, state)
    eng.init_frontier(seed_df(spark, world))
    eng.crawl(max_waves=2)
    manifests = glob.glob(os.path.join(state, "*", "v=*.json"))
    assert manifests
    for path in manifests:
        with open(path) as f:
            m = json.load(f)
        del m["schema"]
        with open(path, "w") as f:
            json.dump(m, f)

    eng2 = make_engine(spark, world, state)
    eng2.crawl(max_waves=4)
    assert table_fingerprint(eng2.store.read("results"), cols) == \
        table_fingerprint(full.store.read("results"), cols)
    assert lineage_counters(eng2) == lineage_counters(full)
    for name in ("results", "seen", "frontier", "lineage"):
        m = eng2.store._read_manifest(name, eng2.store.latest_version(name))
        assert "schema" in m, name
