"""Streaming seed ingestion -> frontier -> crawl (foreachBatch wrapper)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.plans.frontier import CrawlEngine
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S
from httpz_spark.streaming.micro import StreamingSeedIngest


@pytest.fixture(scope="module")
def world():
    return FB.FabricConfig(n_images=32, n_hosts=8).with_certs()


def make_engine(spark, world, state_dir):
    return CrawlEngine(
        spark, S.images_df(spark, world, 2), S.dns_df(spark, world),
        S.robots_df(spark, world), ScanConfig.all_on(),
        EngineConfig(partitions=8, per_host_budget=8, max_depth=1),
        world, state_dir=state_dir,
    )


def ingest_and_crawl(eng, seed_dir, checkpoint_dir, max_waves):
    """One micro-batch cycle: drain the available seed files into the
    frontier, then crawl until drained."""
    StreamingSeedIngest(eng).start(seed_dir, checkpoint_dir).awaitTermination()
    return eng.crawl(max_waves=max_waves)


def test_streaming_ingest_then_crawl(spark, world):
    base = tempfile.mkdtemp(prefix="httpz_stream_")
    seed_dir = os.path.join(base, "seeds")
    os.makedirs(seed_dir)
    urls = S.seed_url_lines(world)
    half = len(urls) // 2
    with open(os.path.join(seed_dir, "batch1.txt"), "w") as f:
        f.write("\n".join(urls[:half]))
    try:
        eng = make_engine(spark, world, os.path.join(base, "state"))
        results = ingest_and_crawl(eng, seed_dir, os.path.join(base, "ckpt"), max_waves=2)
        n1 = results.count()
        assert n1 > 0

        # second micro-batch: new file with remaining + duplicate seeds;
        # duplicates must not be recrawled (seen anti-join)
        with open(os.path.join(seed_dir, "batch2.txt"), "w") as f:
            f.write("\n".join(urls))  # includes already-crawled half
        results2 = ingest_and_crawl(eng, seed_dir, os.path.join(base, "ckpt"), max_waves=4)
        n2 = results2.count()
        assert n2 > n1
        assert results2.select("url_hash").distinct().count() == n2
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_ingest_dedups_frontier(spark, world):
    base = tempfile.mkdtemp(prefix="httpz_stream2_")
    try:
        eng = make_engine(spark, world, os.path.join(base, "state"))
        ing = StreamingSeedIngest(eng)
        batch = spark.createDataFrame(
            [("https://h1.test/img00000001",), ("HTTPS://H1.TEST/img00000001#f",)],
            "value string",
        )
        ing.ingest_batch(batch, 0)
        fr = eng.store.read("frontier")
        assert fr.count() == 1  # canonicalization collapses both forms
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_ingest_merges_like_add_seeds(spark, world):
    # a URL queued at depth 2 by discovery and re-sent by the stream keeps
    # the min (priority, wave_id, url_canon) row — the depth-0 seed — for
    # any partitioning of the micro-batch (a bare dropDuplicates keeps an
    # arbitrary one)
    from httpz_spark.plans.frontier import urls_to_frontier

    x = "https://h1.test/img00000001"
    others = [(f"https://h2.test/img{i:08d}",) for i in range(20)]
    for parts in (1, 7):
        base = tempfile.mkdtemp(prefix="httpz_stream3_")
        try:
            eng = make_engine(spark, world, os.path.join(base, "state"))
            queued = spark.createDataFrame([(x,)], "value string")
            eng._write_frontier(
                urls_to_frontier(queued, "value", depth=2, wave_id=1))
            batch = spark.createDataFrame([(x,)] + others, "value string")
            StreamingSeedIngest(eng).ingest_batch(batch.repartition(parts), 0)
            fr = eng.store.read("frontier")
            row = fr.filter(F.col("url_canon") == x).collect()
            assert [(r["depth"], r["wave_id"]) for r in row] == [(0, 0)], parts
            assert fr.count() == 21
        finally:
            shutil.rmtree(base, ignore_errors=True)


def test_streaming_unseen_dedup_across_batches(spark, tmp_path):
    """Bounded-state streaming dedup: duplicates are suppressed WITHIN a
    batch and ACROSS micro-batches/restarts (bloom state survives in the
    checkpoint; exact re-check against the seen table keeps it exact)."""
    import json

    from httpz_spark.streaming.micro import start_streaming_unseen

    src = tmp_path / "urls"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt2")
    sink = str(tmp_path / "sink")
    seen_dir = str(tmp_path / "seen")

    last_progress = {}

    def run_available():
        stream = (
            spark.readStream.schema("url_hash long, raw string").json(str(src))
        )
        q = start_streaming_unseen(
            stream, sink, seen_dir, ckpt, partitions=8,
        )
        q.awaitTermination()
        for p in q.recentProgress:
            ops = p.get("stateOperators") or []
            if ops:
                last_progress.update(ops[0])
        return sorted(
            (r["url_hash"], r["raw"])
            for r in spark.read.parquet(sink).drop("batch_id").collect()
        )

    (src / "a.json").write_text("\n".join(json.dumps(r) for r in [
        {"url_hash": 1, "raw": "https://a.test/1"},
        {"url_hash": 2, "raw": "https://a.test/2"},
        {"url_hash": 1, "raw": "https://a.test/1"},   # in-batch dup
    ]))
    got1 = run_available()
    assert got1 == [(1, "https://a.test/1"), (2, "https://a.test/2")]

    # second batch, same checkpoint: 2 is suppressed by persisted state —
    # the sink accumulates, so the delta is exactly the new unseen row
    (src / "b.json").write_text("\n".join(json.dumps(r) for r in [
        {"url_hash": 2, "raw": "https://a.test/2"},
        {"url_hash": 3, "raw": "https://a.test/3"},
    ]))
    got2 = run_available()
    assert got2 == sorted(got1 + [(3, "https://a.test/3")])
    # state rows = GROUPS (<= partitions), never keys — the bounded-state
    # invariant the round-2 design violated
    assert 0 < last_progress["numRowsTotal"] <= 8


def test_unseen_handler_idempotent_on_redelivery(spark, tmp_path):
    """Crash-replay semantics (round-3 review finding): the round-3 handler
    appended seen keys BEFORE writing the output, so a replayed batch
    anti-joined against its own keys and silently dropped first-ever rows.
    Now seen keys are per-batch overwrites and only batches < N are
    consulted — replaying batch N (even after its seen write landed)
    reproduces the identical output."""
    from httpz_spark.streaming.micro import make_unseen_batch_handler

    out_dir, seen_dir = str(tmp_path / "out"), str(tmp_path / "seen")
    handle = make_unseen_batch_handler(out_dir, seen_dir)

    def batch(rows):
        return spark.createDataFrame(
            rows, "url_hash long, raw string, maybe_seen boolean"
        )

    b0 = batch([(1, "u1", False), (2, "u2", False)])
    handle(b0, 0)
    first = sorted(r["url_hash"] for r in spark.read.parquet(f"{out_dir}/batch_id=0").collect())
    assert first == [1, 2]

    # replay batch 0 AFTER its seen write landed (the crash-between-writes
    # case): output must be identical, not emptied by its own seen keys
    handle(b0, 0)
    assert sorted(r["url_hash"] for r in spark.read.parquet(f"{out_dir}/batch_id=0").collect()) == [1, 2]

    # batch 1: key 2 re-occurs bloom-flagged -> suppressed by batch 0's
    # seen keys; key 3 is new; a bloom false-positive on 4 survives the
    # exact re-check
    b1 = batch([(2, "u2", True), (3, "u3", False), (4, "u4", True)])
    handle(b1, 1)
    assert sorted(r["url_hash"] for r in spark.read.parquet(f"{out_dir}/batch_id=1").collect()) == [3, 4]
    # replay batch 1 too
    handle(b1, 1)
    assert sorted(r["url_hash"] for r in spark.read.parquet(f"{out_dir}/batch_id=1").collect()) == [3, 4]


def test_unseen_handler_compacts_seen_dirs(spark, tmp_path):
    """Round-4 verdict fix: the seen store must not grow one directory per
    micro-batch forever.  Dirs older than the redelivery horizon fold into
    the StateStore base; the handler reads base + ≤ horizon recent dirs."""
    import os

    from httpz_spark.streaming.micro import make_unseen_batch_handler

    out_dir, seen_dir = str(tmp_path / "out"), str(tmp_path / "seen")
    horizon = 2
    handle = make_unseen_batch_handler(out_dir, seen_dir, horizon=horizon)

    def batch(rows):
        return spark.createDataFrame(
            rows, "url_hash long, raw string, maybe_seen boolean"
        )

    n_batches = 8
    # batch i carries keys {i, i+1} (i as a bloom-flagged re-check, i+1
    # definite-new) -> exact first-occurrences: batch 0 emits {0, 1},
    # batch i>0 emits {i+1}
    for i in range(n_batches):
        handle(batch([(i, f"u{i}", True), (i + 1, f"u{i+1}", False)]), i)

    # growth bound: compaction runs at the END of each batch (after the
    # batch writes its own seen dir), so steady state holds exactly
    # horizon+1 dirs — O(horizon), never O(total batches)
    dirs = handle.recent_seen_dirs(n_batches)
    assert len(dirs) <= horizon + 1, dirs
    assert os.path.isdir(os.path.join(seen_dir, "_base"))

    # exactness across the compaction boundary
    for i in range(n_batches):
        got = sorted(r["url_hash"] for r in
                     spark.read.parquet(f"{out_dir}/batch_id={i}").collect())
        assert got == ([0, 1] if i == 0 else [i + 1]), i

    # the full seen set survives compaction (base ∪ recent = all keys)
    seen = sorted(r["url_hash"] for r in
                  handle.seen_before(spark, n_batches).collect())
    assert seen == list(range(n_batches + 1))

    # replaying the LATEST batch after compaction is still idempotent
    last = n_batches - 1
    handle(batch([(last, f"u{last}", True), (last + 1, f"u{last+1}", False)]),
           last)
    got = sorted(r["url_hash"] for r in
                 spark.read.parquet(f"{out_dir}/batch_id={last}").collect())
    assert got == [last + 1]

    # crash window between base commit and dir deletion: a folded dir
    # resurfacing (duplicate keys in base ∪ dirs) must not change output
    ghost = os.path.join(seen_dir, "batch_id=1")
    spark.createDataFrame([(2,)], "url_hash long").write.mode(
        "overwrite").parquet(ghost)
    handle(batch([(2, "u2", True), (99, "u99", False)]), n_batches)
    got = sorted(r["url_hash"] for r in
                 spark.read.parquet(f"{out_dir}/batch_id={n_batches}").collect())
    assert got == [99]


def test_streaming_unseen_exact_with_overfull_bloom(spark, tmp_path):
    """An undersized bloom (capacity 16 for 600 keys -> FP-saturated) must
    degrade to more exact-check work, NEVER to wrong output."""
    import json

    from httpz_spark.streaming.micro import start_streaming_unseen

    src = tmp_path / "urls"
    src.mkdir()

    def run():
        stream = (
            spark.readStream.schema("url_hash long, raw string").json(str(src))
        )
        q = start_streaming_unseen(
            stream, str(tmp_path / "sink"), str(tmp_path / "seen"),
            str(tmp_path / "ckpt"), partitions=4,
            capacity_per_group=16, bits_per_key=4,
        )
        q.awaitTermination()
        return sorted(
            r["url_hash"]
            for r in spark.read.parquet(str(tmp_path / "sink")).collect()
        )

    (src / "a.json").write_text("\n".join(
        json.dumps({"url_hash": i, "raw": f"u{i}"}) for i in range(300)
    ))
    assert run() == list(range(300))
    (src / "b.json").write_text("\n".join(
        json.dumps({"url_hash": i, "raw": f"u{i}"}) for i in range(150, 450)
    ))
    assert run() == list(range(450))  # 150-299 suppressed, 300-449 new
