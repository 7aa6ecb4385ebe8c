"""Cuckoo-filter seen set (the north rule's "bloom/cuckoo-filter URL-seen
set", delete-capable half): core filter invariants, the persisted
CuckooIndex probe/update/delete contract, StateStore merge_delete
(tombstone merge-on-read), and the engine-level recrawl invalidation that
composes them — stale URLs leave the seen state in O(stale) and are
refetched on the next wave."""

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.operators.frontier_dedup import (
    _CUCKOO_SLOTS,
    CuckooIndex,
    _cuckoo_alt,
    _cuckoo_geometry,
    _cuckoo_hashes,
    cuckoo_contains,
    cuckoo_delete,
    cuckoo_insert,
    dedup_unseen,
)
from httpz_spark.plans.frontier import CrawlEngine
from httpz_spark.plans.statestore import StateStore
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S


def _keys(n, seed=7):
    rng = np.random.RandomState(seed)
    return np.unique(rng.randint(-2**62, 2**62, size=n, dtype=np.int64))


def _table(capacity):
    return np.zeros((_cuckoo_geometry(capacity), _CUCKOO_SLOTS), dtype=np.uint16)


# -- core filter ----------------------------------------------------------------


def test_alt_bucket_is_involution():
    nb = _cuckoo_geometry(10_000)
    fp, i1, i2 = _cuckoo_hashes(_keys(5_000), nb)
    assert (fp != 0).all()
    assert (_cuckoo_alt(i2, fp, nb) == i1).all()
    assert (_cuckoo_alt(i1, fp, nb) == i2).all()


def test_insert_no_false_negatives_and_low_fp():
    keys = _keys(60_000)
    table = _table(len(keys))
    assert cuckoo_insert(table, keys) == 0
    assert cuckoo_contains(table, keys).all()
    absent = np.setdiff1d(_keys(120_000, seed=11), keys)
    assert cuckoo_contains(table, absent).mean() < 0.001  # ~2b/2^16 expected


def test_delete_is_exact_and_multiset():
    keys = _keys(20_000)
    table = _table(len(keys))
    cuckoo_insert(table, keys)
    half = keys[::2]
    assert cuckoo_delete(table, half) == 0
    # surviving keys: never a false negative
    assert cuckoo_contains(table, keys[1::2]).all()
    # multiset: two copies survive one delete (re-run/resume semantics)
    k = keys[1:9:2]
    cuckoo_insert(table, k)  # second copy
    assert cuckoo_delete(table, k) == 0
    assert cuckoo_contains(table, k).all()


def test_deleted_holes_are_refilled():
    # fill to ~capacity, delete a swath, re-insert new keys into the holes:
    # the vectorized placer must target FREE slots, not trailing slots
    keys = _keys(3_000, seed=1)
    table = _table(3_000)
    assert cuckoo_insert(table, keys) == 0
    cuckoo_delete(table, keys[::2])
    fresh = np.setdiff1d(_keys(1_200, seed=2), keys)  # net load stays < 0.8
    assert cuckoo_insert(table, fresh) == 0
    assert cuckoo_contains(table, fresh).all()
    assert cuckoo_contains(table, keys[1::2]).all()


def test_overfill_fails_loudly_not_silently():
    nb = 1024
    table = np.zeros((nb, _CUCKOO_SLOTS), dtype=np.uint16)
    keys = _keys(nb * _CUCKOO_SLOTS + 500, seed=3)
    assert cuckoo_insert(table, keys) > 0  # saturation is reported


# -- persisted index over Spark ---------------------------------------------------


def _hash_df(spark, keys):
    return spark.createDataFrame([(int(k),) for k in keys], "url_hash long")


def test_cuckoo_index_probe_matches_membership(spark):
    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        seen = _keys(4_000, seed=5)
        cand = np.concatenate([seen[::4], np.setdiff1d(_keys(3_000, seed=6), seen)])
        idx = CuckooIndex.open_or_create(root, partitions=4,
                                         capacity_per_part=4_000)
        idx.update(_hash_df(spark, seen))
        # reopen from meta (cold path) before probing
        idx2 = CuckooIndex.open_or_create(root)
        assert (idx2.partitions, idx2.nbuckets) == (idx.partitions, idx.nbuckets)
        probed = {
            r["url_hash"]: r["maybe_seen"]
            for r in idx2.probe(_hash_df(spark, cand)).collect()
        }
        seen_set = set(int(k) for k in seen)
        fps = 0
        for k, maybe in probed.items():
            if k in seen_set:
                assert maybe, "false negative — exactness broken"
            elif maybe:
                fps += 1
        assert fps <= 3  # 16-bit fingerprints: ~0.012% expected
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_dedup_unseen_cuckoo_equals_plain_antijoin(spark):
    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        seen = _keys(5_000, seed=8)
        cand = _keys(4_000, seed=9)
        seen_df = _hash_df(spark, seen)
        cand_df = _hash_df(spark, cand)
        idx = CuckooIndex.open_or_create(root, partitions=4,
                                         capacity_per_part=5_000)
        idx.update(seen_df)
        got = sorted(r[0] for r in
                     dedup_unseen(cand_df, seen_df, bloom=idx).collect())
        want = sorted(r[0] for r in
                      cand_df.join(seen_df, "url_hash", "left_anti").collect())
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_saturated_partition_degrades_to_exact(spark):
    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        # capacity 1 -> min geometry 1024 buckets = 4096 slots per pid;
        # push >4x that through ONE pid by pre-multiplying keys
        seen = _keys(40_000, seed=12)
        seen = seen[(seen % 2) == 0][:20_000]  # all land on pid 0 of P=2
        idx = CuckooIndex.open_or_create(root, partitions=2, capacity_per_part=1)
        seen_df = _hash_df(spark, seen)
        idx.update(seen_df)
        # pid-0 file must be flagged saturated -> probe returns all-maybe
        table, saturated, existed = CuckooIndex._load_file(idx._path(0), idx.nbuckets)
        assert saturated and existed
        cand = np.concatenate([seen[:100], _keys(200, seed=13)])
        cand_df = _hash_df(spark, cand)
        got = sorted(r[0] for r in
                     dedup_unseen(cand_df, seen_df, bloom=idx).collect())
        want = sorted(r[0] for r in
                      cand_df.join(seen_df, "url_hash", "left_anti").collect())
        assert got == want  # exactness survives saturation
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_index_delete_readmits_keys(spark):
    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        seen = _keys(3_000, seed=14)
        stale = seen[::5]
        idx = CuckooIndex.open_or_create(root, partitions=4,
                                         capacity_per_part=3_000)
        idx.update(_hash_df(spark, seen))
        idx.delete(_hash_df(spark, stale))
        surviving = np.setdiff1d(seen, stale)
        surviving_df = _hash_df(spark, surviving)
        got = sorted(r[0] for r in
                     dedup_unseen(_hash_df(spark, seen), surviving_df,
                                  bloom=idx).collect())
        assert got == sorted(int(k) for k in stale)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- StateStore merge_delete -------------------------------------------------------


def test_merge_delete_tombstones(spark):
    root = tempfile.mkdtemp(prefix="httpz_ckst_")
    try:
        st = StateStore(spark, root, compact_every=3)
        rows = spark.createDataFrame(
            [(i, f"u{i}") for i in range(20)], "url_hash long, url string")
        st.merge_upsert("seen", rows, key="url_hash")
        st.merge_delete("seen", rows.filter(F.col("url_hash") % 4 == 0),
                        key="url_hash")
        got = {r["url_hash"] for r in st.read("seen").collect()}
        assert got == {i for i in range(20) if i % 4 != 0}
        # resurrect one deleted key: newer upsert shadows the tombstone
        st.merge_upsert("seen", rows.filter(F.col("url_hash") == 4),
                        key="url_hash")
        back = st.read("seen").filter(F.col("url_hash") == 4).collect()
        assert len(back) == 1 and back[0]["url"] == "u4"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_merge_delete_survives_compaction(spark):
    root = tempfile.mkdtemp(prefix="httpz_ckst_")
    try:
        st = StateStore(spark, root, compact_every=2)
        rows = spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "url_hash long, v long")
        st.merge_upsert("t", rows, key="url_hash")
        st.merge_delete("t", rows.filter(F.col("url_hash") < 3), key="url_hash")
        # force compactions past the tombstone delta
        for j in range(4):
            st.merge_upsert(
                "t",
                spark.createDataFrame([(100 + j, j)], "url_hash long, v long"),
                key="url_hash",
            )
        got = {r["url_hash"] for r in st.read("t").collect()}
        assert got == set(range(3, 10)) | {100, 101, 102, 103}
        # compacted snapshot carries no tombstone column
        assert "_tomb" not in st.read("t").columns
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -- engine recrawl invalidation ---------------------------------------------------


def _crawl_world(spark, state, seen_filter):
    world = FB.FabricConfig(n_images=8, n_hosts=4).with_certs()
    images = S.images_df(spark, world, partitions=2)
    eng = CrawlEngine(
        spark, images, dns=None, robots=None,
        scan_cfg=ScanConfig(),
        engine_cfg=EngineConfig(
            partitions=4, per_host_budget=100, include_payload=False,
            seen_filter=seen_filter, bloom_min_seen=0,
            bloom_capacity_per_part=10_000,
        ),
        fabric_cfg=world, state_dir=state,
    )
    return eng, world


@pytest.mark.parametrize("seen_filter", ["cuckoo", "bloom"])
def test_engine_invalidate_seen_refetches_stale(spark, seen_filter):
    state = tempfile.mkdtemp(prefix="httpz_ckeng_")
    try:
        eng, world = _crawl_world(spark, state, seen_filter)
        eng.init_frontier(S.seeds_df(spark, S.seed_url_lines(world)))
        s0 = eng.run_wave(0)
        assert s0["n_fetched"] > 4
        seen0 = eng.store.read("seen").select("url_hash", "url_canon")
        stale = seen0.orderBy("url_hash").limit(3).localCheckpoint(eager=True)
        stale_set = {r["url_canon"] for r in stale.collect()}

        eng.invalidate_seen(stale)
        assert eng.store.read("seen").count() == s0["n_fetched"] - 3

        # re-seed everything: only the invalidated URLs clear the seen gate
        eng.add_seeds(S.seeds_df(spark, S.seed_url_lines(world)))
        s1 = eng.run_wave(1)
        assert s1["n_fetched"] == 3
        refetched = {
            r["url_canon"]
            for r in eng.store.read("results")
            .filter(F.col("wave_id") == 1).select("url_canon").collect()
        }
        assert refetched == stale_set
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_cuckoo_random_ops_match_reference_multiset():
    # property check, pure numpy: interleaved insert/delete batches vs a
    # reference multiset — no false negative EVER for a key with >=1 live
    # copy; deletes only ever target inserted keys (the cuckoo contract)
    from collections import Counter

    rng = np.random.RandomState(99)
    table = _table(8_000)
    live = Counter()
    pool = np.unique(rng.randint(-2**62, 2**62, size=6_000, dtype=np.int64))
    for step in range(12):
        ins = rng.choice(pool, size=400, replace=False)
        assert cuckoo_insert(table, ins, seed=step) == 0
        live.update(int(k) for k in ins)
        have = np.array([k for k, c in live.items() if c > 0], dtype=np.int64)
        dele = rng.choice(have, size=min(150, len(have)), replace=False)
        assert cuckoo_delete(table, dele) == 0
        live.subtract(int(k) for k in dele)
        alive = np.array([k for k, c in live.items() if c > 0], dtype=np.int64)
        assert cuckoo_contains(table, alive).all(), f"false negative at step {step}"
    # table occupancy equals the multiset cardinality (every op accounted)
    assert int((table != 0).sum()) == sum(c for c in live.values() if c > 0)


# -- review-hardening regressions ---------------------------------------------------


def test_delete_on_missing_pid_file_stays_degraded(spark):
    # deleting from a pid with no file must NOT materialize an
    # authoritative empty table (probe would answer definitely-unseen for
    # the whole partition); the pid must keep degrading to the exact join
    import os

    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        idx = CuckooIndex.open_or_create(root, partitions=2,
                                         capacity_per_part=1_000)
        keys = _keys(50, seed=21)
        idx.delete(_hash_df(spark, keys))
        assert not any(f.startswith("pid=") for f in os.listdir(root))
        probed = idx.probe(_hash_df(spark, keys)).collect()
        assert all(r["maybe_seen"] for r in probed)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_corrupt_npz_degrades_not_crashes(spark):
    # a truncated/garbage pid file raises BadZipFile from np.load — the
    # probe must degrade that pid to maybe (exact recheck), never crash
    # the wave, and a subsequent mutate must flag it saturated
    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        seen = _keys(800, seed=22)
        idx = CuckooIndex.open_or_create(root, partitions=2,
                                         capacity_per_part=1_000)
        seen_df = _hash_df(spark, seen)
        idx.update(seen_df)
        with open(idx._path(0), "wb") as f:
            f.write(b"not a zip at all")
        probed = {r["url_hash"]: r["maybe_seen"]
                  for r in idx.probe(seen_df).collect()}
        assert all(probed[int(k)] for k in seen)  # pid 0 degraded, pid 1 real
        got = sorted(r[0] for r in
                     dedup_unseen(seen_df, seen_df, bloom=idx).collect())
        assert got == []  # exactness survives corruption
        # inserting over the corrupt file marks it saturated (old
        # fingerprints are lost -> never authoritative again)
        idx.update(_hash_df(spark, _keys(50, seed=23)))
        _t0, saturated0, _e0 = CuckooIndex._load_file(idx._path(0), idx.nbuckets)
        assert saturated0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_delete_of_never_inserted_key_saturates(spark):
    # _mutate surfaces cuckoo_delete's missing count as saturation: the
    # contract was broken, so the pid degrades to the exact join
    root = tempfile.mkdtemp(prefix="httpz_ck_")
    try:
        seen = _keys(500, seed=24)
        idx = CuckooIndex.open_or_create(root, partitions=1,
                                         capacity_per_part=1_000)
        idx.update(_hash_df(spark, seen))
        never = np.setdiff1d(_keys(100, seed=25), seen)
        idx.delete(_hash_df(spark, never))
        _t, saturated, existed = CuckooIndex._load_file(idx._path(0), idx.nbuckets)
        assert existed and saturated
        probed = idx.probe(_hash_df(spark, seen)).collect()
        assert all(r["maybe_seen"] for r in probed)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_engine_invalidate_seen_is_idempotent(spark):
    # re-running invalidate_seen with the same (or an overlapping) stale
    # set must be a no-op: keys are semi-joined against the current seen
    # table, so the filter never sees a delete for an absent key
    state = tempfile.mkdtemp(prefix="httpz_ckeng_")
    try:
        eng, world = _crawl_world(spark, state, "cuckoo")
        eng.init_frontier(S.seeds_df(spark, S.seed_url_lines(world)))
        s0 = eng.run_wave(0)
        seen0 = eng.store.read("seen").select("url_hash", "url_canon")
        stale = seen0.orderBy("url_hash").limit(2).localCheckpoint(eager=True)
        eng.invalidate_seen(stale)
        n_after = eng.store.read("seen").count()
        assert n_after == s0["n_fetched"] - 2
        eng.invalidate_seen(stale)  # crash-re-run / overlapping stale set
        assert eng.store.read("seen").count() == n_after
        # remaining seen keys still probe maybe (no fingerprint was evicted)
        idx = eng._bloom()
        remaining = eng.store.read("seen").select("url_hash")
        probed = idx.probe(remaining).collect()
        assert all(r["maybe_seen"] for r in probed)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_seen_filter_flip_backfills_from_seen_table(spark):
    # switching EngineConfig.seen_filter on existing state must backfill
    # the fresh index from the seen table — wave k+1 must NOT re-admit
    # the old corpus
    state = tempfile.mkdtemp(prefix="httpz_ckeng_")
    try:
        eng, world = _crawl_world(spark, state, "bloom")
        eng.init_frontier(S.seeds_df(spark, S.seed_url_lines(world)))
        s0 = eng.run_wave(0)
        assert s0["n_fetched"] > 0
        eng2, _ = _crawl_world(spark, state, "cuckoo")
        eng2.add_seeds(S.seeds_df(spark, S.seed_url_lines(world)))
        s1 = eng2.run_wave(1)
        assert s1.get("n_fetched", 0) == 0  # everything already seen
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_index_backfill_killed_midway_leaves_no_partial_filter(spark, monkeypatch):
    # the index is built mid-crawl, once seen reaches bloom_min_seen, by a
    # backfill from the seen table: a kill during that backfill must leave
    # no index behind — a partial one would answer 'definitely unseen' for
    # keys it never took and the next wave would re-crawl them
    import dataclasses
    import os

    from httpz_spark.operators.frontier_dedup import BloomIndex

    state = tempfile.mkdtemp(prefix="httpz_ckeng_")
    try:
        eng, world = _crawl_world(spark, state, "bloom")
        eng.engine_cfg = dataclasses.replace(eng.engine_cfg, bloom_min_seen=10**9)
        eng.init_frontier(S.seeds_df(spark, S.seed_url_lines(world)))
        assert eng.run_wave(0)["n_fetched"] > 0
        assert not os.path.exists(os.path.join(state, "bloom"))  # not yet probed

        def killed(self, *args, **kwargs):
            raise RuntimeError("killed mid-backfill")

        eng.engine_cfg = dataclasses.replace(eng.engine_cfg, bloom_min_seen=0)
        monkeypatch.setattr(BloomIndex, "update", killed)
        with pytest.raises(RuntimeError, match="mid-backfill"):
            eng._bloom()
        monkeypatch.undo()
        assert eng._bloom(create=False) is None
        eng.add_seeds(S.seeds_df(spark, S.seed_url_lines(world)))
        assert eng.run_wave(1)["n_fetched"] == 0  # everything already seen
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_seen_filter_value_is_validated(spark):
    state = tempfile.mkdtemp(prefix="httpz_ckeng_")
    try:
        eng, world = _crawl_world(spark, state, "cukoo")  # typo'd on purpose
        with pytest.raises(ValueError, match="seen_filter"):
            eng._bloom()
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_add_seeds_resolution_is_deterministic(spark):
    # a URL both queued (deep row) and re-seeded (depth-0 row) keeps the
    # min (priority, wave_id, url_canon) row — not an arbitrary one
    from httpz_spark.plans.frontier import urls_to_frontier

    state = tempfile.mkdtemp(prefix="httpz_ckeng_")
    try:
        eng, world = _crawl_world(spark, state, "cuckoo")
        seeds = S.seeds_df(spark, S.seed_url_lines(world))
        deep = urls_to_frontier(seeds, "raw", depth=2, wave_id=3)
        eng.store.write("frontier", deep.dropDuplicates(["url_hash"]))
        eng.add_seeds(seeds)
        fr = eng.store.read("frontier")
        rows = fr.select("url_hash", "depth", "wave_id").collect()
        assert len(rows) == fr.select("url_hash").distinct().count()
        assert all(r["depth"] == 0 and r["wave_id"] == 0 for r in rows)
    finally:
        shutil.rmtree(state, ignore_errors=True)
