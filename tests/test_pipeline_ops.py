"""Training-data pipeline operators: dedup, similarity, text stats, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from httpz_spark.operators import dedup as D
from httpz_spark.operators import multimodal as M
from httpz_spark.operators import similarity as SIM
from httpz_spark.operators import textstats as TS
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def dup_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),   # exact dup
        (3, "THE quick   brown fox jumps over the lazy dog again and again"), # normalized dup
        (4, "the quick brown fox jumps over the lazy cat again and again"),   # near dup
        (5, "completely different text about spark engines and parquet files"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = D.exact_dedup(dup_docs(spark)).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in out}
    assert groups[1] == 3  # docs 1,2,3 collapse after normalization
    assert groups[4] == 1 and groups[5] == 1


def test_ngram_jaccard_and_minhash_lsh(spark):
    docs = dup_docs(spark)
    exact = {(r["a"], r["b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert exact[(1, 2)] == 1.0 and exact[(1, 3)] == 1.0
    assert 0.5 <= exact[(1, 4)] < 1.0  # near dup

    lsh = {(r["a"], r["b"]): r["jaccard"]
           for r in D.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    # LSH candidates are verified with exact jaccard -> values must agree
    for pair, j in lsh.items():
        assert abs(exact[pair] - j) < 1e-12
    assert (1, 2) in lsh and (1, 3) in lsh  # identical docs always collide


def _persistent_rdd_ids(spark):
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _plans_as_checkpoint(df):
    """A localCheckpoint(eager=True) frame plans as one LogicalRDD scan."""
    return df._jdf.queryExecution().optimizedPlan().toString().startswith("LogicalRDD")


def test_pair_generators_release_shingle_cache(spark):
    """Round-3 review finding: the pair generators persisted the exploded
    shingle frame and never unpersisted it.  Now the (small) output is
    materialized eagerly and the shingle cache is released before return —
    after materialization at most the output checkpoints themselves remain
    in storage, never the O(corpus × shingles) explode."""
    docs = dup_docs(spark)
    before = _persistent_rdd_ids(spark)
    outs = [D.ngram_jaccard_pairs(docs, threshold=0.5),
            D.minhash_lsh_pairs(docs, jaccard_threshold=0.5),
            D.winnow_dup_pairs(docs, min_common=1)]
    for out in outs:
        # eager=True (default) returns a materialized result
        assert _plans_as_checkpoint(out)
        out.collect()
    new = _persistent_rdd_ids(spark) - before
    # one eager output-checkpoint RDD per operator is allowed; the three
    # token caches would make this 6
    assert len(new) <= 3, f"leaked persistent RDDs: {sorted(new)}"


def test_pair_generators_lazy_mode_persists_nothing(spark):
    """eager=False: fully lazy plan, nothing persisted by the operator."""
    docs = dup_docs(spark)
    before = _persistent_rdd_ids(spark)
    out = D.ngram_jaccard_pairs(docs, threshold=0.5, eager=False)
    assert not _plans_as_checkpoint(out)
    rows = {(r["a"], r["b"]) for r in out.collect()}
    assert (1, 2) in rows
    # no NEW persistent entries (earlier tests' async unpersists may still
    # be draining out of the map, so compare one-directionally)
    assert _persistent_rdd_ids(spark) - before == set()


def test_minhash_estimates_jaccard(spark, docs):
    """MinHash signature agreement ~ true Jaccard (statistical sanity)."""
    sub = docs.limit(40)
    sig = {r["id"]: r["sig"] for r in D.minhash_signatures(sub).collect()}
    exact = {(r["a"], r["b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(sub, threshold=0.0).collect()}
    for (a, b), j in list(exact.items())[:20]:
        est = np.mean([x == y for x, y in zip(sig[a], sig[b])])
        assert abs(est - j) < 0.35  # 64 hashes -> loose bound


def test_simhash(spark):
    docs = dup_docs(spark)
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in D.simhash_near_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert (1, 4) in pairs  # one word changed -> small hamming
    assert (1, 5) not in pairs or pairs[(1, 5)] > 3


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = SIM.cosine_topk(emb, queries, k=4).collect()

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    for qid in [r["query_id"] for r in queries.collect()]:
        qv = vecs[qid]
        sims = sorted(
            ((float(np.dot(v, qv) / (np.linalg.norm(v) * np.linalg.norm(qv))), -i)
             for i, v in vecs.items()),
            reverse=True,
        )
        want_ids = [-s[1] for s in sims[:4]]
        got_ids = [r["neighbor_id"] for r in sorted(
            (g for g in got if g["query_id"] == qid), key=lambda r: r["rank"])]
        assert got_ids == want_ids
        # rank 1 is the query itself (cos=1)
        assert got_ids[0] == qid


def test_lsh_ann(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    got = SIM.lsh_ann_topk(emb, queries, k=3, planes=6).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r["rank"])
        assert top["neighbor_id"] == qid  # self always shares its own bucket
        assert abs(top["cos_sim"] - 1.0) < 1e-9


def test_embedding_near_pairs(spark, emb):
    # duplicate a vector under a new id -> must surface as a near-dup pair
    dup = emb.limit(1).select((F.col("vec_id") + 100000).alias("vec_id"),
                              "embedding", "label")
    aug = emb.unionByName(dup)
    pairs = D.embedding_near_pairs(aug, threshold=0.999).collect()
    assert any(r["a"] == 0 and r["b"] == 100000 for r in pairs)


def test_text_stats(spark, docs):
    out = TS.text_stats(docs).collect()
    assert len(out) == docs.count()
    for r in out[:50]:
        assert r["n_tokens"] > 0
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in ("en", "de", "es", "fr", "und")
    # fingerprint is stable + distinct texts get distinct prints (high prob)
    fps = [r["fingerprint"] for r in out]
    assert len(set(fps)) > len(fps) * 0.9


def test_multimodal_decode_and_embed(spark):
    world = FB.FabricConfig(n_images=24, n_hosts=4)
    images = S.images_df(spark, world, partitions=2)
    stats = M.decode_stats(images).collect()
    assert len(stats) == 24
    truth = {r["image_id"]: r["phash"] for r in images.collect()}
    for r in stats:
        assert r["decode_ok"], r["image_id"]
        assert 0 <= r["mean_lum"] <= 255
        assert r["phash_check"] == truth[r["image_id"]]

    thumbs = M.resize_thumbnails(images).collect()
    assert len(thumbs) == 24 and all(len(t["thumb"]) == 64 for t in thumbs)

    embs = M.image_embeddings(images).collect()
    assert len(embs) == 24
    for e in embs[:5]:
        v = np.array(e["embedding"], dtype=np.float64)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-3

def test_frame_sample_real_container(spark):
    """frame_sample over the SPKV video container: sampled frames are the
    exact encoded frames the fabric wrote (bit-equal), every_n indices are
    right, and each frame decodes to the fabric's frame pixels (exact for
    png, quantized for the fake-lossy fmt)."""
    from httpz_spark.codecs.images import decode_image, quantize_lossy
    from httpz_spark.codecs.video import video_index

    world = FB.FabricConfig(n_images=8, n_hosts=4)
    videos = S.videos_df(spark, world, n_videos=6, partitions=2)
    rows = M.frame_sample(videos, every_n=2).collect()

    raw = {r["media_id"]: bytes(r["bytes"]) for r in videos.collect()}
    by_media = {}
    for r in rows:
        assert r["decode_ok"]
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(raw)
    for mid, rs in by_media.items():
        w, h, fps, n_frames, fmt = FB.video_meta(mid, world)
        assert all(r["fps"] == fps and r["n_frames"] == n_frames for r in rs)
        assert sorted(r["frame_idx"] for r in rs) == list(range(0, n_frames, 2))
        spans = video_index(raw[mid])[2]
        for r in rs:
            blob = bytes(r["frame"])
            off, ln = spans[r["frame_idx"]]
            assert blob == raw[mid][off:off + ln]
            px = decode_image(blob, fmt)
            want = FB.video_frame_pixels(mid, r["frame_idx"], world)
            if fmt == "jpeg":
                want = quantize_lossy(want)
            assert (px == want).all()


def test_frame_sample_poison_flagged(spark):
    """A corrupt/foreign payload yields one decode_ok=false row, no frames,
    no task death; valid rows in the same batch are unaffected."""
    from httpz_spark.codecs.video import SPKV_MAGIC

    world = FB.FabricConfig(n_images=8, n_hosts=4)
    good = FB.video_record("vidok", world)
    poison = [
        ("p_notmagic", bytearray(b"\x00\x01\x02\x03 not a video")),
        ("p_truncated", bytearray(SPKV_MAGIC + b"\x01\x08\x00\xff")),
        ("p_empty", bytearray(b"")),
    ]
    df = spark.createDataFrame(
        [("vidok", bytearray(good["bytes"]))] + poison,
        "media_id string, bytes binary",
    )
    rows = M.frame_sample(df, every_n=1).collect()
    bad = [r for r in rows if not r["decode_ok"]]
    ok = [r for r in rows if r["decode_ok"]]
    assert sorted(r["media_id"] for r in bad) == ["p_empty", "p_notmagic", "p_truncated"]
    assert all(r["frame"] is None for r in bad)
    assert len(ok) == good["n_frames"] and {r["media_id"] for r in ok} == {"vidok"}


def test_decode_stub_poison_row(spark):
    """A real-JPEG byte blob (undecodable without PIL) must not kill the
    task — decode_ok=false row instead."""
    rows = [("poison", bytearray(b"\xff\xd8\xff\xe0JFIF-fake"), 8, 8, "jpeg", "c", 0)]
    df = spark.createDataFrame(rows, S.IMAGES_SCHEMA)
    out = M.decode_stats(df).collect()
    assert len(out) == 1 and out[0]["decode_ok"] is False


# ---------------------------------------------------------------------------
# politeness: two-phase top-k == one window per host (hot-host skew guard)
# ---------------------------------------------------------------------------

def _skewed_frontier(spark, n=60_000, seed=0):
    # 95% of rows on one hot host, the rest across 50 cold hosts
    return spark.range(n).select(
        F.when(F.col("id") % 20 < 19, F.lit("hot.test"))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 50).cast("string"),
                            F.lit(".test"))).alias("host"),
        F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"),
        F.xxhash64(F.col("id"), F.lit(seed)).alias("url_hash"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(3))
        .alias("priority"),
    )


def _assert_matches_host_window(df, out, budgets, default):
    """``out`` (politeness_schedule over ``df``) against the plain
    reference: one ``row_number()`` window per host, rank <= the host's
    budget (``budgets`` dict, else ``default``)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy("priority", "url_hash")
    ref = df.withColumn("rank", F.row_number().over(w)).select(
        "host", "url_hash", "rank").collect()
    want_sched = sorted((r["host"], r["url_hash"], r["rank"]) for r in ref
                        if r["rank"] <= budgets.get(r["host"], default))
    want_def = sorted((r["host"], r["url_hash"]) for r in ref
                      if r["rank"] > budgets.get(r["host"], default))
    got = out.select("host", "url_hash", "sched_rank", "scheduled").collect()
    assert sorted((r["host"], r["url_hash"], r["sched_rank"])
                  for r in got if r["scheduled"]) == want_sched
    assert sorted((r["host"], r["url_hash"])
                  for r in got if not r["scheduled"]) == want_def
    assert all(r["sched_rank"] is None for r in got if not r["scheduled"])


def test_politeness_schedule_matches_host_window(spark):
    """Scheduled set, its ranks and the deferred set equal the single
    per-host window's, over two hash seeds and an unlimited budget."""
    from httpz_spark.operators.politeness import politeness_schedule

    for seed, budget in ((0, 7), (1, 7), (0, 10**9)):
        df = _skewed_frontier(spark, seed=seed)
        out = politeness_schedule(df, None, default_budget=budget)
        _assert_matches_host_window(df, out, {}, budget)


def test_politeness_schedule_matches_host_window_with_budgets(spark):
    """Robots budgets (one of 10^9), a robots Disallow and AIMD host
    budgets compose as least(robots or default, adaptive), and the
    schedule still equals the single per-host window's.  ``held`` rows
    (some of them Disallowed) pass through unranked and unscheduled, and
    the other rows schedule as if the held ones were absent."""
    from httpz_spark.operators.politeness import politeness_schedule

    robots = spark.createDataFrame(
        [("hot.test", 3, ["/p/1"]), ("h7.test", 1, []),
         ("h9.test", 10**9, [])],
        "host string, per_wave_budget int, disallow array<string>",
    )
    hb = spark.createDataFrame(
        [("hot.test", 2), ("h3.test", 1), ("h9.test", 2)],
        "host string, budget int")
    for seed in (0, 1):
        df = _skewed_frontier(spark, n=20_000, seed=seed)
        allowed = df.filter(~((F.col("host") == "hot.test")
                              & F.col("path").startswith("/p/1")))
        out = politeness_schedule(df, robots, default_budget=5)
        _assert_matches_host_window(
            allowed, out, {"hot.test": 3, "h7.test": 1, "h9.test": 10**9}, 5)
        budgets = {"hot.test": 2, "h7.test": 1, "h3.test": 1, "h9.test": 2}
        out = politeness_schedule(df, robots, default_budget=5,
                                  host_budgets=hb)
        _assert_matches_host_window(allowed, out, budgets, 5)
        # a held predicate that holds nothing schedules as held=None does
        key = ("host", "url_hash", "scheduled", "sched_rank")
        none = politeness_schedule(df, robots, default_budget=5,
                                   host_budgets=hb, held=F.lit(False))
        assert (sorted(none.select(*key).collect(), key=str)
                == sorted(out.select(*key).collect(), key=str))
        # every 3rd url_hash is held: covers Disallowed /p/1 rows on hot.test
        held = F.pmod(F.col("url_hash"), F.lit(3)) == 0
        assert df.filter(held & (F.col("host") == "hot.test")
                         & F.col("path").startswith("/p/1")).count() > 0
        out = politeness_schedule(df, robots, default_budget=5,
                                  host_budgets=hb, held=held)
        got = out.filter(held).select("host", "url_hash", "scheduled",
                                      "sched_rank").collect()
        assert sorted((r["host"], r["url_hash"]) for r in got) == sorted(
            (r["host"], r["url_hash"])
            for r in df.filter(held).select("host", "url_hash").collect())
        assert not any(r["scheduled"] or r["sched_rank"] is not None
                       for r in got)
        _assert_matches_host_window(
            allowed.filter(~held), out.filter(~held), budgets, 5)


def test_ngram_df_cap_hot_shingle(spark):
    """A stop-phrase trigram shared by 1k docs must not quadratically blow
    up candidate generation; final pairs (post-threshold) are unchanged
    because the cap only prunes candidates whose every shared shingle is
    hot — and those can't reach a meaningful jaccard."""
    rows = [
        (i, f"the common phrase unique{i} token{i} series{i} data{i} item{i}")
        for i in range(1000)
    ]
    rows.append((2000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((2001, "alpha beta gamma delta epsilon zeta eta iota"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {(r["a"], r["b"], round(r["jaccard"], 6))
              for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_df=100).collect()}
    assert (2000, 2001, round(5 / 7, 6)) in capped
    # no hot-doc pair survives: their only shared shingle is the hot one
    assert all(not (a < 1000 and b < 1000) for a, b, _ in capped)

    # exhaustive (uncapped) result agrees after thresholding
    full = {(r["a"], r["b"], round(r["jaccard"], 6))
            for r in D.ngram_jaccard_pairs(docs, threshold=0.3, max_df=None).collect()}
    assert capped == full


def test_ngram_jaccard_counts_hot_shingles_exactly(spark):
    """A pair whose only rare shared shingle is one trigram still gets the
    exact set Jaccard over ALL its shingles: the hot ones (df > max_df)
    are excluded from candidate generation, never from the verify."""
    hot = "hot one two three four"
    rows = [(i, f"{hot} filler{i} x{i} y{i}") for i in range(5)]
    rows += [(100, f"{hot} q1 rare alpha beta"),
             (101, f"{hot} q2 rare alpha beta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sa, sb = grams(rows[-2][1]), grams(rows[-1][1])
    assert len(sa & sb) == 4  # three hot trigrams + "rare alpha beta"
    want = len(sa & sb) / len(sa | sb)
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(docs, threshold=0.0, max_df=3).collect()}
    # filler pairs share only hot shingles: never candidates under the cap
    assert got == {(100, 101): want}


def test_ivf_ann_topk(spark, emb):
    import numpy as np

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_ann_topk(emb, queries, k=3, n_centroids=16, nprobe=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(6))
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for qid, neigh in by_q.items():
        assert [r["rank"] for r in sorted(neigh, key=lambda r: r["rank"])] == [1, 2, 3]
        # rank-1 must be the query itself (it's in the corpus, cos=1, and
        # its own cell is always probed)
        assert neigh[0]["neighbor_id"] == qid or any(
            r["neighbor_id"] == qid for r in neigh
        )
        # cosine values match numpy within float tolerance
        q = rows[qid]
        for r in neigh:
            v = rows[r["neighbor_id"]]
            want = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            assert abs(r["cos_sim"] - want) < 1e-9


def test_ivf_numpy_path_equals_literal_path(spark, emb, monkeypatch):
    """Above IVF_LITERAL_MAX_CENTROIDS the centroid assignment/probing
    switches from plan literals to an Arrow-batched numpy matmul; both
    physical strategies must produce the SAME logical result (same tie
    rules: first-max assignment, (-cos, cell) probe order)."""
    import httpz_spark.operators.similarity as S2

    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = S2._centroid_arrays(emb, "vec_id", "embedding", 80)
    assert len(centroids) == 80  # > threshold -> numpy path
    numpy_out = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in SIM.ivf_ann_topk(emb, queries, k=3, nprobe=4,
                                  centroids=centroids).collect()
    )
    numpy_cells = {
        r["vec_id"]: r["cell"]
        for r in S2.ivf_assign(emb, centroids).select("vec_id", "cell").collect()
    }
    monkeypatch.setattr(S2, "IVF_LITERAL_MAX_CENTROIDS", 10_000)
    literal_out = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in SIM.ivf_ann_topk(emb, queries, k=3, nprobe=4,
                                  centroids=centroids).collect()
    )
    literal_cells = {
        r["vec_id"]: r["cell"]
        for r in S2.ivf_assign(emb, centroids).select("vec_id", "cell").collect()
    }
    assert numpy_cells == literal_cells
    assert numpy_out == literal_out


def test_connected_components(spark):
    """Chain graph (diameter > cluster-clique case), disjoint components,
    and a random-graph cross-check against a pure-python union-find."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], "a long, b long"
    )
    got = {r["id"]: r["canonical"] for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    import random

    rng = random.Random(7)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(80)})
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {v for e in edges for v in e}
    want = {n: find(n) for n in nodes}
    pdf = spark.createDataFrame(edges, "a long, b long")
    got = {r["id"]: r["canonical"] for r in D.dedup_clusters(pdf).collect()}
    assert got == want


def _unionfind_components(edges):
    """Oracle: min-root union-find over the edge list -> {node: min-of-component}."""
    nodes = sorted({v for e in edges for v in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_star_matches_minlabel_and_oracle(spark):
    """large-star/small-star vs min-label vs union-find on adversarial
    shapes: chain, star, two cliques + bridge, random.  Also the log-round
    bound: a 1,000-node chain (diameter 999 — min-label territory it can't
    reach in 25 rounds) must converge in O(log n) star rounds."""
    import random

    shapes = {
        "chain30": [(i, i + 1) for i in range(30)],
        "star": [(50, i) for i in range(51, 70)],
        "two_cliques_bridge": (
            [(a, b) for a in range(5) for b in range(a + 1, 5)]
            + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
            + [(4, 100)]
        ),
        "self_pairs_only": [(7, 7), (9, 9)],
        "random": [
            (a, b)
            for a, b in sorted({(random.Random(11).randrange(80),
                                 random.Random(13).randrange(80))})
        ],
    }
    rng = random.Random(23)
    shapes["random"] = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    for name, edges in shapes.items():
        pdf = spark.createDataFrame(edges, "a long, b long")
        want = _unionfind_components(edges)
        star = {r["id"]: r["comp"]
                for r in D.connected_components_star(pdf).collect()}
        assert star == want, name
        if name != "chain30":  # min-label needs diameter rounds; cap at 25
            minl = {r["id"]: r["comp"]
                    for r in D.connected_components(pdf).collect()}
            assert minl == want, name

    # 1,000-node chain: star rounds must be logarithmic, not O(diameter)
    chain = [(i, i + 1) for i in range(999)]
    pdf = spark.createDataFrame(chain, "a long, b long")
    stats = {}
    got = {r["id"]: r["comp"]
           for r in D.connected_components_star(pdf, stats=stats).collect()}
    assert got == {i: 0 for i in range(1000)}
    import math

    assert stats["rounds"] <= 2 * math.ceil(math.log2(1000)) + 4, stats


def test_dedup_clusters_star_algorithm_identical(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], "a long, b long"
    )
    minl = {r["id"]: r["canonical"]
            for r in D.dedup_clusters(pairs, algorithm="minlabel").collect()}
    star = {r["id"]: r["canonical"]
            for r in D.dedup_clusters(pairs, algorithm="star").collect()}
    auto = {r["id"]: r["canonical"] for r in D.dedup_clusters(pairs).collect()}
    assert minl == star == auto == {1: 1, 2: 1, 3: 1, 4: 1,
                                    10: 10, 11: 10, 12: 10}


def test_dedup_clusters_rejects_unknown_algorithm(spark):
    """An unknown name must not silently run min-label (another cost
    class than star)."""
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    for bad in ("Star", "min-label", ""):
        with pytest.raises(ValueError, match="algorithm"):
            D.dedup_clusters(pairs, algorithm=bad)


def test_dedup_clusters_auto_falls_back_on_long_chains(spark):
    """algorithm='auto': a 200-node chain exceeds min-label's round cap, and
    the star fallback must complete it instead of raising.  Round-4
    verdict fix: the min-label PROBE is budgeted (probe_iter, default 8),
    so the total rounds paid on the adversarial graph are probe + O(log n)
    — never min-label's full 25."""
    import math

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a long, b long"
    )
    stats = {}
    got = {r["id"]: r["canonical"]
           for r in D.dedup_clusters(chain, stats=stats).collect()}
    assert got == {i: 0 for i in range(200)}
    assert stats["algorithm"] == "star"
    assert stats["probe_rounds"] <= 8
    assert stats["rounds"] <= 8 + 2 * math.ceil(math.log2(200)) + 4, stats
    # forcing minlabel on the same graph raises — the failure mode auto removes
    import pytest as _pt

    with _pt.raises(RuntimeError):
        D.dedup_clusters(chain, algorithm="minlabel").collect()
    # easy graphs stay on the cheap min-label path and report their rounds
    easy = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    stats = {}
    got = {r["id"]: r["canonical"]
           for r in D.dedup_clusters(easy, stats=stats).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert stats["algorithm"] == "minlabel" and stats["rounds"] <= 8


def test_dedup_clusters_auto_skips_probe_at_scale(spark):
    """Round-5 verdict fix: at/above star_threshold edges, auto goes
    STRAIGHT to star — zero min-label probe rounds wasted on a graph big
    enough that each wasted round is a full extra shuffle.  Output is
    unchanged vs both forced paths."""
    import math

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a long, b long"
    )
    stats = {}
    got = {r["id"]: r["canonical"]
           for r in D.dedup_clusters(chain, star_threshold=100,
                                     stats=stats).collect()}
    assert got == {i: 0 for i in range(200)}
    assert stats["algorithm"] == "star"
    assert stats["probe_rounds"] == 0  # zero wasted probe rounds
    assert stats["n_edges"] == 199
    assert stats["rounds"] <= 2 * math.ceil(math.log2(200)) + 4, stats
    # below the threshold the probe path is untouched
    stats = {}
    D.dedup_clusters(chain, star_threshold=10_000, stats=stats).collect()
    assert stats["algorithm"] == "star" and stats["probe_rounds"] > 0


def test_minlabel_releases_superseded_label_checkpoints(spark):
    """ADVICE-r04 class fix on BOTH CC variants: a k-round fixpoint run
    must not hold k label/edge snapshots in executor storage.  After a
    converged run, at most the returned frame's own checkpoint (plus the
    final round's input) may remain."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    before = _persistent_rdd_ids(spark)
    D.connected_components(chain).collect()  # ~12 rounds
    new_minl = _persistent_rdd_ids(spark) - before
    assert len(new_minl) <= 2, f"min-label leaked: {sorted(new_minl)}"
    before = _persistent_rdd_ids(spark)
    D.connected_components_star(chain).collect()
    new_star = _persistent_rdd_ids(spark) - before
    # nodes + final edge frame (+ their union stage) may remain; superseded
    # per-round edge frames must not
    assert len(new_star) <= 3, f"star leaked: {sorted(new_star)}"


def test_pq_encode_shapes_and_determinism(spark, emb):
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    codes = {r["vec_id"]: list(r["codes"])
             for r in SIM.pq_encode(emb.limit(100), cb).collect()}
    assert len(codes) == 100
    for c in codes.values():
        assert len(c) == 8 and all(0 <= x < 16 for x in c)
    codes2 = {r["vec_id"]: list(r["codes"])
              for r in SIM.pq_encode(emb.limit(100), cb).collect()}
    assert codes == codes2


def test_pq_dim_not_divisible_by_m_fails_loudly(spark, emb):
    """ADVICE r04: d % m != 0 used to silently drop the trailing dims from
    codes AND query LUTs, skewing approx_cos.  Now every PQ entry point
    raises."""
    import pytest as _pt

    with _pt.raises(ValueError, match="not divisible"):
        SIM.pq_codebooks_fixed(emb, m=7, kc=16)  # dim 64, 64 % 7 != 0
    with _pt.raises(ValueError, match="not divisible"):
        SIM.train_pq_codebooks(emb, m=7, kc=16)
    # mismatched VECTORS against well-formed codebooks also fail loudly
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    import numpy as _np

    with _pt.raises(ValueError, match="!= m\\*sub"):
        SIM._pq_encode_rows(_np.zeros((2, 65)), cb)


def test_pq_ann_recall_vs_exact(spark, emb):
    """ADC over PQ codes must recover a solid fraction of the exact top-k
    at the standard 8-bit-per-subspace geometry (kc=256 — FAISS's PQ
    default; tiny codebooks like kc=16 are 4-bit PQ and legitimately trade
    much more recall, measured ~0.4 here)."""
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in SIM.cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    def recall(**kw):
        pq = {}
        for r in SIM.pq_ann_topk(emb, queries, k=5, m=8, **kw).collect():
            pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & pq[q]) for q in exact)
        total = sum(len(exact[q]) for q in exact)
        # the self-match (query is in the corpus, cos=1) must always
        # survive quantization into the returned neighborhood
        for q in exact:
            assert q in pq[q], q
        return hits / total

    assert recall(kc=256) >= 0.55
    # TRAINED codebooks (driver-numpy per-subspace k-means) must beat the
    # fixed quantizer at the same geometry (measured 0.70 vs 0.60 on this
    # deterministic corpus/seed)
    assert recall(kc=256, train=True) >= 0.65


def test_ivfpq_composition(spark, emb):
    """FAISS-IVFPQ shape: coarse pruning + ADC scoring compose — k ranked
    rows per query, self-hit always survives (a query's own cell is its
    top probe and its own code reconstruction dominates), and recall at
    the 8-bit geometry stays a solid fraction of exact."""
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in SIM.cosine_topk(emb, queries, k=3).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    ranks = {}
    for r in SIM.ivfpq_ann_topk(emb, queries, k=3, n_centroids=16,
                                nprobe=4, m=8, kc=256).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    assert set(got) == set(exact)
    for q in got:
        assert sorted(ranks[q]) == [1, 2, 3]
        assert q in got[q], q  # self-hit
    hits = sum(len(exact[q] & got[q]) for q in exact)
    assert hits / sum(len(v) for v in exact.values()) >= 0.4, hits


def test_pq_trained_codebooks_deterministic_and_better(spark, emb):
    cb1 = SIM.train_pq_codebooks(emb, m=8, kc=16)
    cb2 = SIM.train_pq_codebooks(emb, m=8, kc=16)
    assert cb1 == cb2  # bit-for-bit
    fixed = SIM.pq_codebooks_fixed(emb, m=8, kc=16)

    X = np.asarray(
        [list(r["embedding"]) for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )

    def qerr(cb):
        codes = SIM._pq_encode_rows(X, cb)
        err = 0.0
        sub = len(cb[0][0])
        for mi in range(len(cb)):
            C = np.asarray(cb[mi])
            err += ((X[:, mi * sub:(mi + 1) * sub] - C[codes[:, mi]]) ** 2).sum()
        return err

    assert qerr(cb1) < qerr(fixed)  # training is the point


def test_trained_quantizer_deterministic_and_better(spark, emb):
    """train_centroids: (a) bit-identical across runs (driver-side numpy,
    fixed operand order); (b) lower mean quantization error (1 - cos to
    nearest centroid) than the fixed first-N-ids quantizer — the point of
    training; (c) end-to-end ivf_ann_topk(train=True) yields k ranked
    neighbors per query."""
    c1 = SIM.train_centroids(emb, 8)
    c2 = SIM.train_centroids(emb, 8)
    assert c1 == c2  # determinism, bit-for-bit

    X = np.asarray(
        [list(r["embedding"]) for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def mean_err(cents):
        C = np.asarray(cents, dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return float(np.mean(1.0 - np.max(Xn @ Cn.T, axis=1)))

    fixed = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    assert mean_err(c1) < mean_err(fixed)

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_ann_topk(
        emb, queries, k=3, n_centroids=8, nprobe=3, train=True
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == {0, 1, 2, 3}
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_lsh_multi_probe_recall_dominates(spark, emb):
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    single = recall(SIM.lsh_ann_topk(emb, queries, k=5, planes=4))
    multi = recall(SIM.lsh_ann_topk(emb, queries, k=5, planes=4, multi_probe=True))
    assert multi >= single
    assert multi >= 0.45  # measured 0.55 vs 0.325 single at this corpus


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint; disjoint texts
    (virtually) share none."""
    shared = "the identical plagiarized passage lives right here"
    rows = [
        (1, f"alpha beginning text {shared} and a unique alpha tail"),
        (2, f"totally different opening {shared} with another ending"),
        (3, "no overlap with anything else at all in this one zzz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = docs.select(
        "doc_id", F.explode(TS.winnow_fingerprints(F.col("text"), k=8, window=4)).alias("fp")
    ).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]          # shared passage -> shared fingerprint
    assert not (fps[1] & fps[3])    # disjoint docs -> disjoint prints
    # compression: far fewer fingerprints than k-grams
    n_grams = len(rows[0][1]) - 7
    assert len(fps[1]) < n_grams / 2


def test_winnow_dup_pairs_substring_semantics(spark):
    """Pairs sharing a long verbatim passage are caught even when overall
    shingle-set jaccard is low; disjoint docs produce no pair; the df cap
    drops boilerplate fingerprints from candidates AND counts."""
    passage = ("the exact copied paragraph that appears verbatim in two "
               "otherwise completely different documents end")
    rows = [
        (1, f"unique alpha opening text here {passage} and an alpha ending"),
        (2, f"beta prose with other words {passage} plus a beta closing"),
        (3, "entirely unrelated gamma text with nothing shared at all zzz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): r["n_common"]
           for r in D.winnow_dup_pairs(docs, min_common=5, max_df=None).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 5
    assert all(p == (1, 2) for p in got)

    # boilerplate present in EVERY doc is ignored under the df cap
    boiler = "standard legal footer text repeated on every single page here"
    rows2 = [(i, f"doc {i} body {'x%d y%d z%d ' % (i, i, i) * 5} {boiler}")
             for i in range(1, 7)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    uncapped = {(r["a"], r["b"]) for r in
                D.winnow_dup_pairs(docs2, min_common=3, max_df=None).collect()}
    capped = {(r["a"], r["b"]) for r in
              D.winnow_dup_pairs(docs2, min_common=3, max_df=3).collect()}
    assert uncapped and not capped  # only the shared footer linked them


def test_winnow_fingerprints_bounded_on_large_docs(spark):
    """max_chars caps the per-row working set: a 1 MiB document produces at
    most ~max_chars fingerprints (prefix semantics), identical to
    fingerprinting the explicit prefix; and the default cap is a no-op for
    engine-sized (≤1 KiB) texts."""
    import random

    rng = random.Random(7)
    big = " ".join(
        "".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 9)))
        for _ in range(200_000)
    )  # ~1.2 MiB
    assert len(big) > 1_000_000
    docs = spark.createDataFrame([(1, big)], "doc_id long, text string")
    capped = docs.select(
        F.size(TS.winnow_fingerprints(F.col("text"), max_chars=4096)).alias("n"),
        TS.winnow_fingerprints(F.col("text"), max_chars=4096).alias("fps"),
        TS.winnow_fingerprints(F.substring(F.col("text"), 1, 4096)).alias("prefix_fps"),
    ).collect()[0]
    assert 0 < capped["n"] <= 4096
    assert capped["fps"] == capped["prefix_fps"]

    small = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 10)],
        "doc_id long, text string",
    )
    row = small.select(
        TS.winnow_fingerprints(F.col("text")).alias("d"),
        TS.winnow_fingerprints(F.col("text"), max_chars=None).alias("u"),
    ).collect()[0]
    assert row["d"] == row["u"]


def test_payload_validation_invariant(spark):
    """North-star per-row invariant as a distributed stage: every
    successfully fetched payload validates (PSNR>=40dB, caption in body,
    phash consistent); corrupted bytes and wrong captions are caught."""
    from httpz_spark.config import ScanConfig
    from httpz_spark.operators.multimodal import validate_payloads
    from httpz_spark.plans.scan import scan_plan
    from httpz_spark.sources import synthetic as SYN

    world = FB.FabricConfig(n_images=24, n_hosts=6).with_certs()
    res = scan_plan(
        spark, SYN.seeds_df(spark, SYN.seed_domain_lines(world)),
        SYN.images_df(spark, world, 2), SYN.dns_df(spark, world),
        ScanConfig.all_on(), world, include_payload=True,
    )
    out = validate_payloads(res, world).collect()
    fetched = [r for r in out if r["valid"] is not None]
    assert fetched and all(r["valid"] for r in fetched)
    assert all(r["psnr_db"] >= 40.0 for r in fetched)

    # negative: corrupt the stored bytes and the caption -> flags trip
    bad = res.withColumn("bytes", F.lit(b"\x00garbage").cast("binary")) \
             .withColumn("caption", F.lit("not the real caption"))
    bad_out = [r for r in validate_payloads(bad, world).collect()
               if r["valid"] is not None]
    assert bad_out and all(not r["valid"] for r in bad_out)
    assert all(r["decode_ok"] is False for r in bad_out)
    assert all(r["caption_ok"] is False for r in bad_out)


def test_decode_poison_corrupt_png_sig(spark):
    """Bytes that START with a valid PNG signature but are corrupt must not
    kill the task either (zlib/struct errors contained, not just the
    real-codec NotImplementedError stub path)."""
    rows = [("corrupt", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16),
             8, 8, "png", "c", 0)]
    df = spark.createDataFrame(rows, S.IMAGES_SCHEMA)
    out = M.decode_stats(df).collect()
    assert len(out) == 1 and out[0]["decode_ok"] is False
    assert M.resize_thumbnails(df).count() == 0  # skipped, no crash


def test_substr_dedup_composition_catches_substring_only_dups(spark):
    """The training_shard_substr composition (Lee et al. ACL'22 shape):
    two documents sharing a long VERBATIM passage but differing elsewhere
    are invisible to whole-document ngram jaccard (overlap ratio below
    threshold) yet must cluster via the winnow substring pairs — so the
    unioned pair graph drops one of them while the ngram-only graph keeps
    both.  (The synthetic documents table's dups are whole-doc, where
    winnow pairs ⊂ ngram pairs — this fixture is the differentiator.)"""
    import random

    rng = random.Random(7)
    # disjoint per-doc filler vocabularies: the only shared character
    # substrings are the verbatim passage (8-char winnow fingerprints
    # would otherwise collide on short common words)
    passage = " ".join(rng.choice([f"p{i}x" for i in range(400)])
                       for _ in range(120))
    filler_a = " ".join(rng.choice([f"aa{i}q" for i in range(400)])
                        for _ in range(900))
    filler_b = " ".join(rng.choice([f"bb{i}z" for i in range(400)])
                        for _ in range(900))
    other = " ".join(rng.choice([f"cc{i}k" for i in range(400)])
                     for _ in range(400))
    docs = spark.createDataFrame(
        [(1, filler_a + " " + passage),
         (2, passage + " " + filler_b),
         (3, other)],
        "doc_id long, text string")
    ngram = D.ngram_jaccard_pairs(docs, threshold=0.2).select("a", "b")
    assert ngram.count() == 0  # whole-doc similarity is below threshold
    wn = D.winnow_dup_pairs(docs, min_common=20).select("a", "b")
    assert {(r["a"], r["b"]) for r in wn.collect()} == {(1, 2)}
    drop = (
        D.dedup_clusters(ngram.unionByName(wn).distinct())
        .filter(F.col("id") != F.col("canonical"))
    )
    assert [r["id"] for r in drop.collect()] == [2]


def test_gopher_quality_signals_handcrafted(spark):
    """Each Gopher rule on a doc built to trip exactly it (the synthetic
    corpus is single-line, so the line/repetition rules are pinned here)."""
    from httpz_spark.operators import textquality as Q

    good = ("the quick brown fox likes to be part of that pack and they "
            "have fun with many other animals running across wide fields "
            "near the old river bank while keeping a steady easy pace "
            "through morning light and afternoon shade every single day "
            "of the long warm summer season out there")
    rows = [
        (1, good),
        (2, "- one\n- two\n- three\n- four"),            # bullet lines
        (3, "first part...\nsecond bit…\nplain line"),   # ellipsis lines
        (4, "same line\nsame line\nsame line\nother"),    # dup lines
        (5, "spam ham " * 40),                            # top-bigram repetition
        (6, ""),                                          # empty
        (7, "word"),                                      # single word
        (8, "1 2 3 4 5 6 7 8 9 10"),                      # no alpha words
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["id"]: r for r in Q.gopher_keep(
        Q.gopher_quality_signals(docs)).collect()}

    g = sig[1]
    assert g["keep"], g
    assert g["n_words"] == 51 and g["stop_word_hits"] >= 2
    assert 3.0 <= g["mean_word_len"] <= 10.0 and g["alpha_word_frac"] == 1.0

    assert sig[2]["bullet_line_frac"] == 1.0 and not sig[2]["keep"]
    assert abs(sig[3]["ellipsis_line_frac"] - 2 / 3) < 1e-6
    assert abs(sig[4]["dup_line_frac"] - 0.5) < 1e-6          # 2 distinct / 4
    d4 = sig[4]
    # chars: 3 dup occurrences of 'same line' (9) + 'other' (5): 1-14/32
    assert abs(d4["dup_line_char_frac"] - (1 - 14 / 32)) < 1e-6

    s5 = sig[5]
    # 'spam ham'/'ham spam' dominate: ~half the chars sit in the top bigram
    assert s5["top_bigram_char_frac"] > 0.4 and not s5["keep"]
    # the wider repetition battery: top 3/4-grams also dominate, and
    # EVERY 5-gram repeats -> dup-5-gram char coverage caps at 1.0
    assert s5["top_3gram_char_frac"] > 0.4
    assert s5["top_4gram_char_frac"] > 0.4
    assert s5["dup_5gram_char_frac"] == 1.0
    # the clean doc has no repeated 5-grams at all
    assert sig[1]["dup_5gram_char_frac"] == 0.0

    # the full dup battery is present by default and consistent
    assert s5["dup_10gram_char_frac"] == 1.0
    assert sig[1]["dup_10gram_char_frac"] == 0.0

    assert sig[6]["n_words"] == 0 and sig[6]["top_bigram_char_frac"] == 0.0
    assert not sig[6]["keep"]
    assert sig[7]["n_words"] == 1 and sig[7]["top_bigram_char_frac"] == 0.0
    assert sig[7]["dup_5gram_char_frac"] == 0.0
    assert sig[8]["alpha_word_frac"] == 0.0 and not sig[8]["keep"]


def test_ngram_signal_frame_matches_python_model(spark):
    """The single-pass battery (one explode, min(struct) top-gram trick)
    equals a brute-force python recompute for every n in 2..10, including
    the lexicographic tie-break and the short-doc zero fallback."""
    from collections import Counter

    from httpz_spark.operators import textquality as Q

    rows = [
        (1, "b a b a c a b a"),                    # heavy bigram ties
        (2, "x y z x y z x y z w"),                # repeated 3-grams
        (3, "one two three four five six"),        # no repeats at all
        (4, "t t t t t t t t t t t t"),            # single token repeated
        (5, "short"),                              # < n for every n
        (6, ""),                                   # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top_ns, dup_ns = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    got = {r["id"]: r for r in
           Q.ngram_signal_frame(docs, top_ns, dup_ns).collect()}

    for did, text in rows:
        ws = " ".join(text.split()).split(" ") if text.strip() else [""]
        norm = " ".join(text.split())
        nch = len(norm)
        for n in top_ns:
            grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)] \
                if len(ws) >= n else []
            if not grams or nch == 0:
                want = 0.0
            else:
                c = Counter(grams)
                top = min(sorted(c), key=lambda g: (-c[g], g))
                want = round(c[top] * len(top) / nch, 6)
            assert abs(got[did][f"top_{n}gram_char_frac"] - want) < 1e-9, \
                (did, n, got[did][f"top_{n}gram_char_frac"], want)
        for n in dup_ns:
            grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)] \
                if len(ws) >= n else []
            c = Counter(grams)
            dupch = sum(v * len(g) for g, v in c.items() if v > 1)
            want = 0.0 if nch == 0 else round(min(1.0, dupch / nch), 6)
            assert abs(got[did][f"dup_{n}gram_char_frac"] - want) < 1e-9, \
                (did, n, got[did][f"dup_{n}gram_char_frac"], want)


def test_gopher_quality_is_native_except_bigram_agg(spark):
    """The per-row signal projection plans zero Python stages, and the
    bigram path is explode + agg + window (no cartesian, no python)."""
    import contextlib
    import io

    from httpz_spark.operators import textquality as Q

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        Q.gopher_keep(Q.gopher_quality_signals(docs)).explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "MapInPandas" not in p, p
    assert "CartesianProduct" not in p, p


def test_hash_near_pairs_pigeonhole_and_phash(spark):
    """The generalized banded hamming join: recall is EXACT within the
    budget for any band count (pigeonhole), verified against brute force
    on adversarial bit patterns; phash_near_pairs recovers perturbed
    image variants."""
    rows = [
        (1, 0),
        (2, 0b111),                      # hamming 3 from id 1
        (3, 1 << 63),                    # sign bit only
        (4, (1 << 63) | 1),              # hamming 1 from id 3
        (5, 0b11 << 31),                 # straddles the 32-bit boundary
        (6, 0b01 << 31),                 # hamming 1 from id 5
        (7, -1),                         # all ones
        (8, -2),                         # hamming 1 from id 7
    ]
    signed = [(i, v - (1 << 64) if v >= (1 << 63) else v) for i, v in rows]
    df = spark.createDataFrame(signed, "id long, h long")
    for max_h, bands in ((1, None), (3, 4), (2, 8)):
        got = {(r["a"], r["b"]): r["hamming"]
               for r in D.hash_near_pairs(df, "h", "id",
                                          max_hamming=max_h,
                                          bands=bands).collect()}
        want = {}
        uns = {i: v & ((1 << 64) - 1) for i, v in signed}
        for i, a in enumerate(rows):
            for b in rows[i + 1:]:
                ham = bin(uns[a[0]] ^ uns[b[0]]).count("1")
                if ham <= max_h:
                    want[(a[0], b[0])] = ham
        assert got == want, (max_h, bands, got, want)

    # phash variants: a 2-bit perturbed copy is always recovered
    imgs = spark.createDataFrame(
        [("imgA", 12345), ("imgA_v", 12345 ^ (1 << 5) ^ (1 << 40)),
         ("imgB", -987654321)],
        "image_id string, phash long")
    pairs = {(r["a"], r["b"]) for r in D.phash_near_pairs(imgs).collect()}
    assert ("imgA", "imgA_v") in pairs and len(pairs) == 1


def test_pq_index_persist_reopen_and_incremental_add(spark, emb, tmp_path):
    """Build-once/query-many: a persisted PQ index reopened cold gives
    the same top-k as the direct operator; add() encodes only new rows
    and is idempotent; an updated embedding shadows its old code."""
    from httpz_spark.operators.simindex import PQIndex

    root = str(tmp_path / "pqidx")
    base = emb.filter(F.col("vec_id") < 400)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")

    idx = PQIndex.build(spark, root, base, m=8, kc=16, train=False)
    direct = SIM.pq_ann_topk(base, queries, k=3, m=8, kc=16).collect()
    via_idx = PQIndex.open(spark, root).topk(queries, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted([(r["query_id"], r["neighbor_id"], r["rank"])
                   for r in via_idx]) == \
           sorted([(r["query_id"], r["neighbor_id"], r["rank"])
                   for r in direct])

    # incremental add: new rows join the index without re-encoding base
    extra = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    idx.add(extra)
    assert idx.codes().count() == 450
    idx.add(extra)  # idempotent
    assert idx.codes().count() == 450

    # a query that IS a new row must now find itself at rank 1
    q2 = emb.filter(F.col("vec_id") == 440).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = min(idx.topk(q2, k=3).collect(), key=lambda r: r["rank"])
    assert top["neighbor_id"] == 440

    # upsert semantics: re-adding an id with a DIFFERENT embedding
    # shadows the old code (newest-wins)
    import numpy as _np
    new_vec = [float(x) for x in _np.zeros(64)]
    repl = spark.createDataFrame([(440, new_vec)],
                                 "vec_id long, embedding array<float>")
    idx.add(repl)
    assert idx.codes().count() == 450
    codes_440 = idx.codes().filter(F.col("vec_id") == 440).collect()[0]["codes"]
    zero_codes = SIM._pq_encode_rows(_np.zeros((1, 64)), idx.codebooks)[0]
    assert list(codes_440) == [int(c) for c in zero_codes]


def test_ivfpq_index_persist_reopen_and_add(spark, emb, tmp_path):
    """Persisted IVFPQ index: reopen-cold top-k == direct operator;
    incremental add lands only new rows, newest-wins."""
    from httpz_spark.operators.simindex import IVFPQIndex

    root = str(tmp_path / "ivfpqidx")
    base = emb.filter(F.col("vec_id") < 400)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")

    IVFPQIndex.build(spark, root, base, n_centroids=16, m=8, kc=16)
    direct = SIM.ivfpq_ann_topk(base, queries, k=3, n_centroids=16,
                                nprobe=4, m=8, kc=16).collect()
    idx = IVFPQIndex.open(spark, root)
    via = idx.topk(queries, k=3, nprobe=4).collect()
    assert sorted([(r["query_id"], r["neighbor_id"], r["rank"])
                   for r in via]) == \
           sorted([(r["query_id"], r["neighbor_id"], r["rank"])
                   for r in direct])

    extra = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 440))
    idx.add(extra)
    assert idx.rows().count() == 440
    idx.add(extra)
    assert idx.rows().count() == 440
    q2 = emb.filter(F.col("vec_id") == 420).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = min(idx.topk(q2, k=3, nprobe=4).collect(), key=lambda r: r["rank"])
    assert top["neighbor_id"] == 420  # its own cell is its top probe


def test_hash_near_pairs_rejects_bad_band_counts(spark):
    """bands below the pigeonhole bound (or above 64) would silently lose
    recall; the operator fails loudly instead (ADVICE r5)."""
    import pytest

    df = spark.createDataFrame([(1, 0), (2, 1)], "id long, h long")
    for max_h, bands in ((3, 3), (3, 2), (1, 65), (2, 0)):
        with pytest.raises(ValueError, match="bands"):
            D.hash_near_pairs(df, "h", "id", max_hamming=max_h, bands=bands)
    # boundary values are fine
    assert D.hash_near_pairs(df, "h", "id", max_hamming=1,
                             bands=2).count() == 1
    assert D.hash_near_pairs(df, "h", "id", max_hamming=1,
                             bands=64).count() == 1
