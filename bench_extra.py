#!/usr/bin/env python3
"""Component-isolation benchmarks for the optimization round (guide §1.4).

NOT the driver's gate — ``bench.py`` is frozen for measurement.  This file
reproduces the expensive bench workloads stage by stage with noop sinks so
optimization work targets the operator that actually burns the time.  Each
probe prints one line: ``<probe> <sec> load=[l0, l1]``.

Usage: python bench_extra.py <probe> [probe ...]
Probes: detrap.* adc.* ishard.* crawl.* gram.* warc.*  (see PROBES)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
DEDUP_ROWS = int(os.environ.get("BENCH_DEDUP_ROWS", "4000000"))
IMAGE_ROWS = int(os.environ.get("BENCH_IMAGE_ROWS", "1000000"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, name, fn):
    l0 = round(os.getloadavg()[0], 2)
    spark.sparkContext.setJobDescription(name)
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"{name} {dt:.3f}s load=[{l0}, {round(os.getloadavg()[0], 2)}]",
          flush=True)
    return out


def detrap_frontier(spark):
    from pyspark.sql import functions as F

    P = max(CPUS, 16)
    k = F.col("id")
    host = F.concat(F.lit("h"), (k % 100).cast("string"), F.lit(".test"))
    base = F.concat(F.lit("https://"), host)
    url = (
        F.when(k % 10 == 0, F.concat(
            base, F.lit("/cal/2026-"), (1 + k % 12).cast("string"),
            F.lit("-"), (1 + k % 28).cast("string"), F.lit("/ev"),
            k.cast("string")))
        .when(k % 10 == 1, F.concat(base, F.lit("/s/"), F.md5(k.cast("string"))))
        .otherwise(F.concat(base, F.lit("/li/img"), (k % 800).cast("string")))
    )
    f = spark.range(0, DEDUP_ROWS, 1, P).select(
        host.alias("host"), url.alias("url")).persist()
    f.count()
    return f


def probe_detrap(spark, which):
    from pyspark.sql import functions as F

    from httpz_spark.operators.traps import frontier_detrap, url_path_template

    f = detrap_frontier(spark)
    if which in ("tpl", "all"):
        t = f.withColumn("template", url_path_template(F.col("url")))
        _timed(spark, "detrap.tpl_only", lambda: _noop(t))
    if which in ("distinct", "all"):
        t = f.withColumn("template", url_path_template(F.col("url")))
        d = t.select("host", "template", F.col("url").alias("_u")).distinct()
        _timed(spark, "detrap.distinct", lambda: _noop(d))
    if which in ("full", "all"):
        _timed(spark, "detrap.full",
               lambda: frontier_detrap(f, max_urls=2000, keep=64).count())
    f.unpersist()


def probe_adc(spark, which):
    from pyspark.sql import functions as F

    from httpz_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = SIM.train_pq_codebooks(emb, m=8, kc=256)
    codes = SIM.pq_encode(emb, cb).persist()
    codes.count()
    print("codes partitions:", codes.rdd.getNumPartitions())
    n = emb.count()
    reps = (10_000 + n - 1) // n
    q = (
        emb.select("vec_id", "embedding")
        .crossJoin(spark.range(reps).select(F.col("id").alias("_r")))
        .select((F.col("vec_id") + F.col("_r") * n).alias("query_id"),
                "embedding")
        .filter(F.col("query_id") < 10_000)
        .persist()
    )
    q.count()
    if which in ("full", "all"):
        _timed(spark, "adc.full",
               lambda: _noop(SIM.pq_adc_topk(codes, cb, q, k=3)))
    if which in ("parts", "all"):
        # attribute the full-path seconds: query collect, the bounded
        # codes collect, and the query-axis score stage alone
        holder = {}
        m = len(cb)
        rows = SIM.ADC_REPLICATION_BUDGET // (8 + 4 * m)

        def _qc():
            holder["qids"], holder["Qm"] = SIM._collect_queries(
                q, "query_id", "embedding", m * len(cb[0][0]))

        def _cc():
            cpdf = codes.select("vec_id", "codes").limit(rows + 1).toPandas()
            holder["ids"] = cpdf["vec_id"].to_numpy(dtype="int64")
            holder["C"] = SIM._codes_matrix(cpdf["codes"], m)

        def _score():
            _noop(SIM._adc_query_axis(
                spark, cb, SIM._adc_normsq(cb), holder["qids"], holder["Qm"],
                holder["ids"], holder["C"], 3))

        _timed(spark, "adc.collect_queries", _qc)
        _timed(spark, "adc.codes_topandas", _cc)
        _timed(spark, "adc.qdist_score", _score)
        _timed(spark, "adc.qdist_score2", _score)
    codes.unpersist()
    q.unpersist()


def ishard_images(spark):
    from pyspark.sql import functions as F

    n, P = IMAGE_ROWS, max(CPUS, 16)
    k = F.col("id")
    cap_key = (k - (k % 20 == 19).cast("long")).cast("string")
    ph_src = (k - (k % 16 == 1).cast("long")).cast("string")
    base_ph = F.xxhash64(F.concat(F.lit("ph:"), ph_src))
    bit = F.array(*[F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
                    for i in range(64)])
    b1 = F.pmod(F.xxhash64(F.concat(F.lit("f1:"), k.cast("string"))), F.lit(64))
    b2 = F.pmod(F.xxhash64(F.concat(F.lit("f2:"), k.cast("string"))), F.lit(64))
    mask = F.element_at(bit, (b1 + 1).cast("int")).bitwiseXOR(
        F.element_at(bit, (b2 + 1).cast("int")))
    imgs = spark.range(0, n, 1, P).select(
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        F.concat(F.lit("caption text "), cap_key).alias("caption"),
        F.when(k % 16 == 1, base_ph.bitwiseXOR(mask))
         .otherwise(base_ph).alias("phash"),
    ).persist()
    imgs.count()
    return imgs


def probe_ishard(spark, which):
    from httpz_spark.operators.dedup import dedup_clusters, phash_near_pairs
    from httpz_spark.operators.imageshard import (
        caption_dup_edges,
        image_training_shard,
    )

    imgs = ishard_images(spark)
    if which in ("cap", "all"):
        _timed(spark, "ishard.caption_edges",
               lambda: _noop(caption_dup_edges(imgs)))
    if which in ("phash", "all"):
        _timed(spark, "ishard.phash_pairs",
               lambda: _noop(phash_near_pairs(imgs, "phash", "image_id",
                                              max_hamming=2)))
    if which in ("cc", "all"):
        edges = caption_dup_edges(imgs).unionByName(
            phash_near_pairs(imgs, "phash", "image_id",
                             max_hamming=2).select("a", "b"))
        _timed(spark, "ishard.cc", lambda: _noop(dedup_clusters(edges)))
    if which in ("full", "all"):
        _timed(spark, "ishard.full",
               lambda: image_training_shard(imgs).count())
    imgs.unpersist()


def probe_gram(spark, which):
    """The text gram-explode family at SF_DIR scale: dsir / gopher / c4."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E

    qs = E.queries()
    for name in ("dsir_weights", "gopher_quality", "c4_clean",
                 "minhash_lsh_dups", "ngram_jaccard_dups", "exactsubstr",
                 "training_shard", "training_shard_curated"):
        if which not in ("all", name):
            continue
        _timed(spark, f"gram.{name}",
               lambda name=name: _noop(qs[name](spark, SF_DIR)))


def probe_warc(spark, which):
    import bench as B

    out = _timed(spark, "warc.workload", lambda: B.warc_workload(spark))
    print("  detail:", out)


def probe_crawl(spark, which):
    import bench as B

    out = _timed(spark, "crawl.workload",
                 lambda: B.crawl_workload(spark, CPUS))
    print("  detail:", {k: round(v, 3) if isinstance(v, float) else v
                        for k, v in out.items()})


PROBES = {
    "detrap": probe_detrap,
    "adc": probe_adc,
    "ishard": probe_ishard,
    "gram": probe_gram,
    "warc": probe_warc,
    "crawl": probe_crawl,
}


def main():
    import bench as B

    spark = B.build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    for arg in sys.argv[1:]:
        fam, _, which = arg.partition(".")
        PROBES[fam](spark, which or "all")
    spark.stop()


if __name__ == "__main__":
    main()
