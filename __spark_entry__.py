"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every operator kernel from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable over the driver's TPC-H-ish tables;
`oracle_sql()` gives the DuckDB-equivalent ANSI SQL (same column names —
the driver compares row-count + schema + order-insensitive value hash).
Crawl-engine queries that exercise the synthetic web fabric are rows-only
(no SQL equivalent).  Kernel -> query mapping follows FIXTURES.md §6.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# the engine package lives next to this file; make both the driver import
# and the executor unpickling independent of the harness's cwd
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the httpz_spark package to executor python workers (idempotent)
    — the harness may run from any cwd."""
    try:
        from httpz_spark.session import package_zip

        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added, or workers can import it anyway


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a full single-wave crawl (parse -> CNAME -> dedup-ready
    frontier -> politeness-shaped fetch -> enrichment) over a synthetic web
    sized from the sf0.001 documents table."""
    from httpz_spark.config import ScanConfig
    from httpz_spark.plans.scan import scan_plan
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    _ensure_shipped(spark)
    sf_dir = "/root/testdata/sf0.001"
    n_docs = _t(spark, sf_dir, "documents").count()
    world = FB.FabricConfig(n_images=min(64, max(16, n_docs // 8)), n_hosts=16).with_certs()
    seeds = S.seeds_df(spark, S.seed_domain_lines(world))
    images = S.images_df(spark, world, partitions=4)
    dns = S.dns_df(spark, world)
    res = scan_plan(spark, seeds, images, dns, ScanConfig.all_on(), world,
                    include_payload=False)
    return res.select(
        "domain", "url", "status", "protocol", "content_type", "title",
        "body_preview", "favicon_hash", "ips", "cname_chain", "error_type",
        "url_hash",
    ).orderBy("url_hash")


# ---------------------------------------------------------------------------
# contract queries (SURVEY §2 kernels over driver tables) + oracles
# ---------------------------------------------------------------------------

# DuckDB-side ASCII whitespace collapse (needs explicit /g flag).  The
# Spark side uses functions.text.normalize_ws_ascii — NOT F.expr: Spark SQL
# string literals interpret backslash escapes differently (\f is not a
# recognized escape and degrades to a literal 'f').
_NORM_DUCK = "trim(regexp_replace(text, '[ \\t\\n\\r\\f]+', ' ', 'g'))"


def _norm_col():
    from httpz_spark.functions.text import normalize_ws_ascii

    return normalize_ws_ascii(F.col("text"))


def q_shard_filter(spark, sf_dir):
    # A2: line-modulo shard on a persisted line identity (orderkey*8+linenumber)
    li = _t(spark, sf_dir, "lineitem")
    line = li["l_orderkey"] * 8 + li["l_linenumber"]
    return li.filter(F.pmod(line, F.lit(7)) == 3).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def q_status_match_filter(spark, sf_dir):
    # A5/A6: match/exclude sets + value range
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").between(10, 500)
        & ~F.col("event_type").isin("error")
    ).select("event_id", "event_type", "value")


def q_ws_normalize(spark, sf_dir):
    # A8 (ASCII class so the oracle regex is bit-identical)
    d = _t(spark, sf_dir, "documents")
    norm = _norm_col()
    return d.select("doc_id", norm.alias("norm_text"),
                    F.length(norm).cast("long").alias("n_norm"))


def q_preview_truncate(spark, sf_dir):
    # A9-A11 truncation caps
    d = _t(spark, sf_dir, "documents")
    norm = _norm_col()
    return d.select("doc_id", F.substring(norm, 1, 120).alias("preview"),
                    F.length(F.substring(norm, 1, 120)).cast("long").alias("preview_len"))


def q_sorted_distinct_agg(spark, sf_dir):
    # A18: sorted(set(...)) per key
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types"),
        F.count_distinct("event_type").alias("n_types"),
    )


def q_politeness_topk(spark, sf_dir):
    # the per-host politeness window on driver data
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_id", "user_id", "value", F.col("rn").cast("long").alias("rn"))
    )


def q_seen_antijoin(spark, sf_dir):
    # frontier-vs-seen dedup shape: orders with no lineitem
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_anti").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )


def q_seen_antijoin_cuckoo(spark, sf_dir):
    # the same dedup semantics as seen_antijoin, through the persisted
    # CUCKOO filter path (per-pid probe prefilter + exact recheck): the
    # exactness invariant — filter output == plain anti-join — is what the
    # shared oracle pins
    import shutil
    import tempfile

    from httpz_spark.operators.frontier_dedup import CuckooIndex, dedup_unseen

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    root = tempfile.mkdtemp(prefix="httpz_entryq_ck_")
    out_dir = tempfile.mkdtemp(prefix="httpz_entryq_ckout_")
    try:
        seen = li.select(F.col("l_orderkey").alias("o_orderkey")).distinct()
        idx = CuckooIndex.open_or_create(root, partitions=8,
                                         capacity_per_part=400_000)
        idx.update(seen, key_col="o_orderkey")
        res = dedup_unseen(o, seen, key_col="o_orderkey", bloom=idx).select(
            "o_orderkey", F.round("o_totalprice", 2).alias("total")
        )
        # stage: the probe lazily reads the index files we delete below
        res.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir).orderBy("o_orderkey")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_recrawl_invalidate(spark, sf_dir):
    # recrawl invalidation end-to-end: seen state = StateStore table +
    # cuckoo index; deleting the stale keys from BOTH (tombstone MERGE
    # DELETE + O(stale) filter delete) re-admits exactly those keys at the
    # next wave's dedup gate
    import shutil
    import tempfile

    from httpz_spark.operators.frontier_dedup import CuckooIndex, dedup_unseen
    from httpz_spark.plans.statestore import StateStore

    o = _t(spark, sf_dir, "orders")
    state = tempfile.mkdtemp(prefix="httpz_entryq_inv_")
    out_dir = tempfile.mkdtemp(prefix="httpz_entryq_invout_")
    try:
        keys = o.select(F.col("o_orderkey").alias("url_hash"), "o_orderstatus")
        st = StateStore(spark, state, compact_every=4)
        st.merge_upsert("seen", keys, key="url_hash")
        idx = CuckooIndex.open_or_create(
            os.path.join(state, "cuckoo"), partitions=8,
            capacity_per_part=400_000,
        )
        idx.update(keys)
        stale = keys.filter(F.col("o_orderstatus") == "F").select("url_hash")
        st.merge_delete("seen", stale, key="url_hash")
        idx.delete(stale)
        readmitted = dedup_unseen(
            keys, st.read("seen").select("url_hash"), bloom=idx
        )
        readmitted.select("url_hash", "o_orderstatus").write.mode(
            "overwrite"
        ).parquet(out_dir)
        return spark.read.parquet(out_dir).orderBy("url_hash")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q_url_quality(spark, sf_dir):
    # RefinedWeb-style URL filtering (curation.url_quality_signals) over a
    # URL corpus derived deterministically from documents so every rule
    # fires: blocklisted hosts (doc_id%40 in 0..3), IP-literal hosts
    # (%23), soft word scores incl. the fractional co-occurrence rule
    # (%29 tracker+popup = 1.0, %11 casino, %13 tracker alone = 0.5
    # passes), over-length URLs (%17) and digit-heavy session-id URLs
    # (%19); the oracle re-derives URLs and signals in ANSI SQL
    from httpz_spark.operators.curation import url_quality_signals

    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    first_word = F.split(F.col("text"), " ").getItem(0)
    host = F.when(
        doc % 23 == 0, F.concat(F.lit("10.0.0."), (doc % 200).cast("string"))
    ).otherwise(F.concat(F.lit("h"), (doc % 40).cast("string"), F.lit(".example")))
    word = (
        F.when(doc % 29 == 0, F.lit("tracker&u=popup"))
        .when(doc % 11 == 0, F.lit("casino"))
        .when(doc % 13 == 0, F.lit("tracker"))
        .otherwise(F.lit("page"))
    )
    tail = (
        F.when(doc % 17 == 0, F.concat(F.lit("&pad="), F.repeat(F.lit("z"), 300)))
        .when(doc % 19 == 0, F.concat(F.lit("&sid="), F.repeat(F.lit("9"), 120)))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/"), first_word, F.lit("/"),
        doc.cast("string"), F.lit("?ref="), word, tail,
    )
    urls = d.select("doc_id", url.alias("url"))
    blocked = spark.createDataFrame(
        [(f"h{i}.example",) for i in range(4)], "host string"
    )
    res = url_quality_signals(urls, blocked_hosts=blocked, max_len=255)
    return res.select(
        "doc_id", "url_host", "url_len", "url_digit_frac", "url_word_score",
        "url_ip_host", "url_blocked", "url_keep",
    ).orderBy("doc_id")


def q_robots_broadcast_join(spark, sf_dir):
    # robots-table shape: two broadcast dim joins + rollup
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count("*").alias("n_cust"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
    )


def q_lineage_agg(spark, sf_dir):
    # lineage/metrics rollup shape
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


def q_hash_partition_dist(spark, sf_dir):
    # O8: partition-routing distribution (multiplicative hash, SQL-portable)
    c = _t(spark, sf_dir, "customer")
    return (
        c.select(((F.col("c_custkey") * 2654435761) % 32).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def q_url_canonicalize(spark, sf_dir):
    # north-star canonicalizer on synthesized messy URLs
    from httpz_spark.functions.urls import canonicalize_url

    o = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("HTTPS://H"), (F.col("o_orderkey") % 50).cast("string"),
        F.lit(".Example.COM/p/"), F.col("o_orderkey").cast("string"),
        F.lit("?b=2&a=1#frag"),
    )
    return o.select("o_orderkey", canonicalize_url(url).alias("canon"))


def q_domain_parse(spark, sf_dir):
    # A7 reference-exact domain parse on synthesized messy domains
    from httpz_spark.functions.urls import domain_parts

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dom = (
        F.when(k % 4 == 0, F.concat(F.lit("http://Host"), k.cast("string"), F.lit(".COM:8080")))
        .when(k % 4 == 1, F.concat(F.lit("Host"), k.cast("string"), F.lit(".org/")))
        .when(k % 4 == 2, F.concat(F.lit("  host"), k.cast("string"), F.lit(".net:notaport  ")))
        .otherwise(F.concat(F.lit("https://H"), k.cast("string"), F.lit(".io")))
    )
    p = domain_parts(dom)
    return c.select(
        "c_custkey", p.getField("base_domain").alias("host"),
        p.getField("port").alias("port"), p.getField("proto_first").alias("proto_first"),
    )


def _warc_fixture(spark, sf_dir):
    # deterministic capture corpus for the WARC/SURT/CDX queries: urls
    # exercising www-strip, non-default port and query-sort; dates,
    # statuses and mime varied; body = the document text as bytes
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(k % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("h"), (k % 13).cast("string"), F.lit(".example"),
        F.when(k % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/d/"), k.cast("string"),
        F.when(k % 4 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("")),
    )
    date = F.concat(F.lit("2026-01-"),
                    F.lpad((k % 28 + 1).cast("string"), 2, "0"),
                    F.lit("T00:00:00Z"))
    status = (F.when(k % 9 == 0, 404).when(k % 7 == 0, 301)
              .otherwise(200))
    mime = F.when(k % 2 == 0, F.lit("text/html")).otherwise(F.lit("text/plain"))
    return d.select("doc_id", url.alias("url"), date.alias("date"),
                    status.alias("status"), mime.alias("mime"),
                    F.encode(F.col("text"), "UTF-8").alias("body"))


def q_warc_records(spark, sf_dir):
    # ISO 28500 WARC response-record framing (functions/warcx.warc_record)
    # as one native binary expression; the oracle rebuilds the record
    # byte-for-byte in SQL and must md5-match
    from httpz_spark.functions.warcx import warc_record

    d = _warc_fixture(spark, sf_dir)
    rec = warc_record(F.col("url"), F.col("date"), F.col("status"),
                      F.col("mime"), F.col("body"))
    return d.select(
        "doc_id", F.col("url").alias("target_uri"),
        F.octet_length(rec).cast("long").alias("record_len"),
        F.md5(rec).alias("record_md5"))


def q_surt_cdx(spark, sf_dir):
    # SURT keys + CDX byte offsets: surt_key native decomposition and
    # cdx_offsets' per-file window cumsum over real record lengths
    from httpz_spark.functions.warcx import cdx_offsets, surt_key, warc_record

    d = _warc_fixture(spark, sf_dir)
    rec = warc_record(F.col("url"), F.col("date"), F.col("status"),
                      F.col("mime"), F.col("body"))
    frame = d.select(
        "doc_id", "url", surt_key(F.col("url")).alias("surt"),
        F.concat(F.lit("part-0000"),
                 (F.col("doc_id") % 3).cast("string")).alias("warc_file"),
        F.octet_length(rec).cast("long").alias("record_length"))
    return cdx_offsets(frame).select(
        "doc_id", "url", "surt", "warc_file", "offset", "record_length")


def q_wet_records(spark, sf_dir):
    # WET conversion-record framing (functions/warcx.warc_conversion_record
    # — the Common Crawl text-extraction companion): one native binary
    # expression; oracle rebuilds the record byte-for-byte incl. the
    # '#conversion'-salted record id and the unsalted Refers-To
    from httpz_spark.functions.warcx import warc_conversion_record

    d = _warc_fixture(spark, sf_dir)
    rec = warc_conversion_record(
        F.col("url"), F.col("date"), F.decode(F.col("body"), "UTF-8"))
    return d.select(
        "doc_id", F.col("url").alias("target_uri"),
        F.octet_length(rec).cast("long").alias("record_len"),
        F.md5(rec).alias("record_md5"))


def q_wat_records(spark, sf_dir):
    # WAT metadata-record framing (warcx.warc_metadata_record — the
    # Common Crawl JSON-envelope companion): JSON built natively in the
    # same sorted-key/no-whitespace shape wat_from_warc emits (links
    # empty — the fixture bodies are not html), framed as a '#metadata'-
    # salted derived record; oracle replays JSON + framing byte-for-byte
    from httpz_spark.functions.warcx import warc_metadata_record

    d = _warc_fixture(spark, sf_dir)
    meta = F.concat(
        F.lit('{"Content-Length":'),
        F.octet_length(F.col("body")).cast("string"),
        F.lit(',"Content-Type":"'), F.col("mime"),
        F.lit('","Links":[],"Payload-Digest":"md5:'), F.md5(F.col("body")),
        F.lit('","Status":'), F.col("status").cast("string"),
        F.lit(',"URL":"'), F.col("url"), F.lit('"}'))
    rec = warc_metadata_record(F.col("url"), F.col("date"), meta)
    return d.select(
        "doc_id", F.col("url").alias("target_uri"),
        F.octet_length(rec).cast("long").alias("record_len"),
        F.md5(rec).alias("record_md5"))


def q_cdx_lookup(spark, sf_dir):
    # wayback timestamp resolution (warcx.cdx_closest): two captures per
    # doc at months (doc%3+1) and (doc%3+2), resolved at ts=2026-02-20 —
    # docs with both captures before ts pick the SECOND (latest-before),
    # docs with one pick the first, docs with none before pick the
    # earliest-after; all three branches fire.  REAL SQL window oracle.
    from httpz_spark.functions.warcx import cdx_closest

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("cap"))
    month = (F.col("doc_id") % 3 + 1 + F.col("cap")).cast("int")
    frame = d.select(
        "doc_id", "cap",
        F.concat(F.lit("example,h"), (F.col("doc_id") % 11).cast("string"),
                 F.lit(")/r/"), F.col("doc_id").cast("string")).alias("surt"),
        F.concat(F.lit("https://h"), (F.col("doc_id") % 11).cast("string"),
                 F.lit(".example/r/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("2026-"), F.lpad(month.cast("string"), 2, "0"),
                 F.lit("-15T00:00:00Z")).alias("date"))
    return cdx_closest(frame, "2026-02-20T00:00:00Z").select(
        "doc_id", "cap", "surt", "url", "date")


def q_warc_revisit(spark, sf_dir):
    # archive-level recrawl dedup (warcx.mark_revisits + the WARC
    # revisit-record framing): two capture epochs per doc, the body
    # changes at epoch 1 for doc_id%4==0 (stays an original) and repeats
    # otherwise (epoch 1 becomes a header-only revisit referencing epoch
    # 0's record id); the oracle replays BOTH framings byte-for-byte
    from httpz_spark.functions.warcx import (mark_revisits, surt_key,
                                             warc_record_auto)

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"))
    url = F.concat(F.lit("https://h"), (F.col("doc_id") % 11).cast("string"),
                   F.lit(".example/r/"), F.col("doc_id").cast("string"))
    date = F.concat(F.lit("2026-0"), (F.col("epoch") + 1).cast("string"),
                    F.lit("-01T00:00:00Z"))
    body = F.encode(F.concat(
        F.col("text"),
        F.when((F.col("doc_id") % 4 == 0) & (F.col("epoch") == 1),
               F.lit("-v2")).otherwise(F.lit(""))), "UTF-8")
    frame = d.select(
        "doc_id", "epoch", url.alias("url"), date.alias("date"),
        surt_key(url).alias("surt"), F.md5(body).alias("digest"),
        body.alias("body"))
    m = mark_revisits(frame)
    rec = warc_record_auto(
        F.col("url"), F.col("date"), F.lit(200), F.lit("text/plain"),
        F.col("body"), F.col("revisit_of_url"), F.col("revisit_of_date"))
    return m.select(
        "doc_id", "epoch",
        F.col("revisit_of_date").isNotNull().alias("is_revisit"),
        F.octet_length(rec).cast("long").alias("record_len"),
        F.md5(rec).alias("record_md5"))


def q_human_size(spark, sf_dir):
    # A30: utils.py:86-104 human_size over synthesized byte counts spanning
    # all four units + the falsy '0B' branch
    from httpz_spark.functions.text import human_size

    o = _t(spark, sf_dir, "orders")
    size = F.when(F.col("o_orderkey") % 11 == 0, F.lit(0).cast("long")).otherwise(
        (F.col("o_orderkey").cast("long") * 7919) % F.lit(5000000000).cast("long")
    )
    return o.select("o_orderkey", human_size(size).alias("hsize"))


def q_exact_dedup(spark, sf_dir):
    from httpz_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_text_stats(spark, sf_dir):
    # token counting + quality scoring (SQL-replayable formulas)
    from httpz_spark.operators.textstats import (
        bpe_ish_token_count, punct_ratio, quality_score, token_count,
    )

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        bpe_ish_token_count(t).cast("long").alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        quality_score(t).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    from httpz_spark.operators.textstats import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_ngram_jaccard_dups(spark, sf_dir):
    from httpz_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.2).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_clusters(spark, sf_dir):
    """Pairs -> clusters -> canonical doc: connected components over the
    ngram duplicate pairs (iterative min-label propagation with
    localCheckpoint lineage truncation — operators/dedup.py)."""
    from httpz_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return dedup_clusters(ngram_jaccard_pairs(d, threshold=0.2))


def q_training_shard(spark, sf_dir):
    """Capstone pipeline composition — what a training-data build actually
    runs: near-dup pairs -> components -> keep each cluster's canonical
    doc -> quality gate -> (doc_id, n_tokens, quality) shard manifest."""
    from httpz_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from httpz_spark.operators.textstats import quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    drop = (
        dedup_clusters(ngram_jaccard_pairs(d, threshold=0.2))
        .filter(F.col("id") != F.col("canonical"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = d.join(drop, "doc_id", "left_anti")
    t = F.col("text")
    return kept.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        quality_score(t).alias("quality"),
    ).filter(F.col("quality") >= 0.5)


def q_phash_near_dups(spark, sf_dir):
    """IMAGE near-dup pairs on the payload table's perceptual hash
    (graft-cell image axis): every 4th fabric image gains a deterministic
    2-bit-perturbed variant (re-encode/crop stand-in), and the banded
    hamming join must recover exactly those pairs.  Golden: pure-python
    xxh64 flip recompute + brute-force popcount over all pairs
    (scripts/make_goldens.py:golden_phash_near_dups)."""
    from httpz_spark.operators.dedup import phash_near_pairs
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=192, n_hosts=16)
    imgs = S.images_df(spark, world, partitions=4).select("image_id", "phash")
    bit = F.array(*[F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
                    for i in range(64)])
    b1 = F.pmod(F.xxhash64(F.concat(F.lit("pflip1:"), F.col("image_id"))), F.lit(64))
    b2 = F.pmod(F.xxhash64(F.concat(F.lit("pflip2:"), F.col("image_id"))), F.lit(64))
    mask = F.element_at(bit, (b1 + 1).cast("int")).bitwiseXOR(
        F.element_at(bit, (b2 + 1).cast("int")))
    variants = imgs.filter(
        F.pmod(F.xxhash64(F.col("image_id")), F.lit(4)) == 0
    ).select(
        F.concat(F.col("image_id"), F.lit("_v")).alias("image_id"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    allimg = imgs.unionByName(variants)
    return phash_near_pairs(allimg, max_hamming=2).select(
        "a", "b", F.col("hamming").cast("long").alias("hamming"))


def q_gopher_quality(spark, sf_dir):
    """Gopher-style quality/repetition signals (Rae et al. 2021 §A1.1 —
    the rule family RefinedWeb/RedPajama/Dolma reuse) + the published
    keep thresholds, now the COMPLETE battery (top 2/3/4-gram + dup
    5..10-gram) computed in a single n-gram pass (one explode, two
    shuffles — textquality.ngram_signal_frame); the oracle is REAL SQL
    replaying every formula."""
    from httpz_spark.operators.textquality import (
        gopher_keep,
        gopher_quality_signals,
    )

    d = _t(spark, sf_dir, "documents")
    out = gopher_keep(gopher_quality_signals(d))
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len", "alpha_word_frac", "bullet_line_frac",
        "ellipsis_line_frac", "dup_line_frac", "dup_line_char_frac",
        F.col("stop_word_hits").cast("long").alias("stop_word_hits"),
        "top_bigram_char_frac", "top_3gram_char_frac",
        "top_4gram_char_frac",
        *[f"dup_{n}gram_char_frac" for n in range(5, 11)],
        "keep",
    )


def q_training_shard_substr(spark, sf_dir):
    """Capstone variant with the SUBSTRING-dedup drop-list unioned in —
    Lee et al. (ACL'22)'s actual pipeline shape: whole-document near-dup
    pairs (ngram jaccard) UNION substring-overlap pairs (>=50 shared
    winnowing fingerprints) feed ONE connected-components pass; each
    cluster's canonical doc survives, then the quality gate.  The
    whole-doc-only behavior remains available as ★training_shard (this is
    the "substring dedup on" flag of the pipeline)."""
    from httpz_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
        winnow_dup_pairs,
    )
    from httpz_spark.operators.textstats import quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    pairs = (
        ngram_jaccard_pairs(d, threshold=0.2).select("a", "b")
        .unionByName(winnow_dup_pairs(d, min_common=50).select("a", "b"))
        .distinct()
    )
    drop = (
        dedup_clusters(pairs)
        .filter(F.col("id") != F.col("canonical"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = d.join(drop, "doc_id", "left_anti")
    t = F.col("text")
    return kept.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        quality_score(t).alias("quality"),
    ).filter(F.col("quality") >= 0.5)


_EVAL_SPLIT = 7  # documents with doc_id % 10 == _EVAL_SPLIT play the eval corpus


def q_decontam(spark, sf_dir):
    """Eval-set decontamination report (GPT-3 appendix-C rule): distinct
    shared word-5-grams between each training doc and the benchmark
    corpus (docs with doc_id%10==7 standing in as the eval set).  The
    eval gram table is broadcast — the check is a map-side hash join
    against the train shingle stream (operators/decontam.py)."""
    from httpz_spark.operators.decontam import contamination_report

    d = _t(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(10)) == _EVAL_SPLIT
    rep = contamination_report(d.filter(~is_eval), d.filter(is_eval), ngram=5)
    return rep.select(
        "doc_id",
        F.col("n_overlap_grams").cast("long").alias("n_overlap_grams"),
        F.col("n_eval_docs").cast("long").alias("n_eval_docs"),
    )


def q_training_shard_decontam(spark, sf_dir):
    """Capstone with eval decontamination composed in — the full
    LLM-training-data shape: near-dup pairs over the TRAIN split ->
    connected components -> canonical-doc keep, UNION the eval-overlap
    drop-list (5-gram, min_overlap=1), then the quality gate."""
    from httpz_spark.operators.decontam import contaminated_ids
    from httpz_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from httpz_spark.operators.textstats import quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(10)) == _EVAL_SPLIT
    train, evald = d.filter(~is_eval), d.filter(is_eval)
    dup_drop = (
        dedup_clusters(ngram_jaccard_pairs(train, threshold=0.2))
        .filter(F.col("id") != F.col("canonical"))
        .select(F.col("id").alias("doc_id"))
    )
    contam = contaminated_ids(train, evald, ngram=5)
    kept = train.join(dup_drop.unionByName(contam).distinct(),
                      "doc_id", "left_anti")
    t = F.col("text")
    return kept.select(
        "doc_id",
        token_count(t).cast("long").alias("n_tokens"),
        quality_score(t).alias("quality"),
    ).filter(F.col("quality") >= 0.5)


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM perplexity filter (Wenzek et al. 2020): bigram LM
    with add-k smoothing trained on the reference split (doc_id%10==3
    standing in for Wikipedia), every other doc scored by perplexity and
    bucketed head/middle/tail at fixed cutoffs.  The LM tables broadcast
    (reference corpora are small); per-doc log-prob sums are
    decimal-quantized so the aggregation is order-independent and the
    oracle replays every number in REAL SQL."""
    from httpz_spark.operators.lmfilter import lm_perplexity, lm_train, ppl_buckets

    d = _t(spark, sf_dir, "documents")
    is_ref = F.pmod(F.col("doc_id"), F.lit(10)) == 3
    bigrams, contexts, vocab = lm_train(d.filter(is_ref))
    scored = lm_perplexity(d.filter(~is_ref), bigrams, contexts, vocab)
    out = ppl_buckets(scored, head_max=30.0, middle_max=40.0)
    return out.select(
        "doc_id",
        F.col("n_scored").cast("long").alias("n_scored"),
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 6).alias("ppl"),
        "ppl_bucket",
    )


def q_quality_clf(spark, sf_dir):
    """Model-based quality classifier (the GPT-3 WebText-vs-CommonCrawl /
    LLaMA fastText shape): fit a linear NB text classifier on a labeled
    split (doc_id%10==3 positive, ==7 negative), score every other doc.
    The weights table (capped vocab) BROADCASTS — scoring is a map-only
    token explode + broadcast join + one map-side-combined groupBy; per-doc
    weight sums are DECIMAL(20,9)-quantized so the oracle replays the
    train AND score passes in REAL SQL."""
    from httpz_spark.operators.qualityclf import nb_score, nb_train

    d = _t(spark, sf_dir, "documents")
    m = F.pmod(F.col("doc_id"), F.lit(10))
    labeled = d.filter(m.isin(3, 7)).withColumn(
        "label", (m == 3).cast("int")
    )
    model = nb_train(labeled, vocab_size=24)
    scored = nb_score(d.filter(~m.isin(3, 7)), model)
    return scored.select(
        "doc_id",
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round("score", 6).alias("score"),
        "quality_pred",
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    features (md5-prefix buckets, B=10,000), target distribution fit on
    the doc_id%10==3 split, raw on the full corpus; per-doc
    ``log w = sum cnt_b * (ln p_b - ln q_b)`` with DECIMAL-quantized
    summands.  The B-row LLR table BROADCASTS — scoring is a map-only
    gram explode + broadcast join + one map-side-combined groupBy."""
    from httpz_spark.operators.dsir import dsir_logweights, round_binary

    d = _t(spark, sf_dir, "documents")
    # predicate-form target: ONE gram-explode evaluation for fit+score
    # (the target corpus is the doc_id%10==3 split of the raw corpus)
    tp = lambda c: F.pmod(c, F.lit(10)) == 3  # noqa: E731
    return dsir_logweights(d, target_pred=tp).select(
        "doc_id",
        # double, matching the oracle: DuckDB sum(BIGINT) is HUGEINT,
        # which lands in pandas as float64 (r6 driver-gate finding #1)
        F.col("n_feats").cast("double").alias("n_feats"),
        # binary-double rounding (DuckDB semantics) — the DECIMAL(·,9)
        # sum can land exactly on a 6-decimal midpoint (doc 4225 @ sf0.1)
        round_binary(F.col("log_w"), 6).alias("log_w"),
    )


def q_dsir_select(spark, sf_dir):
    """DSIR Gumbel-top-k selection: weighted sampling without
    replacement via hash-derived deterministic Gumbel noise (md5-seeded
    uniforms — partitioning-independent, exactly resumable, and
    SQL-replayable).  Plans as TakeOrderedAndProject: per-partition
    top-k, k-row driver merge, no global sort shuffle."""
    from httpz_spark.operators.dsir import dsir_resample, round_binary

    d = _t(spark, sf_dir, "documents")
    tp = lambda c: F.pmod(c, F.lit(10)) == 3  # noqa: E731
    sel = dsir_resample(d, k=100, target_pred=tp)
    return sel.select(
        "doc_id",
        # double: oracle n_feats is a DuckDB HUGEINT sum -> pandas float64
        F.col("n_feats").cast("double").alias("n_feats"),
        round_binary(F.col("log_w").cast("double"), 6).alias("log_w"),
        F.round("score", 6).alias("score"),
    )


_ES_PASSAGE = (
    "the shared boilerplate banner that appears verbatim on every seventh "
    "page of this synthetic corpus exactly twenty four tokens long for "
    "span tests now"
)  # 24 tokens


def _exactsubstr_docs(spark, sf_dir):
    # ExactSubstr fixture corpus derived deterministically from documents:
    # every 7th doc is PREPENDED a fixed 24-token passage (a cross-corpus
    # duplicated span family), every 19th doc APPENDS a copy of its own
    # first 12 normalized words (a within-doc repeat).  With L=12 windows
    # both constructions are guaranteed duplicated spans.
    from httpz_spark.operators.dedup import normalized_text

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    norm = normalized_text(F.col("text"))
    first12 = F.array_join(F.slice(F.split(norm, " "), 1, 12), " ")
    fixture = F.concat(
        F.when(k % 7 == 0, F.lit(_ES_PASSAGE + " ")).otherwise(F.lit("")),
        norm,
        F.when(k % 19 == 0, F.concat(F.lit(" "), first12)).otherwise(F.lit("")),
    )
    return d.select("doc_id", fixture.alias("text"))


def q_exactsubstr(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. ACL'22): remove every >=12-token
    span occurring verbatim more than once corpus-wide, via the
    dup-L-window identity — md5 window keys (fixed-width shuffle),
    count-then-join dup detection (map-side combined, skew-immune),
    gaps-and-islands span merge, native index-filtered text rebuild."""
    from httpz_spark.operators.exactsubstr import exactsubstr_clean

    return exactsubstr_clean(
        _exactsubstr_docs(spark, sf_dir), window_tokens=12
    ).select(
        "doc_id", "n_spans",
        # double: oracle n_dup_tokens is a DuckDB HUGEINT sum -> float64
        F.col("n_dup_tokens").cast("double").alias("n_dup_tokens"),
        "clean_text",
    )


def q_host_pagerank(spark, sf_dir):
    """Host-graph PageRank frontier priority (Page et al. 1999): 3
    quantized power iterations over a deterministic host link graph
    derived from documents (h-hosts link by an affine doc_id rule;
    every 5th edge targets an x-host that never links out — a dangling
    family), then quantile priority bands for ``urls_to_frontier``.
    Per-edge contributions are DECIMAL(20,9)-quantized before the sum,
    so the unrolled-CTE oracle replays every iteration bit-for-bit."""
    from httpz_spark.operators.linkrank import host_pagerank, rank_priority

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    src = F.concat(F.lit("h"), (k % 37).cast("string"))
    dst = F.when(
        k % 5 == 0, F.concat(F.lit("x"), (k % 11).cast("string"))
    ).otherwise(F.concat(F.lit("h"), ((k * 7 + 3) % 37).cast("string")))
    edges = d.select(src.alias("src"), dst.alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    pr = rank_priority(host_pagerank(edges, damping=0.85, iters=3), bands=8)
    return pr.select(
        "host", F.round("rank", 9).alias("rank"),
        F.col("priority").cast("long").alias("priority"),
    )


def q_bm25(spark, sf_dir):
    """Okapi BM25 top-k corpus search (Robertson; Lucene idf variant):
    query terms are a literal isin filter on the token explode (no
    corpus-side join), the |Q|-row idf table broadcasts, per-(doc,term)
    summands are DECIMAL-quantized, top-k plans as
    TakeOrderedAndProject."""
    from httpz_spark.operators.search import bm25_topk

    d = _t(spark, sf_dir, "documents")
    top = bm25_topk(d, ["table", "spark", "hash", "join", "scan"], k=100)
    return top.select(
        "doc_id", "n_terms_hit", F.round("score", 6).alias("score")
    )


def q_aspect_batches(spark, sf_dir):
    """Aspect-ratio bucket batching (the diffusion-training image
    analogue of seq_pack): nearest-ratio bucket via a division-only
    argmin (no libm — every comparison replays exactly), batches cut
    per (bucket, md5-shard) so no global sequential dependency.  Image
    meta derived deterministically from documents."""
    from httpz_spark.operators.curation import aspect_bucket_batches

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    imgs = d.select(
        F.concat(F.lit("img"), F.lpad(k.cast("string"), 4, "0")).alias(
            "image_id"
        ),
        ((k % 1024) + 32).cast("int").alias("w"),
        (((k * 7 + 11) % 1024) + 32).cast("int").alias("h"),
    )
    out = aspect_bucket_batches(imgs, batch=8, n_shards=4)
    return out.select(
        "image_id",
        # ints: the oracle emits these three as int32 (r6 finding #3)
        F.col("bucket_idx").cast("int").alias("bucket_idx"),
        F.col("bucket_w").cast("int").alias("bucket_w"),
        F.col("bucket_h").cast("int").alias("bucket_h"),
        F.col("shard").cast("long").alias("shard"),
        F.col("batch_id").cast("long").alias("batch_id"),
    )


def q_mixture(spark, sf_dir):
    """Data-mixture epoch manifest (the LLaMA/Pile source table):
    weighted sources upsample/downsample to their target token share by
    per-doc repetition — base epochs + a deterministic md5-Bernoulli
    fractional copy.  ONE aggregation pass for the per-source totals,
    then a pure map with the broadcast |sources|-row factor table; no
    window, no per-source global sort."""
    from httpz_spark.operators.mixture import mixture_manifest

    d = _t(spark, sf_dir, "documents")
    weights = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 0.5,
               "src4": 0.0}
    return mixture_manifest(d, weights, token_budget=6000)


def q_bpe_tokens(spark, sf_dir):
    """Real trained-BPE token accounting (Sennrich et al. 2016): merges
    learned on this corpus's bounded word-frequency dict (one corpus
    pass), segmentation Arrow-batched over the DISTINCT-word table
    only, per-doc counts via broadcast join + one map-side-combined
    sum.  Golden oracle: an independent pure-python model with the
    alternative (equivalent) in-learned-order merge application."""
    from httpz_spark.operators.bpe import bpe_token_counts, bpe_train

    d = _t(spark, sf_dir, "documents")
    merges = bpe_train(d, num_merges=60)
    return bpe_token_counts(d, merges)


def q_training_shard_curated(spark, sf_dir):
    # the END-TO-END curated capstone: near-dup dedup + eval decontam +
    # quality gate (the decontam manifest) -> per-domain quota sampling
    # -> concat-and-chunk packing manifest.  One plan from raw docs to
    # packed-context manifest; REAL SQL oracle wraps the decontam SQL
    # as a CTE and replays the quota window + packing cumsum.
    from httpz_spark.operators.curation import domain_quota_sample, seq_pack

    manifest = q_training_shard_decontam(spark, sf_dir)
    hosts = manifest.select(
        "doc_id", "n_tokens",
        F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string")).alias("host"),
    )
    sampled = domain_quota_sample(hosts, quota=8)
    return seq_pack(sampled, ctx=1024, n_shards=8,
                    tokens_col="n_tokens").select(
        "shard", "bin_id", "n_docs",
        # double: oracle n_tokens is a DuckDB HUGEINT sum -> float64
        F.col("n_tokens").cast("double").alias("n_tokens"),
        "first_doc", "last_doc")


def q_pii_scrub(spark, sf_dir):
    # PII redaction battery (emails / dotted IPv4s / dashed phones) over
    # documents with deterministically injected PII on every 3rd doc —
    # REAL SQL oracle: identical regexes replayed by DuckDB's RE2 (the
    # patterns are kept in the Java-regex ∩ RE2 common subset).
    from httpz_spark.operators.curation import pii_scrub

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    injected = F.when(
        k % 3 == 0,
        F.concat(
            F.col("text"), F.lit(" contact user"), k.cast("string"),
            F.lit("@example.com or 555-123-4567 from 10."),
            (k % 200).cast("string"), F.lit(".0."),
            (k % 250).cast("string"),
            F.lit(" ssn 219-09-9999 card 4012-8888-8888-1881")),
    ).otherwise(F.col("text"))
    base = d.select("doc_id", injected.alias("text"))
    return pii_scrub(base).select(
        "doc_id",
        # longs: the oracle counts land as int64; width-normalize so one
        # dtype-aware hasher tweak can't flip this query (r6 finding #3)
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_cc").cast("long").alias("n_cc"),
        "scrubbed")


def q_domain_mix(spark, sf_dir):
    # per-domain quota sampling (domain balancing for the training mix):
    # deterministic md5-rank keeps <= 8 docs per host — REAL SQL oracle
    # (md5 hex agrees between Spark and DuckDB on utf-8 strings).
    from httpz_spark.operators.curation import domain_quota_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string")).alias("host"),
    )
    return domain_quota_sample(d, quota=8).select(
        "host", "doc_id",
        F.col("samp_rank").cast("long").alias("samp_rank"))


def q_seq_pack(spark, sf_dir):
    # concat-and-chunk sequence-packing manifest: per-shard cumulative
    # token offsets, bin = floor(start/ctx) — REAL SQL oracle (window
    # cumsum over the identical (shard, doc_id) order; packing is
    # per-shard so there is no global sequential dependency).
    from httpz_spark.operators.curation import seq_pack

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return seq_pack(d, ctx=1024, n_shards=8).select(
        "shard", "bin_id", "n_docs",
        # double: oracle n_tokens is a DuckDB HUGEINT sum -> float64
        F.col("n_tokens").cast("double").alias("n_tokens"),
        "first_doc", "last_doc")


def q_weighted_sample(spark, sf_dir):
    # weighted sampling WITHOUT replacement, P ∝ doc length (Efraimidis-
    # Spirakis via Gumbel-top-k with hash-derived noise — deterministic,
    # partitioning-independent, plans as TakeOrderedAndProject).  REAL
    # SQL oracle replays ln(w) + the md5-derived Gumbel in DuckDB.
    from httpz_spark.operators.curation import weighted_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("weight"))
    return weighted_sample(d, k=120, weight_col="weight").select(
        "doc_id", "weight", "sample_score")


def q_image_pair_filter(spark, sf_dir):
    # IMAGE axis: LAION/DataComp-style image+caption gate battery over a
    # deterministic image-meta frame derived from documents (the decode
    # stage emits the same w/h/fmt contract for fetched payloads —
    # tests/test_curation.py composes decode_stats -> image_pair_filter).
    # REAL SQL oracle re-derives every signal in DuckDB.
    from httpz_spark.operators.curation import image_pair_filter

    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    meta = d.select(
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        (32 + (k * 13) % 2048).cast("int").alias("w"),
        (32 + (k * 29) % 2048).cast("int").alias("h"),
        F.when(k % 5 == 0, "jpeg").when(k % 5 == 1, "png")
         .when(k % 5 == 2, "webp").when(k % 5 == 3, "gif")
         .otherwise("bmp").alias("fmt"),
        F.substring(_norm_col(), 1, 160).alias("caption"),
    )
    return image_pair_filter(meta).select(
        "image_id", "w", "h", "fmt",
        F.col("cap_tokens").cast("long").alias("cap_tokens"),
        "size_ok", "aspect_ok", "fmt_ok", "cap_ok", "alpha_ok", "keep")


_C4_HEADER = (
    "Shared header alpha one. Shared header alpha two.\n"
    "Shared header beta one. Shared header beta two.\n"
    "Shared header gamma one. Shared header gamma two.")


def _c4_docs(spark, sf_dir):
    # C4-shaped corpus derived deterministically from documents (the raw
    # table is a punctuation-free word stream): 12-word chunks become
    # 2-sentence lines; every 4th line loses its terminal punctuation,
    # every 6th gains a 'javascript' marker (line-filter fixtures);
    # every 11th doc appends a brace line, every 13th a lorem line
    # (page-gate fixtures).  The corpus's exact-duplicate docs produce
    # duplicated 3-sentence spans, so the span dedup fires cross-corpus.
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    wn = F.split(_norm_col(), " ")
    m = F.floor(F.size(wn) / 12).cast("int")
    idx = F.when(m >= 1, F.sequence(F.lit(0), m - 1)).otherwise(
        F.array().cast("array<int>"))
    lines = F.transform(idx, lambda i: F.concat(
        F.array_join(F.slice(wn, i * 12 + 1, 6), " "),
        F.lit(". "),
        F.array_join(F.slice(wn, i * 12 + 7, 6), " "),
        F.when(i % 4 == 3, F.lit(""))
         .when(i % 6 == 5, F.lit(" javascript."))
         .otherwise(F.lit(".")),
    ))
    body = F.array_join(lines, "\n")
    base = (
        F.when(k % 11 == 0, F.concat(body, F.lit("\nvar x = { y }.")))
         .when(k % 13 == 0,
               F.concat(body, F.lit("\nLorem ipsum dolor sit amet today.")))
         .otherwise(body))
    # every 17th doc shares a fixed 3-line header -> its first three
    # '. '-split parts are identical corpus-wide, so the span dedup has
    # a guaranteed duplicated-span family to drop (first doc keeps it)
    text = F.when(k % 17 == 0,
                  F.concat(F.lit(_C4_HEADER + "\n"), base)).otherwise(base)
    return d.select("doc_id", text.alias("text"))


def q_corpus_report(spark, sf_dir):
    # per-language curation observability report — REAL SQL oracle
    # (lang_id argmax + the text_stats quality formula + integer-micro
    # quality sums so aggregation order can't drift the hash).
    from httpz_spark.operators.curation import corpus_report

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus_report(d).select(
        "lang_pred", "n_docs",
        # doubles: these three oracle columns are DuckDB HUGEINT sums
        # (n_docs is a count -> BIGINT -> int64, so it stays long)
        F.col("n_tokens").cast("double").alias("n_tokens"),
        F.col("sum_quality_micro").cast("double").alias("sum_quality_micro"),
        F.col("n_keep").cast("double").alias("n_keep"))


def q_c4_line_filters(spark, sf_dir):
    # C4 line filters + page gates (Raffel et al. 2019 §2.2) over the
    # derived C4-shaped corpus — REAL SQL oracle (list_transform /
    # list_filter replay the higher-order array expressions exactly).
    from httpz_spark.operators.c4rules import c4_line_filters

    return c4_line_filters(_c4_docs(spark, sf_dir)).select(
        "doc_id", "clean_text",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "has_brace", "has_lorem", "page_keep")


def q_c4_clean(spark, sf_dir):
    # full C4 pipeline: line filters -> page gates -> cross-corpus
    # three-sentence-span dedup (first global occurrence wins) — REAL
    # SQL oracle: the span window, drop set, and ordered reassembly all
    # re-derived in DuckDB.
    from httpz_spark.operators.c4rules import c4_clean

    return c4_clean(_c4_docs(spark, sf_dir)).select(
        "doc_id", "dedup_text",
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "n_sent_dropped")


def q_cosine_topk(spark, sf_dir):
    from httpz_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(e, queries, k=5)
    return out.select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), F.col("rank").cast("long").alias("rank"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cell the embeddings,
    within-cell cosine pairs >= tau, connected components, keep the member
    with the LOWEST centroid-cosine per component.  Random embeddings have
    no semantic dups, so every 3rd vector gains a deterministic perturbed
    variant (v*0.9 + 0.03 per coordinate — the re-encode/augment stand-in)
    at id+100000; the oracle replays the whole derivation in REAL SQL
    (list_cosine_similarity + recursive-CTE components)."""
    from httpz_spark.operators.semdedup import semdedup

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    variants = base.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.9 + 0.03).alias("embedding"),
    )
    allv = base.unionByName(variants)
    out = semdedup(allv, tau=0.7, n_clusters=8)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("keeper").cast("long").alias("keeper"),
        F.round("cent_cos", 6).alias("cent_cos"),
    )


# ---- rows-only queries (non-SQL-expressible: murmur3/xxhash64 UDF kernels,
# ---- the synthetic web fabric, iterative wave state) ----------------------

def q_minhash_lsh_dups(spark, sf_dir):
    from httpz_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, jaccard_threshold=0.2).select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    )


def q_simhash_near_dups(spark, sf_dir):
    from httpz_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(d, max_hamming=3)


def q_embedding_near_dups(spark, sf_dir):
    from httpz_spark.operators.dedup import embedding_near_pairs

    e = _t(spark, sf_dir, "embeddings")
    # deterministic dup block (limit() without order would be plan-dependent)
    dup = e.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    return embedding_near_pairs(e.unionByName(dup), threshold=0.999).select(
        "a", "b", F.round("cos_sim", 6).alias("cos_sim")
    )


def q_lsh_ann_topk(spark, sf_dir):
    from httpz_spark.operators.similarity import lsh_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(e, queries, k=3, planes=6).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_winnow_fingerprints(spark, sf_dir):
    # rolling-hash document fingerprints (winnowing) — exploded to rows so
    # the oracle compare is value-exact without array stringification
    from httpz_spark.operators.textstats import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(winnow_fingerprints(F.col("text"))).alias("fp")
    )


def q_ivf_ann_topk(spark, sf_dir):
    from httpz_spark.operators.similarity import ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(e, queries, k=3, n_centroids=16, nprobe=4).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_ivf_ann_topk_256(spark, sf_dir):
    """IVF at realistic centroid count — routes through the numpy
    (Arrow-batched matmul) assignment path instead of plan literals
    (operators/similarity.py: n_centroids > IVF_LITERAL_MAX_CENTROIDS)."""
    from httpz_spark.operators.similarity import ivf_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_ann_topk(e, queries, k=3, n_centroids=256, nprobe=8).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_crawl_single_wave(spark, sf_dir):
    from httpz_spark.config import ScanConfig
    from httpz_spark.plans.scan import scan_plan
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=48, n_hosts=12).with_certs()
    seeds = S.seeds_df(spark, S.seed_domain_lines(world))
    res = scan_plan(
        spark, seeds, S.images_df(spark, world, 4), S.dns_df(spark, world),
        ScanConfig.all_on(), world, include_payload=False,
    )
    return res.select(
        "domain", "url", "status", "protocol", "title", "favicon_hash",
        "error_type", "url_hash",
    ).orderBy("url_hash")


def q_frontier_crawl(spark, sf_dir):
    import shutil
    import tempfile

    from httpz_spark.config import EngineConfig, ScanConfig
    from httpz_spark.plans.frontier import CrawlEngine
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=32, n_hosts=8).with_certs()
    state = tempfile.mkdtemp(prefix="httpz_entryq_")
    # detach the returned frame from the (deleted) state dir by staging the
    # selection to its own parquet — no driver-side collect()
    out_dir = tempfile.mkdtemp(prefix="httpz_entryq_out_")
    try:
        eng = CrawlEngine(
            spark, S.images_df(spark, world, 2), S.dns_df(spark, world),
            S.robots_df(spark, world), ScanConfig.all_on(discover_links=True),
            EngineConfig(partitions=8, per_host_budget=4, max_depth=1),
            world, state_dir=state,
        )
        eng.init_frontier(S.seeds_df(spark, S.seed_url_lines(world)))
        eng.crawl(max_waves=2)
        eng.store.read("results").select(
            "url_canon", "url_hash", "status", "protocol", "wave_id", "depth"
        ).write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir).orderBy("wave_id", "url_hash")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q_payload_validation(spark, sf_dir):
    # the north-star per-row fetch invariant (PSNR>=40dB + caption equality
    # + phash consistency) over a full payload-carrying scan wave
    from httpz_spark.config import ScanConfig
    from httpz_spark.operators.multimodal import validate_payloads
    from httpz_spark.plans.scan import scan_plan
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=48, n_hosts=12).with_certs()
    seeds = S.seeds_df(spark, S.seed_domain_lines(world))
    res = scan_plan(
        spark, seeds, S.images_df(spark, world, 4), S.dns_df(spark, world),
        ScanConfig.all_on(), world, include_payload=True,
    )
    v = validate_payloads(res, world)
    return v.select(
        "url_hash", "image_id", "decode_ok", "pixel_ok",
        F.round("psnr_db", 4).alias("psnr_db"), "caption_ok", "phash_ok", "valid",
    ).orderBy("url_hash")


def q_multimodal_decode(spark, sf_dir):
    from httpz_spark.operators.multimodal import decode_stats
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=32, n_hosts=8)
    return decode_stats(S.images_df(spark, world, 2)).select(
        "image_id", "w", "h", "fmt", "decode_ok",
        F.round("mean_lum", 4).alias("mean_lum"), "phash_check",
    )


def q_frame_sample(spark, sf_dir):
    """Video frame sampling over the SPKV container (operators/multimodal
    frame_sample + codecs/video): every 2nd frame of 24 fabric videos,
    frames identified by xxhash64 of their encoded bytes."""
    from httpz_spark.operators.multimodal import frame_sample
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=8, n_hosts=4)
    frames = frame_sample(
        S.videos_df(spark, world, n_videos=24, partitions=2), every_n=2
    )
    return frames.select(
        "media_id", "fps", "n_frames", "frame_idx",
        F.xxhash64("frame").alias("frame_xxh"),
    )


def q_winnow_dup_pairs(spark, sf_dir):
    # substring-level near-dup pairs (Lee et al. ACL'22 substring-dedup
    # signal, winnowing fingerprints): pairs sharing >= 50 fingerprints.
    # Oracle: REAL SQL (join + groupBy + having) over the committed
    # winnow-fingerprint golden as its input table — the fingerprint
    # kernel itself is already hash-verified by ☆winnow_fingerprints.
    from httpz_spark.operators.dedup import winnow_dup_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_dup_pairs(d, min_common=50)


def q_pq_ann_topk(spark, sf_dir):
    # product-quantization ANN (Jegou et al. TPAMI'11): compressed-domain
    # top-k via ADC lookup tables over per-subspace codes.  Fixed
    # deterministic codebooks (IVF-literal-path convention); the golden is
    # an independent pure-python encode+ADC with identical accumulation
    # order (scripts/make_goldens.py:golden_pq_ann_topk).
    from httpz_spark.operators.similarity import pq_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_ann_topk(e, queries, k=3, m=8, kc=16).select(
        "query_id", "neighbor_id",
        F.round("approx_cos", 6).alias("approx_cos"), "rank",
    )


def q_pq_ann_topk_256(spark, sf_dir):
    # the FAISS-standard 8-bit PQ geometry (kc=256, 16x the kc=16 toy's
    # codebook volume): full-width numpy argmin over 256 centroids per
    # subspace in encode, 256-wide ADC gather per row.  Same independent
    # scalar-order golden discipline (golden_pq_ann_topk_256).
    from httpz_spark.operators.similarity import pq_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_ann_topk(e, queries, k=3, m=8, kc=256).select(
        "query_id", "neighbor_id",
        F.round("approx_cos", 6).alias("approx_cos"), "rank",
    )


def q_ivfpq_ann_topk(spark, sf_dir):
    # FAISS-IVFPQ composition: coarse IVF pruning + ADC over PQ codes
    # within the probed cells only (golden: the ivf probe model composed
    # with the pure-python PQ encode+ADC, identical accumulation order).
    from httpz_spark.operators.similarity import ivfpq_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_ann_topk(e, queries, k=3, n_centroids=16, nprobe=4,
                          m=8, kc=16).select(
        "query_id", "neighbor_id",
        F.round("approx_cos", 6).alias("approx_cos"), "rank",
    )


def q_ivfpq_ann_topk_residual(spark, sf_dir):
    # residual IVFPQ (FAISS rule: PQ codes of v - centroid[cell]): same
    # coarse model, residual codebooks + the precomputed cross-term cell
    # tables at query time (golden: scalar residual subtraction composed
    # with the ivfpq models, identical accumulation order —
    # scripts/make_goldens.py:golden_ivfpq_ann_topk_residual).
    from httpz_spark.operators.similarity import ivfpq_ann_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_ann_topk(e, queries, k=3, n_centroids=16, nprobe=4,
                          m=8, kc=16, residual=True).select(
        "query_id", "neighbor_id",
        F.round("approx_cos", 6).alias("approx_cos"), "rank",
    )


def q_sitemap_priority(spark, sf_dir):
    # sitemap scheduling elements -> frontier priority: the advertised
    # <priority> picks the band ((1-p)*1000, protocol default 0.5 when
    # absent), lastmod-bearing entries lead their band (real SQL oracle
    # re-derives the arithmetic over the golden seed table).
    from httpz_spark.operators.sitemapfetch import (
        sitemap_seed_frame,
        sitemap_seed_priority,
    )
    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=256, n_hosts=48).with_certs()
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(world)], "host string")
    seeds = sitemap_seed_frame(hosts, world, partitions=8)
    return seeds.select(
        "host", "loc", "lastmod", "sm_priority",
        sitemap_seed_priority().alias("frontier_priority"),
    )


def q_recrawl_candidates(spark, sf_dir):
    # recrawl scheduling over the sitemap seed frame: a synthetic seen
    # table (deterministic arithmetic on loc) yields all three classes —
    # never-seen (new), advertised-lastmod-advanced (stale), fresh
    # (dropped).  REAL SQL oracle re-derives seen + the classification.
    from httpz_spark.operators.recrawl import recrawl_candidates
    from httpz_spark.operators.sitemapfetch import sitemap_seed_frame
    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=256, n_hosts=48).with_certs()
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(world)], "host string")
    seeds = sitemap_seed_frame(hosts, world, partitions=8)
    seen = seeds.filter(F.length("loc") % 3 != 0).select(
        F.col("loc").alias("url"),
        F.when(F.length("loc") % 2 == 0, F.lit("2026-03-02")).alias("lastmod"),
    )
    return recrawl_candidates(seeds, seen).select(
        "host", "loc", "lastmod", "sm_priority", "recrawl_reason")


def _trap_frontier(spark, sf_dir):
    # synthetic frontier with two URL-template explosions (calendar dates,
    # 32-hex session ids) and one bounded page template, skew across 7
    # hosts — derived arithmetically from orders so the DuckDB oracle can
    # rebuild the identical frame
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    host = F.concat(F.lit("h"), (k % 7).cast("string"), F.lit(".test"))
    base = F.concat(F.lit("https://"), host)
    url = (
        F.when(k % 5 < 2, F.concat(
            base, F.lit("/cal/2026-"), (1 + k % 12).cast("string"),
            F.lit("-"), (1 + k % 28).cast("string"), F.lit("/ev"),
            k.cast("string")))
        .when(k % 5 == 2, F.concat(
            base, F.lit("/s/"), F.md5(k.cast("string"))))
        .otherwise(F.concat(
            base, F.lit("/li/img"), (k % 40).cast("string")))
    )
    return o.select(host.alias("host"), url.alias("url"))


def q_trap_templates(spark, sf_dir):
    # crawler-trap detection: per-(host, path-template) distinct-URL
    # explosion counts — REAL SQL oracle (same regex rules, 'g' flag)
    from httpz_spark.operators.traps import trap_templates

    return trap_templates(_trap_frontier(spark, sf_dir), max_urls=100)


def q_frontier_detrap(spark, sf_dir):
    # frontier with trapped templates capped at keep lexicographically-
    # smallest URLs; healthy templates untouched — REAL SQL oracle
    from httpz_spark.operators.traps import frontier_detrap

    return frontier_detrap(
        _trap_frontier(spark, sf_dir), max_urls=100, keep=5)


def _image_table(spark):
    # augmented image+caption frame (graft-cell payload): fabric base
    # images + re-encode variants (2 pHash bits flipped, caption kept) +
    # reposts (fresh random pHash, caption kept) — mirrored bit-for-bit
    # by scripts/make_goldens.py:golden_image_table via the pinned
    # pure-python xxh64
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=192, n_hosts=16)
    # synthetic well-spread phash instead of the fabric average_hash: the
    # fabric's gradient-dominated pixels put nearly every image within 2
    # aHash bits of every other (kept as a banding stress test in
    # q_phash_near_dups); the shard fixture needs cluster structure
    imgs = S.images_df(spark, world, partitions=4).select(
        "image_id", "caption",
        F.xxhash64(F.concat(F.lit("ph:"), F.col("image_id"))).alias("phash"))
    m = F.pmod(F.xxhash64(F.col("image_id")), F.lit(4))
    bit = F.array(*[F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
                    for i in range(64)])
    b1 = F.pmod(F.xxhash64(F.concat(F.lit("pflip1:"), F.col("image_id"))), F.lit(64))
    b2 = F.pmod(F.xxhash64(F.concat(F.lit("pflip2:"), F.col("image_id"))), F.lit(64))
    mask = F.element_at(bit, (b1 + 1).cast("int")).bitwiseXOR(
        F.element_at(bit, (b2 + 1).cast("int")))
    variants = imgs.filter(m == 0).select(
        F.concat(F.col("image_id"), F.lit("_v")).alias("image_id"),
        F.col("caption"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    reposts = imgs.filter(m == 1).select(
        F.concat(F.col("image_id"), F.lit("_r")).alias("image_id"),
        F.col("caption"),
        F.xxhash64(F.concat(F.lit("repost:"), F.col("image_id"))).alias("phash"),
    )
    return imgs.unionByName(variants).unionByName(reposts)


def q_image_table(spark, sf_dir):
    # pins the Spark-built augmented frame against the independent python
    # model (golden oracle) — the input contract for image_training_shard
    return _image_table(spark)


def q_image_training_shard(spark, sf_dir):
    # IMAGE-axis capstone: caption-exact + pHash-near dedup in one CC
    # pass, survivors with absorbed-row counts.  REAL SQL oracle: DuckDB
    # re-derives caption groups, brute-force bit_count(xor()) pairs, the
    # recursive-CTE components, and the keep-rule over the golden input.
    from httpz_spark.operators.imageshard import image_training_shard

    return image_training_shard(_image_table(spark)).select(
        "image_id", "caption", "phash", "dup_count")


def q_image_curated_shard(spark, sf_dir):
    # IMAGE-axis end-to-end capstone: the LAION-style gate battery
    # (meta derived deterministically from the phash so the SQL oracle
    # can replay it: pmod-spread w/h, fmt wheel) filters the pair table,
    # THEN caption-exact + pHash-near dedup runs on the survivors —
    # filter-before-dedup, the production order (cheap map gate prunes
    # the shuffle).  REAL SQL oracle shares the shard CTEs with
    # image_training_shard and re-derives every gate signal.
    from httpz_spark.operators.curation import image_pair_filter
    from httpz_spark.operators.imageshard import image_training_shard

    imgs = _image_table(spark)
    ph = F.col("phash")
    meta = imgs.select(
        "image_id", "caption", "phash",
        (F.pmod(ph, F.lit(1024)) + 32).cast("int").alias("w"),
        (F.pmod(F.pmod(ph, F.lit(1024)) * 7, F.lit(1024)) + 32)
        .cast("int").alias("h"),
        F.when(F.pmod(ph, F.lit(5)) == 0, "gif").otherwise("jpeg")
        .alias("fmt"),
    )
    kept = (image_pair_filter(meta).filter("keep")
            .select("image_id", "caption", "phash"))
    return image_training_shard(kept).select(
        "image_id", "caption", "phash", "dup_count")


def _reval_candidates(spark):
    # conditional-revalidation candidates over CLEAN direct-200 fabric
    # pages (failure-ladder interplay is crawl_single_wave's job): a
    # third store the page's current validators (-> 304), a third a stale
    # etag (-> 200 + refreshed validators), a third nothing (cold fetch)
    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=64, n_hosts=8)
    rows = []
    for i in range(world.n_images):
        iid = FB.image_id_at(i)
        host = FB.host_for_image(iid, world)
        path = f"/li/{iid}"
        cls = FB.url_class(host, path, world)
        if (cls["status"] != 200 or cls["redirect_to"]
                or cls["fail_https"] or cls["fail_first_attempt"]):
            continue
        etag, lm = FB.page_validators(host, path, world)
        if i % 3 == 0:
            rows.append((host, path, etag, lm))
        elif i % 3 == 1:
            rows.append((host, path, '"feed"', None))
        else:
            rows.append((host, path, None, None))
    return world, spark.createDataFrame(
        rows, "host string, path string, etag string, last_modified string")


def q_revalidate_wave(spark, sf_dir):
    # If-None-Match/If-Modified-Since conditional refetch wave: 304s for
    # unchanged pages (no body transfer/parse), refreshed validators for
    # the seen-meta MERGE.  Golden oracle: independent python model of
    # the conditional rule over the same candidate set
    # (scripts/make_goldens.py:golden_revalidate_wave).
    from httpz_spark.config import ScanConfig
    from httpz_spark.operators.revalidate import revalidate_plan

    world, cand = _reval_candidates(spark)
    cfg = ScanConfig(fetch_headers=True, retries=1)
    return revalidate_plan(cand, cfg, world).select(
        "host", "path", "status", "not_modified",
        "etag_new", "last_modified_new")


def q_aimd_budgets(spark, sf_dir):
    # AIMD politeness update over a deterministic synthetic wave derived
    # from the documents table (host buckets, latency from text length,
    # sparse TIMEOUTs) with a prior-budget table — REAL SQL oracle
    # (exact median + the halve/step-up rule re-derived in DuckDB).
    from httpz_spark.operators.politeness import aimd_host_budgets

    d = _t(spark, sf_dir, "documents")
    res = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string")).alias("host"),
        (F.length("text") % 997).cast("double").alias("latency_ms"),
        F.when(F.col("doc_id") % 101 == 0, F.lit("TIMEOUT")).alias("error_type"),
    )
    prev = d.filter(F.col("doc_id") < 10).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 37).cast("string")).alias("host"),
        (F.col("doc_id") + 1).cast("int").alias("budget"),
    )
    return aimd_host_budgets(res, prev, default_budget=100,
                             slow_latency_ms=450.0)


def q_robots_table(spark, sf_dir):
    # robots.txt fetch-and-parse politeness-table builder (north_rule
    # "robots budgets"): one fetch per fabric host through the transport
    # seam, fully-native RFC-9309-subset parse, budget derived from the
    # crawl delay.  Golden oracle = independent line-based python parser
    # over the same fabric bodies + a model of the url_class failure
    # matrix (scripts/make_goldens.py:golden_robots_table).
    from httpz_spark.operators.robotsfetch import build_robots_table
    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=256, n_hosts=48).with_certs()
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(world)], "host string"
    )
    out = build_robots_table(hosts, world, partitions=8)
    return out.select(
        "host", "crawl_delay_ms", "per_wave_budget",
        F.array_join("disallow", ",").alias("disallow_csv"),
        F.array_join("allow", ",").alias("allow_csv"),
        "fetch_status",
    )


def q_sitemap_discovery(spark, sf_dir):
    # sitemap-driven seed discovery (north_rule "seeded frontier" feed):
    # robots Sitemap: lines -> sitemap/sitemapindex fetch (one recursion
    # level) -> host-scoped page URLs, all parsing native.  Golden oracle
    # = independent model using line-based robots parse + stdlib
    # ElementTree XML (vs the engine's regex <loc> path) + the url_class
    # failure matrix (scripts/make_goldens.py:golden_sitemap_discovery).
    from httpz_spark.operators.sitemapfetch import sitemap_seed_frame
    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=256, n_hosts=48).with_certs()
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(world)], "host string"
    )
    return sitemap_seed_frame(hosts, world, partitions=8)


def _shipped(fn):
    def wrapper(spark, sf_dir):
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # kernels (oracled)
        "shard_filter": _shipped(q_shard_filter),
        "status_match_filter": _shipped(q_status_match_filter),
        "ws_normalize": _shipped(q_ws_normalize),
        "preview_truncate": _shipped(q_preview_truncate),
        "sorted_distinct_agg": _shipped(q_sorted_distinct_agg),
        "politeness_topk": _shipped(q_politeness_topk),
        "seen_antijoin": _shipped(q_seen_antijoin),
        "seen_antijoin_cuckoo": _shipped(q_seen_antijoin_cuckoo),
        "recrawl_invalidate": _shipped(q_recrawl_invalidate),
        "url_quality": _shipped(q_url_quality),
        "robots_broadcast_join": _shipped(q_robots_broadcast_join),
        "lineage_agg": _shipped(q_lineage_agg),
        "hash_partition_dist": _shipped(q_hash_partition_dist),
        "url_canonicalize": _shipped(q_url_canonicalize),
        "domain_parse": _shipped(q_domain_parse),
        "human_size": _shipped(q_human_size),
        # training-data pipeline (oracled)
        "exact_dedup": _shipped(q_exact_dedup),
        "text_stats": _shipped(q_text_stats),
        "lang_id": _shipped(q_lang_id),
        "ngram_jaccard_dups": _shipped(q_ngram_jaccard_dups),
        "dedup_clusters": _shipped(q_dedup_clusters),
        "training_shard": _shipped(q_training_shard),
        "training_shard_substr": _shipped(q_training_shard_substr),
        "decontam": _shipped(q_decontam),
        "training_shard_decontam": _shipped(q_training_shard_decontam),
        "training_shard_curated": _shipped(q_training_shard_curated),
        "gopher_quality": _shipped(q_gopher_quality),
        "pii_scrub": _shipped(q_pii_scrub),
        "domain_mix": _shipped(q_domain_mix),
        "seq_pack": _shipped(q_seq_pack),
        "weighted_sample": _shipped(q_weighted_sample),
        "warc_records": _shipped(q_warc_records),
        "surt_cdx": _shipped(q_surt_cdx),
        "warc_revisit": _shipped(q_warc_revisit),
        "wet_records": _shipped(q_wet_records),
        "wat_records": _shipped(q_wat_records),
        "cdx_lookup": _shipped(q_cdx_lookup),
        "image_pair_filter": _shipped(q_image_pair_filter),
        "c4_line_filters": _shipped(q_c4_line_filters),
        "c4_clean": _shipped(q_c4_clean),
        "corpus_report": _shipped(q_corpus_report),
        "cosine_topk": _shipped(q_cosine_topk),
        "semdedup": _shipped(q_semdedup),
        "lm_perplexity": _shipped(q_lm_perplexity),
        "quality_clf": _shipped(q_quality_clf),
        "dsir_weights": _shipped(q_dsir_weights),
        "dsir_select": _shipped(q_dsir_select),
        "exactsubstr": _shipped(q_exactsubstr),
        "host_pagerank": _shipped(q_host_pagerank),
        "bm25": _shipped(q_bm25),
        "aspect_batches": _shipped(q_aspect_batches),
        "mixture": _shipped(q_mixture),
        "bpe_tokens": _shipped(q_bpe_tokens),
        # golden-file-oracled (murmur3/xxhash64 kernels, fabric, iterative
        # state — independent driver-side recompute, scripts/make_goldens.py)
        "minhash_lsh_dups": _shipped(q_minhash_lsh_dups),
        "simhash_near_dups": _shipped(q_simhash_near_dups),
        "embedding_near_dups": _shipped(q_embedding_near_dups),
        "lsh_ann_topk": _shipped(q_lsh_ann_topk),
        "ivf_ann_topk": _shipped(q_ivf_ann_topk),
        "ivf_ann_topk_256": _shipped(q_ivf_ann_topk_256),
        "winnow_fingerprints": _shipped(q_winnow_fingerprints),
        "crawl_single_wave": _shipped(q_crawl_single_wave),
        "frontier_crawl": _shipped(q_frontier_crawl),
        "multimodal_decode": _shipped(q_multimodal_decode),
        "frame_sample": _shipped(q_frame_sample),
        "payload_validation": _shipped(q_payload_validation),
        "robots_table": _shipped(q_robots_table),
        "sitemap_discovery": _shipped(q_sitemap_discovery),
        "phash_near_dups": _shipped(q_phash_near_dups),
        "winnow_dup_pairs": _shipped(q_winnow_dup_pairs),
        "pq_ann_topk": _shipped(q_pq_ann_topk),
        "pq_ann_topk_256": _shipped(q_pq_ann_topk_256),
        "ivfpq_ann_topk": _shipped(q_ivfpq_ann_topk),
        "ivfpq_ann_topk_residual": _shipped(q_ivfpq_ann_topk_residual),
        "sitemap_priority": _shipped(q_sitemap_priority),
        "recrawl_candidates": _shipped(q_recrawl_candidates),
        "aimd_budgets": _shipped(q_aimd_budgets),
        "trap_templates": _shipped(q_trap_templates),
        "frontier_detrap": _shipped(q_frontier_detrap),
        "image_table": _shipped(q_image_table),
        "image_training_shard": _shipped(q_image_training_shard),
        "image_curated_shard": _shipped(q_image_curated_shard),
        "revalidate_wave": _shipped(q_revalidate_wave),
    }


_GOLDEN = os.path.join(_REPO, "golden")


def _golden_sql(name: str, cols: str) -> str:
    """Oracle for non-SQL-expressible kernels: a committed golden parquet
    computed by an INDEPENDENT driver-side reimplementation (pure-python
    XXH64/murmur3, sequential-fold float math, the refscan reference
    behavioral model, a plain-python BFS crawl simulator) —
    scripts/make_goldens.py.  DuckDB replays it verbatim."""
    return f"SELECT {cols} FROM read_parquet('{_GOLDEN}/{name}.parquet')"


# shared CTEs for the trap queries: rebuild _trap_frontier's URL frame and
# the url_path_template shape rules (operators/traps.py) in DuckDB
_TRAP_TPL_CTES = """
    WITH f AS (
        SELECT 'h' || CAST(o_orderkey % 7 AS VARCHAR) || '.test' AS host,
               CASE
                 WHEN o_orderkey % 5 < 2 THEN
                   'https://h' || CAST(o_orderkey % 7 AS VARCHAR)
                   || '.test/cal/2026-' || CAST(1 + o_orderkey % 12 AS VARCHAR)
                   || '-' || CAST(1 + o_orderkey % 28 AS VARCHAR)
                   || '/ev' || CAST(o_orderkey AS VARCHAR)
                 WHEN o_orderkey % 5 = 2 THEN
                   'https://h' || CAST(o_orderkey % 7 AS VARCHAR)
                   || '.test/s/' || md5(CAST(o_orderkey AS VARCHAR))
                 ELSE
                   'https://h' || CAST(o_orderkey % 7 AS VARCHAR)
                   || '.test/li/img' || CAST(o_orderkey % 40 AS VARCHAR)
               END AS url
        FROM orders),
    tpl AS (
        SELECT host, url,
               regexp_replace(regexp_replace(
                   CASE WHEN p = '' THEN '/' ELSE p END,
                   '[0-9a-f]{8,}', '{H}', 'g'),
                   '[0-9]+', '{N}', 'g') AS template
        FROM (SELECT host, url,
                     regexp_replace(regexp_replace(url,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
                         '[?#].*$', '') AS p
              FROM f))
"""


# shared CTE for the WARC queries: rebuild _warc_fixture's capture frame
# AND functions/warcx.warc_record's ISO 28500 framing byte-for-byte in
# DuckDB (E'' escape strings carry the CRLFs; md5 over VARCHAR hashes the
# UTF-8 bytes exactly like Spark's md5 over the encoded binary record)
_WARC_REC_CTE = """
    WITH src AS (
      SELECT doc_id,
             'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
               || 'h' || CAST(doc_id % 13 AS VARCHAR) || '.example'
               || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
               || '/d/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1' ELSE '' END AS url,
             '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               || 'T00:00:00Z' AS dt,
             CASE WHEN doc_id % 9 = 0 THEN 404
                  WHEN doc_id % 7 = 0 THEN 301 ELSE 200 END AS status,
             CASE WHEN doc_id % 2 = 0 THEN 'text/html'
                  ELSE 'text/plain' END AS mime,
             text AS body
      FROM documents),
    parts AS (
      SELECT *,
             md5(url || chr(10) || dt) AS uh,
             'HTTP/1.1 ' || CAST(status AS VARCHAR) || ' '
               || CASE status WHEN 200 THEN 'OK'
                              WHEN 301 THEN 'Moved Permanently'
                              WHEN 404 THEN 'Not Found' END || E'\\r\\n'
               || 'Content-Type: ' || mime || E'\\r\\n'
               || 'Content-Length: '
               || CAST(octet_length(encode(body)) AS VARCHAR)
               || E'\\r\\n\\r\\n' AS http_head
      FROM src),
    rec AS (
      SELECT doc_id, url, dt, status, mime,
             'WARC/1.0' || E'\\r\\n'
               || 'WARC-Type: response' || E'\\r\\n'
               || 'WARC-Record-ID: <urn:uuid:'
               || substr(uh, 1, 8) || '-' || substr(uh, 9, 4) || '-'
               || substr(uh, 13, 4) || '-' || substr(uh, 17, 4) || '-'
               || substr(uh, 21, 12) || '>' || E'\\r\\n'
               || 'WARC-Date: ' || dt || E'\\r\\n'
               || 'WARC-Target-URI: ' || url || E'\\r\\n'
               || 'WARC-Payload-Digest: md5:' || md5(body) || E'\\r\\n'
               || 'Content-Type: application/http;msgtype=response'
               || E'\\r\\n'
               || 'Content-Length: '
               || CAST(octet_length(encode(http_head))
                       + octet_length(encode(body)) AS VARCHAR)
               || E'\\r\\n\\r\\n'
               || http_head || body || E'\\r\\n\\r\\n' AS record
      FROM parts)
"""


# shared CTEs for the C4 queries: rebuild _c4_docs's derived corpus in
# DuckDB (12-word chunks -> 2-sentence lines, drop/marker/page-gate
# fixtures).  f-string: literal SQL braces are doubled.
_C4_HEADER_SQL = "'" + _C4_HEADER.replace("\n", "' || chr(10) || '") + "'"
_C4_DOCS_CTES = f"""
    w AS (SELECT doc_id, string_split({_NORM_DUCK}, ' ') AS wn
          FROM documents),
    lns AS (
      SELECT doc_id,
             list_transform(
               range(0, CAST(len(wn) // 12 AS INT)),
               i -> array_to_string(wn[i*12+1 : i*12+6], ' ')
                    || '. '
                    || array_to_string(wn[i*12+7 : i*12+12], ' ')
                    || CASE WHEN i % 4 = 3 THEN ''
                            WHEN i % 6 = 5 THEN ' javascript.'
                            ELSE '.' END) AS lines
      FROM w),
    docs2b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN
                    coalesce(array_to_string(lines, chr(10)), '')
                    || chr(10) || 'var x = {{ y }}.'
                  WHEN doc_id % 13 = 0 THEN
                    coalesce(array_to_string(lines, chr(10)), '')
                    || chr(10) || 'Lorem ipsum dolor sit amet today.'
                  ELSE coalesce(array_to_string(lines, chr(10)), '')
             END AS base
      FROM lns),
    docs2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN
                    {_C4_HEADER_SQL} || chr(10) || base
                  ELSE base END AS text
      FROM docs2b)
"""

# the C4 line-filter + page-gate derivation over docs2 (shared by both
# C4 oracles); emits doc_id, text (original), n_lines, kept (list)
_C4_LINEFILTER_CTES = """
    t AS (
      SELECT doc_id, text,
             list_transform(string_split(text, chr(10)),
                            x -> trim(x)) AS tl,
             len(string_split(text, chr(10))) AS n_lines
      FROM docs2),
    k AS (
      SELECT doc_id, text, n_lines,
             list_filter(tl, x ->
               regexp_matches(x, '[.!?"]$')
               AND (CASE WHEN trim(regexp_replace(x, '[ \\t]+', ' ', 'g')) = ''
                    THEN 0
                    ELSE len(string_split(trim(regexp_replace(x, '[ \\t]+', ' ', 'g')), ' '))
                    END) >= 3
               AND NOT contains(lower(x), 'javascript')) AS kept
      FROM t)
"""


def oracle_sql() -> dict[str, str]:
    # the decontam capstone manifest is also the input of the curated
    # capstone, so build its SQL once and wrap it there as a CTE
    decontam_sql = _training_shard_decontam_sql()
    return {
        # golden-file oracles (murmur3/xxhash64 kernels, fabric, iterative
        # wave state — DuckDB lacks the kernels; see scripts/make_goldens.py)
        "bpe_tokens": _golden_sql("bpe_tokens", "doc_id, n_words, n_bpe_tokens"),
        "minhash_lsh_dups": _golden_sql("minhash_lsh_dups", "a, b, jaccard"),
        "simhash_near_dups": _golden_sql("simhash_near_dups", "a, b, hamming"),
        "embedding_near_dups": _golden_sql("embedding_near_dups", "a, b, cos_sim"),
        "lsh_ann_topk": _golden_sql(
            "lsh_ann_topk", "query_id, neighbor_id, cos_sim, rank"),
        "ivf_ann_topk": _golden_sql(
            "ivf_ann_topk", "query_id, neighbor_id, cos_sim, rank"),
        "ivf_ann_topk_256": _golden_sql(
            "ivf_ann_topk_256", "query_id, neighbor_id, cos_sim, rank"),
        "winnow_fingerprints": _golden_sql("winnow_fingerprints", "doc_id, fp"),
        "robots_table": _golden_sql(
            "robots_table",
            "host, crawl_delay_ms, per_wave_budget, disallow_csv, allow_csv, "
            "fetch_status"),
        "sitemap_discovery": _golden_sql(
            "sitemap_discovery", "host, loc, lastmod, sm_priority"),
        "phash_near_dups": _golden_sql("phash_near_dups", "a, b, hamming"),
        "image_table": _golden_sql("image_table", "image_id, caption, phash"),
        "revalidate_wave": _golden_sql(
            "revalidate_wave",
            "host, path, status, not_modified, etag_new, last_modified_new"),
        # REAL SQL: the full image-shard derivation re-done in DuckDB over
        # the golden input frame — caption star edges, brute-force
        # bit_count(xor()) hamming pairs (the engine must NEVER do
        # all-pairs; the oracle may), recursive-CTE components, keep-rule
        "image_training_shard": _image_shard_sql(
            f"""imgs AS (
                SELECT * FROM read_parquet('{_GOLDEN}/image_table.parquet'))"""),
        # image curated capstone: the LAION-style gate battery (meta
        # derived from the phash: pmod-spread w/h, fmt wheel) filters the
        # pair table BEFORE the shard derivation
        "image_curated_shard": _image_shard_sql(f"""
            imgs0 AS (
                SELECT * FROM read_parquet('{_GOLDEN}/image_table.parquet')),
            meta AS (
                SELECT image_id, caption, phash,
                       CAST(((phash % 1024) + 1024) % 1024 + 32 AS INT) AS w,
                       CAST((((phash % 1024) + 1024) % 1024 * 7) % 1024 + 32
                         AS INT) AS h,
                       CASE WHEN ((phash % 5) + 5) % 5 = 0
                            THEN 'gif' ELSE 'jpeg' END AS fmt
                FROM imgs0),
            sig AS (
                SELECT *,
                       CASE WHEN trim(regexp_replace(caption,
                              '[ \\t\\n\\r\\f]+', ' ', 'g')) = '' THEN 0
                            ELSE len(string_split(trim(regexp_replace(caption,
                              '[ \\t\\n\\r\\f]+', ' ', 'g')), ' '))
                       END AS cap_tokens,
                       len(regexp_extract_all(caption, '[A-Za-z]')) * 1.0
                         / greatest(length(caption), 1) AS alpha_ratio
                FROM meta),
            imgs AS (
                SELECT image_id, caption, phash FROM sig
                WHERE least(w, h) >= 200
                  AND greatest(w, h) * 1.0 <= 3.0 * least(w, h)
                  AND fmt IN ('jpeg', 'png', 'webp')
                  AND cap_tokens BETWEEN 2 AND 77
                  AND alpha_ratio >= 0.5)"""),
        "winnow_dup_pairs": f"""
            WITH fps AS (SELECT doc_id, fp
                         FROM read_parquet('{_GOLDEN}/winnow_fingerprints.parquet')),
            rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000),
            f2 AS (SELECT doc_id, fp FROM fps JOIN rare USING (fp))
            SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_common
            FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 50""",
        "pq_ann_topk": _golden_sql(
            "pq_ann_topk", "query_id, neighbor_id, approx_cos, rank"),
        "pq_ann_topk_256": _golden_sql(
            "pq_ann_topk_256", "query_id, neighbor_id, approx_cos, rank"),
        "ivfpq_ann_topk": _golden_sql(
            "ivfpq_ann_topk", "query_id, neighbor_id, approx_cos, rank"),
        "ivfpq_ann_topk_residual": _golden_sql(
            "ivfpq_ann_topk_residual",
            "query_id, neighbor_id, approx_cos, rank"),
        # REAL-SQL arithmetic over the golden seed table: the frontier
        # priority formula re-derived in DuckDB ((1-p)*1000 band doubled
        # + lastmod-absent bit)
        "sitemap_priority": (
            "SELECT host, loc, lastmod, sm_priority, "
            "CAST(round((1.0 - coalesce(sm_priority, 0.5)) * 1000) * 2 "
            "+ (CASE WHEN lastmod IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
            "AS frontier_priority "
            f"FROM read_parquet('{_GOLDEN}/sitemap_discovery.parquet')"),
        # REAL SQL: synthetic seen table + the new/stale/fresh rule over
        # the golden sitemap seed frame
        "recrawl_candidates": f"""
            WITH seeds AS (
                SELECT * FROM read_parquet('{_GOLDEN}/sitemap_discovery.parquet')),
            seen AS (
                SELECT loc AS url,
                       CASE WHEN length(loc) % 2 = 0 THEN '2026-03-02' END AS lastmod
                FROM seeds WHERE length(loc) % 3 <> 0),
            cls AS (
                SELECT s.host, s.loc, s.lastmod, s.sm_priority,
                       CASE WHEN n.url IS NULL THEN 'new'
                            WHEN s.lastmod IS NOT NULL
                                 AND (n.lastmod IS NULL OR s.lastmod > n.lastmod)
                            THEN 'stale' END AS recrawl_reason
                FROM seeds s LEFT JOIN seen n ON s.loc = n.url)
            SELECT * FROM cls WHERE recrawl_reason IS NOT NULL
        """,
        # REAL SQL: exact interpolated median + the AIMD halve/step rule
        # REAL SQL: identical synthetic frontier + the same template
        # regexes (DuckDB regexp_replace needs the explicit 'g' flag;
        # Spark's is global by default)
        "trap_templates": _TRAP_TPL_CTES + """
            SELECT host, template, COUNT(DISTINCT url) AS n_urls
            FROM tpl GROUP BY host, template
            HAVING COUNT(DISTINCT url) > 100
        """,
        "frontier_detrap": _TRAP_TPL_CTES + """,
            traps AS (
                SELECT host, template FROM tpl GROUP BY host, template
                HAVING COUNT(DISTINCT url) > 100),
            -- threshold semantics (mirrors operators/traps.py): keep the
            -- 5 smallest DISTINCT urls of each trapped template
            thr AS (
                SELECT host, template, url AS thr FROM (
                    SELECT d.host, d.template, d.url,
                           row_number() OVER (
                               PARTITION BY d.host, d.template
                               ORDER BY d.url) AS rn
                    FROM (SELECT DISTINCT host, template, url FROM tpl) d
                    JOIN traps USING (host, template))
                WHERE rn = 5)
            SELECT t.host, t.url, t.template,
                   tr.host IS NOT NULL AS trapped
            FROM tpl t
            LEFT JOIN traps tr
              ON t.host = tr.host AND t.template = tr.template
            LEFT JOIN thr h
              ON t.host = h.host AND t.template = h.template
            WHERE tr.host IS NULL OR h.thr IS NULL OR t.url <= h.thr
        """,
        "aimd_budgets": """
            WITH res AS (
                SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
                       CAST(length(text) % 997 AS DOUBLE) AS latency_ms,
                       CASE WHEN doc_id % 101 = 0 THEN 'TIMEOUT' END AS error_type
                FROM documents),
            prev AS (
                SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS host,
                       CAST(doc_id + 1 AS INT) AS budget
                FROM documents WHERE doc_id < 10),
            agg AS (
                SELECT host, quantile_cont(latency_ms, 0.5) AS med,
                       sum(CASE WHEN error_type = 'TIMEOUT' THEN 1 ELSE 0 END) AS nto
                FROM res GROUP BY host)
            SELECT a.host,
                   CAST(CASE WHEN a.med > 450.0 OR a.nto > 0
                        THEN greatest(1, CAST(floor(coalesce(p.budget, 100) / 2) AS INT))
                        ELSE least(100, coalesce(p.budget, 100) + 1)
                        END AS INT) AS budget
            FROM agg a LEFT JOIN prev p USING (host)
        """,
        "crawl_single_wave": _golden_sql(
            "crawl_single_wave",
            "domain, url, status, protocol, title, favicon_hash, error_type, url_hash"),
        "frontier_crawl": _golden_sql(
            "frontier_crawl",
            "url_canon, url_hash, status, protocol, wave_id, depth"),
        "frame_sample": _golden_sql(
            "frame_sample", "media_id, fps, n_frames, frame_idx, frame_xxh"),
        "multimodal_decode": _golden_sql(
            "multimodal_decode",
            "image_id, w, h, fmt, decode_ok, mean_lum, phash_check"),
        "payload_validation": _golden_sql(
            "payload_validation",
            "url_hash, image_id, decode_ok, pixel_ok, psnr_db, caption_ok, "
            "phash_ok, valid"),
        "shard_filter": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE (l_orderkey * 8 + l_linenumber) % 7 = 3
        """,
        "status_match_filter": """
            SELECT event_id, event_type, value
            FROM events
            WHERE event_type IN ('purchase', 'click')
              AND value BETWEEN 10 AND 500
              AND event_type NOT IN ('error')
        """,
        "ws_normalize": f"""
            SELECT doc_id, {_NORM_DUCK} AS norm_text, length({_NORM_DUCK}) AS n_norm
            FROM documents
        """,
        "preview_truncate": f"""
            SELECT doc_id, substr({_NORM_DUCK}, 1, 120) AS preview,
                   length(substr({_NORM_DUCK}, 1, 120)) AS preview_len
            FROM documents
        """,
        "sorted_distinct_agg": """
            SELECT user_id,
                   array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_types,
                   count(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id
        """,
        "politeness_topk": """
            SELECT event_id, user_id, value,
                   row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
            FROM events
            QUALIFY rn <= 3
        """,
        "seen_antijoin": """
            SELECT o_orderkey, round(o_totalprice, 2) AS total
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        """,
        "seen_antijoin_cuckoo": """
            SELECT o_orderkey, round(o_totalprice, 2) AS total
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        """,
        "recrawl_invalidate": """
            SELECT o_orderkey AS url_hash, o_orderstatus
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "url_quality": """
            WITH urls AS (
              SELECT doc_id,
                'https://' ||
                CASE WHEN doc_id % 23 = 0
                     THEN '10.0.0.' || (doc_id % 200)
                     ELSE 'h' || (doc_id % 40) || '.example' END
                || '/' || split_part(text, ' ', 1) || '/' || doc_id || '?ref=' ||
                CASE WHEN doc_id % 29 = 0 THEN 'tracker&u=popup'
                     WHEN doc_id % 11 = 0 THEN 'casino'
                     WHEN doc_id % 13 = 0 THEN 'tracker'
                     ELSE 'page' END ||
                CASE WHEN doc_id % 17 = 0 THEN '&pad=' || repeat('z', 300)
                     WHEN doc_id % 19 = 0 THEN '&sid=' || repeat('9', 120)
                     ELSE '' END AS url
              FROM documents
            ), sig AS (
              SELECT doc_id,
                lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS url_host,
                CAST(length(url) AS BIGINT) AS url_len,
                round(CAST(length(url) - length(regexp_replace(url, '[0-9]', '', 'g')) AS DOUBLE)
                      / greatest(length(url), 1), 6) AS url_digit_frac,
                round((CASE WHEN instr(lower(url), 'casino') > 0 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN instr(lower(url), 'clickbait') > 0 THEN 1.0 ELSE 0.0 END)
                    + (CASE WHEN instr(lower(url), 'tracker') > 0 THEN 0.5 ELSE 0.0 END)
                    + (CASE WHEN instr(lower(url), 'popup') > 0 THEN 0.5 ELSE 0.0 END), 6)
                  AS url_word_score
              FROM urls
            )
            SELECT doc_id, url_host, url_len, url_digit_frac, url_word_score,
              regexp_matches(url_host, '^\\d{1,3}(\\.\\d{1,3}){3}$') AS url_ip_host,
              url_host IN ('h0.example','h1.example','h2.example','h3.example') AS url_blocked,
              (url_host NOT IN ('h0.example','h1.example','h2.example','h3.example')
               AND NOT regexp_matches(url_host, '^\\d{1,3}(\\.\\d{1,3}){3}$')
               AND url_len <= 255
               AND url_digit_frac <= 0.5
               AND url_word_score < 0.99) AS url_keep
            FROM sig
        """,
        "robots_broadcast_join": """
            SELECT r_name, count(*) AS n_cust, round(avg(c_acctbal), 2) AS avg_bal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name
        """,
        "lineage_agg": """
            SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY o_orderstatus
        """,
        "hash_partition_dist": """
            SELECT (c_custkey * 2654435761) % 32 AS bucket, count(*) AS n
            FROM customer GROUP BY bucket
        """,
        "url_canonicalize": """
            SELECT o_orderkey,
                   'https://h' || (o_orderkey % 50) || '.example.com/p/' || o_orderkey
                   || '?a=1&b=2' AS canon
            FROM orders
        """,
        "domain_parse": """
            SELECT c_custkey,
                   CASE c_custkey % 4
                     WHEN 0 THEN 'Host' || c_custkey || '.COM'
                     WHEN 1 THEN 'Host' || c_custkey || '.org'
                     WHEN 2 THEN 'host' || c_custkey || '.net:notaport'
                     ELSE 'H' || c_custkey || '.io' END AS host,
                   CASE c_custkey % 4 WHEN 0 THEN 8080 ELSE NULL END AS port,
                   CASE c_custkey % 4 WHEN 0 THEN 'http' ELSE 'https' END AS proto_first
            FROM customer
        """,
        "human_size": """
            SELECT o_orderkey,
                   CASE WHEN s = 0 THEN '0B'
                        WHEN s < 1024 THEN printf('%.1f', s * 1.0) || 'B'
                        WHEN s < 1048576 THEN printf('%.1f', s / 1024.0) || 'KB'
                        WHEN s < 1073741824 THEN printf('%.1f', s / 1048576.0) || 'MB'
                        ELSE printf('%.1f', s / 1073741824.0) || 'GB' END AS hsize
            FROM (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 11 = 0 THEN 0
                          ELSE (o_orderkey * 7919) % 5000000000 END AS s
              FROM orders
            )
        """,
        "exact_dedup": f"""
            SELECT md5({_NORM_DUCK_LOWER}) AS text_hash,
                   min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY text_hash
        """,
        "text_stats": f"""
            SELECT doc_id,
                   CASE WHEN {_NORM_DUCK} = '' THEN 0
                        ELSE len(string_split({_NORM_DUCK}, ' ')) END AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z0-9]{{1,4}}|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
                   round((length(text) - length(regexp_replace(text,
                        '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0
                        / greatest(length(text), 1), 6) AS punct_ratio,
                   round(
                     (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0
                           WHEN length(text) > 2000 THEN 0.7
                           ELSE length(text) / 100.0 END) * 0.4
                   + (CASE WHEN p <= 0.1 THEN 1.0
                           ELSE greatest(0.0, 1.0 - (p - 0.1) * 5.0) END) * 0.3
                   + least(1.0, s * 10.0) * 0.3, 6) AS quality
            FROM (
              SELECT *,
                (length(text) - length(regexp_replace(text,
                    '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0
                    / greatest(length(text), 1) AS p,
                len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                    x -> x IN ('the','and','of','to','is'))) * 1.0
                    / greatest(len(string_split({_NORM_DUCK}, ' ')), 1) AS s
              FROM documents
            )
        """,
        # PII scrub: plain string (regex braces), patterns in the
        # Java-regex ∩ RE2 common subset so both engines agree exactly
        "pii_scrub": r"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-123-4567 from 10.'
                       || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                       || CAST(doc_id % 250 AS VARCHAR)
                       || ' ssn 219-09-9999 card 4012-8888-8888-1881'
                     ELSE text END AS text
              FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(text,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                   len(regexp_extract_all(text,
                       '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
                   len(regexp_extract_all(text,
                       '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
                   len(regexp_extract_all(text,
                       '\b\d{4}-\d{4}-\d{4}-\d{4}\b')) AS n_cc,
                   regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                       '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
                       '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                       '\b\d{4}-\d{4}-\d{4}-\d{4}\b', '<CC>', 'g') AS scrubbed
            FROM base
        """,
        "domain_mix": """
            SELECT host, doc_id, samp_rank FROM (
              SELECT host, doc_id,
                     row_number() OVER (
                       PARTITION BY host
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS samp_rank
              FROM (SELECT doc_id,
                           'h' || CAST(doc_id % 37 AS VARCHAR) AS host
                    FROM documents))
            WHERE samp_rank <= 8
        """,
        "seq_pack": f"""
            WITH toks AS (
              SELECT doc_id, doc_id % 8 AS shard,
                     CASE WHEN {_NORM_DUCK} = '' THEN 0
                          ELSE len(string_split({_NORM_DUCK}, ' ')) END AS n_tok
              FROM documents),
            b AS (
              SELECT shard, doc_id, n_tok,
                     CAST(floor((sum(n_tok) OVER (
                         PARTITION BY shard ORDER BY doc_id) - n_tok) / 1024.0)
                       AS BIGINT) AS bin_id
              FROM toks)
            SELECT shard, bin_id, count(*) AS n_docs, sum(n_tok) AS n_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM b GROUP BY shard, bin_id
        """,
        # Efraimidis-Spirakis weighted sample: top-120 of
        # ln(weight) + Gumbel, with the identical md5-derived noise
        # u = (md5_52('wsample:' || doc_id) + 0.5) / 2^52 replayed in
        # DuckDB, so the sampled SET and every score match exactly
        "weighted_sample": """
            SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
                   round(ln(CAST(length(text) AS DOUBLE))
                         + -(ln(-ln(((('0x' || substr(md5('wsample:'
                                || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT)
                                + 0.5) / 4503599627370496.0))),
                         6) AS sample_score
            FROM documents
            WHERE length(text) > 0
            ORDER BY sample_score DESC, doc_id
            LIMIT 120
        """,
        # ISO 28500 framing replayed byte-for-byte in SQL (E'' escape
        # strings carry the CRLFs; octet_length(encode()) counts BYTES
        # exactly like Spark's octet_length over the binary record)
        "warc_records": f"""
            {_WARC_REC_CTE}
            SELECT doc_id, url AS target_uri,
                   CAST(octet_length(encode(record)) AS BIGINT) AS record_len,
                   md5(record) AS record_md5
            FROM rec
        """,
        # SURT replayed on the derived urls (www stripped, :8080 kept,
        # query sorted) + the CDX cumsum window per file
        "surt_cdx": f"""
            {_WARC_REC_CTE}
            , cdx AS (
              SELECT doc_id, url,
                     'example,h' || (doc_id % 13)
                     || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
                     || ')/d/' || doc_id
                     || CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' ELSE '' END
                       AS surt,
                     'part-0000' || (doc_id % 3) AS warc_file,
                     CAST(octet_length(encode(record)) AS BIGINT)
                       AS record_length
              FROM rec
            )
            SELECT doc_id, url, surt, warc_file,
                   CAST(SUM(record_length) OVER (
                        PARTITION BY warc_file ORDER BY surt, url
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - record_length AS BIGINT) AS offset,
                   record_length
            FROM cdx
        """,
        # WET conversion framing replayed byte-for-byte: record id salted
        # with '#conversion', Refers-To carries the unsalted response id
        "wet_records": f"""
            {_WARC_REC_CTE}
            SELECT doc_id, url AS target_uri,
                   CAST(octet_length(encode(record)) AS BIGINT)
                     AS record_len,
                   md5(record) AS record_md5
            FROM (
              SELECT doc_id, url,
                     'WARC/1.0' || E'\\r\\n'
                     || 'WARC-Type: conversion' || E'\\r\\n'
                     || 'WARC-Record-ID: <urn:uuid:'
                     || substr(ch, 1, 8) || '-' || substr(ch, 9, 4) || '-'
                     || substr(ch, 13, 4) || '-' || substr(ch, 17, 4)
                     || '-' || substr(ch, 21, 12) || '>' || E'\\r\\n'
                     || 'WARC-Date: ' || dt || E'\\r\\n'
                     || 'WARC-Target-URI: ' || url || E'\\r\\n'
                     || 'WARC-Refers-To: <urn:uuid:'
                     || substr(rh, 1, 8) || '-' || substr(rh, 9, 4) || '-'
                     || substr(rh, 13, 4) || '-' || substr(rh, 17, 4)
                     || '-' || substr(rh, 21, 12) || '>' || E'\\r\\n'
                     || 'WARC-Payload-Digest: md5:' || md5(body)
                     || E'\\r\\n'
                     || 'Content-Type: text/plain' || E'\\r\\n'
                     || 'Content-Length: '
                     || CAST(octet_length(encode(body)) AS VARCHAR)
                     || E'\\r\\n\\r\\n' || body || E'\\r\\n\\r\\n' AS record
              FROM (SELECT doc_id, url, dt, body,
                           md5(url || chr(10) || dt || '#conversion') AS ch,
                           md5(url || chr(10) || dt) AS rh
                    FROM parts))
        """,
        # wayback resolution window replayed: before-group first (bool
        # DESC), latest-before via the CASE key (NULLS LAST matches
        # Spark's desc default), earliest-after via the ASC fallthrough
        "cdx_lookup": """
            WITH caps AS (
              SELECT doc_id, cap,
                     'example,h' || CAST(doc_id % 11 AS VARCHAR)
                       || ')/r/' || CAST(doc_id AS VARCHAR) AS surt,
                     'https://h' || CAST(doc_id % 11 AS VARCHAR)
                       || '.example/r/' || CAST(doc_id AS VARCHAR) AS url,
                     '2026-' || lpad(CAST(doc_id % 3 + 1 + cap AS VARCHAR),
                                     2, '0') || '-15T00:00:00Z' AS date
              FROM documents CROSS JOIN (VALUES (0), (1)) AS e(cap)),
            ranked AS (
              SELECT *, row_number() OVER (
                  PARTITION BY surt ORDER BY
                    (date <= '2026-02-20T00:00:00Z') DESC,
                    CASE WHEN date <= '2026-02-20T00:00:00Z'
                         THEN date END DESC NULLS LAST,
                    date ASC, url ASC) AS rn
              FROM caps)
            SELECT doc_id, cap, surt, url, date
            FROM ranked WHERE rn = 1
        """,
        # WAT metadata framing: the native JSON envelope + the
        # '#metadata'-salted derived-record frame, byte-for-byte
        "wat_records": f"""
            {_WARC_REC_CTE}
            SELECT doc_id, url AS target_uri,
                   CAST(octet_length(encode(record)) AS BIGINT)
                     AS record_len,
                   md5(record) AS record_md5
            FROM (
              SELECT doc_id, url,
                     'WARC/1.0' || E'\\r\\n'
                     || 'WARC-Type: metadata' || E'\\r\\n'
                     || 'WARC-Record-ID: <urn:uuid:'
                     || substr(mh, 1, 8) || '-' || substr(mh, 9, 4) || '-'
                     || substr(mh, 13, 4) || '-' || substr(mh, 17, 4)
                     || '-' || substr(mh, 21, 12) || '>' || E'\\r\\n'
                     || 'WARC-Date: ' || dt || E'\\r\\n'
                     || 'WARC-Target-URI: ' || url || E'\\r\\n'
                     || 'WARC-Refers-To: <urn:uuid:'
                     || substr(rh, 1, 8) || '-' || substr(rh, 9, 4) || '-'
                     || substr(rh, 13, 4) || '-' || substr(rh, 17, 4)
                     || '-' || substr(rh, 21, 12) || '>' || E'\\r\\n'
                     || 'WARC-Payload-Digest: md5:' || md5(meta)
                     || E'\\r\\n'
                     || 'Content-Type: application/json' || E'\\r\\n'
                     || 'Content-Length: '
                     || CAST(octet_length(encode(meta)) AS VARCHAR)
                     || E'\\r\\n\\r\\n' || meta || E'\\r\\n\\r\\n' AS record
              FROM (SELECT doc_id, url, dt,
                           md5(url || chr(10) || dt || '#metadata') AS mh,
                           md5(url || chr(10) || dt) AS rh,
                           '{{"Content-Length":'
                           || CAST(octet_length(encode(body)) AS VARCHAR)
                           || ',"Content-Type":"' || mime
                           || '","Links":[],"Payload-Digest":"md5:'
                           || md5(body) || '","Status":'
                           || CAST(status AS VARCHAR)
                           || ',"URL":"' || url || '"}}' AS meta
                    FROM parts))
        """,
        # both WARC framings (response for originals, header-only revisit
        # for repeated (surt, digest) captures) replayed byte-for-byte;
        # uuid = md5(url || \n || date) hex laid out 8-4-4-4-12
        "warc_revisit": """
            WITH src AS (
              SELECT doc_id, epoch,
                     'https://h' || CAST(doc_id % 11 AS VARCHAR)
                       || '.example/r/' || CAST(doc_id AS VARCHAR) AS url,
                     '2026-0' || CAST(epoch + 1 AS VARCHAR)
                       || '-01T00:00:00Z' AS dt,
                     text || CASE WHEN doc_id % 4 = 0 AND epoch = 1
                                  THEN '-v2' ELSE '' END AS body,
                     (epoch = 1 AND doc_id % 4 <> 0) AS is_revisit
              FROM documents CROSS JOIN (VALUES (0), (1)) AS e(epoch)),
            h AS (
              SELECT *,
                     md5(url || chr(10) || dt) AS uh,
                     md5(url || chr(10) || '2026-01-01T00:00:00Z') AS ruh,
                     'HTTP/1.1 200 OK' || E'\\r\\n'
                       || 'Content-Type: text/plain' || E'\\r\\n'
                       || 'Content-Length: '
                       || CAST(octet_length(encode(body)) AS VARCHAR)
                       || E'\\r\\n\\r\\n' AS http_head
              FROM src),
            rec AS (
              SELECT doc_id, epoch, is_revisit,
                     CASE WHEN is_revisit THEN
                       'WARC/1.0' || E'\\r\\n'
                       || 'WARC-Type: revisit' || E'\\r\\n'
                       || 'WARC-Record-ID: <urn:uuid:'
                       || substr(uh, 1, 8) || '-' || substr(uh, 9, 4) || '-'
                       || substr(uh, 13, 4) || '-' || substr(uh, 17, 4)
                       || '-' || substr(uh, 21, 12) || '>' || E'\\r\\n'
                       || 'WARC-Date: ' || dt || E'\\r\\n'
                       || 'WARC-Target-URI: ' || url || E'\\r\\n'
                       || 'WARC-Profile: http://netpreserve.org/warc/1.0/revisit/identical-payload-digest'
                       || E'\\r\\n'
                       || 'WARC-Refers-To: <urn:uuid:'
                       || substr(ruh, 1, 8) || '-' || substr(ruh, 9, 4)
                       || '-' || substr(ruh, 13, 4) || '-'
                       || substr(ruh, 17, 4) || '-' || substr(ruh, 21, 12)
                       || '>' || E'\\r\\n'
                       || 'WARC-Payload-Digest: md5:' || md5(body)
                       || E'\\r\\n'
                       || 'Content-Type: application/http;msgtype=response'
                       || E'\\r\\n'
                       || 'Content-Length: 0' || E'\\r\\n\\r\\n\\r\\n\\r\\n'
                     ELSE
                       'WARC/1.0' || E'\\r\\n'
                       || 'WARC-Type: response' || E'\\r\\n'
                       || 'WARC-Record-ID: <urn:uuid:'
                       || substr(uh, 1, 8) || '-' || substr(uh, 9, 4) || '-'
                       || substr(uh, 13, 4) || '-' || substr(uh, 17, 4)
                       || '-' || substr(uh, 21, 12) || '>' || E'\\r\\n'
                       || 'WARC-Date: ' || dt || E'\\r\\n'
                       || 'WARC-Target-URI: ' || url || E'\\r\\n'
                       || 'WARC-Payload-Digest: md5:' || md5(body)
                       || E'\\r\\n'
                       || 'Content-Type: application/http;msgtype=response'
                       || E'\\r\\n'
                       || 'Content-Length: '
                       || CAST(octet_length(encode(http_head))
                               + octet_length(encode(body)) AS VARCHAR)
                       || E'\\r\\n\\r\\n'
                       || http_head || body || E'\\r\\n\\r\\n'
                     END AS record
              FROM h)
            SELECT doc_id, epoch, is_revisit,
                   CAST(octet_length(encode(record)) AS BIGINT)
                     AS record_len,
                   md5(record) AS record_md5
            FROM rec
        """,
        # cap_tokens re-trims the 160-char cut (token_count normalizes its
        # input again Spark-side, so a trailing cut-space never counts)
        "image_pair_filter": f"""
            WITH meta AS (
              SELECT 'img' || CAST(doc_id AS VARCHAR) AS image_id,
                     CAST(32 + (doc_id * 13) % 2048 AS INT) AS w,
                     CAST(32 + (doc_id * 29) % 2048 AS INT) AS h,
                     CASE doc_id % 5 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                          WHEN 2 THEN 'webp' WHEN 3 THEN 'gif'
                          ELSE 'bmp' END AS fmt,
                     substr({_NORM_DUCK}, 1, 160) AS caption
              FROM documents),
            sig AS (
              SELECT *,
                     CASE WHEN trim(caption) = '' THEN 0
                          ELSE len(string_split(trim(caption), ' ')) END
                       AS cap_tokens,
                     len(regexp_extract_all(caption, '[A-Za-z]')) * 1.0
                       / greatest(length(caption), 1) AS alpha_ratio
              FROM meta)
            SELECT image_id, w, h, fmt, cap_tokens,
                   least(w, h) >= 200 AS size_ok,
                   greatest(w, h) * 1.0 <= 3.0 * least(w, h) AS aspect_ok,
                   fmt IN ('jpeg', 'png', 'webp') AS fmt_ok,
                   cap_tokens BETWEEN 2 AND 77 AS cap_ok,
                   alpha_ratio >= 0.5 AS alpha_ok,
                   (least(w, h) >= 200
                    AND greatest(w, h) * 1.0 <= 3.0 * least(w, h)
                    AND fmt IN ('jpeg', 'png', 'webp')
                    AND cap_tokens BETWEEN 2 AND 77
                    AND alpha_ratio >= 0.5) AS keep
            FROM sig
        """,
        # per-language curation report: lang argmax + the text_stats
        # quality formula, quality summed in integer micro-units
        "corpus_report": f"""
            WITH scored AS (
              SELECT CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
                          WHEN en = greatest(en, de, es, fr) THEN 'en'
                          WHEN de = greatest(en, de, es, fr) THEN 'de'
                          WHEN es = greatest(en, de, es, fr) THEN 'es'
                          ELSE 'fr' END AS lang_pred,
                     CASE WHEN {_NORM_DUCK} = '' THEN 0
                          ELSE len(string_split({_NORM_DUCK}, ' ')) END AS n_tok,
                     round(
                       (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0
                             WHEN length(text) > 2000 THEN 0.7
                             ELSE length(text) / 100.0 END) * 0.4
                     + (CASE WHEN p2 <= 0.1 THEN 1.0
                             ELSE greatest(0.0, 1.0 - (p2 - 0.1) * 5.0) END) * 0.3
                     + least(1.0, s2 * 10.0) * 0.3, 6) AS quality
              FROM (
                SELECT *,
                  (length(text) - length(regexp_replace(text,
                      '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0
                      / greatest(length(text), 1) AS p2,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('the','and','of','to','is'))) * 1.0
                      / greatest(len(string_split({_NORM_DUCK}, ' ')), 1) AS s2,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('the','and','of','to','is'))) AS en,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('der','die','und','ist','das'))) AS de,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('el','la','los','es','una'))) AS es,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('le','la','les','est','une'))) AS fr
                FROM documents
              ))
            SELECT lang_pred, count(*) AS n_docs, sum(n_tok) AS n_tokens,
                   sum(CAST(round(quality * 1000000) AS BIGINT))
                     AS sum_quality_micro,
                   sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS n_keep
            FROM scored GROUP BY lang_pred
        """,
        # C4 rules over the derived corpus (shared CTE constants above)
        "c4_line_filters": f"""
            WITH {_C4_DOCS_CTES},
            {_C4_LINEFILTER_CTES}
            SELECT doc_id,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
                   n_lines, len(kept) AS n_lines_kept,
                   len(regexp_extract_all(
                       coalesce(array_to_string(kept, chr(10)), ''),
                       '[.!?]')) AS n_sentences,
                   contains(text, '{{') AS has_brace,
                   contains(lower(text), 'lorem ipsum') AS has_lorem,
                   (len(regexp_extract_all(
                        coalesce(array_to_string(kept, chr(10)), ''),
                        '[.!?]')) >= 5
                    AND NOT contains(text, '{{')
                    AND NOT contains(lower(text), 'lorem ipsum')) AS page_keep
            FROM k
        """,
        "c4_clean": f"""
            WITH {_C4_DOCS_CTES},
            {_C4_LINEFILTER_CTES},
            kc AS (
              SELECT doc_id, text,
                     coalesce(array_to_string(kept, chr(10)), '') AS ctext
              FROM k),
            g AS (
              SELECT doc_id, ctext
              FROM kc
              WHERE len(regexp_extract_all(ctext, '[.!?]')) >= 5
                AND NOT contains(text, '{{')
                AND NOT contains(lower(text), 'lorem ipsum')),
            s AS (SELECT doc_id, string_split(ctext, '. ') AS sents FROM g),
            sp0 AS (SELECT doc_id, sents,
                           unnest(range(1, len(sents) - 1)) AS i
                    FROM s),
            sp AS (SELECT doc_id, CAST(i - 1 AS INT) AS span_idx,
                          md5(array_to_string(sents[i:i+2], '|')) AS span_h
                   FROM sp0),
            occ AS (SELECT doc_id, span_idx,
                           row_number() OVER (
                             PARTITION BY span_h
                             ORDER BY doc_id, span_idx) AS rn
                    FROM sp),
            dr AS (SELECT DISTINCT doc_id,
                          span_idx + unnest([0, 1, 2]) AS sent_idx
                   FROM occ WHERE rn > 1),
            se AS (SELECT doc_id, len(sents) AS n_sent,
                          CAST(unnest(range(len(sents))) AS INT) AS sent_idx,
                          unnest(sents) AS sent
                   FROM s),
            kp AS (SELECT se.doc_id, se.n_sent, se.sent_idx, se.sent
                   FROM se ANTI JOIN dr
                     ON se.doc_id = dr.doc_id AND se.sent_idx = dr.sent_idx)
            SELECT doc_id,
                   string_agg(sent, '. ' ORDER BY sent_idx) AS dedup_text,
                   max(n_sent) AS n_sentences,
                   CAST(max(n_sent) - count(*) AS INT) AS n_sent_dropped
            FROM kp GROUP BY doc_id
        """,
        "lang_id": f"""
            WITH c AS (
              SELECT doc_id,
                len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                    x -> x IN ('the','and','of','to','is'))) AS en,
                len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                    x -> x IN ('der','die','und','ist','das'))) AS de,
                len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                    x -> x IN ('el','la','los','es','una'))) AS es,
                len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                    x -> x IN ('le','la','les','est','une'))) AS fr
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
                        WHEN en = greatest(en, de, es, fr) THEN 'en'
                        WHEN de = greatest(en, de, es, fr) THEN 'de'
                        WHEN es = greatest(en, de, es, fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM c
        """,
        "ngram_jaccard_dups": f"""
            WITH {_ngram_pairs_ctes()}
            SELECT a, b, jaccard FROM p
        """,
        # pairs -> components: transitive closure via recursive CTE, the
        # min reachable id is the canonical doc of each cluster
        "dedup_clusters": f"""
            WITH RECURSIVE {_ngram_pairs_ctes()},
            e AS (
              SELECT a AS x, b AS y FROM p
              UNION
              SELECT b AS x, a AS y FROM p
            ),
            reach(id, r) AS (
              SELECT x, y FROM e
              UNION
              SELECT reach.id, e.y FROM reach JOIN e ON reach.r = e.x
            )
            SELECT id, least(id, min(r)) AS canonical FROM reach GROUP BY id
        """,
        # capstone: dedup-clusters + quality gate + token counts in one
        # shard manifest (shares the pairs CTEs and the text_stats formulas)
        "training_shard": f"""
            WITH RECURSIVE {_ngram_pairs_ctes()},
            e AS (
              SELECT a AS x, b AS y FROM p
              UNION
              SELECT b AS x, a AS y FROM p
            ),
            reach(id, r) AS (
              SELECT x, y FROM e
              UNION
              SELECT reach.id, e.y FROM reach JOIN e ON reach.r = e.x
            ),
            comp AS (SELECT id, least(id, min(r)) AS canonical FROM reach GROUP BY id),
            drops AS (SELECT id FROM comp WHERE id != canonical),
            scored AS (
              SELECT doc_id,
                     CASE WHEN {_NORM_DUCK} = '' THEN 0
                          ELSE len(string_split({_NORM_DUCK}, ' ')) END AS n_tokens,
                     round(
                       (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0
                             WHEN length(text) > 2000 THEN 0.7
                             ELSE length(text) / 100.0 END) * 0.4
                     + (CASE WHEN p2 <= 0.1 THEN 1.0
                             ELSE greatest(0.0, 1.0 - (p2 - 0.1) * 5.0) END) * 0.3
                     + least(1.0, s2 * 10.0) * 0.3, 6) AS quality
              FROM (
                SELECT *,
                  (length(text) - length(regexp_replace(text,
                      '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0
                      / greatest(length(text), 1) AS p2,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('the','and','of','to','is'))) * 1.0
                      / greatest(len(string_split({_NORM_DUCK}, ' ')), 1) AS s2
                FROM documents
              )
            )
            SELECT doc_id, n_tokens, quality FROM scored
            WHERE quality >= 0.5 AND doc_id NOT IN (SELECT id FROM drops)
        """,
        # capstone with the substring-dedup drop-list unioned in: the pair
        # graph is ngram pairs ∪ winnow pairs (the latter recomputed by SQL
        # over the hash-verified winnow-fingerprint golden — same shape as
        # the winnow_dup_pairs oracle), everything downstream identical
        "training_shard_substr": f"""
            WITH RECURSIVE {_ngram_pairs_ctes()},
            wfps AS (SELECT doc_id, fp
                    FROM read_parquet('{_GOLDEN}/winnow_fingerprints.parquet')),
            wrare AS (SELECT fp FROM wfps GROUP BY fp HAVING count(*) <= 1000),
            wf2 AS (SELECT doc_id, fp FROM wfps JOIN wrare USING (fp)),
            wp AS (
              SELECT fa.doc_id AS a, fb.doc_id AS b
              FROM wf2 fa JOIN wf2 fb ON fa.fp = fb.fp AND fa.doc_id < fb.doc_id
              GROUP BY fa.doc_id, fb.doc_id HAVING count(*) >= 50
            ),
            pall AS (SELECT a, b FROM p UNION SELECT a, b FROM wp),
            e AS (
              SELECT a AS x, b AS y FROM pall
              UNION
              SELECT b AS x, a AS y FROM pall
            ),
            reach(id, r) AS (
              SELECT x, y FROM e
              UNION
              SELECT reach.id, e.y FROM reach JOIN e ON reach.r = e.x
            ),
            comp AS (SELECT id, least(id, min(r)) AS canonical FROM reach GROUP BY id),
            drops AS (SELECT id FROM comp WHERE id != canonical),
            scored AS (
              SELECT doc_id,
                     CASE WHEN {_NORM_DUCK} = '' THEN 0
                          ELSE len(string_split({_NORM_DUCK}, ' ')) END AS n_tokens,
                     round(
                       (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0
                             WHEN length(text) > 2000 THEN 0.7
                             ELSE length(text) / 100.0 END) * 0.4
                     + (CASE WHEN p2 <= 0.1 THEN 1.0
                             ELSE greatest(0.0, 1.0 - (p2 - 0.1) * 5.0) END) * 0.3
                     + least(1.0, s2 * 10.0) * 0.3, 6) AS quality
              FROM (
                SELECT *,
                  (length(text) - length(regexp_replace(text,
                      '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0
                      / greatest(length(text), 1) AS p2,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('the','and','of','to','is'))) * 1.0
                      / greatest(len(string_split({_NORM_DUCK}, ' ')), 1) AS s2
                FROM documents
              )
            )
            SELECT doc_id, n_tokens, quality FROM scored
            WHERE quality >= 0.5 AND doc_id NOT IN (SELECT id FROM drops)
        """,
        # eval-set decontamination: distinct shared word-5-grams between
        # each train doc (doc_id%10 != 7) and the eval split (== 7); the
        # shingle CTE mirrors word_shingles incl. the short-doc fallback
        "decontam": f"""
            WITH {_shingle_cte(5)}
            SELECT tr.doc_id,
                   count(DISTINCT tr.shingle) AS n_overlap_grams,
                   count(DISTINCT ev.eval_id) AS n_eval_docs
            FROM (SELECT doc_id, shingle FROM sh
                  WHERE doc_id % 10 != {_EVAL_SPLIT}) tr
            JOIN (SELECT doc_id AS eval_id, shingle FROM sh
                  WHERE doc_id % 10 = {_EVAL_SPLIT}) ev
              ON tr.shingle = ev.shingle
            GROUP BY tr.doc_id
        """,
        # capstone + decontamination: pair graph over the TRAIN split only,
        # drop-list = CC non-canonicals UNION eval-overlap docs
        "training_shard_decontam": decontam_sql,
        # curated capstone: the decontam manifest -> per-domain quota
        # sample (md5 rank <= 8) -> concat-and-chunk packing manifest
        "training_shard_curated": f"""
            WITH manifest AS ({decontam_sql}),
            hosts AS (
              SELECT doc_id, n_tokens,
                     'h' || CAST(doc_id % 37 AS VARCHAR) AS host
              FROM manifest),
            ranked AS (
              SELECT doc_id, n_tokens,
                     row_number() OVER (
                       PARTITION BY host
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS samp_rank
              FROM hosts),
            sampled AS (
              SELECT doc_id, n_tokens FROM ranked WHERE samp_rank <= 8),
            b AS (
              SELECT doc_id % 8 AS shard, doc_id, n_tokens,
                     CAST(floor((sum(n_tokens) OVER (
                         PARTITION BY doc_id % 8 ORDER BY doc_id)
                         - n_tokens) / 1024.0) AS BIGINT) AS bin_id
              FROM sampled)
            SELECT shard, bin_id, count(*) AS n_docs,
                   sum(n_tokens) AS n_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM b GROUP BY shard, bin_id
        """,
        # Gopher quality: every formula replayed in SQL (per-row signals
        # over the same normalized text; per-n gram CTEs generated by
        # _gopher_oracle_sql — top gram via window with the
        # lexicographically-smallest tie-break, dup fractions capped at 1)
        "gopher_quality": _gopher_oracle_sql(),
        "cosine_topk": """
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                q.embedding::DOUBLE[]), 6) AS cos_sim,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY list_cosine_similarity(c.embedding::DOUBLE[],
                                                     q.embedding::DOUBLE[]) DESC,
                              c.vec_id) AS rank
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 8) q
            QUALIFY rank <= 5
        """,
        # SemDeDup: the full derivation in SQL — variant construction,
        # argmax-cosine cell assignment (first index wins ties, matching
        # ivf_assign's array_position rule), within-cell pairs >= tau,
        # recursive-CTE components, lowest-centroid-cosine keep rule
        "semdedup": """
            WITH RECURSIVE
            base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            var AS (SELECT vec_id + 100000 AS vec_id,
                           list_transform(e, x -> x * 0.9 + 0.03) AS e
                    FROM base WHERE vec_id % 3 = 0),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM var),
            cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                            e AS c
                     FROM (SELECT vec_id, e FROM allv ORDER BY vec_id LIMIT 8)),
            coss AS (SELECT a.vec_id, a.e, c.cid,
                            list_cosine_similarity(a.e, c.c) AS cos,
                            max(list_cosine_similarity(a.e, c.c)) OVER (
                              PARTITION BY a.vec_id) AS mx
                     FROM allv a CROSS JOIN cent c),
            asg AS (SELECT vec_id, arg_min(e, cid) AS e,
                           min(cid) FILTER (WHERE cos = mx) AS cell
                    FROM coss GROUP BY vec_id),
            p AS (SELECT l.vec_id AS a, r.vec_id AS b,
                         list_cosine_similarity(l.e, r.e) AS cos
                  FROM asg l JOIN asg r
                    ON l.cell = r.cell AND l.vec_id < r.vec_id
                  WHERE list_cosine_similarity(l.e, r.e) >= 0.7),
            e2 AS (SELECT a AS x, b AS y FROM p
                   UNION SELECT b AS x, a AS y FROM p),
            reach(id, r) AS (
              SELECT x, y FROM e2
              UNION
              SELECT reach.id, e2.y FROM reach JOIN e2 ON reach.r = e2.x),
            comp AS (SELECT id, least(id, min(r)) AS canonical
                     FROM reach GROUP BY id),
            mc AS (SELECT asg.vec_id AS id,
                          list_cosine_similarity(asg.e, cent.c) AS cent_cos
                   FROM asg JOIN cent ON asg.cell = cent.cid),
            scored AS (SELECT comp.id, comp.canonical, mc.cent_cos
                       FROM comp JOIN mc ON comp.id = mc.id),
            keep AS (SELECT canonical, id AS keeper FROM (
                       SELECT canonical, id,
                              row_number() OVER (PARTITION BY canonical
                                ORDER BY cent_cos, id) AS rn
                       FROM scored) WHERE rn = 1)
            SELECT s.id, k.keeper, round(s.cent_cos, 6) AS cent_cos
            FROM scored s JOIN keep k USING (canonical)
        """,
        # CCNet LM perplexity: the bigram LM (add-0.5 smoothing) trained on
        # the doc_id%10==3 split, replayed end-to-end — bigrams via zipped
        # list slices, per-doc sums as DECIMAL(20,9) (order-independent,
        # matching the engine's decimal quantization), fixed bucket cutoffs
        "lm_perplexity": f"""
            WITH
            nd AS (SELECT doc_id, {_NORM_DUCK_LOWER} AS norm FROM documents),
            tok AS (SELECT doc_id,
                           CASE WHEN norm = '' THEN []
                                ELSE string_split(norm, ' ') END AS t
                    FROM nd),
            ref AS (SELECT * FROM tok WHERE doc_id % 10 = 3),
            rest AS (SELECT * FROM tok WHERE doc_id % 10 != 3),
            refp AS (SELECT doc_id,
                            unnest(list_slice(a, 1, len(a) - 1)) AS ctx,
                            unnest(list_slice(a, 2, len(a))) AS w
                     FROM (SELECT doc_id, ['<s>'] || t AS a FROM ref)),
            bg AS (SELECT ctx, w, count(*) AS cnt FROM refp GROUP BY ctx, w),
            cx AS (SELECT ctx, count(*) AS ctx_cnt FROM refp GROUP BY ctx),
            v AS (SELECT count(DISTINCT tk) + 1 AS vs
                  FROM (SELECT unnest(t) AS tk FROM ref)),
            restp AS (SELECT doc_id,
                             unnest(list_slice(a, 1, len(a) - 1)) AS ctx,
                             unnest(list_slice(a, 2, len(a))) AS w
                      FROM (SELECT doc_id, ['<s>'] || t AS a FROM rest)),
            sc AS (SELECT p.doc_id,
                          CAST(round(ln((coalesce(bg.cnt, 0) + 0.5)
                                 / (coalesce(cx.ctx_cnt, 0)
                                    + 0.5 * (SELECT vs FROM v))), 9)
                               AS DECIMAL(20,9)) AS lq
                   FROM restp p
                   LEFT JOIN bg ON p.ctx = bg.ctx AND p.w = bg.w
                   LEFT JOIN cx ON p.ctx = cx.ctx),
            agg AS (SELECT doc_id, count(*) AS n, sum(lq) AS s
                    FROM sc GROUP BY doc_id),
            outv AS (SELECT doc_id, n AS n_scored,
                            CAST(s AS DOUBLE) / n AS avg
                     FROM agg
                     UNION ALL
                     SELECT r.doc_id, 0 AS n_scored, NULL AS avg
                     FROM rest r ANTI JOIN agg ON r.doc_id = agg.doc_id)
            SELECT doc_id, n_scored,
                   round(avg, 6) AS avg_logp,
                   round(exp(-avg), 6) AS ppl,
                   CASE WHEN exp(-avg) <= 30.0 THEN 'head'
                        WHEN exp(-avg) <= 40.0 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM outv
        """,
        # NB quality classifier: train (token counts -> capped vocab ->
        # log-odds weights quantized to DECIMAL(20,9)) and score (inner
        # join on vocab, prior for zero-hit docs) replayed end-to-end;
        # vocab cap ORDER BY total DESC, tok ASC matches the engine's
        # deterministic TakeOrdered
        "quality_clf": f"""
            WITH
            nd AS (SELECT doc_id, {_NORM_DUCK_LOWER} AS norm FROM documents),
            tok AS (SELECT doc_id,
                           CASE WHEN norm = '' THEN []
                                ELSE string_split(norm, ' ') END AS t
                    FROM nd),
            lab AS (SELECT doc_id,
                           CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END AS label,
                           t
                    FROM tok WHERE doc_id % 10 IN (3, 7)),
            ltk AS (SELECT doc_id, label, unnest(t) AS tok FROM lab),
            counts AS (SELECT tok, sum(label) AS cnt_pos,
                              sum(1 - label) AS cnt_neg
                       FROM ltk GROUP BY tok),
            vocab AS (SELECT * FROM counts
                      ORDER BY (cnt_pos + cnt_neg) DESC, tok LIMIT 24),
            tot AS (SELECT sum(cnt_pos) AS pt, sum(cnt_neg) AS nt,
                           count(*) AS vc FROM vocab),
            wts AS (SELECT tok,
                           CAST(round(
                               ln((cnt_pos + 0.5) / (pt + 0.5 * vc))
                             - ln((cnt_neg + 0.5) / (nt + 0.5 * vc)), 9)
                             AS DECIMAL(20,9)) AS wq
                    FROM vocab, tot),
            pri AS (SELECT ln((sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + 0.5)
                            / (sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) + 0.5))
                           AS p
                    FROM lab),
            rest AS (SELECT doc_id, t FROM tok WHERE doc_id % 10 NOT IN (3, 7)),
            rtk AS (SELECT doc_id, unnest(t) AS tok FROM rest),
            agg AS (SELECT r.doc_id, count(*) AS n_matched, sum(w.wq) AS sw
                    FROM rtk r JOIN wts w USING (tok) GROUP BY r.doc_id),
            outv AS (SELECT doc_id, n_matched,
                            (SELECT p FROM pri) + CAST(sw AS DOUBLE) AS score
                     FROM agg
                     UNION ALL
                     SELECT r.doc_id, 0 AS n_matched,
                            (SELECT p FROM pri) AS score
                     FROM rest r ANTI JOIN agg ON r.doc_id = agg.doc_id)
            SELECT doc_id, n_matched, round(score, 6) AS score,
                   score > 0 AS quality_pred
            FROM outv
        """,
        # DSIR importance weights: hashed unigram+bigram features
        # (md5-prefix % 10000 — the exact cross-engine bucket contract),
        # add-1 smoothed target (doc_id%10==3) vs raw (all docs)
        # multinomials, per-doc DECIMAL sum of cnt * round(llr, 9)
        "dsir_weights": f"""
            WITH {_dsir_w_cte()}
            SELECT d.doc_id, coalesce(w.n_feats, 0) AS n_feats,
                   round(CAST(w.lw AS DOUBLE), 6) AS log_w
            FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
        """,
        # DSIR Gumbel-top-k: score = log_w + -ln(-ln(u)) with
        # u = (md5_52('dsir:' || doc_id) + 0.5) / 2^52 — the same
        # hash-derived noise the engine uses, so the selected SET and
        # every score replay exactly
        "dsir_select": f"""
            WITH {_dsir_w_cte()}
            SELECT doc_id, n_feats,
                   round(CAST(lw AS DOUBLE), 6) AS log_w,
                   round(CAST(lw AS DOUBLE)
                         + -(ln(-ln(((('0x' || substr(md5('dsir:'
                                || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT)
                                + 0.5) / 4503599627370496.0))),
                         6) AS score
            FROM w
            ORDER BY score DESC, doc_id
            LIMIT 100
        """,
        # ExactSubstr span dedup: the fixture construction, L=12 rolling
        # windows, dup detection, gaps-and-islands merge, and the
        # index-filtered text rebuild all replayed (window key compared
        # as the raw gram string — md5 on the engine side is injective
        # modulo 128-bit collisions)
        "exactsubstr": f"""
            WITH
            fx AS (SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN '{_ES_PASSAGE} '
                          ELSE '' END
                     || norm
                     || CASE WHEN doc_id % 19 = 0 THEN ' ' ||
                          array_to_string(list_slice(
                            string_split(norm, ' '), 1, 12), ' ')
                        ELSE '' END AS text
                   FROM (SELECT doc_id, {_NORM_DUCK_LOWER} AS norm
                         FROM documents)),
            tok AS (SELECT doc_id,
                      CASE WHEN nn = '' THEN []
                           ELSE string_split(nn, ' ') END AS t
                    FROM (SELECT doc_id,
                            trim(regexp_replace(text,
                              '[ \\t\\n\\r\\f]+', ' ', 'g')) AS nn
                          FROM fx)),
            win AS (SELECT doc_id, i AS pos,
                           array_to_string(
                             list_slice(t, i + 1, i + 12), ' ') AS w
                    FROM tok,
                         unnest(range(0, greatest(len(t) - 11, 0))) AS z(i)),
            marks AS (SELECT doc_id, pos FROM win
                      WHERE w IN (SELECT w FROM win
                                  GROUP BY w HAVING count(*) >= 2)),
            isl AS (SELECT doc_id, pos,
                      CASE WHEN max(pos + 12) OVER prevw IS NULL
                             OR pos > max(pos + 12) OVER prevw
                           THEN 1 ELSE 0 END AS newi
                    FROM marks
                    WINDOW prevw AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            grp AS (SELECT doc_id, pos,
                           sum(newi) OVER (PARTITION BY doc_id
                             ORDER BY pos) AS g
                    FROM isl),
            spans AS (SELECT doc_id, g, min(pos) AS s, max(pos) + 12 AS e
                      FROM grp GROUP BY doc_id, g),
            agg AS (SELECT doc_id, count(*) AS n_spans,
                           sum(e - s) AS n_dup
                    FROM spans GROUP BY doc_id),
            cov AS (SELECT DISTINCT m.doc_id, m.pos + u AS ti
                    FROM marks m, unnest(range(0, 12)) AS z(u)),
            toks AS (SELECT doc_id, i, t[i + 1] AS tk
                     FROM tok, unnest(range(0, len(t))) AS z(i)),
            kept AS (SELECT tt.doc_id,
                            string_agg(tk, ' ' ORDER BY i) AS clean_text
                     FROM toks tt
                     ANTI JOIN cov ON tt.doc_id = cov.doc_id
                                  AND tt.i = cov.ti
                     GROUP BY tt.doc_id)
            SELECT d.doc_id,
                   coalesce(a.n_spans, 0) AS n_spans,
                   coalesce(a.n_dup, 0) AS n_dup_tokens,
                   coalesce(k.clean_text, '') AS clean_text
            FROM documents d
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN kept k ON d.doc_id = k.doc_id
        """,
        # data-mixture epoch manifest: per-source token totals, epoch
        # factor arithmetic in the engine's exact operation order (every
        # float literal CAST to DOUBLE), md5-Bernoulli fractional copy
        "mixture": f"""
            WITH
            d AS (SELECT doc_id, source,
                    CASE WHEN nn = '' THEN 0
                         ELSE len(string_split(nn, ' ')) END AS n_tokens
                  FROM (SELECT doc_id, source, {_NORM_DUCK} AS nn
                        FROM documents)),
            w(source, wt) AS (VALUES
              ('src0', CAST(4.0 AS DOUBLE)), ('src1', CAST(2.0 AS DOUBLE)),
              ('src2', CAST(1.0 AS DOUBLE)), ('src3', CAST(0.5 AS DOUBLE)),
              ('src4', CAST(0.0 AS DOUBLE))),
            fac AS (SELECT source,
                           CAST(floor((6000 * wt / CAST(7.5 AS DOUBLE)) / a)
                                AS INT) AS base_copies,
                           (6000 * wt / CAST(7.5 AS DOUBLE)) / a
                             - floor((6000 * wt / CAST(7.5 AS DOUBLE)) / a)
                             AS frac
                    FROM (SELECT d.source, sum(d.n_tokens) AS a,
                                 coalesce(max(w.wt), CAST(0.0 AS DOUBLE))
                                   AS wt
                          FROM d LEFT JOIN w ON d.source = w.source
                          GROUP BY d.source)),
            m AS (SELECT d.doc_id, d.source,
                         CAST(d.n_tokens AS BIGINT) AS n_tokens,
                         CAST(f.base_copies
                              + CASE WHEN ((('0x' || substr(md5('mix:'
                                      || CAST(d.doc_id AS VARCHAR)), 1, 13))
                                      ::BIGINT) + 0.5) / 4503599627370496.0
                                     < f.frac
                                     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
                  FROM d JOIN fac f USING (source))
            SELECT doc_id, source, n_tokens, n_copies
            FROM m WHERE n_copies >= 1
        """,
        # host-graph PageRank frontier priority: unrolled 3-iteration
        # power method (dangling mass + quantized contributions + update
        # per iteration) and the ntile priority bands
        "host_pagerank": _pagerank_oracle_sql(),
        # Okapi BM25 (Lucene idf): per-(doc,term) summands quantized to
        # DECIMAL(20,9); N/avgdl scalars, idf, saturation and length
        # normalization replayed in the engine's exact operation order
        "bm25": f"""
            WITH
            tok AS (SELECT doc_id,
                      CASE WHEN norm = '' THEN []
                           ELSE string_split(norm, ' ') END AS t
                    FROM (SELECT doc_id, {_NORM_DUCK_LOWER} AS norm
                          FROM documents)),
            dl AS (SELECT doc_id, len(t) AS dl FROM tok),
            stats AS (SELECT count(*) AS n,
                             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                      FROM dl),
            hits AS (SELECT doc_id, tk AS tok, count(*) AS tf,
                            max(dl) AS dl
                     FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tk
                           FROM tok)
                     WHERE tk IN ('table', 'spark', 'hash', 'join', 'scan')
                     GROUP BY doc_id, tk),
            idf AS (SELECT tok,
                           ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE)
                                     - df + 0.5) / (df + 0.5)) AS idf
                    FROM (SELECT tok, count(DISTINCT doc_id) AS df
                          FROM hits GROUP BY tok)),
            sc AS (SELECT h.doc_id,
                          CAST(round(i.idf * (h.tf * (1.2 + 1.0))
                                 / (h.tf + 1.2 * ((1.0 - 0.75)
                                      + 0.75 * h.dl
                                        / (SELECT avgdl FROM stats))),
                               9) AS DECIMAL(20,9)) AS s
                   FROM hits h JOIN idf i ON h.tok = i.tok),
            agg AS (SELECT doc_id, count(*) AS n_terms_hit,
                           CAST(sum(s) AS DOUBLE) AS score
                    FROM sc GROUP BY doc_id)
            SELECT doc_id, n_terms_hit, round(score, 6) AS score
            FROM agg
            ORDER BY round(score, 6) DESC, doc_id
            LIMIT 100
        """,
        # aspect-ratio bucket batching: nearest-ratio argmin (division
        # only), md5-prefix shards, per-(bucket, shard) batch cut
        "aspect_batches": """
            WITH
            imgs AS (SELECT 'img' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                              AS image_id,
                            (doc_id % 1024) + 32 AS w,
                            ((doc_id * 7 + 11) % 1024) + 32 AS h
                     FROM documents),
            bks(i, bw, bh) AS (VALUES
              (0, 1, 1), (1, 4, 3), (2, 3, 4), (3, 3, 2), (4, 2, 3),
              (5, 16, 9), (6, 9, 16), (7, 2, 1), (8, 1, 2)),
            cand AS (SELECT image_id, w, h, i, bw, bh,
                            abs(CAST(w AS DOUBLE) / CAST(h AS DOUBLE)
                                - CAST(bw AS DOUBLE) / CAST(bh AS DOUBLE))
                              AS d
                     FROM imgs CROSS JOIN bks),
            pick AS (SELECT image_id, i AS bucket_idx, bw, bh
                     FROM (SELECT *, row_number() OVER (
                             PARTITION BY image_id ORDER BY d, i) AS rn
                           FROM cand)
                     WHERE rn = 1),
            sh AS (SELECT image_id, bucket_idx, bw, bh,
                          (('0x' || substr(md5(image_id), 1, 13))::BIGINT)
                            % 4 AS shard
                   FROM pick)
            SELECT image_id, bucket_idx,
                   bw AS bucket_w, bh AS bucket_h, shard,
                   CAST(floor((row_number() OVER (
                       PARTITION BY bucket_idx, shard ORDER BY image_id)
                       - 1) / 8) AS BIGINT) AS batch_id
            FROM sh
        """,
    }


_NORM_DUCK_LOWER = "trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))"


def _pagerank_oracle_sql(iters: int = 3, d: str = "0.85") -> str:
    """Unrolled PageRank oracle: the fixture edge graph, then one
    (dangling-mass, contribution, update) CTE triple per iteration —
    arithmetic order and DECIMAL quantization mirror
    operators/linkrank.py exactly.  Every float literal is CAST to
    DOUBLE: bare DuckDB literals are DECIMAL, and exact decimal
    arithmetic like (1 - 0.85)/n diverges from the engine's Python
    IEEE base term by ~1e-18 — enough to flip a round-half boundary."""
    dd = f"CAST({d} AS DOUBLE)"
    its = []
    for k in range(1, iters + 1):
        p = k - 1
        its.append(f"""
            dm{k} AS (SELECT coalesce(sum(rank), 0) AS m
                      FROM r{p} LEFT JOIN od ON r{p}.host = od.src
                      WHERE od.src IS NULL),
            c{k} AS (SELECT e.dst AS dst,
                            sum(CAST(round(CAST(r.rank AS DOUBLE) / od.odeg,
                                           9) AS DECIMAL(20,9))) AS s
                     FROM e JOIN r{p} r ON e.src = r.host
                          JOIN od ON e.src = od.src
                     GROUP BY e.dst),
            r{k} AS (SELECT n.host,
                            CAST(round(((CAST(1.0 AS DOUBLE) - {dd})
                                      / (SELECT n FROM nv)
                                    + {dd} * CAST((SELECT m FROM dm{k})
                                                  AS DOUBLE)
                                      / (SELECT n FROM nv))
                                  + {dd} * coalesce(CAST(c.s AS DOUBLE),
                                                    CAST(0.0 AS DOUBLE)),
                                9) AS DECIMAL(20,9)) AS rank
                     FROM nodes n LEFT JOIN c{k} c ON n.host = c.dst)""")
    return f"""
            WITH
            e AS (SELECT DISTINCT src, dst FROM (
                    SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
                           CASE WHEN doc_id % 5 = 0
                                THEN 'x' || CAST(doc_id % 11 AS VARCHAR)
                                ELSE 'h' || CAST((doc_id * 7 + 3) % 37
                                                 AS VARCHAR) END AS dst
                    FROM documents) WHERE src != dst),
            nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
            nv AS (SELECT count(*) AS n FROM nodes),
            od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
            r0 AS (SELECT host,
                          CAST(round(CAST(1.0 AS DOUBLE)
                                     / (SELECT n FROM nv), 9)
                               AS DECIMAL(20,9)) AS rank
                   FROM nodes),
            {','.join(its)}
            SELECT host, round(CAST(rank AS DOUBLE), 9) AS rank,
                   CAST(ntile(8) OVER (ORDER BY rank DESC, host) - 1
                        AS BIGINT) AS priority
            FROM r{iters}
        """


def _dsir_w_cte(buckets: int = 10_000, add_k: float = 1.0) -> str:
    """CTE chain ending in ``w(doc_id, n_feats, lw)`` — the DSIR
    weight derivation (mirrors operators/dsir.py exactly: unigram +
    bigram grams, md5-prefix buckets, add-k smoothed LLR quantized to
    DECIMAL(20,9), exact decimal per-doc sums)."""
    return f"""
            tok AS (SELECT doc_id,
                     CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ')
                          END AS t
                    FROM (SELECT doc_id, {_NORM_DUCK_LOWER} AS norm
                          FROM documents)),
            grams AS (
              SELECT doc_id, unnest(t) AS g FROM tok
              UNION ALL
              SELECT doc_id, a || ' ' || b AS g
              FROM (SELECT doc_id,
                           unnest(list_slice(t, 1, len(t) - 1)) AS a,
                           unnest(list_slice(t, 2, len(t))) AS b FROM tok)),
            feats AS (SELECT doc_id,
                             (('0x' || substr(md5(g), 1, 13))::BIGINT)
                               % {buckets} AS bucket,
                             count(*) AS cnt
                      FROM grams GROUP BY doc_id, bucket),
            tcv AS (SELECT bucket, sum(cnt) AS tc FROM feats
                    WHERE doc_id % 10 = 3 GROUP BY bucket),
            rcv AS (SELECT bucket, sum(cnt) AS rc FROM feats GROUP BY bucket),
            ttv AS (SELECT coalesce(sum(cnt), 0) AS v FROM feats
                    WHERE doc_id % 10 = 3),
            rtv AS (SELECT coalesce(sum(cnt), 0) AS v FROM feats),
            llr AS (SELECT r.range AS bucket,
                           CAST(round(
                             ln((coalesce(tcv.tc, 0) + {add_k})
                                / ((SELECT v FROM ttv) + {add_k} * {buckets}))
                             - ln((coalesce(rcv.rc, 0) + {add_k})
                                / ((SELECT v FROM rtv) + {add_k} * {buckets})),
                             9) AS DECIMAL(20,9)) AS llr
                    FROM range(0, {buckets}) r
                    LEFT JOIN tcv ON r.range = tcv.bucket
                    LEFT JOIN rcv ON r.range = rcv.bucket),
            w AS (SELECT doc_id, sum(cnt) AS n_feats, sum(cnt * llr) AS lw
                  FROM feats JOIN llr USING (bucket) GROUP BY doc_id)"""


def _image_shard_sql(imgs_ctes: str) -> str:
    """The image-shard derivation in DuckDB over a CTE chain that ends by
    defining ``imgs`` (image_id, caption, phash): caption star edges,
    brute-force bit_count(xor()) hamming pairs (the engine must NEVER do
    all-pairs; the oracle may), recursive-CTE components, keep-rule.
    Shared by the plain and curated image capstones."""
    return f"""
            WITH RECURSIVE {imgs_ctes},
            capg AS (
                SELECT caption, min(image_id) AS keep, count(*) AS n
                FROM imgs GROUP BY caption),
            cape AS (
                SELECT g.keep AS a, i.image_id AS b
                FROM imgs i JOIN capg g ON i.caption = g.caption
                WHERE g.n > 1 AND i.image_id <> g.keep),
            ph AS (
                SELECT x.image_id AS a, y.image_id AS b
                FROM imgs x JOIN imgs y ON x.image_id < y.image_id
                WHERE bit_count(xor(x.phash, y.phash)) <= 2),
            p AS (SELECT a, b FROM cape UNION SELECT a, b FROM ph),
            e AS (SELECT a AS x, b AS y FROM p
                  UNION SELECT b AS x, a AS y FROM p),
            reach(id, r) AS (
                SELECT x, y FROM e
                UNION
                SELECT reach.id, e.y FROM reach JOIN e ON reach.r = e.x),
            comp AS (
                SELECT id, least(id, min(r)) AS canonical
                FROM reach GROUP BY id),
            sizes AS (
                SELECT canonical, count(*) AS dup_count
                FROM comp GROUP BY canonical)
            SELECT i.image_id, i.caption, i.phash,
                   COALESCE(s.dup_count, 1) AS dup_count
            FROM imgs i
            LEFT JOIN sizes s ON i.image_id = s.canonical
            WHERE i.image_id NOT IN (
                SELECT id FROM comp WHERE id <> canonical)
        """


def _training_shard_decontam_sql() -> str:
    """The decontam-capstone oracle SQL (also wrapped as a CTE by the
    curated capstone)."""
    return f"""
            WITH RECURSIVE tr AS (
              SELECT * FROM documents WHERE doc_id % 10 != {_EVAL_SPLIT}
            ),
            {_ngram_pairs_ctes(src="tr")},
            {_shingle_cte(5, name="sh5")},
            contam AS (
              SELECT DISTINCT t.doc_id AS id
              FROM (SELECT doc_id, shingle FROM sh5
                    WHERE doc_id % 10 != {_EVAL_SPLIT}) t
              JOIN (SELECT DISTINCT shingle FROM sh5
                    WHERE doc_id % 10 = {_EVAL_SPLIT}) e
                ON t.shingle = e.shingle
            ),
            e AS (
              SELECT a AS x, b AS y FROM p
              UNION
              SELECT b AS x, a AS y FROM p
            ),
            reach(id, r) AS (
              SELECT x, y FROM e
              UNION
              SELECT reach.id, e.y FROM reach JOIN e ON reach.r = e.x
            ),
            comp AS (SELECT id, least(id, min(r)) AS canonical FROM reach GROUP BY id),
            drops AS (
              SELECT id FROM comp WHERE id != canonical
              UNION
              SELECT id FROM contam
            ),
            scored AS (
              SELECT doc_id,
                     CASE WHEN {_NORM_DUCK} = '' THEN 0
                          ELSE len(string_split({_NORM_DUCK}, ' ')) END AS n_tokens,
                     round(
                       (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0
                             WHEN length(text) > 2000 THEN 0.7
                             ELSE length(text) / 100.0 END) * 0.4
                     + (CASE WHEN p2 <= 0.1 THEN 1.0
                             ELSE greatest(0.0, 1.0 - (p2 - 0.1) * 5.0) END) * 0.3
                     + least(1.0, s2 * 10.0) * 0.3, 6) AS quality
              FROM (
                SELECT *,
                  (length(text) - length(regexp_replace(text,
                      '[.,!?;:''"()\\[\\]-]', '', 'g'))) * 1.0
                      / greatest(length(text), 1) AS p2,
                  len(list_filter(string_split({_NORM_DUCK_LOWER}, ' '),
                      x -> x IN ('the','and','of','to','is'))) * 1.0
                      / greatest(len(string_split({_NORM_DUCK}, ' ')), 1) AS s2
                FROM tr
              )
            )
            SELECT doc_id, n_tokens, quality FROM scored
            WHERE quality >= 0.5 AND doc_id NOT IN (SELECT id FROM drops)
        """


def _shingle_cte(k: int, src: str = "documents", name: str = "sh") -> str:
    """One CTE producing ``name(doc_id, shingle)`` — per-doc-distinct
    word-``k``-grams of the normalized lowered text, with the whole-text
    fallback for docs shorter than ``k`` words (mirrors
    operators/dedup.py:word_shingles exactly)."""
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(k))
    return f"""
            {name} AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(ws) >= {k} THEN {gram}
                          ELSE array_to_string(ws, ' ') END AS shingle
              FROM (SELECT doc_id, string_split({_NORM_DUCK_LOWER}, ' ') AS ws
                    FROM {src}),
                   unnest(range(1, greatest(len(ws) - {k - 2}, 2))) AS u(i)
            )"""


_GOPHER_TOP_NS = (2, 3, 4)
_GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)
# published Gopher thresholds (Rae et al. 2021 Table A1)
_GOPHER_TOP_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
_GOPHER_DUP_THRESH = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _gopher_oracle_sql() -> str:
    """The full gopher_quality oracle, with the per-n gram CTEs GENERATED
    (the Spark side computes all n in one pass — ngram_signal_frame; the
    oracle replays each n independently, which is fine for DuckDB at
    sf0.01): g{n} = the gram stream, tb{n} = top-gram char fraction with
    the lexicographically-smallest tie-break, db{n} = duplicated-gram
    char fraction capped at 1.0."""
    top_ns, dup_ns = _GOPHER_TOP_NS, _GOPHER_DUP_NS
    grams = ",".join(
        f"""
            g{n} AS (
              SELECT doc_id, nchars,
                     array_to_string(ws[i:i+{n - 1}], ' ') AS gram
              FROM gw, unnest(range(1, greatest(len(ws) - {n - 2}, 1))) AS t{n}(i)
              WHERE len(ws) >= {n}
            )"""
        for n in sorted(set(top_ns) | set(dup_ns))
    )
    tops = ",".join(
        f"""
            gc{n} AS (
              SELECT doc_id, nchars, gram, count(*) AS c,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY count(*) DESC, gram ASC) AS rn
              FROM g{n} GROUP BY doc_id, nchars, gram
            ),
            tb{n} AS (
              SELECT doc_id,
                     round(CASE WHEN nchars = 0 THEN 0.0
                           ELSE c * length(gram) * 1.0 / nchars END, 6) AS v
              FROM gc{n} WHERE rn = 1
            )"""
        for n in top_ns
    )
    dups = ",".join(
        f"""
            gd{n} AS (
              SELECT doc_id, nchars, gram, count(*) AS c
              FROM g{n} GROUP BY doc_id, nchars, gram
            ),
            db{n} AS (
              SELECT doc_id,
                     round(CASE WHEN nchars = 0 THEN 0.0
                           ELSE least(1.0,
                                sum(CASE WHEN c > 1 THEN c * length(gram)
                                    ELSE 0 END) * 1.0 / nchars) END, 6) AS v
              FROM gd{n} GROUP BY doc_id, nchars
            )"""
        for n in dup_ns
    )

    def _name(n: int) -> str:
        return "top_bigram_char_frac" if n == 2 else f"top_{n}gram_char_frac"

    out_cols = "".join(
        f",\n                   coalesce(tb{n}.v, 0.0) AS {_name(n)}"
        for n in top_ns
    ) + "".join(
        f",\n                   coalesce(db{n}.v, 0.0) AS dup_{n}gram_char_frac"
        for n in dup_ns
    )
    keep_ngram = "".join(
        f"\n                    AND coalesce(tb{n}.v, 0.0) <= {_GOPHER_TOP_THRESH[n]}"
        for n in top_ns
    ) + "".join(
        f"\n                    AND coalesce(db{n}.v, 0.0) <= {_GOPHER_DUP_THRESH[n]}"
        for n in dup_ns
    )
    joins = "".join(
        f"\n            LEFT JOIN tb{n} ON s.doc_id = tb{n}.doc_id"
        for n in top_ns
    ) + "".join(
        f"\n            LEFT JOIN db{n} ON s.doc_id = db{n}.doc_id"
        for n in dup_ns
    )
    return f"""
            WITH base AS (
              SELECT doc_id, text, {_NORM_DUCK} AS norm,
                     list_filter(string_split(text, chr(10)),
                                 l -> trim(l) != '') AS nl
              FROM documents
            ),
            rowsig AS (
              SELECT doc_id, norm,
                CASE WHEN norm = '' THEN 0
                     ELSE len(string_split(norm, ' ')) END AS n_words,
                string_split(norm, ' ') AS ws, nl,
                len(nl) AS n_lines,
                list_sum(list_transform(nl, l -> length(l))) AS tot_chars,
                list_sum(list_transform(list_distinct(nl),
                                        l -> length(l))) AS dis_chars
              FROM base
            ),
            sig AS (
              SELECT doc_id, norm, n_words,
                round(CASE WHEN n_words = 0 THEN 0.0
                      ELSE (length(norm) - (n_words - 1)) * 1.0 / n_words
                      END, 6) AS mean_word_len,
                round(CASE WHEN n_words = 0 THEN 0.0
                      ELSE len(list_filter(ws,
                           w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                           / n_words END, 6) AS alpha_word_frac,
                round(CASE WHEN n_lines = 0 THEN 0.0
                      ELSE len(list_filter(nl,
                           l -> regexp_matches(l, '^\\s*[-*•]'))) * 1.0
                           / n_lines END, 6) AS bullet_line_frac,
                round(CASE WHEN n_lines = 0 THEN 0.0
                      ELSE len(list_filter(nl,
                           l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) * 1.0
                           / n_lines END, 6) AS ellipsis_line_frac,
                round(CASE WHEN n_lines = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(nl)) * 1.0 / n_lines
                      END, 6) AS dup_line_frac,
                round(CASE WHEN coalesce(tot_chars, 0) = 0 THEN 0.0
                      ELSE 1.0 - dis_chars * 1.0 / tot_chars
                      END, 6) AS dup_line_char_frac,
                len(list_filter(string_split(lower(norm), ' '),
                    w -> w IN ('the','be','to','of','and','that','have',
                               'with'))) AS stop_word_hits
              FROM rowsig
            ),
            gw AS (
              SELECT doc_id, string_split(norm, ' ') AS ws,
                     length(norm) AS nchars
              FROM base
            ),{grams},{tops},{dups}
            SELECT s.doc_id, s.n_words, s.mean_word_len, s.alpha_word_frac,
                   s.bullet_line_frac, s.ellipsis_line_frac,
                   s.dup_line_frac, s.dup_line_char_frac,
                   s.stop_word_hits{out_cols},
                   (s.n_words BETWEEN 50 AND 100000
                    AND s.mean_word_len BETWEEN 3.0 AND 10.0
                    AND s.alpha_word_frac >= 0.80
                    AND s.bullet_line_frac <= 0.90
                    AND s.ellipsis_line_frac <= 0.30
                    AND s.dup_line_frac <= 0.30
                    AND s.dup_line_char_frac <= 0.20
                    AND s.stop_word_hits >= 2{keep_ngram}) AS keep
            FROM sig s{joins}
        """


def _ngram_pairs_ctes(src: str = "documents") -> str:
    """Shared CTE chain producing the exact ngram-Jaccard duplicate pairs
    (threshold 0.2) as CTE ``p(a, b)`` — used verbatim by the
    ngram_jaccard_dups oracle and as the input graph of the
    dedup_clusters oracle."""
    return f"""
            w AS (
              SELECT doc_id, string_split({_NORM_DUCK_LOWER}, ' ') AS ws FROM {src}
            ),
            sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(ws) >= 3 THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          ELSE array_to_string(ws, ' ') END AS shingle
              FROM w, unnest(range(1, greatest(len(ws) - 1, 2))) AS u(i)
            ),
            rare AS (  -- df-capped candidate generation (hot-shingle guard)
              SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
              FROM sh a
              JOIN rare r ON a.shingle = r.shingle
              JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            common AS (  -- exact verify over ALL shingles of each candidate
              SELECT c.a, c.b, count(*) AS n_common
              FROM cand c
              JOIN sh sa ON sa.doc_id = c.a
              JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
              GROUP BY c.a, c.b
            ),
            p AS (
              SELECT c.a, c.b,
                     round(c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
              FROM common c
              JOIN sizes sa ON sa.doc_id = c.a
              JOIN sizes sb ON sb.doc_id = c.b
              WHERE c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common) >= 0.2
            )"""
