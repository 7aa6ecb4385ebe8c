"""Single-wave scan plan — the reference's core query, Spark-first.

``scan_plan`` answers "scan these domains: which are alive, with what
metadata?" (``/root/reference/README.md:39``), composing:

1. native parse/filter kernels (shard, blank-skip, domain parse) —
   Catalyst-codegen'd, pushdown-visible;
2. CNAME chain via two unrolled broadcast self-joins + A/AAAA broadcast
   join (DNS ∥ HTTP for free — independent columns, SURVEY §4 O6);
3. the vectorized fetch stage (mapInPandas, Arrow batches) — the fetch
   fabric, the sandbox stand-in for the network, builds each page from
   its URL, so no images column enters it;
4. under ``include_payload``, the image META + PAYLOAD equi-join on the
   fetched rows' ``image_id`` (the only read of the images table);
5. post-fetch match/exclude filters — native, preserving the reference's
   post-scan filter semantics (scanner.py:450-453).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from httpz_spark.config import ScanConfig
from httpz_spark.functions import text as T
from httpz_spark.functions import urls as U
from httpz_spark.operators import dnsresolve as DNS
from httpz_spark.operators.fetch import apply_fetch_stage, make_fetch_stage
from httpz_spark.sources.fabric import FabricConfig, _split_url, root_image_id


def make_url_hash64_udf():
    """mmh3-compatible 64-bit hash of a string column (Arrow-batched,
    numpy-vectorized over the Arrow buffers — ~2.5x the scalar path; both
    are property-tested bit-identical).  Built lazily — @pandas_udf needs
    an active session to parse the type."""
    from httpz_spark.functions.hashing import hash64_str_batch_np

    @pandas_udf("long")
    def url_hash64_udf(s: pd.Series) -> pd.Series:
        return hash64_str_batch_np(s).astype("Int64")

    return url_hash64_udf


def make_root_image_udf(fabric_cfg: FabricConfig):
    @pandas_udf("string")
    def root_image_udf(scan_target: pd.Series, port: pd.Series) -> pd.Series:
        out = []
        for t, p in zip(scan_target, port):
            if t is None or t == "":
                out.append(None)
                continue
            hostport = t if pd.isna(p) else f"{t}:{int(p)}"
            _, _, host, _ = _split_url(f"x://{hostport}")
            out.append(root_image_id(host, fabric_cfg))
        return pd.Series(out, dtype="object")

    return root_image_udf


PASSTHROUGH = [
    ("line_num", "long"),
    ("domain", "string"),
    ("url_hash", "long"),
    ("cname_chain", "array<string>"),
    ("ips", "array<string>"),
    ("image_id", "string"),
]
# light payload metadata and heavy payload columns of the images table —
# both joined AFTER the fetch stage, so no image column rides the pre-fetch
# shuffle (scan of a 100 TB payload table stays columnar and the join only
# touches fetched rows)
META = [
    ("w", "int"), ("h", "int"), ("fmt", "string"), ("caption", "string"),
]
PAYLOAD = [("bytes", "binary"), ("phash", "long")]


def scan_plan(
    spark: SparkSession,
    seeds: DataFrame,
    images: DataFrame,
    dns: DataFrame,
    cfg: ScanConfig,
    fabric_cfg: FabricConfig,
    include_payload: bool = True,
    partitions: int = 32,
    transport_factory=None,
) -> DataFrame:
    """seeds(line_num, raw) -> result DataFrame (SURVEY §1.2 schema +
    engine columns).  ``images`` is read only under ``include_payload``,
    for the META + PAYLOAD columns of the fetched rows.
    ``transport_factory`` swaps the deterministic fabric for a
    real-network transport (scripts/httpz_cli.py --transport)."""
    df = seeds.filter(T.nonblank(F.col("raw")))
    if cfg.shard is not None:
        idx, total = cfg.shard
        df = df.filter(T.shard_keep(F.col("line_num"), idx, total))

    # python str.strip() is unicode-aware -> (?U) strip, not ascii trim
    df = df.withColumn("raw_domain", F.regexp_replace("raw", r"(?U)^\s+|\s+$", ""))
    # result 'domain' is the PARSED host, not the raw line — the reference
    # passes original_domain = base_domain into results (scanner.py:332-333)
    df = df.withColumn("p", U.domain_parts(F.col("raw_domain"))).select(
        "line_num", "raw_domain",
        F.col("p.base_domain").alias("domain"),
        F.col("p.base_domain").alias("base_domain"),
        F.col("p.port").alias("port"),
        F.col("p.proto_first").alias("proto_first"),
        F.col("p.proto_second").alias("proto_second"),
    )
    if cfg.fetch_cname:
        df = DNS.resolve_cname_chain(df, dns, host_col="base_domain")
    else:
        df = df.withColumn("cname_chain", F.lit(None).cast("array<string>"))
        df = df.withColumn("scan_target", F.col("base_domain"))

    if cfg.fetch_ips:
        df = DNS.resolve_ips(df, dns, target_col="scan_target")
    else:
        df = df.withColumn("ips", F.lit(None).cast("array<string>"))

    # BOTH python kernels (pinned-order murmur hash of the raw line + the
    # fabric image-id) are independent -> added in ONE projection so
    # Catalyst fuses them into a single ArrowEvalPython pass.  Keeping the
    # wave at exactly two python stages (this + the fetch) matters: chained
    # python stages multiply concurrent worker processes per task.
    root_image_udf = make_root_image_udf(fabric_cfg)
    df = df.withColumns({
        "url_hash": make_url_hash64_udf()(F.col("raw_domain")),
        "image_id": root_image_udf(F.col("scan_target"), F.col("port")),
    })

    # the slim pre-fetch columns (keys, domain, cname/ips arrays) ride the
    # python stage as Arrow passthrough — same design as the frontier path
    # (plans/frontier.py): whole-array copies in the batch loop measured
    # cheaper than the former localCheckpoint + JVM rejoin, which
    # materialized the pre-fetch frame AND shuffled every fetch-output row
    # a second time.  At 100 TB the post-fetch shuffle of body-bearing
    # rows is the one to avoid; only the payload join runs post-fetch.
    stage = make_fetch_stage(cfg, fabric_cfg, [n for n, _t in PASSTHROUGH],
                             transport_factory=transport_factory)
    # shuffle boundary before the fetch stage (mirrors the frontier path's
    # salted repartition): separates the two python stages into distinct
    # Spark stages — without it one task pipelines both python workers and
    # local[N] runs 2N python processes concurrently
    fetch_in = df.repartition(partitions, F.pmod(F.col("line_num"), F.lit(partitions)))
    out = apply_fetch_stage(fetch_in, PASSTHROUGH, stage)
    if include_payload:
        # image columns attach to fetched rows only (post-politeness/dedup)
        payload = [n for n, _t in META + PAYLOAD]
        out = out.join(images.select("image_id", *payload), "image_id", "left")

    if cfg.match_codes is not None:
        out = out.filter(T.status_isin(F.col("status"), cfg.match_codes))
    if cfg.exclude_codes is not None:
        out = out.filter(T.status_not_excluded(F.col("status"), cfg.exclude_codes))
    return out
