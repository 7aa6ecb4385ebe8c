#!/usr/bin/env python3
"""spark-submit entry point for the crawl engine (north_rule deployment).

    python -m httpz_spark.session packaging + this script =
    spark-submit --master <cluster> --py-files httpz_spark_pkg.zip \
        scripts/run_crawl.py --seeds seeds.txt --state /data/crawl \
        --waves 20 --budget 100

On a real cluster ``--py-files`` ships the zip built by
``httpz_spark.session.package_zip()``; locally the session factory ships it
automatically.  All crawl state checkpoints under ``--state`` — re-running
the same command after a kill resumes exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python scripts/run_crawl.py` puts scripts/ (not the repo root) on
# sys.path; under spark-submit --py-files the zip provides the package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="httpz_spark distributed crawl")
    ap.add_argument("--seeds", required=True, help="seed URL/domain file (one per line)")
    ap.add_argument("--state", required=True, help="checkpoint/state directory")
    ap.add_argument("--waves", type=int, default=10)
    ap.add_argument("--budget", type=int, default=100, help="per-host per-wave budget")
    ap.add_argument("--depth", type=int, default=3, help="link-following depth cap")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--n-images", type=int, default=4096,
                    help="synthetic web size (sandbox fabric; a real "
                         "deployment replaces the fabric transport with AsyncioTransport)")
    ap.add_argument("--n-hosts", type=int, default=64)
    ap.add_argument("--match-codes", default=None, help="e.g. 200,301-399")
    ap.add_argument("--fetch-robots", action="store_true",
                    help="build the politeness table by fetching and "
                         "parsing each host's /robots.txt (production "
                         "path) instead of the synthetic robots table")
    ap.add_argument("--trap-max-urls", type=int, default=None,
                    help="crawler-trap guard: cap on cumulative fetched "
                         "URLs per (host, path-template); trapped "
                         "templates trickle --trap-keep new URLs/wave, "
                         "overflow defers (off when omitted)")
    ap.add_argument("--trap-keep", type=int, default=64)
    ap.add_argument("--adaptive-politeness", action="store_true",
                    help="AIMD per-host budgets from observed latency/"
                         "timeouts (halve on degradation, +1 on recovery)")
    ap.add_argument("--slow-latency-ms", type=float, default=1000.0)
    ap.add_argument("--warc-out", default=None,
                    help="archive the crawl's fetched captures as a WARC "
                         "directory (record-at-time gzip + CDX parquet "
                         "at <dir>/cdx)")
    ap.add_argument("--warc-revisits", action="store_true",
                    help="collapse repeat payloads into header-only "
                         "revisit records (recrawl archives shrink)")
    ap.add_argument("--sitemap-seeds", action="store_true",
                    help="augment the seed file with sitemap-discovered "
                         "page URLs (robots Sitemap: lines -> sitemap/"
                         "sitemapindex fetch, host-scoped)")
    args = ap.parse_args(argv)

    from httpz_spark.config import EngineConfig, ScanConfig
    from httpz_spark.parity.refmodel import parse_status_codes
    from httpz_spark.plans.frontier import CrawlEngine
    from httpz_spark.session import get_spark
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S
    from httpz_spark.sources.seeds import seeds_from_text

    # get_spark keeps a spark-submit --master (standalone runs get
    # local[*]) and ships the package zip to the executor python workers
    # (the --py-files analogue)
    spark = get_spark(app_name="httpz_spark-crawl")
    spark.sparkContext.setLogLevel("WARN")

    match = frozenset(parse_status_codes(args.match_codes)) if args.match_codes else None
    world = FB.FabricConfig(n_images=args.n_images, n_hosts=args.n_hosts).with_certs()
    scan_cfg = ScanConfig.all_on(discover_links=True, match_codes=match)
    engine_cfg = EngineConfig(
        partitions=args.partitions, per_host_budget=args.budget,
        max_depth=args.depth, trap_max_urls=args.trap_max_urls,
        trap_keep=args.trap_keep,
        adaptive_politeness=args.adaptive_politeness,
        slow_latency_ms=args.slow_latency_ms,
    )

    if args.fetch_robots:
        from httpz_spark.operators.robotsfetch import build_robots_table

        hosts = spark.createDataFrame(
            [(h,) for h in FB.all_hosts(world)], "host string"
        )
        robots = build_robots_table(
            hosts, world, partitions=args.partitions
        ).drop("fetch_status")
    else:
        robots = S.robots_df(spark, world)

    eng = CrawlEngine(
        spark,
        S.images_df(spark, world, partitions=args.partitions),
        S.dns_df(spark, world),
        robots,
        scan_cfg, engine_cfg, world, state_dir=args.state,
    )
    if args.fetch_robots:
        # counted on the engine's resolved table: counting the builder's
        # frame would fetch every robots.txt a second time
        print(f"robots table built from /robots.txt fetches: "
              f"{eng.robots.count()} hosts", file=sys.stderr)
    seeds = seeds_from_text(spark, args.seeds)
    if args.sitemap_seeds:
        from pyspark.sql import functions as F

        from httpz_spark.operators.sitemapfetch import sitemap_seed_frame

        hosts = spark.createDataFrame(
            [(h,) for h in FB.all_hosts(world)], "host string"
        )
        sm = sitemap_seed_frame(hosts, world, partitions=args.partitions)
        n_sm = sm.count()
        print(f"sitemap discovery: {n_sm} page URLs", file=sys.stderr)
        # sitemap seeds carry no shard line number (the reference's shard
        # contract applies to the seed FILE only); urls_to_frontier reads
        # just `raw`
        seeds = seeds.unionByName(sm.select(
            F.lit(-1).cast("long").alias("line_num"),
            F.col("loc").alias("raw"),
        ))
    eng.init_frontier(seeds)
    results = eng.crawl(max_waves=args.waves)

    n_archived = None
    if args.warc_out:
        from httpz_spark.sources.warc import crawl_to_warc

        cdx = crawl_to_warc(eng.store.read("results"), args.warc_out,
                            n_files=args.partitions,
                            revisits=args.warc_revisits)
        cdx.write.mode("overwrite").parquet(
            os.path.join(args.warc_out, "cdx"))
        n_archived = spark.read.parquet(
            os.path.join(args.warc_out, "cdx")).count()
        print(f"WARC archive: {n_archived} records -> {args.warc_out}",
              file=sys.stderr)

    lineage = eng.store.read("lineage").orderBy("wave_id").collect()
    summary = {
        "master": spark.sparkContext.master,
        "results": results.count(),
        "unique_urls": results.select("url_hash").distinct().count(),
        "warc_records": n_archived,
        "waves": [
            {"wave": r["wave_id"], "fetched": r["n_fetched"],
             "deferred": r["n_deferred"], "urls_per_sec": round(r["urls_per_sec"], 1)}
            for r in lineage
        ],
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
