#!/usr/bin/env python3
"""httpz-compatible CLI over the Spark engine — the reference's argparse
surface (``/root/reference/httpz_scanner/cli.py:53-95``) mapped onto
``scan_plan``.

    python scripts/httpz_cli.py domains.txt -all -j
    cat domains.txt | python scripts/httpz_cli.py - -sc -ti -mc 200,301-303
    python scripts/httpz_cli.py doms.txt -all --transport asyncio   # real net

Flag-for-flag mirror: field toggles (-b -cl -cn -ct -f -hr -i -sc -ti -tls /
-all), tunables (-c -to -rt -rb -fr), filters (-mc -ec -sh), request shaping
(-hd -pd), output (-j JSONL to stdout, -o JSONL file, default = the colored
console formatter), -d debug (error rows shown), -p running progress
counter prefixed to console rows.  ``--transport`` selects
the deterministic fabric (default — no outbound network needed) or the
stdlib AsyncioTransport, which runs batched-async (fetch_many) inside each
Spark task.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(
        description="Hyper-fast distributed HTTP scanner (Spark engine)",
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("file", nargs="?", default="-",
                    help="File of domains (one per line), or - for stdin")
    ap.add_argument("-all", "--all-flags", action="store_true",
                    help="Enable all output fields")
    ap.add_argument("-d", "--debug", action="store_true",
                    help="Show error states and debug information")
    ap.add_argument("-c", "--concurrent", type=int, default=100,
                    help="Concurrent in-flight checks per task")
    ap.add_argument("-j", "--jsonl", action="store_true",
                    help="Output JSONL to stdout")
    ap.add_argument("-o", "--output", help="Output file path (JSONL)")
    # output field flags
    ap.add_argument("-b", "--body", action="store_true")
    ap.add_argument("-cl", "--content-length", action="store_true")
    ap.add_argument("-cn", "--cname", action="store_true")
    ap.add_argument("-ct", "--content-type", action="store_true")
    ap.add_argument("-f", "--favicon", action="store_true")
    ap.add_argument("-fr", "--follow-redirects", action="store_true")
    ap.add_argument("-hr", "--show-headers", action="store_true")
    ap.add_argument("-i", "--ip", action="store_true")
    ap.add_argument("-sc", "--status-code", action="store_true")
    ap.add_argument("-ti", "--title", action="store_true")
    ap.add_argument("-tls", "--tls-info", action="store_true")
    # tunables
    ap.add_argument("-rt", "--retries", type=int, default=1)
    ap.add_argument("-rb", "--retry-backoff", type=float, default=0.5)
    # filters / misc
    ap.add_argument("-ec", "--exclude-codes")
    ap.add_argument("-mc", "--match-codes")
    ap.add_argument("-p", "--progress", action="store_true",
                    help="Show progress counter")
    ap.add_argument("-pd", "--post-data")
    ap.add_argument("-r", "--resolvers",
                    help="File of DNS resolvers (one per line)")
    ap.add_argument("-to", "--timeout", type=int, default=5)
    ap.add_argument("-dt", "--dns-timeout", type=float, default=2.0)
    ap.add_argument("-sh", "--shard", help="Shard index/total (e.g. 1/3)")
    ap.add_argument("-hd", "--headers", help='Custom headers ("H1: v1,H2: v2")')
    # engine-side knobs (no reference analogue)
    ap.add_argument("--transport", choices=("fabric", "asyncio"),
                    default="fabric")
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--master", default=None,
                    help="Spark master override (default local[*])")
    if argv is None and len(sys.argv) == 1:
        ap.print_help()
        sys.exit(0)
    return ap.parse_args(argv)


def build_scan_config(args):
    from httpz_spark.config import ScanConfig
    from httpz_spark.parity.refmodel import parse_shard, parse_status_codes

    custom_headers = None
    if args.headers:
        custom_headers = tuple(
            tuple(h.split(": ", 1)) for h in args.headers.split(",")
        )
    return ScanConfig(
        concurrent_limit=args.concurrent,
        timeout=float(args.timeout),
        retries=args.retries,
        retry_backoff=args.retry_backoff,
        follow_redirects=args.follow_redirects or args.all_flags,
        fetch_headers=args.all_flags or args.show_headers,
        fetch_content_type=args.all_flags or args.content_type,
        fetch_content_length=args.all_flags or args.content_length,
        fetch_title=args.all_flags or args.title,
        fetch_body=args.all_flags or args.body,
        fetch_favicon=args.all_flags or args.favicon,
        fetch_tls=args.all_flags or args.tls_info,
        fetch_ips=args.all_flags or args.ip,
        fetch_cname=args.all_flags or args.cname,
        match_codes=(frozenset(parse_status_codes(args.match_codes))
                     if args.match_codes else None),
        exclude_codes=(frozenset(parse_status_codes(args.exclude_codes))
                       if args.exclude_codes else None),
        custom_headers=custom_headers,
        post_data=args.post_data,
        shard=parse_shard(args.shard) if args.shard else None,
    )


def show_fields_of(args) -> dict:
    a = args.all_flags
    return {
        "status_code": a or args.status_code,
        "content_type": a or args.content_type,
        "content_length": a or args.content_length,
        "title": a or args.title,
        "body": a or args.body,
        "ip": a or args.ip,
        "favicon": a or args.favicon,
        "headers": a or args.show_headers,
        "follow_redirects": a or args.follow_redirects,
        "tls": a or args.tls_info,
        "cname": a or args.cname,
    }


def transport_factory_of(args):
    if args.transport == "fabric":
        return None
    from httpz_spark.sources.nettransport import AsyncioTransport

    resolver = None
    if args.resolvers:
        # custom resolvers need dnspython; stdlib path resolves via OS
        from httpz_spark.operators.dnslive import DnspythonResolver

        with open(args.resolvers) as f:
            servers = [ln.strip() for ln in f if ln.strip()]
        dres = DnspythonResolver(servers, timeout_s=args.dns_timeout)
        resolver = lambda host: ((dres(host)["a"] or [host])[0])  # noqa: E731
    timeout, limit = float(args.timeout), args.concurrent
    return lambda: AsyncioTransport(
        timeout_s=timeout, concurrent_limit=limit, resolver=resolver
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    cfg = build_scan_config(args)

    from pyspark.sql import functions as F

    from httpz_spark.plans.scan import scan_plan
    from httpz_spark.session import get_spark
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S
    from httpz_spark.sources.seeds import seeds
    from httpz_spark.sources.sinks import (
        console_line_colored,
        to_jsonl_column,
        write_jsonl,
    )

    spark = get_spark(
        app_name="httpz_cli",
        master=args.master or "local[*]",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    seed_df = seeds(spark, sys.stdin if args.file == "-" else args.file)
    world = FB.FabricConfig(n_images=4096, n_hosts=512).with_certs()
    use_fabric = args.transport == "fabric"
    out = scan_plan(
        spark, seed_df,
        S.images_df(spark, world, partitions=args.partitions),
        S.dns_df(spark, world) if use_fabric else S.dns_df(spark, world).limit(0),
        cfg, world,
        include_payload=False, partitions=args.partitions,
        transport_factory=transport_factory_of(args),
    )

    if args.output:
        write_jsonl(out, args.output)
        return 0
    if args.jsonl:
        lines = out.select(to_jsonl_column(out).alias("line")).collect()
    else:
        lines = out.select(
            console_line_colored(
                out, show_fields_of(args), debug=args.debug,
                match_codes=cfg.match_codes, exclude_codes=cfg.exclude_codes,
            ).alias("line")
        ).collect()
    count = 0
    for r in lines:
        if r["line"]:
            if args.progress and not args.jsonl:
                # running counter prefixed to console rows, counting only
                # rows that render (reference cli.py:166-180: count
                # increments per formatted line, jsonl mode bypasses it)
                count += 1
                print(f"[{count}] {r['line']}", flush=True)
            else:
                print(r["line"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
