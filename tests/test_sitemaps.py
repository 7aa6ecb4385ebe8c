"""Sitemap seed discovery: native Sitemap-line/XML parsing + end-to-end
fetch over the fabric, cross-checked against the independent
ElementTree-based golden model's rules (host scope, one index level)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from httpz_spark.functions.robotsx import robots_sitemaps
from httpz_spark.functions.sitemapx import (
    loc_host_matches,
    sitemap_is_index,
    sitemap_locs,
)
from httpz_spark.operators.fetch import document_row_gen
from httpz_spark.operators.sitemapfetch import (
    MAX_SITEMAP_BYTES,
    sitemap_seed_frame,
)
from httpz_spark.sources import fabric as FB

WORLD = FB.FabricConfig(n_images=64, n_hosts=12).with_certs()


def _one(spark, expr_builder, value):
    return spark.createDataFrame([(value,)], "v string").select(
        expr_builder(F.col("v")).alias("out")
    ).collect()[0]["out"]


def test_robots_sitemap_line_extraction(spark):
    txt = ("# header\n"
           "Sitemap: https://h.test/sitemap.xml\n"
           "User-agent: *\nDisallow: /x/\n"
           "sitemap: https://h.test/other.xml  # trailing comment\n"
           "SITEMAP: https://h.test/sitemap.xml\n")  # dup -> collapsed
    got = list(_one(spark, robots_sitemaps, txt))
    assert got == ["https://h.test/sitemap.xml", "https://h.test/other.xml"]
    assert list(_one(spark, robots_sitemaps, "User-agent: *\n")) == []


def test_sitemap_loc_parsing_and_index_detection(spark):
    urlset = ('<?xml version="1.0"?>\n'
              '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
              "  <url><loc> https://h.test/a </loc>"
              "<lastmod>2026-01-01</lastmod></url>\n"
              "  <url><LOC>https://h.test/b?x=1&amp;y=2</LOC></url>\n"
              "  <url><loc>https://h.test/a</loc></url>\n"  # dup
              "</urlset>")
    assert not _one(spark, sitemap_is_index, urlset)
    assert list(_one(spark, sitemap_locs, urlset)) == [
        "https://h.test/a", "https://h.test/b?x=1&y=2"]
    index = ('<sitemapindex xmlns="x"><sitemap>'
             "<loc>https://h.test/sitemap-0.xml</loc></sitemap></sitemapindex>")
    assert _one(spark, sitemap_is_index, index)
    assert list(_one(spark, sitemap_locs, index)) == [
        "https://h.test/sitemap-0.xml"]


def test_loc_host_scope_rule(spark):
    rows = [("https://H.TEST/x", "h.test", True),
            ("http://h.test/", "h.test", True),
            ("https://evil.test/x", "h.test", False),
            ("ftp://h.test/x", "h.test", False),
            ("not a url", "h.test", False),
            ("https://h.test:8080/x", "h.test", False)]  # explicit port != bare host
    df = spark.createDataFrame(rows, "loc string, host string, want boolean")
    got = df.select("want", loc_host_matches(F.col("loc"), F.col("host"))
                    .alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], r


def test_sitemap_gen_scheme_order_and_fallback():
    """The document generator tries the URL's own scheme first, the other
    second; non-200 falls through, first 200 wins (the robots fetch runs
    the same generator)."""
    class _Resp:
        def __init__(self, status, body=b"", charset="utf-8"):
            self.status, self.body, self.charset = status, body, charset

    g = document_row_gen("http://h.test/sitemap.xml", MAX_SITEMAP_BYTES)
    req = g.send(None)
    assert req[0].startswith("http://") and req[1] == "http"
    req = g.send((_Resp(404), None))
    assert req[0].startswith("https://")
    try:
        g.send((_Resp(200, b"<urlset/>"), None))
        raise AssertionError("must stop on 200")
    except StopIteration as s:
        assert s.value == {"fetch_status": 200, "body": "<urlset/>",
                           "error_type": None}
    # malformed URL -> contained PROCESS row, not an exception
    g = document_row_gen("nonsense", MAX_SITEMAP_BYTES)
    try:
        g.send(None)
        raise AssertionError("must stop immediately")
    except StopIteration as s:
        assert s.value["error_type"] == "PROCESS"


def test_sitemap_seed_frame_end_to_end(spark):
    """Engine discovery over the fabric obeys the model's rules: every
    seed is a same-host /li/ page URL; hosts advertising no sitemap (or
    whose robots/sitemap fetches fail) contribute nothing; index hosts'
    children are followed exactly one level."""
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(WORLD)], "host string")
    got = sitemap_seed_frame(hosts, WORLD, partitions=4).collect()
    assert len(got) > 0
    by_host: dict = {}
    for r in got:
        by_host.setdefault(r["host"], set()).add(r["loc"])
        host = r["host"]
        assert r["loc"].startswith(f"https://{host}/li/img"), r
    # hosts with hs % 4 == 3 advertise no sitemap -> absent
    for host in FB.all_hosts(WORLD):
        hs = FB.h64(f"{WORLD.seed}:sitemap:{host}")
        if hs % 4 == 3:
            assert host not in by_host, host
    # at least one index-style host resolved through its children
    idx_hosts = [h for h in by_host
                 if FB.h64(f"{WORLD.seed}:sitemap:{h}") % 3 == 0]
    assert idx_hosts
    # cross-host locs (hs % 5 == 0 urlsets embed one) never leak through
    for host, locs in by_host.items():
        assert all(f"https://{host}/" in u for u in locs)


def test_sitemap_entries_lastmod_priority(spark):
    """Per-<url> struct parse: optional children in any order, missing
    ones NULL, blocks without <loc> dropped, &amp; unescaped in loc."""
    from httpz_spark.functions.sitemapx import sitemap_entries

    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://h.test/a?x=1&amp;y=2</loc>"
        "<lastmod>2026-03-05</lastmod><priority>0.9</priority></url>\n"
        "<url><priority> 0.2 </priority><loc> https://h.test/b </loc></url>"
        "<url><lastmod>2026-01-01</lastmod></url>"  # no loc -> dropped
        "<url><loc>https://h.test/c</loc></url>"
        "</urlset>"
    )
    got = _one(spark, sitemap_entries, xml)
    assert [tuple(e) for e in got] == [
        ("https://h.test/a?x=1&y=2", "2026-03-05", 0.9),
        ("https://h.test/b", None, 0.2),
        ("https://h.test/c", None, None),
    ]


def test_sitemap_seed_frame_carries_scheduling_elements(spark):
    """Engine seeds agree with the independent ElementTree model on
    lastmod/priority too, including the max-aggregation rule."""
    import xml.etree.ElementTree as ET

    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(WORLD)], "host string")
    got = {(r["host"], r["loc"]): (r["lastmod"], r["sm_priority"])
           for r in sitemap_seed_frame(hosts, WORLD, partitions=4).collect()}
    assert any(v[0] is not None for v in got.values())
    assert any(v[1] is not None for v in got.values())
    for (host, loc), (lastmod, prio) in got.items():
        if prio is not None:
            assert 0.0 <= prio <= 1.0
    # spot-check one urlset host against stdlib ET
    checked = 0
    for host in FB.all_hosts(WORLD):
        hs = FB.h64(f"{WORLD.seed}:sitemap:{host}")
        if hs % 4 == 3 or hs % 3 == 0:
            continue  # no sitemap advertised / index host
        if not any(h == host for (h, _l) in got):
            continue
        root = ET.fromstring(FB.sitemap_xml_bytes(host, "/sitemap.xml", WORLD))
        for url_el in root.iter():
            if url_el.tag.rsplit("}", 1)[-1] != "url":
                continue
            loc = lastmod = prio = None
            for ch in url_el:
                name = ch.tag.rsplit("}", 1)[-1]
                text = (ch.text or "").strip()
                if name == "loc":
                    loc = text
                elif name == "lastmod":
                    lastmod = text
                elif name == "priority":
                    prio = float(text)
            if loc and (host, loc) in got:
                assert got[(host, loc)] == (lastmod, prio), (host, loc)
                checked += 1
    assert checked >= 5


def test_sitemap_priority_orders_frontier(spark):
    """sitemap_seed_priority -> urls_to_frontier: advertised <priority>
    picks the band (higher = fetched earlier), lastmod-bearing entries
    lead their band, unset priority lands mid-pack (0.5 default)."""
    from httpz_spark.operators.sitemapfetch import sitemap_seed_priority
    from httpz_spark.plans.frontier import urls_to_frontier

    seeds = spark.createDataFrame(
        [
            ("h.test", "https://h.test/hot", None, 0.9),
            ("h.test", "https://h.test/hot-fresh", "2026-03-01", 0.9),
            ("h.test", "https://h.test/default", None, None),
            ("h.test", "https://h.test/cold", None, 0.1),
        ],
        "host string, loc string, lastmod string, sm_priority double",
    )
    fr = urls_to_frontier(seeds, "loc", 0, wave_id=0,
                          priority=sitemap_seed_priority())
    rows = fr.orderBy("priority", "url_hash").collect()
    order = [r["url_canon"].rsplit("/", 1)[-1] for r in rows]
    assert order == ["hot-fresh", "hot", "default", "cold"]
    # priority column is the frontier's, depth stays 0 for all seeds
    assert all(r["depth"] == 0 for r in rows)
    got_prio = {r["url_canon"].rsplit("/", 1)[-1]: r["priority"] for r in rows}
    assert got_prio == {"hot-fresh": 200, "hot": 201,
                       "default": 1001, "cold": 1801}
