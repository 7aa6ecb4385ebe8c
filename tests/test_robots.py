"""robots.txt builder: native parser semantics + end-to-end fetch over the
fabric, cross-checked against the synthetic robots table (the fabric's
/robots.txt bodies are generated to DECODE to exactly ``robots_df``'s
rows, through deliberately varied formatting), plus RFC 9309
wildcard/Allow enforcement semantics."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from httpz_spark.functions.robotsx import (
    robots_columns,
    robots_path_allowed,
    robots_pattern_regex,
    robots_rules,
)
from httpz_spark.operators.fetch import document_row_gen
from httpz_spark.operators.robotsfetch import (
    MAX_ROBOTS_BYTES,
    ROBOTS_FETCH_SCHEMA,
    build_robots_table,
    fetch_robots,
    robots_from_texts,
)
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S

WORLD = FB.FabricConfig(n_images=256, n_hosts=48).with_certs()


def _parse(spark, txt, default_ms=1000):
    row = spark.createDataFrame([(txt,)], "robots_txt string").select(
        robots_columns(F.col("robots_txt"), default_ms).alias("p")
    ).collect()[0]["p"]
    return row["crawl_delay_ms"], list(row["disallow"]), list(row["allow"])


def test_parser_basic_group(spark):
    txt = "User-agent: *\nCrawl-delay: 0.25\nDisallow: /a/\nDisallow: /b\n"
    assert _parse(spark, txt) == (250, ["/a/", "/b"], [])


def test_parser_selects_star_record_only(spark):
    txt = ("User-agent: GoogleBot\nDisallow: /g/\n\n"
           "User-agent: *\nDisallow: /x/\nAllow: /x/ok/\n\n"
           "User-agent: OtherBot\nDisallow: /o/\n")
    assert _parse(spark, txt) == (1000, ["/x/"], ["/x/ok/"])


def test_parser_adjacent_user_agents_share_record(spark):
    txt = "User-agent: a\nUser-agent: *\nUser-agent: b\nDisallow: /shared/\n"
    assert _parse(spark, txt) == (1000, ["/shared/"], [])


def test_parser_comments_crlf_case_empty_disallow(spark):
    txt = ("# header comment\r\n"
           "USER-AGENT: *  # trailing\r\n"
           "CRAWL-DELAY: 2  # two seconds\r\n"
           "DISALLOW: /UP/\r\n"
           "ALLOW: /UP/ok\r\n"
           "Disallow:\r\n"
           "Allow:\r\n")  # empty values = no-ops, contribute nothing
    assert _parse(spark, txt) == (2000, ["/UP/"], ["/UP/ok"])


def test_parser_no_star_record_and_null(spark):
    assert _parse(spark, "User-agent: onlybot\nDisallow: /x/\n") == (1000, [], [])
    assert _parse(spark, "") == (1000, [], [])


def test_parser_record_terminates_at_next_agent(spark):
    txt = ("User-agent: *\nDisallow: /mine/\n\n"
           "User-agent: bot\nCrawl-delay: 9\nDisallow: /theirs/\n")
    assert _parse(spark, txt) == (1000, ["/mine/"], [])


def test_parser_malformed_crawl_delay_falls_back(spark):
    """ADVICE r04: '1.2.3' must yield the default, never NULL (a NULL
    delay un-throttles the host downstream).  A later well-formed line
    still wins over an earlier malformed one."""
    assert _parse(spark, "User-agent: *\nCrawl-delay: 1.2.3\n") == (
        1000, [], [])
    assert _parse(spark, "User-agent: *\nCrawl-delay: 5x\n") == (1000, [], [])
    assert _parse(spark, "User-agent: *\nCrawl-delay: 7.\n") == (1000, [], [])
    txt = "User-agent: *\nCrawl-delay: 1.2.3\nCrawl-delay: 2\n"
    assert _parse(spark, txt) == (2000, [], [])


def test_parser_wildcard_patterns_survive_extraction(spark):
    txt = ("User-agent: *\nDisallow: /*.php$\nDisallow: /a/*/b\n"
           "Allow: /*.html$\n")
    assert _parse(spark, txt) == (
        1000, ["/*.php$", "/a/*/b"], ["/*.html$"])


# ---------------------------------------------------------------------------
# RFC 9309 pattern → regex translation + longest-match enforcement
# ---------------------------------------------------------------------------

def _verdicts(spark, disallow, allow, paths):
    """Engine verdicts for paths against one rule set."""
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    rules = robots_rules(
        F.lit(disallow).cast("array<string>"),
        F.lit(allow).cast("array<string>"),
    )
    rows = df.select(
        "path", robots_path_allowed(F.col("path"), rules).alias("ok")
    ).collect()
    return {r["path"]: r["ok"] for r in rows}


def _model_allowed(disallow, allow, path):
    """Brute-force RFC 9309 model: regex-free longest-match evaluation
    (independent of the engine's native regex translation)."""
    import re as _re

    def matches(pat, p):
        rx = "^"
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == "*":
                rx += ".*"
            elif c == "$" and i == len(pat) - 1:
                rx += "$"
            else:
                rx += _re.escape(c)
            i += 1
        return _re.search(rx, p) is not None

    best = None  # (plen, allow_flag)
    for flag, pats in ((0, disallow), (1, allow)):
        for pat in pats:
            if matches(pat, path):
                cand = (len(pat), flag)
                if best is None or cand > best:
                    best = cand
    return True if best is None else best[1] == 1


def test_pattern_regex_translation(spark):
    pats = ["/r/", "/*.php$", "/a$", "/x*y", "/p+q(1)|[z]", "*$", "/.d"]
    rows = spark.createDataFrame([(p,) for p in pats], "p string").select(
        "p", robots_pattern_regex(F.col("p")).alias("rx")
    ).collect()
    rx = {r["p"]: r["rx"] for r in rows}
    assert rx["/r/"] == "^/r/"
    assert rx["/*.php$"] == r"^/.*\.php$"
    assert rx["/a$"] == "^/a$"
    assert rx["/x*y"] == "^/x.*y"
    assert rx["/p+q(1)|[z]"] == r"^/p\+q\(1\)\|\[z\]"
    assert rx["*$"] == "^.*$"
    assert rx["/.d"] == r"^/\.d"


def test_allow_overrides_disallow_longest_match(spark):
    # Allow carve inside a disallowed subtree: longest match wins
    v = _verdicts(spark, ["/r/"], ["/r/public/"],
                  ["/r/x", "/r/public/x", "/r/public", "/other"])
    assert v == {"/r/x": False, "/r/public/x": True,
                 "/r/public": False, "/other": True}
    # length tie → Allow wins (RFC least-restrictive tie-break)
    v = _verdicts(spark, ["/dir/"], ["/dir/"], ["/dir/a"])
    assert v == {"/dir/a": True}
    # longer Disallow beats shorter Allow
    v = _verdicts(spark, ["/a/b/c/"], ["/a/"], ["/a/b/c/d", "/a/b"])
    assert v == {"/a/b/c/d": False, "/a/b": True}


def test_wildcard_and_anchor_enforcement(spark):
    v = _verdicts(spark, ["/*.php$", "/tmp/*"], [],
                  ["/x.php", "/x.php?q=1", "/a/b/deep.php", "/tmp/f", "/ok"])
    assert v == {"/x.php": False, "/x.php?q=1": True,
                 "/a/b/deep.php": False, "/tmp/f": False, "/ok": True}


def test_enforcement_matches_bruteforce_model(spark):
    """Property check over a grid of rule sets × paths vs the independent
    regex-free python model."""
    rule_sets = [
        (["/r/"], []),
        (["/r/", "/*.php$"], ["/r/public/"]),
        (["/*?"], ["/*?page=$"]),
        (["/a$", "/b*c$"], ["/a", "/b"]),
        ([], ["/only-allow/"]),
        ([], []),
    ]
    paths = ["/", "/r/", "/r/img1", "/r/public/img1", "/x.php", "/x.php2",
             "/a", "/a/", "/abc", "/bzzc", "/bzzcd", "/q?page=",
             "/q?page=2", "/only-allow/x"]
    for dis, alw in rule_sets:
        got = _verdicts(spark, dis, alw, paths)
        for p in paths:
            assert got[p] == _model_allowed(dis, alw, p), (dis, alw, p)


def test_politeness_schedule_enforces_wildcards(spark):
    """End-to-end through politeness_schedule: wildcard Disallow drops,
    Allow carve survives, hosts without robots rows untouched."""
    from httpz_spark.operators.politeness import politeness_schedule

    rows = [
        ("h1", "/keep", 0, 1), ("h1", "/x.php", 0, 2),
        ("h1", "/r/sec", 0, 3), ("h1", "/r/public/ok", 0, 4),
        ("h2", "/x.php", 0, 5),  # no robots row -> kept
    ]
    df = spark.createDataFrame(
        rows, "host string, path string, priority int, url_hash long")
    robots = spark.createDataFrame(
        [("h1", 100, 10, ["/r/", "/*.php$"], ["/r/public/"])],
        S.ROBOTS_SCHEMA)
    out = politeness_schedule(df, robots, default_budget=10)
    kept = {(r["host"], r["path"]) for r in out.collect()}
    assert kept == {("h1", "/keep"), ("h1", "/r/public/ok"),
                    ("h2", "/x.php")}


def test_politeness_schedule_without_allow_column(spark):
    """Back-compat: a robots table with no ``allow`` column still works
    (prefix Disallow-only semantics unchanged)."""
    from httpz_spark.operators.politeness import politeness_schedule

    df = spark.createDataFrame(
        [("h1", "/r/x", 0, 1), ("h1", "/ok", 0, 2)],
        "host string, path string, priority int, url_hash long")
    robots = spark.createDataFrame(
        [("h1", 100, 10, ["/r/"])],
        "host string, crawl_delay_ms int, per_wave_budget int, "
        "disallow array<string>")
    out = politeness_schedule(df, robots, default_budget=10)
    assert [r["path"] for r in out.collect()] == ["/ok"]


# ---------------------------------------------------------------------------
# fetch + end-to-end builder
# ---------------------------------------------------------------------------

def test_robots_from_texts_budget_and_defaults(spark):
    fetched = spark.createDataFrame(
        [("h1", 200,
          "User-agent: *\nCrawl-delay: 0.05\nDisallow: /r/\nAllow: /r/pub/\n",
          None),
         ("h2", 404, None, None),
         ("h3", -1, None, "CONN")],
        "host string, fetch_status int, robots_txt string, error_type string",
    )
    out = {r["host"]: r for r in robots_from_texts(
        fetched, default_delay_ms=500, wave_window_ms=10_000, max_budget=50
    ).collect()}
    assert out["h1"]["crawl_delay_ms"] == 50
    assert list(out["h1"]["disallow"]) == ["/r/"]
    assert list(out["h1"]["allow"]) == ["/r/pub/"]
    assert out["h1"]["per_wave_budget"] == 50  # 10000/50=200, clamped to 50
    for h in ("h2", "h3"):  # allow-all defaults, status preserved
        assert out[h]["crawl_delay_ms"] == 500
        assert list(out[h]["disallow"]) == []
        assert list(out[h]["allow"]) == []
        assert out[h]["per_wave_budget"] == 20  # 10000/500
    assert out["h3"]["fetch_status"] == -1


def test_build_robots_table_matches_synthetic(spark):
    """End-to-end over the fabric: every host whose robots fetch succeeded
    must decode to EXACTLY its robots_df row (crawl_delay_ms + disallow +
    allow — the budget is the builder's own documented derivation); failed
    hosts (the fabric's injected TIMEOUT/CONN/... classes on /robots.txt)
    get the allow-all default."""
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(WORLD)], "host string"
    )
    got = {r["host"]: r for r in build_robots_table(
        hosts, WORLD, partitions=4
    ).collect()}
    want = {r["host"]: r for r in S.robots_df(spark, WORLD).collect()}
    assert set(got) == set(want)
    n_ok = 0
    for h, w in want.items():
        g = got[h]
        if g["fetch_status"] == 200:
            n_ok += 1
            assert g["crawl_delay_ms"] == w["crawl_delay_ms"], h
            assert list(g["disallow"]) == list(w["disallow"]), h
            assert list(g["allow"]) == list(w["allow"]), h
        else:
            assert list(g["disallow"]) == [] and g["crawl_delay_ms"] == 1000, h
    # the fabric's failure classes hit ~10% of URLs; most hosts must parse
    assert n_ok >= len(want) * 0.7, n_ok
    # the fixtures must actually exercise the wildcard/Allow machinery
    assert any("*" in p for r in want.values() for p in r["disallow"])
    assert any(list(r["allow"]) for r in want.values())


def test_fetch_stage_contains_failures_per_row(spark):
    """A host that fails on BOTH protocols yields a default row, never a
    task failure."""
    hosts = spark.createDataFrame(
        [(h,) for h in FB.all_hosts(WORLD)[:16]], "host string"
    )
    fetched_df = fetch_robots(hosts, WORLD, partitions=2)
    assert fetched_df.schema == spark.createDataFrame(
        [], ROBOTS_FETCH_SCHEMA).schema
    fetched = fetched_df.collect()
    assert len(fetched) == 16
    for r in fetched:
        if r["fetch_status"] == -1:
            assert r["error_type"] is not None
            assert r["robots_txt"] is None


class _Resp:
    def __init__(self, status, body=b"", charset="utf-8"):
        self.status, self.body, self.charset = status, body, charset


def _drive_robots(responses):
    """Run the document generator over h.test's robots URL, answering each
    request from ``responses[protocol]``."""
    g = document_row_gen("https://h.test/robots.txt", MAX_ROBOTS_BYTES)
    req = g.send(None)
    try:
        while True:
            url = req[0]
            proto = "https" if url.startswith("https:") else "http"
            req = g.send(responses[proto])
    except StopIteration as s:
        return s.value


def test_https_non200_falls_through_to_http():
    """ADVICE r04: an https 404 (e.g. cert-terminating frontend) must not
    mask a plain-http robots.txt — drive the generator directly."""
    body = b"User-agent: *\nDisallow: /r/\n"
    # https 404, http 200 -> the http body wins
    out = _drive_robots({"https": (_Resp(404), None),
                         "http": (_Resp(200, body), None)})
    assert out == {"fetch_status": 200,
                   "body": body.decode(), "error_type": None}
    # https 200 -> returns immediately (http never attempted)
    g = document_row_gen("https://h.test/robots.txt", MAX_ROBOTS_BYTES)
    req = g.send(None)
    assert req[0].startswith("https://")
    try:
        g.send((_Resp(200, body), None))
        raise AssertionError("generator must stop after a 200")
    except StopIteration as s:
        assert s.value["fetch_status"] == 200
    # neither is 200 -> FIRST response's status reported, no error
    out = _drive_robots({"https": (_Resp(404), None),
                         "http": (_Resp(500), None)})
    assert out == {"fetch_status": 404, "body": None,
                   "error_type": None}


_BOGUS_BODY = "User-agent: *\nDisallow: /café/\n".encode()


def test_document_gen_unknown_charset_falls_back_to_utf8():
    """A 200 served with an unknown charset label decodes as UTF-8 (the
    page fetch's fallback) instead of raising LookupError, which turned
    the host into a PROCESS row with the allow-all default."""
    out = _drive_robots({"https": (_Resp(200, _BOGUS_BODY, "x-bogus"), None),
                         "http": (_Resp(404), None)})
    assert out == {"fetch_status": 200, "body": _BOGUS_BODY.decode("utf-8"),
                   "error_type": None}


def test_robots_table_keeps_rules_under_unknown_charset(spark):
    """End to end: a fetch-only transport serving robots.txt with
    ``charset="x-bogus"`` still yields the host's Disallow rule."""
    body = _BOGUS_BODY

    def factory():
        from httpz_spark.sources.transport import Response

        class BogusCharsetTransport:
            def fetch(self, url, protocol, **kw):
                return Response(url=url, status=200, headers={}, body=body,
                                cert_der=None, history=[],
                                charset="x-bogus", latency_ms=1.0)

        return BogusCharsetTransport()

    hosts = spark.createDataFrame([("h.test",)], "host string")
    rows = build_robots_table(hosts, WORLD, transport_factory=factory,
                              partitions=2).collect()
    assert len(rows) == 1
    assert rows[0]["fetch_status"] == 200
    assert list(rows[0]["disallow"]) == ["/café/"]


def test_parse_projection_is_native(spark):
    """The parse side must plan zero Python stages (the fetch stage is the
    only sanctioned mapInPandas)."""
    import contextlib
    import io

    fetched = spark.createDataFrame(
        [("h", 200, "User-agent: *\nDisallow: /x/\n", None)],
        "host string, fetch_status int, robots_txt string, error_type string",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        robots_from_texts(fetched).explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_null_allow_does_not_disable_disallow(spark):
    """A robots row with rules on only ONE line must not degrade to
    allow-everything: F.concat is NULL-propagating, so robots_rules
    coalesces each side to an empty array (ADVICE r5)."""
    for disallow, allow in (
        (["/private/"], None),          # NULL allow: disallow enforced
        (None, ["/ok"]),                # NULL disallow: nothing blocked
        (None, None),                   # both NULL: allow-all
    ):
        df = spark.createDataFrame(
            [("/private/x",), ("/ok",)], "path string")
        rules = robots_rules(
            F.lit(disallow).cast("array<string>"),
            F.lit(allow).cast("array<string>"),
        )
        got = {r["path"]: r["ok"] for r in df.select(
            "path", robots_path_allowed(F.col("path"), rules).alias("ok")
        ).collect()}
        want = {
            "/private/x": not (disallow and "/private/" in disallow),
            "/ok": True,
        }
        assert got == want, (disallow, allow, got)
