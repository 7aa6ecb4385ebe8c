"""Crawler-trap detection (operators/traps.py)."""

from pyspark.sql import functions as F

from httpz_spark.operators.traps import (
    frontier_detrap,
    trap_templates,
    url_path_template,
)


def _frontier(spark, n_cal=40, n_sess=30, n_page=20):
    """Synthetic frontier: a calendar trap, a hex session-id trap, and a
    bounded page template on one host, plus a second healthy host."""
    rows = []
    for i in range(n_cal):
        rows.append(("trap.test", f"https://trap.test/cal/2026-{1 + i % 12:02d}-{1 + i % 28:02d}/ev{i}"))
    for i in range(n_sess):
        rows.append(("trap.test", f"https://trap.test/s/{('%032x' % (i * 2654435761))}"))
    for i in range(n_page):
        rows.append(("trap.test", f"https://trap.test/li/img{i % 5:02d}"))
        rows.append(("ok.test", f"https://ok.test/li/img{i % 5:02d}"))
    return spark.createDataFrame(rows, "host string, url string")


def test_template_shapes(spark):
    df = spark.createDataFrame(
        [
            ("https://h.test/cal/2026-03-05/ev7?sess=1#top",),
            ("http://h.test/s/deadbeefdeadbeefdeadbeefdeadbeef",),
            ("https://h.test",),
            ("https://h.test/li/img00000042",),  # 8+ digits = high-entropy
            ("https://h.test/li/img42",),
        ],
        "url string",
    )
    got = [r[0] for r in df.select(url_path_template("url")).collect()]
    assert got == [
        "/cal/{N}-{N}-{N}/ev{N}",
        "/s/{H}",
        "/",
        "/li/img{H}",
        "/li/img{N}",
    ]


def test_trap_templates_finds_only_explosions(spark):
    f = _frontier(spark)
    got = {(r["host"], r["template"]): r["n_urls"]
           for r in trap_templates(f, max_urls=10).collect()}
    assert got == {
        ("trap.test", "/cal/{N}-{N}-{N}/ev{N}"): 40,
        ("trap.test", "/s/{H}"): 30,
    }  # /li/img{N} has 5 distinct urls per host -> healthy


def test_detrap_caps_and_flags(spark):
    f = _frontier(spark)
    out = frontier_detrap(f, max_urls=10, keep=3)
    by = out.groupBy("host", "template", "trapped").count().collect()
    got = {(r["host"], r["template"]): (r["trapped"], r["count"]) for r in by}
    assert got[("trap.test", "/cal/{N}-{N}-{N}/ev{N}")] == (True, 3)
    assert got[("trap.test", "/s/{H}")] == (True, 3)
    # healthy templates pass EVERY row through (20 rows, 5 distinct urls)
    assert got[("trap.test", "/li/img{N}")] == (False, 20)
    assert got[("ok.test", "/li/img{N}")] == (False, 20)
    # deterministic survivors: the keep lexicographically-smallest urls
    cal = sorted(
        r["url"] for r in out.filter(
            (F.col("template") == "/cal/{N}-{N}-{N}/ev{N}") & F.col("trapped")
        ).collect()
    )
    all_cal = sorted(
        r["url"] for r in f.filter(F.col("url").contains("/cal/")).collect()
    )
    assert cal == all_cal[:3]


def test_detrap_plan_shape(spark):
    """Threshold formulation: the RETURNED plan is one pass over the
    frontier with two broadcast joins — no union, no cartesian, and (new
    in the eager-derivation shape) no window at all: the trap list and
    thresholds are materialized once inside the operator from a single
    persisted distinct pass, so the returned plan only joins two tiny
    checkpointed tables."""
    f = _frontier(spark)
    df = frontier_detrap(f, max_urls=10, keep=3)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Union" not in plan
    # derivation work (distinct + window) happened eagerly — the frontier
    # pass itself carries no exchange beyond the broadcasts and no window
    assert "Window [" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_template_fused_strip_matches_two_pass_reference(spark):
    """The scheme/authority strip and the query/fragment strip run as one
    alternation pass; this pins exact equivalence with the documented
    two-pass form (which the DuckDB oracle still executes verbatim) over
    adversarial URL shapes: missing scheme, scheme-less '?' prefixes,
    '#' inside the authority, '?' before any '/', userinfo, uppercase
    schemes, bare strings, empties."""
    import re

    cases = [
        "https://h.test/a/b?q=1#f",
        "http://h.test",
        "h.test/a/b",                      # no scheme
        "/cal/2026-01-02?x=1",             # path only + query
        "?only=query",
        "#only-frag",
        "",
        "x://y?z",                         # 1-char scheme, ? before any /
        "HTTPS://H.test/Path/123",         # uppercase scheme
        "ftp+ssh.x-1://user:pw@h:8080/p/q#frag",
        "https://h#f/a",                   # '#' inside authority
        "https://h?x/1",                   # '?' inside authority
        "://no-scheme-name/a",             # invalid: no scheme letters
        "1http://h/a",                     # invalid scheme start
        "https:/h/one-slash?y",
        "a+b-c.9://h/deadbeefcafe0123/77",
        "https://h.test/%3Fenc?real=1",
    ]
    scheme = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*")
    qf = re.compile(r"[?#].*$")
    hexr = re.compile(r"[0-9a-f]{8,}")
    digit = re.compile(r"[0-9]+")

    def ref(u):
        p = qf.sub("", scheme.sub("", u, count=1), count=1)
        if p == "":
            p = "/"
        return digit.sub("{N}", hexr.sub("{H}", p))

    df = spark.createDataFrame([(c,) for c in cases], "url string")
    got = [r[0] for r in df.select(url_path_template("url")).collect()]
    assert got == [ref(c) for c in cases], list(zip(cases, got))
