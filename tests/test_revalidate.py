"""Conditional revalidation: fabric validators + 304 waves
(sources/fabric.py page_validators, operators/revalidate.py)."""

import pandas as pd
from pyspark.sql import functions as F

from httpz_spark.config import ScanConfig
from httpz_spark.operators.revalidate import revalidate_plan
from httpz_spark.sources import fabric as FB


WORLD = FB.FabricConfig(n_images=64, n_hosts=8)


def _clean_page(world=WORLD):
    """A (host, path) whose url_class is a plain direct 200."""
    for i in range(world.n_images):
        iid = FB.image_id_at(i)
        host = FB.host_for_image(iid, world)
        path = f"/li/{iid}"
        cls = FB.url_class(host, path, world)
        if (cls["status"] == 200 and cls["redirect_to"] is None
                and not cls["fail_https"] and not cls["fail_first_attempt"]):
            return host, path
    raise AssertionError("no clean page in fabric world")


# ---------------------------------------------------------------- fabric

def test_fabric_200_carries_validators():
    host, path = _clean_page()
    t = FB.FabricTransport(WORLD)
    resp = t.fetch(f"https://{host}{path}", "https")
    etag, lm = FB.page_validators(host, path, WORLD)
    assert resp.status == 200
    assert resp.headers["ETag"] == etag
    assert resp.headers["Last-Modified"] == lm
    assert len(resp.body) > 0


def test_fabric_if_none_match_304():
    host, path = _clean_page()
    etag, lm = FB.page_validators(host, path, WORLD)
    t = FB.FabricTransport(WORLD)
    resp = t.fetch(f"https://{host}{path}", "https",
                   request_headers={"If-None-Match": etag})
    assert resp.status == 304
    assert resp.body == b""
    # validators re-sent on the 304 (RFC 9110 §15.4.5)
    assert resp.headers["ETag"] == etag
    assert "Content-Length" not in resp.headers
    # stale etag -> full 200
    resp2 = t.fetch(f"https://{host}{path}", "https",
                    request_headers={"If-None-Match": '"0"'})
    assert resp2.status == 200 and len(resp2.body) > 0


def test_fabric_if_modified_since_and_precedence():
    host, path = _clean_page()
    etag, lm = FB.page_validators(host, path, WORLD)
    t = FB.FabricTransport(WORLD)
    r1 = t.fetch(f"https://{host}{path}", "https",
                 request_headers={"If-Modified-Since": lm})
    assert r1.status == 304
    # If-None-Match PRESENT and mismatching wins over a matching IMS
    # (RFC 9110 §13.1.3: ignore If-Modified-Since when If-None-Match given)
    r2 = t.fetch(f"https://{host}{path}", "https",
                 request_headers={"If-None-Match": '"0"',
                                  "If-Modified-Since": lm})
    assert r2.status == 200


def test_fabric_redirect_lands_on_final_validators():
    # find a redirecting page; the conditional evaluates against the
    # FINAL path's validators (what the previous crawl actually stored)
    world = WORLD
    t = FB.FabricTransport(world)
    for i in range(world.n_images):
        iid = FB.image_id_at(i)
        host = FB.host_for_image(iid, world)
        path = f"/li/{iid}"
        cls = FB.url_class(host, path, world)
        if (cls["redirect_to"] and cls["redirect_to"] != path
                and not cls["fail_https"] and not cls["fail_first_attempt"]):
            final = cls["redirect_to"]
            etag_final, _ = FB.page_validators(host, final, world)
            resp = t.fetch(f"https://{host}{path}", "https",
                           request_headers={"If-None-Match": etag_final})
            assert resp.status == 304
            return
    raise AssertionError("no clean redirect in fabric world")


# ---------------------------------------------------------------- engine

def _candidates(spark, world=WORLD, n=48):
    rows = []
    for i in range(n):
        iid = FB.image_id_at(i)
        host = FB.host_for_image(iid, world)
        path = f"/li/{iid}"
        etag, lm = FB.page_validators(host, path, world)
        if i % 3 == 0:
            rows.append((host, path, etag, lm))        # fresh -> 304
        elif i % 3 == 1:
            rows.append((host, path, '"feed"', None))  # changed -> 200
        else:
            rows.append((host, path, None, None))      # cold -> plain fetch
    return spark.createDataFrame(
        rows, "host string, path string, etag string, last_modified string")


def test_revalidate_wave_classifies(spark):
    cfg = ScanConfig(fetch_headers=True, fetch_title=True, retries=1)
    out = revalidate_plan(_candidates(spark), cfg, WORLD).collect()
    by = {(r["host"], r["path"]): r for r in out}
    for i in range(48):
        iid = FB.image_id_at(i)
        host = FB.host_for_image(iid, WORLD)
        path = f"/li/{iid}"
        r = by[(host, path)]
        cls = FB.url_class(host, path, WORLD)
        if cls["fail_https"] == "CONN" and cls["fail_http"] == "CONN":
            assert r["status"] == -1
            continue
        etag_cur, lm_cur = FB.page_validators(
            host, cls["redirect_to"] or path, WORLD)
        if i % 3 == 0 and not cls["redirect_to"]:
            assert r["not_modified"], (i, r["status"])
            assert r["title"] is None  # no body to parse
        elif r["status"] == 200:
            assert not r["not_modified"]
            # refreshed validators come back for the seen-meta MERGE
            assert r["etag_new"] == etag_cur
            assert r["last_modified_new"] == lm_cur


def test_revalidate_single_python_stage(spark):
    cfg = ScanConfig(fetch_headers=True)
    plan = (
        revalidate_plan(_candidates(spark, n=12), cfg, WORLD)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def _echo_factory():
    """Factory of a fetch-only transport that records each request's
    headers in the response headers.  Returned as a closure so it ships to
    executors by value (they can't import the test module)."""

    def factory(_rp):
        from httpz_spark.sources.transport import Response

        class EchoHeadersTransport:
            def fetch(self, url, protocol, *, request_headers=None, **kw):
                sent = dict(request_headers or {})
                headers = {f"X-Sent-{k}": v for k, v in sent.items()}
                headers["X-Sent"] = ",".join(sorted(sent))
                status = 304 if "If-None-Match" in sent else 200
                return Response(url=url, status=status, headers=headers,
                                body=b"<title>t</title>", cert_der=None,
                                history=[], charset="utf-8", latency_ms=1.0)

        return EchoHeadersTransport()

    return factory


def test_revalidate_sends_row_validators_over_custom_headers(spark):
    """The revalidation wave is the page fetch: a row's etag goes out as
    If-None-Match, its last_modified as If-Modified-Since, both over the
    config's custom headers; a row with NULL validators sends neither and
    its result equals the same row run through make_fetch_stage."""
    from httpz_spark.operators.fetch import fetch_output_schema, make_fetch_stage

    lm = "Wed, 01 Jan 2025 00:00:00 GMT"
    cand = spark.createDataFrame(
        [("h.test", "/a", '"e1"', None), ("h.test", "/b", None, lm),
         ("h.test", "/c", None, None)],
        "host string, path string, etag string, last_modified string")
    cfg = ScanConfig(fetch_headers=True, fetch_title=True, retries=0,
                     custom_headers=(("X-Custom", "1"),))
    out = revalidate_plan(cand, cfg, WORLD, transport_factory=_echo_factory())
    by = {r["path"]: r for r in out.collect()}

    a, b, c = (by[p]["response_headers"] for p in ("/a", "/b", "/c"))
    assert a["X-Sent-If-None-Match"] == '"e1"'
    assert a["X-Sent"] == "If-None-Match,User-Agent,X-Custom"
    assert by["/a"]["not_modified"]
    assert b["X-Sent-If-Modified-Since"] == lm
    assert b["X-Sent"] == "If-Modified-Since,User-Agent,X-Custom"
    assert c["X-Sent"] == "User-Agent,X-Custom"
    assert c["X-Sent-X-Custom"] == "1"

    plain = (
        cand.filter(F.col("path") == "/c").select("host", "path")
        .withColumn("scan_target", F.concat("host", "path"))
        .withColumn("port", F.lit(None).cast("int"))
        .withColumn("proto_first", F.lit("https"))
        .withColumn("proto_second", F.lit("http"))
        .mapInPandas(
            make_fetch_stage(cfg, WORLD, ["host", "path"],
                             transport_factory=_echo_factory()),
            schema=fetch_output_schema("host string, path string"))
        .collect()
    )
    assert len(plain) == 1
    got = by["/c"].asDict()
    assert {k: got[k] for k in plain[0].asDict()} == plain[0].asDict()
