"""Explicit error-taxonomy matrix (SURVEY.md §5.2 item 6).

For every fabric failure class, assert the exact retry/fallback behavior
the reference implements (scanner.py:53-55,189-203,312-326,352-364):

* TIMEOUT/CONN/HTTP are transient -> retried (1+retries attempts per
  protocol), then fall back to the other protocol;
* CERT/SSL fall back but are NEVER retried;
* 4xx/5xx are successes (status>=0) — no retry, no fallback;
* a redirect loop > max_redirects becomes an HTTP-class error
  (TooManyRedirects is a ClientError);
* match_codes silently drops status=-1 error rows.

Runs the engine's row state machine directly (no Spark session needed) and
cross-checks the final fields against the reference behavioral model.
"""

import pytest

from httpz_spark.config import ScanConfig
from httpz_spark.operators.fetch import scan_row_gen
from httpz_spark.parity import refscan
from httpz_spark.sources import fabric as FB
from httpz_spark.sources.transport import classify_exception, drive_scan_sync

WORLD = FB.FabricConfig(n_images=4096, n_hosts=2000).with_certs()


def find_url_of_class(predicate):
    """Scan host ROOT pages for one whose class matches the predicate —
    roots, because the reference drops paths from scanned domains
    (parsers.py:38-74), so both sides fetch the root."""
    for i in range(2000):
        host = f"h{i}.test"
        cls = FB.url_class(host, "/", WORLD)
        if predicate(cls):
            return host, "/"
    raise AssertionError("no host of requested class in the world")


def scan_one(host, path, **cfg_over):
    cfg = ScanConfig.all_on(retries=1, **cfg_over)
    t = FB.FabricTransport(WORLD)
    result = drive_scan_sync(
        scan_row_gen(host, None, "https", "http", cfg, {}, None), t
    )
    golden = refscan.check_domain(t, host, cfg, dns_map={}, cname_targets={})
    return result, golden


def agree(result, golden):
    assert result["status"] == golden.get("status")
    assert result["protocol"] == golden.get("protocol")
    assert result["error_type"] == golden.get("error_type")
    assert result["error"] == golden.get("error")


def test_timeout_retries_then_falls_back():
    host, path = find_url_of_class(lambda c: c["fail_https"] == "TIMEOUT")
    r, g = scan_one(host, path)
    agree(r, g)
    assert r["status"] >= 0 and r["protocol"] == "http"
    # https: 1+retries=2 attempts (transient), then http: 1 attempt
    assert r["attempts"] == 3


def test_cert_falls_back_but_never_retries():
    host, path = find_url_of_class(lambda c: c["fail_https"] == "CERT")
    r, g = scan_one(host, path)
    agree(r, g)
    assert r["protocol"] == "http" and r["status"] >= 0
    assert r["attempts"] == 2  # no retry on CERT


def test_ssl_falls_back_but_never_retries():
    host, path = find_url_of_class(lambda c: c["fail_https"] == "SSL")
    r, g = scan_one(host, path)
    agree(r, g)
    assert r["attempts"] == 2


def test_conn_on_both_protocols_is_final_error():
    host, path = find_url_of_class(lambda c: c["fail_http"] == "CONN")
    r, g = scan_one(host, path)
    agree(r, g)
    assert r["status"] == -1 and r["error_type"] == "CONN"
    # both protocols, each retried once (CONN transient): 2 + 2
    assert r["attempts"] == 4


def test_http_transient_succeeds_on_retry():
    host, path = find_url_of_class(lambda c: c["fail_first_attempt"] == "HTTP")
    r, g = scan_one(host, path)
    agree(r, g)
    assert r["status"] >= 0 and r["protocol"] == "https"
    assert r["attempts"] == 2  # attempt 0 injected HTTP error, attempt 1 ok


def test_4xx_5xx_count_as_success():
    for status in (404, 500):
        host, path = find_url_of_class(
            lambda c, s=status: c["status"] == s and not c["fail_https"]
            and not c["fail_first_attempt"] and c["redirect_to"] is None
        )
        r, g = scan_one(host, path)
        agree(r, g)
        assert r["status"] == status and r["attempts"] == 1  # no retry/fallback


def test_redirect_chain_recorded():
    host, path = find_url_of_class(
        lambda c: c["redirect_to"] is not None and c["redirect_to"] != "/"
        and not c["fail_https"] and not c["fail_first_attempt"]
    )
    r, g = scan_one(host, path)
    agree(r, g)
    assert r["status"] == 200
    assert r["redirect_chain"] and len(r["redirect_chain"]) >= 2
    assert r["redirect_chain"][-1] == r["url"]


def test_redirect_loop_exceeds_cap_becomes_http_error():
    host, path = find_url_of_class(
        lambda c: c["redirect_to"] is not None and not c["fail_https"]
    )
    # force the loop explicitly via a self-redirecting class if present;
    # otherwise simulate by tiny max_redirects on a normal redirect
    r, g = scan_one(host, path, max_redirects=0)
    agree(r, g)
    assert r["status"] == -1
    assert r["error_type"] == "HTTP"
    assert "TooManyRedirects" in r["error"]


def test_match_codes_drop_error_rows():
    host, _ = find_url_of_class(lambda c: c["fail_http"] == "CONN")
    cfg = ScanConfig.all_on(match_codes=frozenset({200}))
    t = FB.FabricTransport(WORLD)
    out = refscan.scan([host], t, cfg, dns_map={}, cname_targets={})
    assert out == []  # status=-1 silently dropped (scanner.py:450-451)


# ---------------------------------------------------------------------------
# exception -> taxonomy classifier (transport seam; scanner.py:189-203)
# ---------------------------------------------------------------------------

# synthetic hierarchy with the reference client's subclass relationships
# (cert error < SSL error < connection error < client error) — the ladder
# must pick the MOST specific rung.
class _ClientError(Exception):
    pass


class _ConnError(_ClientError):
    pass


class _SSLError(_ConnError):
    pass


class _CertError(_SSLError):
    pass


class _Timeout(Exception):
    pass


_CLASSES = {
    "timeout": _Timeout,
    "cert": _CertError,
    "ssl": _SSLError,
    "conn": _ConnError,
    "client": _ClientError,
}


@pytest.mark.parametrize(
    "exc, want_type, want_prefix",
    [
        (_Timeout("t"), "TIMEOUT", "Connection timed out"),
        (_CertError("bad cert"), "CERT", "Certificate Error: bad cert"),
        (_SSLError("bad ssl"), "SSL", "SSL Error: bad ssl"),
        (_ConnError("refused"), "CONN", "Connection Failed: refused"),
        (_ClientError("oops"), "HTTP", "HTTP Error: _ClientError: oops"),
        (ValueError("x"), "UNKNOWN", "Error: ValueError: x"),
    ],
)
def test_classify_exception_ladder(exc, want_type, want_prefix):
    got_type, got_msg = classify_exception(exc, classes=_CLASSES)
    assert got_type == want_type
    assert got_msg == want_prefix


def test_classifier_ordering_most_specific_wins():
    # a CertError IS-A SSLError IS-A ConnError IS-A ClientError; the ladder
    # must classify it CERT, not any of its ancestors (reference ordering)
    got_type, _ = classify_exception(_CertError("x"), classes=_CLASSES)
    assert got_type == "CERT"


def test_error_types_cover_every_emitted_class():
    """ERROR_TYPES is the closed set the wave's error counters count: every
    class the exception ladder, the row-containment path and the fabric's
    injected failures emit must be a member (a class outside it would
    vanish from lineage's errors_by_type)."""
    from httpz_spark.operators.fetch import _process_row
    from httpz_spark.parity.refmodel import (
        ERROR_TYPES,
        FALLBACK_ERROR_TYPES,
        TRANSIENT_ERROR_TYPES,
    )

    ladder = {classify_exception(cls("x"), classes=_CLASSES)[0]
              for cls in (*_CLASSES.values(), ValueError)}
    assert ladder == {"TIMEOUT", "CERT", "SSL", "CONN", "HTTP", "UNKNOWN"}
    emitted = ladder | {_process_row(ValueError("x"))["error_type"]}
    emitted |= set(FB._FAIL_MESSAGES)
    assert emitted <= set(ERROR_TYPES), emitted - set(ERROR_TYPES)
    assert set(TRANSIENT_ERROR_TYPES) | set(FALLBACK_ERROR_TYPES) <= set(ERROR_TYPES)
    assert len(set(ERROR_TYPES)) == len(ERROR_TYPES)
