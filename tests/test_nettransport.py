"""AsyncioTransport integration tests — a REAL network path, end-to-end:
an in-process asyncio TLS server (EC certs generated the same way as the
fabric's) serves HTML/favicon/redirect/chunked routes, and the stdlib
transport is checked for cert round-trip into the tls struct, redirect
history, taxonomy rows, in-task concurrency overlap, the raw request head
it puts on the wire, and a full ``make_fetch_stage`` run through Spark."""

from __future__ import annotations

import asyncio
import datetime
import ssl
import threading
import time

import pytest

from httpz_spark.config import ScanConfig
from httpz_spark.functions.tlsx import parse_cert_der
from httpz_spark.operators.fetch import scan_row_gen
from httpz_spark.sources.nettransport import AsyncioTransport, _stdlib_classes
from httpz_spark.sources.transport import TransportError, classify_exception

PAGE_HTML = (
    b"<html><head><title>Net Test Page</title>"
    b'<link rel="icon" href="/favicon.ico"></head>'
    b'<body><p>hello over tls</p><a href="/other">o</a></body></html>'
)
FAVICON = b"\x00\x01\x02\x03favicon-bytes"


def _make_server_cert(tmp_path):
    """Self-signed EC cert + key for 127.0.0.1/localhost — the fabric's
    cert recipe (sources/fabric.py:_make_certs) with a serialized key."""
    import ipaddress

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.x509.oid import NameOID

    key = ec.derive_private_key(0x2000, ec.SECP256R1())
    name = x509.Name([
        x509.NameAttribute(NameOID.COMMON_NAME, "nettest.local"),
        x509.NameAttribute(NameOID.EMAIL_ADDRESS, "admin@nettest.local"),
    ])
    cert = (
        x509.CertificateBuilder()
        .subject_name(name).issuer_name(name)
        .public_key(key.public_key()).serial_number(4242)
        .not_valid_before(datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc))
        .not_valid_after(datetime.datetime(2027, 1, 1, tzinfo=datetime.timezone.utc))
        .add_extension(x509.SubjectAlternativeName([
            x509.DNSName("localhost"), x509.DNSName("nettest.local"),
            x509.IPAddress(ipaddress.ip_address("127.0.0.1")),
        ]), critical=False)
        .sign(key, hashes.SHA256())
    )
    cert_pem = tmp_path / "cert.pem"
    key_pem = tmp_path / "key.pem"
    cert_pem.write_bytes(cert.public_bytes(serialization.Encoding.PEM))
    key_pem.write_bytes(key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    ))
    return str(cert_pem), str(key_pem), cert.public_bytes(serialization.Encoding.DER)


class LocalHttpServer:
    """Tiny asyncio HTTP(S) server on its own thread+loop, port 0."""

    def __init__(self, certfile=None, keyfile=None, delay_s=0.0,
                 answer_anything=False):
        self.delay_s = delay_s
        self.answer_anything = answer_anything  # reply to ANY bytes (even a
        # TLS ClientHello) with plain HTTP — triggers the client's SSL rung
        self.n_requests = 0
        self.n_connections = 0
        self.heads: list[bytes] = []  # raw request heads, arrival order
        self._ssl_ctx = None
        if certfile:
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(certfile, keyfile)
            self._ssl_ctx = ctx
        self._started = threading.Event()
        self._loop = asyncio.new_event_loop()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        assert self._started.wait(10)

    def _run(self):
        asyncio.set_event_loop(self._loop)
        self._server = self._loop.run_until_complete(
            asyncio.start_server(self._handle, "127.0.0.1", 0,
                                 ssl=self._ssl_ctx)
        )
        self.port = self._server.sockets[0].getsockname()[1]
        self._started.set()
        self._loop.run_forever()

    async def _handle(self, reader, writer):
        self.n_connections += 1
        try:
            if self.answer_anything:
                await reader.read(1)
                writer.write(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi")
                await writer.drain()
                return
            head = await reader.readuntil(b"\r\n\r\n")
            self.heads.append(head)
            line = head.split(b"\r\n", 1)[0].decode("latin-1")
            method, path, _ = line.split(" ", 2)
            self.n_requests += 1
            if self.delay_s:
                await asyncio.sleep(self.delay_s)
            if path == "/":
                body = PAGE_HTML
                hdr = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
                       + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n")
                writer.write(hdr + body)
            elif path == "/favicon.ico":
                writer.write(b"HTTP/1.1 200 OK\r\nContent-Length: "
                             + str(len(FAVICON)).encode() + b"\r\n\r\n" + FAVICON)
            elif path == "/redirect":
                writer.write(b"HTTP/1.1 302 Found\r\nLocation: /hop2\r\n"
                             b"Content-Length: 0\r\n\r\n")
            elif path == "/hop2":
                writer.write(b"HTTP/1.1 301 Moved\r\nLocation: /\r\n"
                             b"Content-Length: 0\r\n\r\n")
            elif path == "/chunked":
                writer.write(b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                             b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n")
            elif path == "/bighead":
                # response head well past asyncio's 64 KiB default stream
                # buffer — readable only with the transport's raised limit
                writer.write(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n"
                             b"X-Big: " + b"a" * (100 * 1024) + b"\r\n\r\nok")
            elif path == "/noclen":
                writer.write(b"HTTP/1.1 200 OK\r\n\r\nclose-framed body")
            elif path == "/garbage":
                writer.write(b"NOT-HTTP AT ALL\r\n\r\n")
            else:
                writer.write(b"HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n")
            await writer.drain()
        except Exception:
            pass
        finally:
            writer.close()
            try:
                await writer.wait_closed()  # drain transport teardown ON
                # the loop — a bare close() leaves callbacks that fire
                # after loop shutdown ("Event loop is closed" warnings)
            except Exception:
                pass

    def stop(self):
        async def _shutdown():
            self._server.close()
            await self._server.wait_closed()
            # cancel handlers still parked in readuntil/sleep so no
            # coroutine is left pending (un-awaited) when the loop stops
            for t in asyncio.all_tasks(self._loop):
                if t is not asyncio.current_task():
                    t.cancel()
            await asyncio.sleep(0)
            self._loop.stop()

        asyncio.run_coroutine_threadsafe(_shutdown(), self._loop)
        self._thread.join(timeout=10)


@pytest.fixture(scope="module")
def tls_server(tmp_path_factory):
    cert, key, der = _make_server_cert(tmp_path_factory.mktemp("certs"))
    srv = LocalHttpServer(certfile=cert, keyfile=key)
    srv.expected_der = der
    yield srv
    srv.stop()


def test_fetch_and_cert_roundtrip(tls_server):
    t = AsyncioTransport(timeout_s=5.0)
    resp = t.fetch(f"https://127.0.0.1:{tls_server.port}/", "https")
    assert resp.status == 200
    assert b"Net Test Page" in resp.body
    assert resp.charset == "utf-8"
    assert resp.headers["Content-Type"].startswith("text/html")
    # live-handshake cert capture, no second handshake (A27)
    assert resp.cert_der == tls_server.expected_der
    tls = parse_cert_der(resp.cert_der)
    assert tls["subject"] == "nettest.local"
    assert tls["email"] == "admin@nettest.local"
    assert "localhost" in tls["alt_names"]
    t.close()


def test_redirect_history_semantics(tls_server):
    t = AsyncioTransport(timeout_s=5.0)
    base = f"https://127.0.0.1:{tls_server.port}"
    resp = t.fetch(f"{base}/redirect", "https")
    assert resp.status == 200
    # aiohttp shape: intermediates + final
    assert resp.history == [f"{base}/redirect", f"{base}/hop2", f"{base}/"]
    assert resp.url == f"{base}/"
    # redirects disabled -> the 302 itself
    resp2 = t.fetch(f"{base}/redirect", "https", follow_redirects=False)
    assert resp2.status == 302 and resp2.history == []
    t.close()


def test_body_framings(tls_server):
    t = AsyncioTransport(timeout_s=5.0)
    base = f"https://127.0.0.1:{tls_server.port}"
    assert t.fetch(f"{base}/chunked", "https").body == b"hello world"
    assert t.fetch(f"{base}/noclen", "https").body == b"close-framed body"
    t.close()


def test_chunked_body_truncates_at_cap(tls_server):
    """The chunk that CROSSES max_body_bytes contributes its prefix — the
    old code dropped that chunk entirely, returning a short body with the
    boundary bytes lost (round-3 review finding)."""
    base = f"https://127.0.0.1:{tls_server.port}"
    # /chunked serves 5-byte "hello" + 6-byte " world"; cap=8 cuts the
    # second chunk mid-way
    t = AsyncioTransport(timeout_s=5.0, max_body_bytes=8)
    assert t.fetch(f"{base}/chunked", "https").body == b"hello wo"
    t.close()
    # cap on a chunk boundary exactly
    t2 = AsyncioTransport(timeout_s=5.0, max_body_bytes=5)
    assert t2.fetch(f"{base}/chunked", "https").body == b"hello"
    t2.close()


def test_big_response_head_parses(tls_server):
    """>64 KiB response heads exceed asyncio's default stream buffer; the
    transport raises the limit so they parse instead of LimitOverrunError
    -> UNKNOWN (round-3 review finding)."""
    t = AsyncioTransport(timeout_s=5.0)
    resp = t.fetch(f"https://127.0.0.1:{tls_server.port}/bighead", "https")
    assert resp.status == 200 and resp.body == b"ok"
    assert len(resp.headers["X-Big"]) == 100 * 1024
    t.close()


def test_blocking_resolver_runs_off_loop():
    """A blocking custom resolver must not serialize concurrent requests —
    it runs via run_in_executor, so N resolutions overlap (round-3 review
    finding: it used to run inline on the event loop)."""
    plain = LocalHttpServer()
    try:
        port = plain.port

        def slow_resolver(host):
            time.sleep(0.3)
            return "127.0.0.1"

        t = AsyncioTransport(timeout_s=5.0, concurrent_limit=16,
                             resolver=slow_resolver)
        cfg = ScanConfig(fetch_title=True)
        gens = [
            scan_row_gen(f"fake{i}.test:{port}", None, "http", "http",
                         cfg, {}, None)
            for i in range(8)
        ]
        t0 = time.monotonic()
        results = t.fetch_many(gens)
        wall = time.monotonic() - t0
        assert all(r["status"] == 200 for r in results)
        # 8 x 0.3s serial = 2.4s; off-loop resolution should be ~0.3-0.6s
        assert wall < 1.5, wall
        t.close()
    finally:
        plain.stop()


def _head_fields(head: bytes) -> tuple:
    line, *rest = head.decode("latin-1").split("\r\n")
    return line, dict(h.split(": ", 1) for h in rest if h)


def test_wire_request_head_and_one_connection_per_fetch(monkeypatch):
    """Connection hygiene (the reference's force_close): every request asks
    for ``Connection: close`` and an identity body on its own connection,
    and ``Host`` carries the port only off the scheme default."""
    plain = LocalHttpServer()
    real_open = asyncio.open_connection
    dialed = []

    async def open_connection(host, port, **kw):
        # the URL's default port 80 is served by the test server's port
        dialed.append((host, port))
        return await real_open(host, plain.port if port == 80 else port, **kw)

    monkeypatch.setattr(asyncio, "open_connection", open_connection)
    try:
        t = AsyncioTransport(timeout_s=5.0, resolver=lambda host: "127.0.0.1")
        assert t.fetch(f"http://127.0.0.1:{plain.port}/", "http").status == 200
        assert t.fetch("http://site.test/favicon.ico", "http").status == 200
        t.close()
        assert dialed == [("127.0.0.1", plain.port), ("127.0.0.1", 80)]
        assert plain.n_connections == 2 and len(plain.heads) == 2
        (line1, h1), (line2, h2) = map(_head_fields, plain.heads)
        assert line1 == "GET / HTTP/1.1"
        assert line2 == "GET /favicon.ico HTTP/1.1"
        assert h1["Host"] == f"127.0.0.1:{plain.port}"
        assert h2["Host"] == "site.test"
        for h in (h1, h2):
            assert h["Connection"] == "close"
            assert h["Accept-Encoding"] == "identity"
    finally:
        plain.stop()


def test_error_taxonomy_rows(tls_server):
    t = AsyncioTransport(timeout_s=0.8)
    # connection refused -> CONN
    with pytest.raises(TransportError) as ei:
        t.fetch("https://127.0.0.1:1/", "https")
    assert ei.value.error_type == "CONN"
    # TLS handshake against nothing... malformed HTTP -> HTTP rung
    with pytest.raises(TransportError) as ei:
        t.fetch(f"https://127.0.0.1:{tls_server.port}/garbage", "https")
    assert ei.value.error_type == "HTTP"
    t.close()
    # slow server -> TIMEOUT
    slow = LocalHttpServer(delay_s=3.0)
    try:
        t2 = AsyncioTransport(timeout_s=0.3)
        with pytest.raises(TransportError) as ei:
            t2.fetch(f"http://127.0.0.1:{slow.port}/", "http")
        assert ei.value.error_type == "TIMEOUT"
        t2.close()
    finally:
        slow.stop()


def test_plain_http_and_ladder_order(tls_server):
    plain = LocalHttpServer()
    speaks_http_to_tls = LocalHttpServer(answer_anything=True)
    try:
        t = AsyncioTransport(timeout_s=5.0)
        resp = t.fetch(f"http://127.0.0.1:{plain.port}/", "http")
        assert resp.status == 200 and resp.cert_der is None
        # https handshake answered with plain HTTP bytes -> SSL rung (not
        # CONN), proving the ladder tests SSLError before the OSError
        # catch-all (SSLError IS an OSError subclass)
        with pytest.raises(TransportError) as ei:
            t.fetch(f"https://127.0.0.1:{speaks_http_to_tls.port}/", "https")
        assert ei.value.error_type == "SSL"
        t.close()
    finally:
        plain.stop()
        speaks_http_to_tls.stop()


def test_ladder_class_order_pure():
    classes = _stdlib_classes()
    assert classify_exception(ssl.SSLCertVerificationError(1, "x"), classes)[0] == "CERT"
    assert classify_exception(ssl.SSLError(1, "x"), classes)[0] == "SSL"
    assert classify_exception(TimeoutError(), classes)[0] == "TIMEOUT"
    assert classify_exception(ConnectionRefusedError(), classes)[0] == "CONN"
    assert classify_exception(OSError("nope"), classes)[0] == "CONN"
    assert classify_exception(ValueError("odd"), classes)[0] == "UNKNOWN"


def test_in_task_overlap_against_real_server():
    slow = LocalHttpServer(delay_s=0.25)
    try:
        t = AsyncioTransport(timeout_s=5.0, concurrent_limit=32)
        cfg = ScanConfig(fetch_title=True)  # no favicon: 1 request per row
        gens = [
            scan_row_gen(f"127.0.0.1:{slow.port}", None, "http", "http",
                         cfg, {}, None)
            for _ in range(12)
        ]
        t0 = time.monotonic()
        results = t.fetch_many(gens)
        wall = time.monotonic() - t0
        assert all(r["status"] == 200 for r in results)
        # 12 rows x 0.25s serial = 3.0s; overlapped should be ~0.25-0.5s
        assert wall < 1.5, wall
        t.close()
    finally:
        slow.stop()


def test_full_fetch_stage_over_real_tls(spark, tls_server):
    """End-to-end: Spark mapInPandas -> AsyncioTransport.fetch_many ->
    real TLS server; title/favicon/tls-struct/discovered all from the wire."""
    import pandas as pd

    from httpz_spark.operators.fetch import fetch_output_schema, make_fetch_stage
    from httpz_spark.parity import refmodel as R
    from httpz_spark.sources.fabric import FabricConfig

    port = tls_server.port
    rows = [{"url_hash": i, "scan_target": f"127.0.0.1:{port}/",
             "port": None, "proto_first": "https", "proto_second": "http"}
            for i in range(6)]
    sdf = spark.createDataFrame(pd.DataFrame(rows)).repartition(2)
    cfg = ScanConfig.all_on(discover_links=True)
    out = sdf.mapInPandas(
        make_fetch_stage(
            cfg, FabricConfig(), ["url_hash"],
            transport_factory=lambda: AsyncioTransport(timeout_s=10.0),
        ),
        schema=fetch_output_schema("url_hash long"),
    ).toPandas().sort_values("url_hash")
    assert (out["status"] == 200).all()
    assert (out["title"] == "Net Test Page").all()
    assert (out["protocol"] == "https").all()
    expected_fav = R.favicon_hash(FAVICON)
    assert (out["favicon_hash"] == expected_fav).all()
    tls_subjects = out["tls"].map(lambda t: t["subject"] if t else None)
    assert (tls_subjects == "nettest.local").all()
    assert all("https://127.0.0.1:%d/other" % port in d for d in out["discovered"])
