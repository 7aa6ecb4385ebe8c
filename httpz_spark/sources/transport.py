"""The transport seam — how every fetch stage talks to "the network".

The fetch stages (:mod:`httpz_spark.operators.fetch`: the page fetch, which
also runs conditional revalidation waves, and the first-200 document fetch
behind robots.txt and sitemap discovery) are transport-agnostic: each is
a row generator plus an output projection, run by the ONE row driver
below.  Three implementations of the :class:`Transport` contract:

* :class:`httpz_spark.sources.fabric.FabricTransport` — the deterministic
  synthetic web used for tests/parity/benchmarks (the default).
* :class:`httpz_spark.sources.nettransport.AsyncioTransport` — a pure-stdlib
  real-network HTTP/1.1 client (asyncio + ssl) with live cert capture,
  integration-tested against a localhost TLS server.
* :class:`AiohttpTransport` — a real-network adapter mirroring the
  reference's aiohttp fetch (``scanner.py:206-309``).  Import-gated
  (aiohttp is optional); its exception→taxonomy mapping
  (:func:`classify_exception`, mirroring ``scanner.py:189-203``) is pure
  logic, unit-tested against synthetic exception classes.

Contract (duck-typed; all transports satisfy it):

``fetch(url, protocol, *, attempt, follow_redirects, max_redirects, method,
request_headers) -> response`` where the response has ``.url .status
.headers .body .cert_der .history .charset .latency_ms`` attributes, and
failures raise :class:`TransportError` carrying the reference's error
taxonomy (TIMEOUT / CERT / SSL / CONN / HTTP / UNKNOWN — transient-vs-
fallback retry policy is the row generator's job, not the transport's).

Sans-IO row driving
-------------------

A row's fetch logic (retries, protocol fallback, favicon second fetch —
:func:`httpz_spark.operators.fetch.scan_row_gen`; or the first-200
document fetch) is a GENERATOR that yields ``(url, protocol, kwargs)``
fetch requests and receives ``(response, transport_error)``; its
StopIteration value is the row's result.

:func:`drive_task` is the per-task loop of every ``mapInPandas`` fetch
stage: it opens ONE transport on the task's first non-empty batch and
closes it exactly once when the batch iterator ends or raises.
:func:`drive_rows` runs one batch of row generators: a transport that
exposes ``fetch_many(row_gens) -> ordered results`` (AiohttpTransport,
AsyncioTransport) gets the whole batch and drives it as interleaved
coroutines under an ``asyncio.Semaphore(concurrent_limit)``
(:func:`drive_scans_concurrent` — the in-task analogue of scanner.py:
430-440's bounded task pool); any other transport gets the rows one by
one through :func:`drive_scan_sync`.  Both paths execute the IDENTICAL
state machines, so results are equal by construction; only the I/O
overlap differs.  On both paths a row whose own logic raised comes back
as the exception object — the stage turns it into its containment row.
"""

from __future__ import annotations

import time


class TransportError(Exception):
    """Fetch failure carrying the reference error taxonomy
    (scanner.py:189-203 classes + message templates)."""

    def __init__(self, error_type: str, message: str):
        super().__init__(message)
        self.error_type = error_type
        self.message = message


class Response:
    """Minimal transport response (both FabricTransport and
    AiohttpTransport return this shape)."""

    __slots__ = ("url", "status", "headers", "body", "cert_der", "history",
                 "charset", "latency_ms")

    def __init__(self, url, status, headers, body, cert_der, history,
                 charset, latency_ms):
        self.url = url
        self.status = status
        self.headers = headers
        self.body = body
        self.cert_der = cert_der
        self.history = history
        self.charset = charset
        self.latency_ms = latency_ms


# ---------------------------------------------------------------------------
# sans-IO scan drivers
# ---------------------------------------------------------------------------

def drive_scan_sync(gen, transport):
    """Run one row's scan generator to completion against a sync transport;
    returns the generator's result dict."""
    send = None
    while True:
        try:
            req = gen.send(send)
        except StopIteration as stop:
            return stop.value
        url, protocol, kw = req
        try:
            send = (transport.fetch(url, protocol, **kw), None)
        except TransportError as e:
            send = (None, e)


def drive_rows(transport, gens) -> list:
    """Ordered results for one batch of row generators: the transport's
    ``fetch_many`` when it has one, else :func:`drive_scan_sync` row by row.
    A row whose own logic raised comes back as the exception object (the
    ``fetch_many`` contract) on both paths."""
    if hasattr(transport, "fetch_many"):
        return transport.fetch_many(gens)
    results = []
    for gen in gens:
        try:
            results.append(drive_scan_sync(gen, transport))
        except Exception as e:  # containment happens in the stage
            results.append(e)
    return results


def drive_task(batches, open_transport, fetch_batch):
    """The per-task loop of every ``mapInPandas`` fetch stage.

    ``open_transport(pdf)`` builds the task's ONE transport from its first
    non-empty batch (real transports own an event loop and a connection
    pool, so construction stays out of the batch loop); ``fetch_batch(pdf,
    transport)`` turns each non-empty batch into its output frame, driving
    the rows through :func:`drive_rows`.  The transport is closed exactly
    once, when the batch iterator is exhausted or raises."""
    transport = None
    try:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if transport is None:
                transport = open_transport(pdf)
            yield fetch_batch(pdf, transport)
    finally:
        if transport is not None and hasattr(transport, "close"):
            transport.close()


async def drive_scan_async(gen, fetch_async, sem):
    """Run one row's scan generator as a coroutine: each yielded request
    awaits ``fetch_async`` under the shared semaphore (requests of OTHER
    rows proceed while this one waits on the network)."""
    send = None
    while True:
        try:
            req = gen.send(send)
        except StopIteration as stop:
            return stop.value
        url, protocol, kw = req
        try:
            async with sem:
                resp = await fetch_async(url, protocol, **kw)
            send = (resp, None)
        except TransportError as e:
            send = (None, e)


async def drive_scans_concurrent(gens, fetch_async, concurrent_limit: int):
    """All rows of a batch as interleaved coroutines, ≤ ``concurrent_limit``
    requests in flight (scanner.py:430-440's bounded pool as a semaphore).
    Ordered results; a row whose own logic raised comes back as the
    exception object (PROCESS containment happens in the fetch stage)."""
    import asyncio

    sem = asyncio.Semaphore(concurrent_limit)
    return await asyncio.gather(
        *(drive_scan_async(g, fetch_async, sem) for g in gens),
        return_exceptions=True,
    )


def classify_exception(exc: BaseException, classes: dict | None = None):
    """Map a client exception to ``(error_type, message)`` — the exact
    decision ladder of ``scanner.py:189-203`` (order matters: CERT is a
    subclass of SSL is a subclass of CONN in aiohttp's hierarchy, so the
    most specific class must win).

    ``classes`` maps the five rung names to exception types; by default the
    aiohttp hierarchy is used (import-gated).  Tests inject synthetic
    classes with the same subclass relationships.
    """
    if classes is None:
        classes = _aiohttp_classes()
    if isinstance(exc, classes["timeout"]):
        return "TIMEOUT", "Connection timed out"
    if isinstance(exc, classes["cert"]):
        return "CERT", f"Certificate Error: {exc}"
    if isinstance(exc, classes["ssl"]):
        return "SSL", f"SSL Error: {exc}"
    if isinstance(exc, classes["conn"]):
        return "CONN", f"Connection Failed: {exc}"
    if isinstance(exc, classes["client"]):
        return "HTTP", f"HTTP Error: {exc.__class__.__name__}: {exc}"
    return "UNKNOWN", f"Error: {exc.__class__.__name__}: {exc}"


def _aiohttp_classes() -> dict:
    import asyncio

    import aiohttp  # import-gated: absent in this container

    return {
        "timeout": asyncio.TimeoutError,
        "cert": aiohttp.ClientConnectorCertificateError,
        "ssl": aiohttp.ClientSSLError,
        "conn": aiohttp.ClientConnectorError,
        "client": aiohttp.ClientError,
    }


def connector_kwargs(concurrent_limit: int = 100, force_close: bool = True,
                     limit_per_host: int = 0) -> dict:
    """Connection-hygiene kwargs for the aiohttp TCPConnector, matching the
    reference exactly (scanner.py:149-156): pool limit = 2x the in-flight
    concurrency, no per-host cap (unique-host scans), force_close because
    keep-alive to hosts visited once is wasted FDs, and a 300s DNS cache.
    Pure function so the config surface is unit-testable without aiohttp."""
    return {
        "ssl": False,
        "limit": concurrent_limit * 2,
        "limit_per_host": limit_per_host,
        "ttl_dns_cache": 300,
        "use_dns_cache": True,
        "force_close": force_close,
    }


class AiohttpTransport:
    """Real-network transport — scanner.py:206-309's fetch re-shaped to the
    Transport contract.  One instance per executor task; requests run on a
    private event loop (mapInPandas workers are plain sync python).

    Exposes :meth:`fetch_many`, so the fetch stage hands it the WHOLE Arrow
    batch of row state machines and it keeps ``concurrent_limit`` requests
    in flight on its loop — per-task throughput is concurrency-bound, not
    latency-bound.  ``capture_certs`` installs a TCPConnector subclass that
    grabs the live ``ssl_object`` on connection create (scanner.py:16-35's
    _CertCapturingConnector), so the peer cert DER is captured without a
    second TLS handshake (A27).

    Import-gated: constructing it raises ImportError in environments
    without aiohttp (this container), but the class exists so production
    deploys swap it in via ``make_fetch_stage(transport_factory=...)``
    without touching the engine.  The stdlib
    :class:`~httpz_spark.sources.nettransport.AsyncioTransport` is the
    dependency-free alternative and IS integration-tested here.
    """

    def __init__(self, timeout_s: float = 5.0, capture_certs: bool = False,
                 concurrent_limit: int = 100, force_close: bool = True,
                 limit_per_host: int = 0):
        import asyncio

        import aiohttp

        self._aiohttp = aiohttp
        self._timeout = aiohttp.ClientTimeout(total=timeout_s)
        self._loop = asyncio.new_event_loop()
        self._capture_certs = capture_certs
        self.concurrent_limit = concurrent_limit
        self._conn_kwargs = connector_kwargs(
            concurrent_limit, force_close, limit_per_host
        )
        self._session = self._loop.run_until_complete(self._mk_session())

    def _mk_connector(self):
        aiohttp = self._aiohttp
        if not self._capture_certs:
            return aiohttp.TCPConnector(**self._conn_kwargs)

        import contextvars

        bucket_var = contextvars.ContextVar("httpz_ssl_capture", default=None)
        self._ssl_bucket_var = bucket_var

        class _CertCapturingConnector(aiohttp.TCPConnector):
            # grab the live ssl_object on connection create into the calling
            # task's bucket — scanner.py:16-35; no second handshake
            async def _wrap_create_connection(self, *args, **kwargs):
                transport, proto = await super()._wrap_create_connection(
                    *args, **kwargs
                )
                bucket = bucket_var.get()
                if bucket is not None:
                    ssl_obj = transport.get_extra_info("ssl_object")
                    if ssl_obj is not None:
                        bucket["ssl_object"] = ssl_obj
                return transport, proto

        return _CertCapturingConnector(**self._conn_kwargs)

    async def _mk_session(self):
        return self._aiohttp.ClientSession(
            connector=self._mk_connector(), timeout=self._timeout
        )

    def fetch(self, url, protocol, *, attempt=0, follow_redirects=True,
              max_redirects=10, method="GET", request_headers=None):
        return self._loop.run_until_complete(
            self.fetch_async(
                url, protocol, attempt=attempt,
                follow_redirects=follow_redirects,
                max_redirects=max_redirects, method=method,
                request_headers=request_headers,
            )
        )

    def fetch_many(self, row_gens):
        """Drive a whole batch of row state machines concurrently —
        ``concurrent_limit`` requests in flight on this task's loop."""
        return self._loop.run_until_complete(
            drive_scans_concurrent(row_gens, self.fetch_async,
                                   self.concurrent_limit)
        )

    async def fetch_async(self, url, protocol, *, attempt=0,
                          follow_redirects=True, max_redirects=10,
                          method="GET", request_headers=None):
        try:
            return await self._fetch_inner(
                url, protocol, follow_redirects, max_redirects, method,
                request_headers,
            )
        except TransportError:
            raise
        except Exception as exc:  # taxonomy boundary (reference's
            # except-Exception — KeyboardInterrupt/CancelledError propagate)
            error_type, message = classify_exception(exc)
            raise TransportError(error_type, message) from exc

    async def _fetch_inner(self, url, protocol, follow_redirects,
                           max_redirects, method, request_headers):
        t0 = time.monotonic()
        bucket = None
        token = None
        if self._capture_certs and protocol == "https":
            bucket = {}
            token = self._ssl_bucket_var.set(bucket)
        try:
            async with self._session.request(
                method, url, headers=request_headers or {},
                allow_redirects=follow_redirects, max_redirects=max_redirects,
            ) as resp:
                body = await resp.read()
                charset = resp.charset
                history = [str(h.url) for h in resp.history]
                if history:
                    history = history + [str(resp.url)]
                cert_der = None
                if bucket is not None and bucket.get("ssl_object") is not None:
                    try:
                        cert_der = bucket["ssl_object"].getpeercert(
                            binary_form=True
                        )
                    except Exception:
                        cert_der = None
                return Response(
                    url=str(resp.url), status=resp.status,
                    headers=dict(resp.headers), body=body,
                    cert_der=cert_der,
                    history=history, charset=charset,
                    latency_ms=(time.monotonic() - t0) * 1000.0,
                )
        finally:
            if token is not None:
                self._ssl_bucket_var.reset(token)

    def close(self):
        self._loop.run_until_complete(self._session.close())
        self._loop.close()
