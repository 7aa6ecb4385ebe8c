"""The transport seam — how every fetch stage talks to "the network".

The fetch stages (:mod:`httpz_spark.operators.fetch`: the page fetch, which
also runs conditional revalidation waves, and the first-200 document fetch
behind robots.txt and sitemap discovery) are transport-agnostic: each is
a row generator plus an output projection, run by the ONE row driver
below.  Two implementations of the :class:`Transport` contract:

* :class:`httpz_spark.sources.fabric.FabricTransport` — the deterministic
  synthetic web used for tests/parity/benchmarks (the default).
* :class:`httpz_spark.sources.nettransport.AsyncioTransport` — the
  real-network transport: a pure-stdlib HTTP/1.1 client (asyncio + ssl)
  with live cert capture, integration-tested against a localhost TLS
  server.  Its exception→taxonomy mapping (:func:`classify_exception`,
  mirroring ``scanner.py:189-203``) is pure logic, also unit-tested
  against synthetic exception classes.

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
exposes ``fetch_many(row_gens) -> ordered results`` (AsyncioTransport)
gets the whole batch and drives it as interleaved coroutines under an
``asyncio.Semaphore(concurrent_limit)`` (:func:`drive_scans_concurrent` —
the in-task analogue of scanner.py:430-440's bounded task pool); any
other transport gets the rows one by one through :func:`drive_scan_sync`.  Both paths execute the IDENTICAL
state machines, so results are equal by construction; only the I/O
overlap differs.  On both paths a row whose own logic raised comes back
as the exception object — the stage turns it into its containment row.
"""

from __future__ import annotations

class TransportError(Exception):
    """Fetch failure carrying the reference error taxonomy
    (scanner.py:189-203 classes + message templates)."""

    def __init__(self, error_type: str, message: str):
        super().__init__(message)
        self.error_type = error_type
        self.message = message


class Response:
    """Minimal transport response (both FabricTransport and
    AsyncioTransport return this shape)."""

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


def classify_exception(exc: BaseException, classes: dict):
    """Map a client exception to ``(error_type, message)`` — the exact
    decision ladder of ``scanner.py:189-203`` (order matters: a certificate
    error is also an SSL error is also a connection error, so the most
    specific class must win).

    ``classes`` maps the five rung names to exception types: the stdlib
    hierarchy in :class:`~httpz_spark.sources.nettransport.AsyncioTransport`;
    tests inject synthetic classes with the same subclass relationships.
    """
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

