"""Pure-stdlib real-network transport — asyncio + ssl HTTP/1.1 client.

The engine's one real-network transport: it implements the transport seam's
contract (transport.py) on asyncio streams with zero third-party
dependencies:

* **batched-async driving** — exposes ``fetch_many``, so the fetch stage
  hands it the whole Arrow batch of sans-IO row state machines and
  ``concurrent_limit`` requests stay in flight per Spark task (the in-task
  analogue of the reference's bounded task pool,
  ``/root/reference/httpz_scanner/scanner.py:430-440``);
* **live peer-cert capture** from the handshake's ``ssl_object``
  (``writer.get_extra_info('ssl_object').getpeercert(binary_form=True)``) —
  the stdlib analogue of the reference's _CertCapturingConnector
  (``scanner.py:16-35``): ``cert_der`` rides the fetch result into the TLS
  parse (A12/A27) with **no second handshake**;
* **redirect following** with aiohttp-compatible history semantics and
  method-rewrite rules (301/302/303 -> GET, 307/308 preserve);
* the reference **error taxonomy** at the wire boundary — the classify
  ladder (``scanner.py:189-203``) instantiated over stdlib exception
  classes (same subclass relationships: CERT < SSL < OSError, TIMEOUT
  checked first);
* **connection hygiene**: one connection per request ("Connection: close"),
  matching the reference's ``force_close=True`` rationale — keep-alive to
  hosts visited once is wasted FDs (``scanner.py:149-156``).

Integration-tested against an in-process asyncio TLS server using
fabric-style EC certs (tests/test_nettransport.py): cert round-trip into
the tls struct, redirects, chunked bodies, taxonomy rows, and in-task
concurrency overlap.
"""

from __future__ import annotations

import asyncio
import socket
import time
import urllib.parse

from httpz_spark.sources.transport import (
    Response,
    TransportError,
    classify_exception,
    drive_scans_concurrent,
)

_DEFAULT_PORTS = {"http": 80, "https": 443}
_REDIRECT_STATUSES = {301, 302, 303, 307, 308}


class ProtocolError(Exception):
    """Malformed HTTP response / redirect-loop — the stdlib stand-in for
    the taxonomy's HTTP rung (aiohttp.ClientError's slot)."""


def _stdlib_classes() -> dict:
    """The classify ladder's five rungs over stdlib exception classes.
    Order-sensitive like aiohttp's hierarchy: TimeoutError and SSLError are
    both OSError subclasses, so the ladder must (and does) test them before
    the CONN rung; SSLCertVerificationError < SSLError likewise."""
    import ssl

    return {
        "timeout": TimeoutError,  # asyncio.TimeoutError is an alias
        "cert": ssl.SSLCertVerificationError,
        "ssl": ssl.SSLError,
        "conn": (ConnectionError, socket.gaierror,
                 asyncio.IncompleteReadError, EOFError, OSError),
        # LimitOverrunError (response head exceeding the stream buffer even
        # at our raised limit) is a protocol-level failure, not UNKNOWN
        "client": (ProtocolError, asyncio.LimitOverrunError),
    }


def _parse_url(url: str) -> tuple:
    p = urllib.parse.urlsplit(url)
    scheme = p.scheme.lower()
    host = p.hostname or ""
    port = p.port or _DEFAULT_PORTS.get(scheme, 80)
    target = p.path or "/"
    if p.query:
        target += "?" + p.query
    return scheme, host, port, target


def _title_case(name: str) -> str:
    """Header-name canonicalization matching aiohttp's istr presentation
    (Content-Type, X-Frame-Options) so engine lookups behave identically."""
    return "-".join(s.capitalize() for s in name.split("-"))


def _charset_of(content_type: str | None) -> str | None:
    if not content_type:
        return None
    for part in content_type.split(";")[1:]:
        k, _, v = part.strip().partition("=")
        if k.lower() == "charset" and v:
            return v.strip('"').strip("'").lower()
    return None


class AsyncioTransport:
    """Stdlib real-network transport.  One instance per executor task with
    a private event loop (mapInPandas workers are plain sync python).

    ``resolver``: optional ``host -> ip`` callable (the DNS-adapter seam —
    custom resolvers connect by IP while SNI/Host keep the original name).
    """

    def __init__(self, timeout_s: float = 5.0, concurrent_limit: int = 100,
                 capture_certs: bool = True, max_body_bytes: int = 8 << 20,
                 resolver=None):
        self.timeout_s = timeout_s
        self.concurrent_limit = concurrent_limit
        self.capture_certs = capture_certs
        self.max_body_bytes = max_body_bytes
        self.resolver = resolver
        # asyncio streams default to a 64 KiB buffer; readuntil() on a
        # response head larger than that raises LimitOverrunError, so give
        # headers ample room (1 MiB — far beyond any sane server's head)
        self._stream_limit = 1 << 20
        self._loop: asyncio.AbstractEventLoop | None = None
        self._ssl_ctx = None

    def _ensure_loop(self) -> asyncio.AbstractEventLoop:
        if self._loop is None or self._loop.is_closed():
            self._loop = asyncio.new_event_loop()
        return self._loop

    def _ssl_context(self):
        if self._ssl_ctx is None:
            import ssl

            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            # the reference scans with ssl=False (no verification) so error
            # rows carry the SERVER's behavior, not the client trust store's
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
            self._ssl_ctx = ctx
        return self._ssl_ctx

    # -- Transport contract ---------------------------------------------------
    def fetch(self, url, protocol, *, attempt=0, follow_redirects=True,
              max_redirects=10, method="GET", request_headers=None):
        return self._ensure_loop().run_until_complete(
            self.fetch_async(
                url, protocol, attempt=attempt,
                follow_redirects=follow_redirects,
                max_redirects=max_redirects, method=method,
                request_headers=request_headers,
            )
        )

    def fetch_many(self, row_gens):
        """Drive a whole batch of sans-IO row state machines concurrently
        (``concurrent_limit`` requests in flight on this task's loop)."""
        return self._ensure_loop().run_until_complete(
            drive_scans_concurrent(row_gens, self.fetch_async,
                                   self.concurrent_limit)
        )

    async def fetch_async(self, url, protocol, *, attempt=0,
                          follow_redirects=True, max_redirects=10,
                          method="GET", request_headers=None):
        try:
            return await asyncio.wait_for(
                self._fetch_inner(url, follow_redirects, max_redirects,
                                  method, request_headers),
                timeout=self.timeout_s,
            )
        except TransportError:
            raise
        except Exception as exc:  # taxonomy boundary — BaseException
            # (KeyboardInterrupt / CancelledError) propagates
            error_type, message = classify_exception(exc, _stdlib_classes())
            raise TransportError(error_type, message) from exc

    # -- HTTP/1.1 client ------------------------------------------------------
    async def _fetch_inner(self, url, follow_redirects, max_redirects,
                           method, request_headers):
        t0 = time.monotonic()
        history: list[str] = []
        cur_url, cur_method = url, method
        for _hop in range(max_redirects + 1):
            status, headers, body, cert_der = await self._request_once(
                cur_url, cur_method, request_headers
            )
            if (follow_redirects and status in _REDIRECT_STATUSES
                    and headers.get("Location")):
                history.append(cur_url)
                cur_url = urllib.parse.urljoin(cur_url, headers["Location"])
                if status in (301, 302, 303) and cur_method not in ("GET", "HEAD"):
                    cur_method = "GET"  # aiohttp's rewrite rules
                continue
            if history:
                history = history + [cur_url]
            return Response(
                url=cur_url, status=status, headers=headers, body=body,
                cert_der=cert_der, history=history,
                charset=_charset_of(headers.get("Content-Type")),
                latency_ms=(time.monotonic() - t0) * 1000.0,
            )
        raise ProtocolError(f"too many redirects (> {max_redirects})")

    async def _request_once(self, url, method, request_headers):
        scheme, host, port, target = _parse_url(url)
        if scheme not in _DEFAULT_PORTS:
            raise ProtocolError(f"unsupported scheme: {scheme!r}")
        if self.resolver:
            # custom resolvers are typically blocking network calls
            # (DnspythonResolver) — run them off-loop so one slow lookup
            # doesn't serialize every in-flight request on this task's loop
            connect_host = await asyncio.get_running_loop().run_in_executor(
                None, self.resolver, host
            )
        else:
            connect_host = host
        kwargs = {"limit": self._stream_limit}
        if scheme == "https":
            kwargs["ssl"] = self._ssl_context()
            kwargs["server_hostname"] = host  # SNI = original name even
            # when a custom resolver supplied the IP
        reader, writer = await asyncio.open_connection(
            connect_host, port, **kwargs
        )
        try:
            cert_der = None
            if scheme == "https" and self.capture_certs:
                ssl_obj = writer.get_extra_info("ssl_object")
                if ssl_obj is not None:
                    try:
                        cert_der = ssl_obj.getpeercert(binary_form=True)
                    except Exception:
                        cert_der = None

            host_hdr = host if port == _DEFAULT_PORTS[scheme] else f"{host}:{port}"
            lines = [f"{method} {target} HTTP/1.1", f"Host: {host_hdr}"]
            hdrs = dict(request_headers or {})
            hdrs.setdefault("Accept-Encoding", "identity")
            hdrs.setdefault("Connection", "close")  # one connection per
            # request: force_close hygiene for unique-host scans
            for k, v in hdrs.items():
                lines.append(f"{k}: {v}")
            writer.write(("\r\n".join(lines) + "\r\n\r\n").encode("latin-1"))
            await writer.drain()

            status, headers = await self._read_head(reader)
            body = b""
            if method != "HEAD" and status not in (204, 304):
                body = await self._read_body(reader, headers)
            return status, headers, body, cert_der
        finally:
            writer.close()
            try:
                await writer.wait_closed()
            except Exception:
                pass

    async def _read_head(self, reader) -> tuple:
        raw = await reader.readuntil(b"\r\n\r\n")
        head = raw.decode("latin-1").split("\r\n")
        parts = head[0].split(" ", 2)
        if len(parts) < 2 or not parts[0].startswith("HTTP/"):
            raise ProtocolError(f"malformed status line: {head[0]!r}")
        try:
            status = int(parts[1])
        except ValueError:
            raise ProtocolError(f"malformed status code: {parts[1]!r}") from None
        headers: dict[str, str] = {}
        for line in head[1:]:
            if not line:
                continue
            name, sep, value = line.partition(":")
            if not sep:
                raise ProtocolError(f"malformed header line: {line!r}")
            headers[_title_case(name.strip())] = value.strip()
        return status, headers

    async def _read_body(self, reader, headers) -> bytes:
        cap = self.max_body_bytes
        if headers.get("Transfer-Encoding", "").lower() == "chunked":
            chunks: list[bytes] = []
            total = 0
            while True:
                size_line = (await reader.readuntil(b"\r\n"))[:-2]
                try:
                    size = int(size_line.split(b";")[0], 16)
                except ValueError:
                    raise ProtocolError(
                        f"malformed chunk size: {size_line!r}"
                    ) from None
                if size == 0:
                    await reader.readuntil(b"\r\n")  # trailer terminator
                    break
                data = await reader.readexactly(size)
                await reader.readexactly(2)  # CRLF after chunk
                if total < cap:
                    # the chunk that CROSSES the cap contributes its prefix
                    # (truncate-at-cap, not drop-the-chunk)
                    chunks.append(data[: cap - total])
                total += size
            return b"".join(chunks)
        cl = headers.get("Content-Length")
        if cl is not None:
            try:
                n = int(cl)
            except ValueError:
                raise ProtocolError(f"malformed Content-Length: {cl!r}") from None
            return await reader.readexactly(min(n, cap))
        # Connection: close framing — read to EOF, capped
        chunks = []
        total = 0
        while total < cap:
            data = await reader.read(min(1 << 16, cap - total))
            if not data:
                break
            chunks.append(data)
            total += len(data)
        return b"".join(chunks)

    def close(self):
        if self._loop is not None and not self._loop.is_closed():
            self._loop.close()
        self._loop = None
