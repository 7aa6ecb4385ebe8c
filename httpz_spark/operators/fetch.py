"""The vectorized fetch stages — ``mapInPandas`` over Arrow batches.

The page fetch (:func:`make_fetch_stage`) replaces the reference's asyncio
scan loop (``httpz_scanner/scanner.py:206-379``): each executor task
receives Arrow batches of scheduled URLs (+ passthrough columns), runs
the retry/fallback state machine per row, performs enrichment
(title/body/favicon/TLS via the batched kernels), and emits result
batches; batches carrying ``etag`` / ``last_modified`` are conditional
revalidation waves.  The first-200 document fetch
(:func:`make_document_fetch_stage`) serves robots.txt and sitemap fetches.

Scale properties:

* Parallelism = partitions × per-partition concurrency.  Rows are sans-IO
  generators run by the one row driver (``sources/transport.drive_rows``):
  on the CPU-bound synthetic fabric rows run sequentially per task, while
  real-network transports exposing ``fetch_many`` drive ALL rows of the
  batch as interleaved coroutines under an asyncio semaphore
  (concurrent_limit in flight per task — scanner.py:430-440's analogue), so
  production throughput is concurrency-bound, not latency-bound.  Same
  state machine either way ⇒ identical results by construction (tested with
  a latency-injecting fake transport).
* No driver round-trips: config + fabric rules travel in the closure;
  the fabric (the sandbox substitute for the network) builds each page
  from the URL alone, as an origin would, so no payload column rides the
  batch.
* Certs are parsed once per distinct DER per batch (hosts share certs).
* ONE transport per task (``sources/transport.drive_task``), closed when
  the batch iterator ends or raises: a real transport owns an event loop,
  so construction stays out of the hot loop and nothing leaks on
  long-running tasks.
* Batch columns are unpacked once into python lists (``to_dict("records")``
  builds a dict per row and measured ~2× slower); output is assembled
  column-wise.
* A UDF exception never kills the Spark task: a row whose logic raised
  becomes a containment row — scanner.py:409-414 (PROCESS) semantics.
"""

from __future__ import annotations

import os
import re
import urllib.parse
from collections.abc import Iterator

import pandas as pd

from httpz_spark.config import ScanConfig
from httpz_spark.functions.htmlx import parse_page
from httpz_spark.functions.tlsx import parse_cert_der
from httpz_spark.functions.ua import ua_for
from httpz_spark.parity import refmodel as R
from httpz_spark.sources.fabric import FabricConfig, FabricTransport, page_image_id
from httpz_spark.sources.transport import drive_rows, drive_task

RESULT_COLUMNS = (
    "url string, status int, protocol string, "
    "response_headers map<string,string>, content_type string, "
    "content_length long, content_length_raw string, "
    "redirect_chain array<string>, title string, body_preview string, "
    "body_clean string, favicon_hash string, "
    "tls struct<fingerprint:string,subject:string,issuer:string,email:string,"
    "alt_names:array<string>,not_before:string,not_after:string>, "
    "error string, error_type string, latency_ms double, attempts int, "
    "discovered array<string>"
)

_RESULT_KEYS = (
    "url", "status", "protocol", "response_headers", "content_type",
    "content_length", "content_length_raw", "redirect_chain", "title",
    "body_preview", "body_clean", "favicon_hash", "tls", "error",
    "error_type", "latency_ms", "attempts", "discovered",
)


SCAN_COLUMNS = ("scan_target", "port", "proto_first", "proto_second")


def fetch_output_schema(passthrough: str) -> str:
    """Full mapInPandas output schema: passthrough columns + result columns."""
    return f"{passthrough}, {RESULT_COLUMNS}"


def apply_fetch_stage(df, passthrough: list, stage):
    """``df``'s ``passthrough`` columns (``(name, type)`` pairs) and its
    :data:`SCAN_COLUMNS` through ``stage`` (a :func:`make_fetch_stage`
    function built with those names): the passthrough columns followed by
    the fetch result columns.  Partitioning is the caller's — the stage
    runs one task per input partition."""
    names = [n for n, _t in passthrough]
    schema = ", ".join(f"{n} {t}" for n, t in passthrough)
    return df.select(*names, *SCAN_COLUMNS).mapInPandas(
        stage, schema=fetch_output_schema(schema))


def _process_row(e: BaseException) -> dict:
    """Containment row for a row whose scan logic itself blew up —
    scanner.py:409-414 (PROCESS) semantics."""
    result = _empty_result()
    result["error_type"] = "PROCESS"
    result["error"] = f"{e.__class__.__name__}: {e}"
    result["protocol"] = "unknown"
    return result


def _empty_result() -> dict:
    return {
        "url": None, "status": -1, "protocol": None, "response_headers": None,
        "content_type": None, "content_length": None, "content_length_raw": None,
        "redirect_chain": None, "title": None, "body_preview": None,
        "body_clean": None, "favicon_hash": None, "tls": None,
        "error": None, "error_type": None, "latency_ms": 0.0, "attempts": 0,
        "discovered": None,
    }


def _fetch_one(
    url: str, protocol: str, cfg: ScanConfig,
    attempt: int, cert_cache: dict, custom_headers: dict | None,
):
    """One attempt — the engine's column-shaped analogue of scanner.py:206-309.

    Sans-IO generator: every network round-trip is a ``yield (url, protocol,
    kwargs)`` request answered with ``(response, transport_error)``.  The
    SAME state machine runs under the sequential driver (fabric/CPU-bound
    transports) and the asyncio-concurrent driver (real-network transports)
    — see :mod:`httpz_spark.sources.transport`."""
    out = _empty_result()
    out["protocol"] = protocol
    # seeded UA (A24) + custom headers merged over it (scanner.py:209-212);
    # method is POST iff post_data is set (scanner.py:212)
    headers = {"User-Agent": ua_for(url, attempt, cfg.ua_seed)}
    if custom_headers:
        headers.update(custom_headers)
    resp, err = yield (url, protocol, {
        "attempt": attempt,
        "follow_redirects": cfg.follow_redirects,
        "max_redirects": cfg.max_redirects,
        "method": "POST" if cfg.post_data is not None else "GET",
        "request_headers": headers,
    })
    if err is not None:
        out["error_type"] = err.error_type
        out["error"] = err.message
        return out

    out["url"] = resp.url
    out["status"] = resp.status
    out["latency_ms"] = float(resp.latency_ms)
    if cfg.fetch_headers:
        out["response_headers"] = dict(resp.headers)
    if cfg.fetch_content_type:
        out["content_type"] = resp.headers.get("Content-Type")
    if cfg.fetch_content_length:
        cl = resp.headers.get("Content-Length")
        if cl is not None:
            try:
                out["content_length"] = int(cl)
            except ValueError:
                out["content_length_raw"] = cl  # int/str union split into 2 cols
    if resp.history:
        out["redirect_chain"] = list(resp.history)
    if cfg.fetch_tls and protocol == "https" and resp.cert_der is not None:
        key = hash(resp.cert_der)
        if key not in cert_cache:
            cert_cache[key] = parse_cert_der(resp.cert_der)
        out["tls"] = cert_cache[key]

    if cfg.needs_body:
        raw_body = resp.body[: R.MAX_BODY_BYTES]
        encoding = resp.charset or "utf-8"
        if cfg.fetch_body:
            out["body_preview"] = R.body_preview(raw_body, encoding=encoding)
        try:
            html_text = raw_body.decode(encoding, errors="replace")
        except Exception:
            # unknown codec name -> utf-8 fallback (scanner.py:281-283;
            # errors='replace' does not protect against LookupError)
            html_text = raw_body.decode("utf-8", errors="replace")

        # ONE parser pass extracts title + clean text + favicon link +
        # outlinks (HTMLParser dominates the hot path; parity with the
        # reference model's separate parsers is covered by the suite)
        page = parse_page(html_text)

        if cfg.fetch_body:
            text = R.normalize_text(" ".join(page.text_parts))
            out["body_clean"] = text[: R.BODY_CLEAN_CHARS] if text else None
        if cfg.fetch_title:
            ct = resp.headers.get("Content-Type")
            if not (ct and not any(x in ct.lower() for x in ("text/html", "application/xhtml"))):
                if page.title_raw is not None:
                    title = R.normalize_text(page.title_raw)
                    out["title"] = title[: R.TITLE_MAX_CHARS] if title else None
        if cfg.fetch_favicon and resp.status is not None:
            out["favicon_hash"] = yield from _favicon(
                resp.url, page.favicon_href, protocol
            )
        if cfg.discover_links and resp.status == 200:
            links = []
            for href in page.hrefs:
                absu = resolve_href(resp.url, href)
                if absu.startswith(("http://", "https://")):
                    links.append(absu)
            out["discovered"] = links
    return out


def resolve_href(base_url: str, href: str) -> str:
    """urljoin with byte-identical fast paths for the two shapes that
    dominate (abs-http and root-relative).  The '/.' guard routes dot
    segments to urljoin's normalization ('/a/../b' -> 'https://h/b'):
    without it frontier dedup would treat equal URLs as distinct."""
    if href.startswith(("http://", "https://")):
        return href
    if href.startswith("/") and not href.startswith("//") and "/." not in href:
        return _origin_of(base_url) + href
    return urllib.parse.urljoin(base_url, href)


def _origin_of(url: str) -> str:
    """scheme://netloc of a URL whose path starts at the first '/' after the
    authority (true for every transport-returned final URL); equals
    urlparse(url).scheme + '://' + netloc for those shapes."""
    scheme, _, rest = url.partition("://")
    netloc = rest.split("/", 1)[0]
    if "?" in netloc or "#" in netloc:  # no path before query — rare; exact
        p = urllib.parse.urlparse(url)
        return f"{p.scheme}://{p.netloc}"
    return f"{scheme}://{netloc}"


def _favicon(final_url, favicon_href, protocol):
    """Second GET for the favicon — parsers.py:205-254 semantics (the href
    comes from the combined page parse).  Sans-IO generator."""
    href = favicon_href or "/favicon.ico"
    if href.startswith("/") and not href.startswith("//") and "/." not in href:
        favicon_url = _origin_of(final_url) + href
    else:
        favicon_url = urllib.parse.urljoin(_origin_of(final_url), href)
    resp, err = yield (favicon_url, protocol, {"attempt": 0})
    if err is not None:
        return None
    if resp.status != 200:
        return None
    return R.favicon_hash(resp.body)


def scan_row_gen(
    target: str, port, proto_first: str, proto_second: str,
    cfg: ScanConfig, cert_cache: dict, custom_headers: dict | None,
):
    """Protocol fallback + retries for one scheduled URL —
    scanner.py:312-379 semantics (CERT/SSL fall back but never retry;
    TIMEOUT/CONN/HTTP retry with linear backoff, simulated as latency).

    Sans-IO generator (see :func:`_fetch_one`): the return value is the
    final result dict; drivers deliver it via StopIteration."""
    last_error = None
    success = None
    total_latency = 0.0
    total_attempts = 0
    for protocol in (proto_first, proto_second):
        url = f"{protocol}://{target}"
        if port:  # falsy check: explicit port 0 is skipped (scanner.py:356-357)
            url += f":{port}"
        attempts = 1 + max(0, cfg.retries)
        result = None
        for attempt in range(attempts):
            result = yield from _fetch_one(
                url, protocol, cfg, attempt, cert_cache, custom_headers
            )
            total_attempts += 1
            total_latency += result["latency_ms"]
            if result["status"] >= 0:
                break
            if result["error_type"] not in R.TRANSIENT_ERROR_TYPES:
                break
            if attempt < attempts - 1:
                total_latency += cfg.retry_backoff * 1000.0 * (attempt + 1)
        if result["status"] >= 0:
            success = result
            break
        last_error = result
        if result["error_type"] not in R.FALLBACK_ERROR_TYPES:
            break

    final = success if success is not None else last_error
    final["latency_ms"] = total_latency
    final["attempts"] = total_attempts
    return final


def _open_transport(transport_factory, fabric_cfg: FabricConfig):
    """The task's transport: ``transport_factory()`` when given (the
    production seam), else the deterministic fabric."""
    if transport_factory is not None:
        return transport_factory()
    return FabricTransport(fabric_cfg)


def _page_ids(pdf: pd.DataFrame, fabric_cfg: FabricConfig) -> list:
    """The batch's ``image_id`` column, each NULL resolved as the fabric
    serves the row's ``host`` (port stripped) and ``path``."""
    iids = pdf["image_id"].tolist()
    for i, (hp, path) in enumerate(zip(pdf["host"].tolist(), pdf["path"].tolist())):
        if iids[i] is None and hp is not None:
            host, sep, port = hp.rpartition(":")
            bare = host if sep and port.isdigit() else hp
            iids[i] = page_image_id(bare, path or "/", fabric_cfg)
    return iids


def _until_stopped(batches, stop_file: str):
    """Pass batches through; raise before any batch once ``stop_file``
    exists."""
    for pdf in batches:
        if os.path.exists(stop_file):
            raise RuntimeError("cooperative stop requested")
        yield pdf


_VALIDATORS = (("etag", "If-None-Match"), ("last_modified", "If-Modified-Since"))


def _row_headers(pdf: pd.DataFrame, custom_headers: dict | None) -> list:
    """Per-row request headers: the custom headers, with a row's non-null
    ``etag`` / ``last_modified`` (when the batch has those columns) merged
    over them as ``If-None-Match`` / ``If-Modified-Since``."""
    validators = [(header, pdf[col].tolist()) for col, header in _VALIDATORS
                  if col in pdf.columns]
    if not validators:
        return [custom_headers] * len(pdf)
    return [
        {**(custom_headers or {}),
         **{h: vals[i] for h, vals in validators if not pd.isna(vals[i])}}
        or None
        for i in range(len(pdf))
    ]


def make_fetch_stage(
    cfg: ScanConfig,
    fabric_cfg: FabricConfig,
    passthrough_cols: list,
    transport_factory=None,
    stop_file: str | None = None,
):
    """Build the mapInPandas function.  ``passthrough_cols`` are copied from
    input to output verbatim (keys, cname/ips columns).  When ``image_id``
    is one of them and the batch has ``host`` and ``path`` columns, a NULL
    ``image_id`` is emitted resolved from that host (port stripped) and
    path — frontier rows leave root paths NULL (plans/frontier.py).

    ``transport_factory() -> Transport`` is the production seam: default is
    the deterministic fabric; a real deploy passes e.g.
    ``lambda: AsyncioTransport(timeout_s=cfg.timeout)``.

    A batch carrying ``etag`` / ``last_modified`` columns is a conditional
    wave (:func:`httpz_spark.operators.revalidate.revalidate_plan`).

    ``stop_file``: cooperative-stop sentinel checked before EVERY Arrow
    batch; when present the task raises, aborting the staging job before
    its commit (the engine's drain semantics — plans/frontier.py)."""

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cert_cache: dict = {}
        custom_headers = dict(cfg.custom_headers) if cfg.custom_headers else None

        def fetch_batch(pdf, transport):
            # unpack columns ONCE (python lists beat per-row .loc/dict access)
            targets = pdf["scan_target"].tolist()
            ports = [None if pd.isna(p) else int(p) for p in pdf["port"].tolist()]
            p1s = pdf["proto_first"].tolist()
            p2s = pdf["proto_second"].tolist()
            headers = _row_headers(pdf, custom_headers)
            gens = [
                scan_row_gen(targets[i], ports[i], p1s[i], p2s[i],
                             cfg, cert_cache, headers[i])
                for i in range(len(pdf))
            ]
            results = [
                _process_row(r) if isinstance(r, BaseException) else r
                for r in drive_rows(transport, gens)
            ]
            # column-wise assembly: passthrough columns copy as whole arrays
            # (row order is preserved 1:1), result columns gather per key
            data = {c: pdf[c].values for c in passthrough_cols}
            if "image_id" in data and {"host", "path"} <= set(pdf.columns):
                data["image_id"] = _page_ids(pdf, fabric_cfg)
            for key in _RESULT_KEYS:
                data[key] = [r[key] for r in results]
            return pd.DataFrame(data)

        if stop_file is not None:
            batches = _until_stopped(batches, stop_file)
        return drive_task(
            batches,
            lambda pdf: _open_transport(transport_factory, fabric_cfg),
            fetch_batch,
        )

    return fetch_batches


# ---------------------------------------------------------------------------
# first-200 document fetch (robots.txt, sitemaps)
# ---------------------------------------------------------------------------

DOCUMENT_COLUMNS = "fetch_status int, body string, error_type string"

_URL_RE = re.compile(r"(?i)^(https?)://([^/?#]*)(.*)$")


def document_row_gen(url: str, max_bytes: int):
    """Sans-IO state machine for one document fetch: the URL's own scheme
    first, the other second — any transport error OR any non-200 status
    falls through (a cert-terminating frontend 404ing https must not mask
    a plain-http document).  The first 200 body wins, capped at
    ``max_bytes`` and decoded with the response charset (UTF-8 when the
    label is unknown).  If no 200 arrives the FIRST status is reported; if
    no response arrives, the LAST error.  A malformed URL is a PROCESS
    row."""
    m = _URL_RE.match(url) if isinstance(url, str) else None
    if m is None:
        return {"fetch_status": -1, "body": None, "error_type": "PROCESS"}
    scheme, hostport, path = m.group(1).lower(), m.group(2), m.group(3) or "/"
    first_status = None
    last_error = None
    for proto in (scheme, "http" if scheme == "https" else "https"):
        resp, err = yield (f"{proto}://{hostport}{path}", proto, {
            "attempt": 0, "follow_redirects": True, "max_redirects": 5,
            "method": "GET", "request_headers": None,
        })
        if err is not None:
            last_error = err.error_type
        elif resp.status == 200:
            raw = resp.body[:max_bytes]
            try:
                body = raw.decode(resp.charset or "utf-8", errors="replace")
            except LookupError:  # unknown charset label
                body = raw.decode("utf-8", errors="replace")
            return {"fetch_status": 200, "body": body, "error_type": None}
        elif first_status is None:
            first_status = resp.status
    if first_status is not None:
        return {"fetch_status": first_status, "body": None, "error_type": None}
    return {"fetch_status": -1, "body": None, "error_type": last_error}


def make_document_fetch_stage(
    fabric_cfg: FabricConfig,
    url_col: str,
    passthrough_cols: list,
    max_bytes: int,
    transport_factory=None,
):
    """mapInPandas function running :func:`document_row_gen` over
    ``url_col``: output = ``passthrough_cols`` (copied verbatim) +
    :data:`DOCUMENT_COLUMNS`.  A row whose logic raised is a PROCESS row."""

    def fetch_batch(pdf, transport):
        gens = [document_row_gen(u, max_bytes) for u in pdf[url_col].tolist()]
        results = [
            {"fetch_status": -1, "body": None, "error_type": "PROCESS"}
            if isinstance(r, BaseException) else r
            for r in drive_rows(transport, gens)
        ]
        data = {c: pdf[c].values for c in passthrough_cols}
        for key in ("fetch_status", "body", "error_type"):
            data[key] = [r[key] for r in results]
        return pd.DataFrame(data)

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return drive_task(
            batches,
            lambda pdf: _open_transport(transport_factory, fabric_cfg),
            fetch_batch,
        )

    return fetch_batches
