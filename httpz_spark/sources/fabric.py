"""Deterministic web fabric — the synthesized "network" behind fetch stages.

Everything the crawler can observe (DNS, TLS, status codes, redirects,
latency, page bodies embedding image+caption payloads, favicons, failures)
is a pure function of URL strings via a blake2b RNG, so the Spark engine and the
reference behavioral model (:mod:`httpz_spark.parity.refscan`) fetch the
exact same web — any result difference is then a semantics bug, not fixture
noise (SURVEY.md §5.2 item 2).

The fabric mirrors the failure matrix the reference distinguishes
(``/root/reference/httpz_scanner/scanner.py:53-55,189-203``): TIMEOUT /
CONN / HTTP are transient (retried, then fall back to the other protocol),
CERT / SSL fall back without retrying, and some URLs fail on both protocols.
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass, field

from hashlib import blake2b


def h64(s: str) -> int:
    """Unsigned 64-bit blake2b of a UTF-8 string — the fabric's only RNG.

    The fabric's hash choice is arbitrary (it only has to be deterministic
    and shared by the engine and the refscan parity model); blake2b runs in
    C (~0.7µs vs ~12µs for the pure-python murmur3 the ENGINE's mmh3-parity
    kernels use), and the fabric calls this ~10× per fetched URL."""
    return int.from_bytes(blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")


# --------------------------------------------------------------------------
# deterministic self-signed certs (driver-side, once per config)
# --------------------------------------------------------------------------

def _make_certs(n: int) -> tuple:
    """N self-signed EC certs with CN/SAN/email variants.  The private keys
    are derived from fixed scalars, so subjects/validity are deterministic;
    only the ECDSA signature bytes vary per run (both parity sides share the
    same generated bytes within a run)."""
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec
    from cryptography.x509.oid import NameOID

    certs = []
    not_before = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    not_after = datetime.datetime(2027, 1, 1, tzinfo=datetime.timezone.utc)
    for i in range(n):
        key = ec.derive_private_key(0x1000 + i, ec.SECP256R1())
        name_attrs = [x509.NameAttribute(NameOID.COMMON_NAME, f"cdn{i}.test")]
        if i % 3 == 0:
            name_attrs.append(
                x509.NameAttribute(NameOID.EMAIL_ADDRESS, f"admin{i}@cdn.test")
            )
        subject = issuer = x509.Name(name_attrs)
        san = [x509.DNSName(f"cdn{i}.test"), x509.DNSName(f"*.cdn{i}.test")]
        if i % 3 == 1:
            san.append(x509.RFC822Name(f"san{i}@cdn.test"))
        cert = (
            x509.CertificateBuilder()
            .subject_name(subject)
            .issuer_name(issuer)
            .public_key(key.public_key())
            .serial_number(1000 + i)
            .not_valid_before(not_before)
            .not_valid_after(not_after)
            .add_extension(x509.SubjectAlternativeName(san), critical=False)
            .sign(key, hashes.SHA256())
        )
        from cryptography.hazmat.primitives.serialization import Encoding

        certs.append(cert.public_bytes(Encoding.DER))
    return tuple(certs)


@dataclass(frozen=True)
class FabricConfig:
    """Deterministic world parameters.  Picklable; shipped into UDF closures."""

    n_images: int = 256
    n_hosts: int = 16          # h0.test (hot) .. h{n-1}.test
    hot_tenths: int = 3        # hot host h0 receives this /10 of images
    seed: int = 42
    certs: tuple = field(default_factory=tuple)

    def with_certs(self) -> "FabricConfig":
        if self.certs:
            return self
        return FabricConfig(
            self.n_images, self.n_hosts, self.hot_tenths, self.seed, _make_certs(8)
        )


def image_id_at(idx: int) -> str:
    return f"img{idx:08d}"


def host_for_image(image_id: str, cfg: FabricConfig) -> str:
    """Skewed host assignment: h0.test is the hot host (SURVEY §4 O12)."""
    hh = h64(f"{cfg.seed}:host:{image_id}")
    if hh % 10 < cfg.hot_tenths:
        return "h0.test"
    return f"h{1 + hh % (cfg.n_hosts - 1)}.test"


def root_image_id(host: str, cfg: FabricConfig) -> str:
    """The page served at a host's root — what the domain-parity layer
    fetches (the reference scans bare domains; parsers.py:38-74 drops
    paths)."""
    return image_id_at(h64(f"{cfg.seed}:root:{host}") % cfg.n_images)


def page_image_id(host: str, path: str, cfg: FabricConfig) -> str | None:
    """Which image a (host, path) serves; None for non-page paths.
    Serving is path-based (CDN-style): any host serves any /imgNNN path, so
    CNAME-followed scan targets and cross-host links need no extra state."""
    if path in ("", "/"):
        return root_image_id(host, cfg)
    tail = path.rsplit("/", 1)[-1]
    if tail.startswith("img") and tail[3:].isdigit():
        return tail
    return None


# --------------------------------------------------------------------------
# DNS
# --------------------------------------------------------------------------

def dns_for_host(host: str, cfg: FabricConfig) -> dict:
    """A/AAAA records (with deliberate duplicates + unsorted order to
    exercise sorted(set(...)) — utils.py:169) and optional CNAME target."""
    hh = h64(f"{cfg.seed}:dns:{host.lower()}")
    a1 = f"10.{(hh >> 8) % 256}.{(hh >> 16) % 256}.{(hh >> 24) % 250 + 1}"
    a2 = f"10.{(hh >> 32) % 256}.{(hh >> 40) % 256}.{(hh >> 48) % 250 + 1}"
    a = [a2, a1, a1] if hh % 3 == 0 else [a1]  # dup + unsorted
    aaaa = [f"2001:db8::{hh % 0xffff:x}"] if hh % 2 == 0 else []
    cname = None
    if hh % 13 == 0 and not host.startswith("edge"):
        cname = f"edge{hh % 7}.cdn.test"
    elif host.startswith("edge") and hh % 2 == 0:
        cname = f"origin{hh % 5}.cdn.test"
    return {"a": a, "aaaa": aaaa, "cname": cname}


def cname_map(cfg: FabricConfig) -> dict:
    """host(lower) -> CNAME target, for all hosts in the world."""
    out = {}
    hosts = [f"h{i}.test" for i in range(cfg.n_hosts)]
    hosts += [f"edge{i}.cdn.test" for i in range(7)]
    for host in hosts:
        t = dns_for_host(host, cfg)["cname"]
        if t:
            out[host.lower()] = t
    return out


def all_hosts(cfg: FabricConfig) -> list:
    hosts = [f"h{i}.test" for i in range(cfg.n_hosts)]
    hosts += [f"edge{i}.cdn.test" for i in range(7)]
    hosts += [f"origin{i}.cdn.test" for i in range(5)]
    return hosts


# --------------------------------------------------------------------------
# captions / pixels / payload records
# --------------------------------------------------------------------------

_WORDS = (
    "ancient harbor lantern mosaic quiet copper meadow drifting castle "
    "velvet orchid thunder glacier ember willow saffron marble twilight "
    "juniper falcon"
).split()
_UNI = ["éclair", "señal", "北京", "café", "αβ"]


def caption_for(image_id: str, cfg: FabricConfig) -> str:
    """Seeded word-salad caption with unicode + runs of whitespace
    (exercises the normalize kernels — FIXTURES.md §1)."""
    hh = h64(f"{cfg.seed}:cap:{image_id}")
    words = []
    for k in range(6 + hh % 6):
        w = _WORDS[(hh >> (k * 5)) % len(_WORDS)]
        if (hh >> k) % 7 == 0:
            w = _UNI[(hh >> (k * 3)) % len(_UNI)]
        words.append(w)
        if (hh >> (k * 2)) % 5 == 0:
            words.append(" \t")  # whitespace run
    return " ".join(words)


def image_meta(image_id: str, cfg: FabricConfig) -> tuple:
    hh = h64(f"{cfg.seed}:meta:{image_id}")
    w = 32 + hh % 33           # 32..64
    height = 32 + (hh >> 8) % 33
    fmt = "png" if hh % 2 == 0 else "jpeg"
    return w, height, fmt


def image_pixels(image_id: str, cfg: FabricConfig):
    """Deterministic pixels, independent of generation order/partitioning."""
    import numpy as np

    w, height, _fmt = image_meta(image_id, cfg)
    rng = np.random.Generator(np.random.PCG64(h64(f"{cfg.seed}:px:{image_id}") % (2**63)))
    base = rng.integers(0, 256, size=(height, w, 3), dtype=np.uint8)
    # add smooth gradient so phash has structure
    import numpy as _np

    gx = _np.linspace(0, 96, w, dtype=_np.float64)
    return _np.clip(base.astype(_np.float64) * 0.6 + gx[None, :, None], 0, 255).astype(
        _np.uint8
    )


def image_record(image_id: str, cfg: FabricConfig) -> dict:
    """Full payload row (BASELINE.json:input_hint schema)."""
    from httpz_spark.codecs.images import average_hash, encode_image, quantize_lossy

    w, height, fmt = image_meta(image_id, cfg)
    px = image_pixels(image_id, cfg)
    data = encode_image(px, fmt)
    stored = quantize_lossy(px) if fmt == "jpeg" else px
    return {
        "image_id": image_id,
        "bytes": data,
        "w": w,
        "h": height,
        "fmt": fmt,
        "caption": caption_for(image_id, cfg),
        "phash": average_hash(stored),
    }


def page_record(image_id: str, cfg: FabricConfig) -> dict:
    """What a page body shows of its image (:func:`page_html`): id, size,
    format and caption — :func:`image_record` without the pixels, their
    encoding and the phash."""
    w, height, fmt = image_meta(image_id, cfg)
    return {"image_id": image_id, "w": w, "h": height, "fmt": fmt,
            "caption": caption_for(image_id, cfg)}


def video_id_at(idx: int) -> str:
    return f"vid{idx}"


def video_meta(media_id: str, cfg: FabricConfig) -> tuple:
    """(w, h, fps, n_frames, fmt) — deterministic per media_id."""
    hh = h64(f"{cfg.seed}:vmeta:{media_id}")
    w = 16 + hh % 17            # 16..32 (frames are small: n_frames of them)
    height = 16 + (hh >> 8) % 17
    fps = 4 + (hh >> 16) % 13   # 4..16
    n_frames = 4 + (hh >> 24) % 9  # 4..12
    fmt = "png" if hh % 2 == 0 else "jpeg"
    return w, height, fps, n_frames, fmt


def video_frame_pixels(media_id: str, frame_idx: int, cfg: FabricConfig):
    """Deterministic frame pixels: per-video random base + a gradient that
    PANS with the frame index (temporal structure, so adjacent frames are
    near- but not exact-duplicates — what a sampler/dedup sees in video)."""
    import numpy as np

    w, height, _fps, _n, _fmt = video_meta(media_id, cfg)
    rng = np.random.Generator(
        np.random.PCG64(h64(f"{cfg.seed}:vpx:{media_id}") % (2**63))
    )
    base = rng.integers(0, 256, size=(height, w, 3), dtype=np.uint8)
    gx = np.linspace(0, 96, w, dtype=np.float64)
    gx = np.roll(gx, frame_idx * 3)  # the pan
    return np.clip(
        base.astype(np.float64) * 0.6 + gx[None, :, None], 0, 255
    ).astype(np.uint8)


def video_record(media_id: str, cfg: FabricConfig) -> dict:
    """Full video payload row: SPKV container of per-frame encoded images."""
    from httpz_spark.codecs.video import encode_video

    w, height, fps, n_frames, fmt = video_meta(media_id, cfg)
    frames = [video_frame_pixels(media_id, i, cfg) for i in range(n_frames)]
    return {
        "media_id": media_id,
        "bytes": encode_video(frames, fps=fps, fmt=fmt),
        "w": w,
        "h": height,
        "fps": fps,
        "n_frames": n_frames,
        "fmt": fmt,
    }


# --------------------------------------------------------------------------
# page synthesis + behavior rules
# --------------------------------------------------------------------------

def favicon_bytes(host: str, path: str, cfg: FabricConfig) -> bytes | None:
    """/fav/<image_id>.ico -> per-image icon; /favicon.ico -> host icon;
    one hash class returns 404 (None)."""
    if path.startswith("/fav/") and path.endswith(".ico"):
        image_id = path[len("/fav/"):-len(".ico")]
        if h64(f"{cfg.seed}:fav404:{image_id}") % 17 == 0:
            return None
        blob = h64(f"{cfg.seed}:fav:{image_id}").to_bytes(8, "little")
        return b"ICON:" + image_id.encode() + blob * 4
    if path == "/favicon.ico":
        return b"HOSTICON:" + host.encode() + h64(f"{cfg.seed}:hfav:{host}").to_bytes(8, "little")
    return None


def robots_txt_bytes(host: str, cfg: FabricConfig) -> bytes:
    """Deterministic ``/robots.txt`` for a host, formatting-varied by hash
    to exercise the parser (comments, casing, CRLF, adjacent user-agents,
    other records before/after) while always DECODING back to exactly the
    ``synthetic.robots_df`` row for this host: crawl_delay_ms =
    50 + h%200, disallow = ['/r/'] iff h%5==0 (+ '/*.php$' iff h%3==0),
    allow = ['/r/public/'] iff h%5==0 (+ '/li/' iff h%7==3).

    The wildcard/Allow fixtures are chosen to be NO-OPS against fabric
    URL paths (/li/*, /r/img*, /fav/*.ico — nothing ends in .php or
    lives under /r/public/, and /li/ is never disallowed) so they
    exercise the RFC 9309 parse + longest-match enforcement machinery
    without perturbing which fabric URLs crawl — the frontier goldens'
    prefix-only drop model stays exact."""
    hh = h64(f"{cfg.seed}:robots:{host}")
    delay_s = (50 + hh % 200) / 1000.0
    style = hh % 4
    lines: list = []
    # Sitemap lines sit OUTSIDE any user-agent group (sitemaps.org: they
    # are global, position-independent, case-insensitive) — placed at the
    # TOP so the record-structured delay/allow/disallow parse is untouched;
    # hs governs which hosts advertise one (and m%4==3 hosts none at all,
    # the no-sitemap path)
    hs = h64(f"{cfg.seed}:sitemap:{host}")
    if hs % 4 != 3:
        key = "Sitemap" if hs % 2 == 0 else "sitemap"
        lines.append(f"{key}: https://{host}/sitemap.xml")
    if style == 0:
        lines += ["# synthetic robots for " + host,
                  "User-agent: SomeOtherBot", "Disallow: /private/", ""]
    if style == 1:
        # adjacent user-agent lines share the record (RFC 9309 group rule)
        lines += ["User-Agent: *", "User-agent: friendbot"]
    elif style == 2:
        lines += ["user-agent: *  # trailing comment"]
    else:
        lines += ["User-agent: *"]
    lines.append(f"Crawl-delay: {delay_s}")
    if hh % 5 == 0:
        lines.append("Disallow: /r/")
    lines.append("Disallow:")  # empty value = allow-all, contributes nothing
    if hh % 3 == 0:
        lines.append("Disallow: /*.php$")  # RFC 9309 wildcard + end anchor
    if hh % 5 == 0:
        lines.append("Allow: /r/public/")  # longer-match carve inside /r/
    if hh % 7 == 3:
        lines.append("Allow: /li/")
    if style == 3:
        lines += ["", "User-agent: SpecificBot", "Disallow: /everything/"]
    eol = "\r\n" if hh % 7 == 0 else "\n"
    return (eol.join(lines) + eol).encode("utf-8")


def sitemap_urls_for(host: str, part: str, cfg: FabricConfig) -> list:
    """The page URLs listed by one sitemap document (deterministic)."""
    hs = h64(f"{cfg.seed}:smurls:{host}:{part}")
    n = 3 + hs % 6
    out = []
    for j in range(n):
        iid = image_id_at(h64(f"{cfg.seed}:smu:{host}:{part}:{j}") % cfg.n_images)
        out.append(f"https://{host}/li/{iid}")
    return out


def sitemap_xml_bytes(host: str, path: str, cfg: FabricConfig) -> bytes:
    """Deterministic sitemap XML for a (host, path), formatting-varied to
    exercise the parser: namespace attrs, whitespace inside <loc>, lastmod
    noise, single-line vs indented layouts, and (for ``hs % 5 == 0``
    urlsets) one CROSS-HOST loc that a polite crawler must drop (sitemap
    URLs are only valid for the host that serves them)."""
    hs = h64(f"{cfg.seed}:sitemap:{host}")
    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    if path == "/sitemap.xml" and hs % 3 == 0:
        kids = "".join(
            f"<sitemap><loc>https://{host}/sitemap-{k}.xml</loc>"
            f"<lastmod>2026-0{1 + k}-01</lastmod></sitemap>"
            for k in range(2)
        )
        return f'<?xml version="1.0"?><sitemapindex{ns}>{kids}</sitemapindex>'.encode()
    part = path[1:-len(".xml")]
    urls = sitemap_urls_for(host, part, cfg)
    entries = []
    for j, u in enumerate(urls):
        loc = f"<loc> {u} </loc>" if (hs + j) % 4 == 0 else f"<loc>{u}</loc>"
        lastmod = f"<lastmod>2026-03-{1 + j:02d}</lastmod>" if (hs + j) % 3 == 0 else ""
        # optional <priority> on ~half the entries (protocol default 0.5
        # when absent), sometimes BEFORE lastmod to vary child order
        prio = f"<priority>0.{(hs + 3 * j) % 10}</priority>" if (hs + j) % 4 == 1 else ""
        inner = f"{prio}{loc}{lastmod}" if (hs + j) % 8 == 1 else f"{loc}{lastmod}{prio}"
        entries.append(f"<url>{inner}</url>")
    if hs % 5 == 0:
        other = f"h{(hs >> 8) % cfg.n_hosts}.test"
        if other != host:  # cross-host loc -> must be filtered downstream
            entries.append(f"<url><loc>https://{other}/li/{image_id_at(hs % cfg.n_images)}</loc></url>")
    sep = "\n  " if hs % 2 == 0 else ""
    body = f'<?xml version="1.0" encoding="UTF-8"?>\n<urlset{ns}>{sep}' \
           + (sep or "").join(entries) + f"{sep}</urlset>\n"
    return body.encode()


def page_links(image_id: str, cfg: FabricConfig) -> list:
    """Outlinks embedded on a page — what multi-wave crawls discover."""
    idx = int(image_id[3:])
    l1 = image_id_at((idx * 7 + 13) % cfg.n_images)
    l2 = image_id_at((idx * 31 + 7) % cfg.n_images)
    links = [f"/li/{l1}", f"/li/{l2}"]
    hh = h64(f"{cfg.seed}:xlink:{image_id}")
    if hh % 4 == 0:  # cross-host absolute link
        other = f"h{hh % cfg.n_hosts}.test"
        links.append(f"http://{other}/{image_id_at(hh % cfg.n_images)}")
    return links


def page_html(host: str, image_rec: dict, cfg: FabricConfig) -> bytes:
    image_id = image_rec["image_id"]
    title = f"Image {image_id} [{image_rec['w']}x{image_rec['h']} {image_rec['fmt']}]"
    hh = h64(f"{cfg.seed}:icolink:{image_id}")
    icon_link = (
        f'<link rel="ICON" href="/fav/{image_id}.ico">' if hh % 3 != 0 else ""
    )
    links = "".join(f'<a href="{u}">l</a>' for u in page_links(image_id, cfg))
    html = (
        "<html><head>"
        f"<title>{title}</title>{icon_link}"
        "<style>body { color: #333; }</style>"
        "</head><body>"
        "<script>var tracking = 'noise';</script>"
        f"<p>{image_rec['caption']}</p>"
        f'<img src="/raw/{image_id}.{image_rec["fmt"]}" '
        f'width="{image_rec["w"]}" height="{image_rec["h"]}">'
        f"<noscript>enable js</noscript>{links}"
        f"<div>served-by {host}</div>"
        "</body></html>"
    )
    return html.encode("utf-8")


import functools


@functools.lru_cache(maxsize=65536)
def _url_class_cached(host: str, path: str, cfg: "FabricConfig") -> tuple:
    d = _url_class_compute(host, path, cfg)
    return (d["fail_https"], d["fail_http"], d["fail_first_attempt"],
            d["status"], d["redirect_to"], d["latency_ms"])


def url_class(host: str, path: str, cfg: FabricConfig) -> dict:
    """Cached front-end (pure function; redirect chains and retries hit the
    same (host, path) repeatedly within a batch)."""
    t = _url_class_cached(host, path, cfg)
    return {"fail_https": t[0], "fail_http": t[1], "fail_first_attempt": t[2],
            "status": t[3], "redirect_to": t[4], "latency_ms": t[5]}


def _url_class_compute(host: str, path: str, cfg: FabricConfig) -> dict:
    """The single source of behavior truth for a (host, path) page.

    Returns {fail_https, fail_http, fail_first_attempt, status, redirect_to,
    latency_ms}.  Classes mirror the reference failure matrix
    (scanner.py:53-55): TIMEOUT/CONN/HTTP transient (retry + fallback),
    CERT/SSL fallback-only, CONN-on-both -> final error row; plus redirect
    chains, a self-redirect loop (> max_redirects cap, scanner.py:67),
    and plain 404/500 "successes" (status>=0 counts as success,
    README.md:194)."""
    hb = h64(f"{cfg.seed}:cls:{host}{path}")
    m = hb % 100
    if path.startswith("/r/"):
        m = 99  # redirect landing pages are always plain 200
    out = {
        "fail_https": None,
        "fail_http": None,
        "fail_first_attempt": None,
        "status": 200,
        "redirect_to": None,
        "latency_ms": 5 + hb % 97,
    }
    image_id = page_image_id(host, path, cfg)
    if m in (0, 1):
        out["fail_https"] = "TIMEOUT"   # http fallback succeeds
    elif m == 2:
        out["fail_https"] = "CERT"
    elif m == 3:
        out["fail_https"] = "SSL"
    elif m == 4:
        out["fail_https"] = out["fail_http"] = "CONN"
    elif m == 5:
        out["fail_first_attempt"] = "HTTP"  # attempt 0 fails, retry succeeds
    elif m in (6, 7) and image_id is not None:
        out["redirect_to"] = f"/r/{image_id}"
        out["status"] = 301
    elif m == 8:
        out["status"] = 404
    elif m == 9:
        out["status"] = 500
    elif m == 10:
        out["redirect_to"] = path  # self-loop -> TooManyRedirects
        out["status"] = 301
    return out


def page_validators(host: str, path: str, cfg: FabricConfig) -> tuple:
    """(ETag, Last-Modified) a 200 response for (host, path) advertises —
    pure function of the URL, the cache-validator analogue of url_class.
    ETag is a quoted 16-hex token; Last-Modified an RFC 7231 IMF-fixdate
    within Q1 2026."""
    hv = h64(f"{cfg.seed}:ver:{host}{path}")
    etag = '"' + format(hv, "016x") + '"'
    lm = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc) + \
        datetime.timedelta(days=hv % 90, hours=(hv >> 8) % 24)
    return etag, lm.strftime("%a, %d %b %Y %H:%M:%S GMT")


def _conditional_not_modified(
    host: str, cur_path: str, cfg: FabricConfig, status: int,
    headers: dict, request_headers: dict | None,
) -> bool:
    """Attach validators to a 200 response's headers and evaluate the
    request's conditionals: ``If-None-Match`` wins when present (RFC 9110
    §13.1.2 — a server MUST ignore If-Modified-Since when If-None-Match
    is given); weak comparison is not modeled (fabric etags are strong).
    Returns True when the response must degrade to 304."""
    if status != 200:
        return False
    etag, lm = page_validators(host, cur_path, cfg)
    headers["ETag"] = etag
    headers["Last-Modified"] = lm
    req = request_headers or {}
    inm = req.get("If-None-Match")
    if inm is not None:
        return inm == etag
    return req.get("If-Modified-Since") == lm


def content_type_for(host: str, path: str, cfg: FabricConfig) -> str:
    hb = h64(f"{cfg.seed}:ct:{host}{path}")
    if hb % 25 == 0:
        return "application/json"  # title-skip case (parsers.py:93)
    if hb % 25 == 1:
        return "text/html"         # no charset param
    return "text/html; charset=utf-8"


# --------------------------------------------------------------------------
# transport — the deterministic "HTTP client" both the Spark fetch UDF and
# the parity refscan model call.  Sharing it guarantees both sides see the
# identical web; parity failures then isolate scan-semantics bugs.
# --------------------------------------------------------------------------

from httpz_spark.sources.transport import Response, TransportError


class FabricError(TransportError):
    """Synthetic fetch failure — the fabric's TransportError (same taxonomy,
    scanner.py:189-203 classes + message templates)."""


_FAIL_MESSAGES = {
    "TIMEOUT": "Connection timed out",
    "CERT": "Certificate Error: synthetic certificate failure",
    "SSL": "SSL Error: synthetic ssl failure",
    "CONN": "Connection Failed: synthetic connection refused",
    "HTTP": "HTTP Error: SyntheticClientError: injected transient",
}


def _split_url(url: str) -> tuple:
    """scheme, hostport, path ('' -> '/')."""
    scheme, rest = url.split("://", 1)
    if "/" in rest:
        hostport, path = rest.split("/", 1)
        path = "/" + path
    else:
        hostport, path = rest, "/"
    host = hostport.rsplit(":", 1)[0] if ":" in hostport and hostport.rsplit(":", 1)[1].isdigit() else hostport
    return scheme, hostport, host, path


class FabricTransport:
    """Deterministic fetch.  Every response derives from ``cfg`` and the
    request alone: a page body is built from its :func:`page_record`, so
    the fabric, like a real origin, needs nothing from the caller's
    tables."""

    def __init__(self, cfg: FabricConfig):
        self.cfg = cfg

    def fetch(
        self,
        url: str,
        protocol: str,
        attempt: int = 0,
        follow_redirects: bool = True,
        max_redirects: int = 10,
        method: str = "GET",
        request_headers: dict | None = None,
    ) -> Response:
        cfg = self.cfg
        scheme, hostport, host, path = _split_url(url)
        cls = url_class(host, path, cfg)
        latency = cls["latency_ms"]

        if cls["fail_first_attempt"] and attempt == 0:
            raise FabricError("HTTP", _FAIL_MESSAGES["HTTP"])
        fail = cls["fail_https"] if protocol == "https" else cls["fail_http"]
        if fail:
            raise FabricError(fail, _FAIL_MESSAGES[fail])

        history = []
        cur_path = path
        hops = 0
        while True:
            cur_cls = url_class(host, cur_path, cfg)
            if cur_cls["redirect_to"] is None or not follow_redirects:
                break
            history.append(f"{protocol}://{hostport}{cur_path}")
            hops += 1
            latency += cur_cls["latency_ms"]
            if hops > max_redirects:
                # aiohttp TooManyRedirects is a ClientError -> 'HTTP' class
                raise FabricError(
                    "HTTP", "HTTP Error: TooManyRedirects: too many redirects"
                )
            cur_path = cur_cls["redirect_to"]

        final_url = f"{protocol}://{hostport}{cur_path}"
        status = url_class(host, cur_path, cfg)["status"]
        cert_der = None
        if protocol == "https" and cfg.certs:
            cert_der = cfg.certs[h64(f"{cfg.seed}:cert:{host}") % len(cfg.certs)]

        # body + content-type: a document (sitemap / robots.txt), an icon or
        # a page
        is_doc = True
        if re.match(r"^/sitemap(-\d+)?\.xml$", cur_path):
            body = sitemap_xml_bytes(host, cur_path, cfg)
            ctype = "application/xml; charset=utf-8"
        elif cur_path == "/robots.txt":
            body = robots_txt_bytes(host, cfg)
            ctype = "text/plain; charset=utf-8"
        elif cur_path.endswith(".ico"):
            is_doc = False
            fav = favicon_bytes(host, cur_path, cfg)
            if fav is None:
                status, body, ctype = 404, b"not found", "text/plain"
            else:
                body, ctype = fav, "image/x-icon"
        else:
            is_doc = False
            image_id = page_image_id(host, cur_path, cfg)
            if image_id is None:
                status, body, ctype = 404, b"<html><body>404</body></html>", "text/html"
            else:
                body = page_html(host, page_record(image_id, cfg), cfg)
                ctype = content_type_for(host, cur_path, cfg)
                if ctype == "application/json":
                    body = b'{"synthetic": true, "image": "' + image_id.encode() + b'"}'

        headers = {"Server": "fabric/1.0", "Content-Type": ctype}
        if is_doc:
            headers["Content-Length"] = str(len(body))
        else:
            # echo the request envelope so tests/parity can observe UA
            # rotation, custom headers, and GET/POST method semantics
            # (A15/A24/A25)
            headers["X-Echo-Method"] = method
            for hk, hv in (request_headers or {}).items():
                if hk == "User-Agent":
                    headers["X-Echo-UA"] = hv
                else:
                    headers[f"X-Echo-H-{hk}"] = hv
            hcl = h64(f"{cfg.seed}:cl:{host}{cur_path}") % 10
            if hcl == 0:
                pass  # Content-Length absent
            elif hcl == 1:
                headers["Content-Length"] = "unknown"  # int/str union (scanner.py:246-252)
            else:
                headers["Content-Length"] = str(len(body))

        if _conditional_not_modified(host, cur_path, cfg, status,
                                     headers, request_headers):
            status, body = 304, b""
            headers.pop("Content-Length", None)

        return Response(
            url=final_url,
            status=status,
            headers=headers,
            body=body,
            cert_der=cert_der,
            history=(history + [final_url]) if history else [],
            charset="utf-8" if "charset=utf-8" in ctype else None,
            latency_ms=latency,
        )
