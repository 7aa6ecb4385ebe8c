"""Executable behavioral model of the httpz reference scalar semantics.

The actual reference (``/root/reference/httpz_scanner``) cannot even be
imported in this environment (its hard deps ``bs4``/``mmh3``/``aiohttp``/
``dnspython`` are not installed — each module raises ImportError at import
time, e.g. ``parsers.py:9-24``).  This module is a **clean-room, line-cited
re-implementation of its observable semantics**, used as the oracle side of
the parity harness and of the kernel property tests.  Every function cites
the reference lines it models; no reference code is copied.

Scope: pure scalar semantics only (string/byte transforms, filters, sets).
The scan state machine (retries / protocol fallback / error taxonomy) is
modeled in :mod:`httpz_spark.parity.refscan`.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from httpz_spark.functions.hashing import hash64_low

# Caps — parsers.py:31-35
TITLE_MAX_CHARS = 1024
BODY_PREVIEW_BYTES = 1024
BODY_CLEAN_CHARS = 1024
MAX_BODY_BYTES = 1024 * 1024
FAVICON_MAX_BYTES = 256 * 1024

# scanner.py:50
MAX_CNAME_CHAIN = 3

# every error class a fetch row can carry: the scanner.py:189-203 ladder + PROCESS
ERROR_TYPES = ("TIMEOUT", "CERT", "SSL", "CONN", "HTTP", "UNKNOWN", "PROCESS")
# scanner.py:53-55 — CERT/SSL fall back to the other protocol but are not
# retried on the same protocol.
TRANSIENT_ERROR_TYPES = ("TIMEOUT", "CONN", "HTTP")
FALLBACK_ERROR_TYPES = ("TIMEOUT", "CONN", "SSL", "CERT", "HTTP", "UNKNOWN")

_WS_RE = re.compile(r"\s+")  # parsers.py:29


def parse_domain_url(domain: str) -> tuple:
    """Models ``parsers.py:38-74``.

    Returns (base_domain, port, ordered_protocols).  Notable verified edges:
    * NO host case-folding (``Example.COM`` stays verbatim);
    * ``.strip()`` then ``.rstrip('/')`` only (parsers.py:50);
    * port via ``rsplit(':', 1)`` when the tail is all digits
      (parsers.py:64-70): ``x.com:8080:9090`` -> host ``x.com:8080`` port
      9090; ``x.com:notaport`` -> host kept whole, port None.
    """
    raw = domain.strip().rstrip("/")
    port = None
    if raw.startswith("https://"):
        protocols = ["https", "http"]
        rest = raw[len("https://"):]
    elif raw.startswith("http://"):
        protocols = ["http", "https"]
        rest = raw[len("http://"):]
    else:
        protocols = ["https", "http"]
        rest = raw

    host_part = rest.split("/", 1)[0]
    if ":" in host_part:
        host, port_str = host_part.rsplit(":", 1)
        if port_str.isdigit():
            port = int(port_str)
            base_domain = host
        else:
            base_domain = host_part
    else:
        base_domain = host_part
    return base_domain, port, protocols


def normalize_text(text: str) -> str:
    """Models ``parsers.py:77-82`` — collapse ``\\s+`` runs, strip."""
    if not text:
        return ""
    return _WS_RE.sub(" ", text).strip()


def body_preview(raw_bytes: bytes, encoding: str = "utf-8") -> str | None:
    """Models ``parsers.py:107-123`` — first 1024 *bytes*, decoded with
    errors='replace', whitespace-normalized; None when empty."""
    if not raw_bytes:
        return None
    chunk = raw_bytes[:BODY_PREVIEW_BYTES]
    try:
        text = chunk.decode(encoding, errors="replace")
    except Exception:
        text = chunk.decode("utf-8", errors="replace")
    text = normalize_text(text)
    return text or None


class _TitleParser(HTMLParser):
    """First <title> whose content is a single text run.

    bs4's ``soup.title.string`` (parsers.py:98) is None when the title tag
    has multiple children (i.e. nested markup), so a title containing tags
    yields no title.  We model exactly that: capture text inside the first
    <title>; if any tag opens before it closes, invalidate it.
    """

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.in_title = False
        self.done = False
        self.parts: list[str] = []
        self.invalid = False

    def handle_starttag(self, tag, attrs):
        if self.done:
            return
        if tag == "title" and not self.in_title:
            self.in_title = True
        elif self.in_title:
            self.invalid = True

    def handle_endtag(self, tag):
        if self.in_title and tag == "title":
            self.in_title = False
            self.done = True

    def handle_data(self, data):
        if self.in_title and not self.done:
            self.parts.append(data)


def parse_title(html: str, content_type: str | None = None) -> str | None:
    """Models ``parsers.py:85-104``: skip when a content_type is given and is
    not html/xhtml (None content_type still parses!); normalize; cap 1024."""
    if content_type and not any(
        x in content_type.lower() for x in ("text/html", "application/xhtml")
    ):
        return None
    p = _TitleParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return None
    if p.invalid or not p.parts:
        return None
    title = normalize_text("".join(p.parts))
    return title[:TITLE_MAX_CHARS] if title else None


class _TextExtractor(HTMLParser):
    """get_text(separator=' ') with script/style/noscript decomposed —
    models ``parsers.py:136-139``."""

    SKIP = {"script", "style", "noscript"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.skip_depth = 0
        self.parts: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in self.SKIP:
            self.skip_depth += 1

    def handle_endtag(self, tag):
        if tag in self.SKIP and self.skip_depth > 0:
            self.skip_depth -= 1

    def handle_data(self, data):
        if self.skip_depth == 0 and data:
            self.parts.append(data)


def body_clean(html: str) -> str | None:
    """Models ``parsers.py:126-146``: strip markup + script/style/noscript,
    join text with spaces, normalize, cap 1024 chars, None when empty."""
    if not html:
        return None
    p = _TextExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return None
    text = normalize_text(" ".join(p.parts))
    if not text:
        return None
    return text[:BODY_CLEAN_CHARS]


class _FaviconFinder(HTMLParser):
    """First <link> with rel containing 'icon' (case-insensitive), models the
    bs4 loop at ``parsers.py:218-225`` (rel is a whitespace-split multi-valued
    attribute in bs4)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.href: str | None = None
        self.done = False

    def handle_starttag(self, tag, attrs):
        if self.done or tag != "link":
            return
        d = dict(attrs)
        rels = (d.get("rel") or "").split()
        if any(r.lower() == "icon" for r in rels):
            self.href = d.get("href")
            self.done = True


def find_favicon_href(html: str) -> str | None:
    """Favicon link discovery; '/favicon.ico' fallback handled by caller
    (``parsers.py:227-228``)."""
    p = _FaviconFinder()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return None
    return p.href


def favicon_hash(content: bytes | None) -> str | None:
    """Models ``parsers.py:238-250``: cap FAVICON_MAX_BYTES, empty -> None,
    mmh3.hash64(content)[0] as str, 0 -> None."""
    if not content:
        return None
    content = content[:FAVICON_MAX_BYTES]
    h = hash64_low(content)
    return str(h) if h != 0 else None


def parse_status_codes(codes_str: str) -> set:
    """Models ``parsers.py:257-274`` — '200,301-399' -> set, ranges
    inclusive both ends."""
    codes: set[int] = set()
    for part in codes_str.split(","):
        if "-" in part:
            start, end = map(int, part.split("-"))
            codes.update(range(start, end + 1))
        else:
            codes.add(int(part))
    return codes


def parse_shard(shard_str: str) -> tuple:
    """Models ``parsers.py:277-290`` — 1-based 'i/N' -> 0-based (i-1, N)."""
    shard_index, total_shards = map(int, shard_str.split("/"))
    if shard_index < 1 or total_shards < 1 or shard_index > total_shards:
        raise ValueError("shard index out of range")
    return shard_index - 1, total_shards


def input_lines(lines, shard: tuple | None = None):
    """Models ``utils.py:172-238`` sharding semantics over an in-memory
    iterable: line numbers count blank lines too (the counter increments
    unconditionally, utils.py:214-216); blanks are skipped after stripping."""
    out = []
    for line_num, line in enumerate(lines):
        if isinstance(line, bytes):
            line = line.decode()
        line = line.strip()
        if line and (shard is None or line_num % shard[1] == shard[0]):
            out.append(line)
    return out


def human_size(size_bytes: int) -> str:
    """Models ``utils.py:86-104`` — 1024 base, 1 decimal, B/KB/MB/GB,
    falsy -> '0B'."""
    if not size_bytes:
        return "0B"
    units = ("B", "KB", "MB", "GB")
    size = float(size_bytes)
    unit_index = 0
    while size >= 1024 and unit_index < len(units) - 1:
        size /= 1024
        unit_index += 1
    return f"{size:.1f}{units[unit_index]}"


def resolve_cname_chain(host: str, cname_map: dict, max_chain: int = MAX_CNAME_CHAIN) -> list:
    """Models ``utils.py:107-141`` against a host->target mapping: chain
    includes the original; stops on missing CNAME, cap, or case-insensitive
    loop (seen-set is lowercased, utils.py:126,135,138)."""
    chain = [host]
    seen = {host.lower()}
    current = host
    while len(chain) < max_chain:
        target = cname_map.get(current.lower())
        if not target:
            break
        target = target.rstrip(".")
        if not target or target.lower() in seen:
            break
        chain.append(target)
        seen.add(target.lower())
        current = target
    return chain


def resolve_ips(host: str, dns_map: dict) -> list:
    """Models ``utils.py:144-169``: union of A+AAAA, ``sorted(set(...))``
    (lexicographic string sort, utils.py:169)."""
    a = dns_map.get(host.lower(), {}).get("a", []) or []
    aaaa = dns_map.get(host.lower(), {}).get("aaaa", []) or []
    return sorted(set([*a, *aaaa]))
