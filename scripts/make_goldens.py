#!/usr/bin/env python3
"""Golden-file oracle generator for the non-SQL-expressible contract queries.

The driver's correctness gate compares each ``__spark_entry__.queries()``
result against ``oracle_sql()`` run in DuckDB.  Seven queries use kernels
DuckDB lacks (murmur3/xxhash64, the synthetic web fabric, iterative wave
state).  For those, this script produces **golden parquet files** computed
by INDEPENDENT driver-side reimplementations — pure-python XXH64 (public
spec, pinned to Spark vectors below), the scalar SMHasher-pinned murmur3,
sequential-fold float math, the refscan reference behavioral model, and a
plain-python BFS crawl simulator — and ``oracle_sql()`` reads them with
``read_parquet``.  Nothing here executes Spark; the Spark plans under test
share only (a) the public hash specs and (b) the deterministic fabric that
IS the dataset.

Validity domain: the document/embedding goldens are functions of the
driver's sf0.01 tables (the documented CORRECTNESS scale); the crawl /
multimodal goldens are functions of the fabric config only.  Regenerate
with ``python scripts/make_goldens.py`` after changing any covered
semantics; ``--verify`` additionally runs the Spark queries side-by-side
and fails on any mismatch.
"""

from __future__ import annotations

import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("GOLDEN_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(REPO, "golden")

# ---------------------------------------------------------------------------
# XXH64 (public spec), Spark flavor: seed 42, signed-int64 result
# ---------------------------------------------------------------------------
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rot(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, lane):
    acc = (acc + lane * _P2) & _M
    return (_rot(acc, 31) * _P1) & _M


def _merge(acc, v):
    acc ^= _round(0, v)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little")); i += 8
            v2 = _round(v2, int.from_bytes(data[i:i + 8], "little")); i += 8
            v3 = _round(v3, int.from_bytes(data[i:i + 8], "little")); i += 8
            v4 = _round(v4, int.from_bytes(data[i:i + 8], "little")); i += 8
        h = (_rot(v1, 1) + _rot(v2, 7) + _rot(v3, 12) + _rot(v4, 18)) & _M
        h = _merge(h, v1); h = _merge(h, v2); h = _merge(h, v3); h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rot(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rot(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rot(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_str(s: str) -> int:
    return xxh64(s.encode("utf-8"), 42)


# pinned against Spark's F.xxhash64 on this cluster (seed 42)
assert xxh64_str("") == -7444071767201028348
assert xxh64_str("a") == -8582455328737087284
assert xxh64_str("hello world") == 7620854247404556961
assert xxh64_str("北京 café") == 7507661518236665513
assert xxh64_str("the quick brown") == 4620746393268132004


def spark_round(x: float, scale: int = 6) -> float:
    """Spark's ROUND(col, 6): BigDecimal(shortest-repr) HALF_UP."""
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# shared text pipeline (mirrors operators/dedup.normalized_text exactly)
# ---------------------------------------------------------------------------

def normalized_lower(text: str) -> str:
    return re.sub(r"[ \t\n\r\f]+", " ", text.lower()).strip(" \t\n\r\f\v")


def word_shingles_py(text: str, k: int = 3) -> set:
    words = normalized_lower(text).split(" ")
    if len(words) >= k:
        return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}
    return {" ".join(words)}


def load_documents():
    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                      columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def load_embeddings():
    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"),
                      columns=["vec_id", "embedding", "label"])
    return list(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))


def write_golden(name: str, table: pa.Table) -> None:
    os.makedirs(OUT, exist_ok=True)
    pq.write_table(table, os.path.join(OUT, f"{name}.parquet"))
    print(f"golden/{name}.parquet: {table.num_rows} rows")


# ---------------------------------------------------------------------------
# minhash_lsh_dups
# ---------------------------------------------------------------------------
_PRIME = (1 << 31) - 1


def _hash_params(n: int, seed: int = 42):
    params, x = [], seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_PRIME - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        params.append((a, x % _PRIME))
    return params


def jaccard(sa: set, sb: set) -> float:
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def golden_minhash(num_hashes=64, bands=16, shingle_k=3, threshold=0.2):
    docs = load_documents()
    params = _hash_params(num_hashes)
    shingles = {d: word_shingles_py(t, shingle_k) for d, t in docs}
    sigs = {}
    for d, sh in shingles.items():
        hs = [xxh64_str(s) % _PRIME for s in sh]
        sigs[d] = [min((h * a + b) % _PRIME for h in hs) for a, b in params]
    rows_per_band = num_hashes // bands
    buckets: dict = {}
    for d, sig in sigs.items():
        for b in range(bands):
            chunk = sig[b * rows_per_band:(b + 1) * rows_per_band]
            bh = xxh64_str(",".join(str(v) for v in chunk))
            buckets.setdefault((b, bh), []).append(d)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    out = []
    for a, b in sorted(cand):
        jc = jaccard(shingles[a], shingles[b])
        if jc >= threshold:
            out.append((a, b, spark_round(jc)))
    write_golden("minhash_lsh_dups", pa.table({
        "a": pa.array([r[0] for r in out], pa.int64()),
        "b": pa.array([r[1] for r in out], pa.int64()),
        "jaccard": pa.array([r[2] for r in out], pa.float64()),
    }))


# ---------------------------------------------------------------------------
# simhash_near_dups
# ---------------------------------------------------------------------------

def simhash64_py(text: str) -> int:
    votes = [0] * 64
    for w in normalized_lower(text).split(" "):
        h = xxh64_str(w)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    sim = 0
    for i in range(64):
        if votes[i] > 0:
            sim += -(2 ** 63) if i == 63 else (1 << i)
    return sim


def golden_simhash(max_hamming=3):
    docs = load_documents()
    sims = {d: simhash64_py(t) for d, t in docs}
    buckets: dict = {}
    for d, s in sims.items():
        for c in range(4):
            buckets.setdefault((c, (s >> (c * 16)) & 0xFFFF), []).append(d)
    out = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                ham = bin((sims[a] ^ sims[b]) & _M).count("1")
                if ham <= max_hamming:
                    out.add((a, b, ham))
    rows = sorted(out)
    write_golden("simhash_near_dups", pa.table({
        "a": pa.array([r[0] for r in rows], pa.int64()),
        "b": pa.array([r[1] for r in rows], pa.int64()),
        "hamming": pa.array([r[2] for r in rows], pa.int32()),
    }))


# ---------------------------------------------------------------------------
# embedding similarity (sequential-fold doubles — matches Spark's aggregate)
# ---------------------------------------------------------------------------

def seq_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def seq_cos(a, b) -> float:
    import math

    return seq_dot(a, b) / (math.sqrt(seq_dot(a, a)) * math.sqrt(seq_dot(b, b)))


def hyperplanes(planes: int, dim: int = 64, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((planes, dim))


def signature(vec, H) -> int:
    sig = 0
    for j in range(H.shape[0]):
        if seq_dot(vec, [float(v) for v in H[j]]) > 0:
            sig += 1 << j
    return sig


def golden_embedding_near_dups(threshold=0.999, planes=16):
    emb = load_embeddings()
    dup = [(vid + 1000000, v) for vid, v in emb if vid < 3]
    allv = emb + dup
    H = hyperplanes(planes)
    buckets: dict = {}
    for vid, v in allv:
        buckets.setdefault(signature(v, H), []).append((vid, v))
    out = []
    for members in buckets.values():
        members = sorted(members, key=lambda m: m[0])
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (a, va), (b, vb) = members[i], members[j]
                c = seq_cos(va, vb)
                if c >= threshold:
                    out.append((a, b, spark_round(c)))
    out.sort()
    write_golden("embedding_near_dups", pa.table({
        "a": pa.array([r[0] for r in out], pa.int64()),
        "b": pa.array([r[1] for r in out], pa.int64()),
        "cos_sim": pa.array([r[2] for r in out], pa.float64()),
    }))


def golden_lsh_ann_topk(k=3, planes=6):
    emb = load_embeddings()
    H = hyperplanes(planes)
    sigs = {vid: signature(v, H) for vid, v in emb}
    vecs = dict(emb)
    queries = [(vid, v) for vid, v in emb if vid < 8]
    rows = []
    for qid, qv in queries:
        qsig = sigs[qid]
        scored = [
            (seq_cos(vecs[vid], qv), vid)
            for vid, s in sigs.items() if s == qsig
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c, vid) in enumerate(scored[:k], start=1):
            rows.append((qid, vid, spark_round(c), rank))
    write_golden("lsh_ann_topk", pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int64()),
        "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
        "cos_sim": pa.array([r[2] for r in rows], pa.float64()),
        "rank": pa.array([r[3] for r in rows], pa.int32()),
    }))


def golden_winnow_fingerprints(k=8, window=4):
    """Winnowing recompute: char k-gram XXH64 rolling mins, as rows
    (doc_id, fp) matching the exploded Spark output."""
    rows = []
    for doc_id, text in load_documents():
        norm = normalized_lower(text)
        n_grams = max(len(norm) - (k - 1), 1)
        hashes = [xxh64_str(norm[i:i + k]) for i in range(n_grams)]
        n_wins = max(n_grams - (window - 1), 1)
        wins = [min(hashes[j:j + window]) for j in range(n_wins)]
        for fp in sorted(set(wins)):
            rows.append((doc_id, fp))
    write_golden("winnow_fingerprints", pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "fp": pa.array([r[1] for r in rows], pa.int64()),
    }))


def golden_ivf_ann_topk(k=3, n_centroids=16, nprobe=4, name="ivf_ann_topk"):
    emb = load_embeddings()
    vecs = dict(emb)
    # deterministic coarse quantizer: embeddings of the n smallest ids
    cents = [vecs[vid] for vid in sorted(vecs)[:n_centroids]]

    def cell_of(v):
        coss = [seq_cos(v, c) for c in cents]
        return coss.index(max(coss))  # first index of max == array_position
        # (also == np.argmax first-max on the numpy path: cosine order ==
        # v·ĉ order because |v| is a positive per-row constant)

    cells = {vid: cell_of(v) for vid, v in emb}
    rows = []
    for qid, qv in [(vid, v) for vid, v in emb if vid < 8]:
        coss = [seq_cos(qv, c) for c in cents]
        probe = [i for _, i in sorted((-c, i) for i, c in enumerate(coss))[:nprobe]]
        probe = set(probe)
        scored = [
            (seq_cos(vecs[vid], qv), vid)
            for vid, cl in cells.items() if cl in probe
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (c, vid) in enumerate(scored[:k], start=1):
            rows.append((qid, vid, spark_round(c), rank))
    write_golden(name, pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int64()),
        "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
        "cos_sim": pa.array([r[2] for r in rows], pa.float64()),
        "rank": pa.array([r[3] for r in rows], pa.int32()),
    }))


def golden_ivf_ann_topk_256():
    # exercises the engine's numpy (Arrow-batched matmul) centroid path —
    # n_centroids > IVF_LITERAL_MAX_CENTROIDS; recompute here stays pure
    # python (independent of both the plan literals and numpy)
    golden_ivf_ann_topk(k=3, n_centroids=256, nprobe=8, name="ivf_ann_topk_256")


# ---------------------------------------------------------------------------
# crawl_single_wave — the refscan reference behavioral model IS the oracle
# ---------------------------------------------------------------------------

def golden_crawl_single_wave():
    from httpz_spark.config import ScanConfig
    from httpz_spark.functions.hashing import hash64_low
    from httpz_spark.parity import refscan
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=48, n_hosts=12).with_certs()
    lines = S.seed_domain_lines(world)
    cfg = ScanConfig.all_on()
    transport = FB.FabricTransport(world)
    dns_map = {h.lower(): FB.dns_for_host(h, world) for h in FB.all_hosts(world)}
    results = refscan.scan(
        lines, transport, cfg, dns_map=dns_map,
        cname_targets=FB.cname_map(world),
    )
    # engine result keys: url_hash = murmur3 of the stripped raw line
    # (scan_plan hashes raw_domain).  refscan emits COMPLETION order, so
    # associate each result to its seed line via the parsed base domain
    # (one seed line per domain in this fixture).
    from httpz_spark.parity.refmodel import parse_domain_url

    stripped = [ln.strip() for ln in lines if ln.strip()]
    by_domain = {}
    for raw in stripped:
        base, _port, _protos = parse_domain_url(raw)
        assert base not in by_domain, f"duplicate domain seed {base}"
        by_domain[base] = raw
    assert len(stripped) == len(results), (len(stripped), len(results))
    rows = []
    for g in results:
        raw = by_domain[g["domain"]]
        rows.append({
            "domain": g.get("domain"),
            "url": g.get("url"),
            "status": g.get("status", -1),
            "protocol": g.get("protocol"),
            "title": g.get("title"),
            "favicon_hash": g.get("favicon_hash"),
            "error_type": g.get("error_type"),
            "url_hash": hash64_low(raw.encode("utf-8")),
        })
    rows.sort(key=lambda r: r["url_hash"])
    write_golden("crawl_single_wave", pa.table({
        "domain": pa.array([r["domain"] for r in rows], pa.string()),
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "status": pa.array([r["status"] for r in rows], pa.int32()),
        "protocol": pa.array([r["protocol"] for r in rows], pa.string()),
        "title": pa.array([r["title"] for r in rows], pa.string()),
        "favicon_hash": pa.array([r["favicon_hash"] for r in rows], pa.string()),
        "error_type": pa.array([r["error_type"] for r in rows], pa.string()),
        "url_hash": pa.array([r["url_hash"] for r in rows], pa.int64()),
    }))


# ---------------------------------------------------------------------------
# frontier_crawl — plain-python BFS simulator of the wave engine's contract
# ---------------------------------------------------------------------------

def canonicalize_py(raw: str, default_scheme: str = "https") -> str:
    s = re.sub(r"/+$", "", re.sub(r"^\s+|\s+$", "", raw))
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", s)
    scheme = m.group(1).lower() if m else default_scheme
    rest = s[m.end():] if m else s
    hostport = re.match(r"(?s)^([^/?#]*)", rest).group(1)
    path = re.match(r"(?s)^[^/?#]*([^?#]*)", rest).group(1) or "/"
    qm = re.match(r"(?s)^[^?#]*\?([^#]*)", rest)
    query = qm.group(1) if qm else ""
    host = hostport.split(":", 1)[0].lower() if ":" in hostport else hostport.lower()
    pm = re.search(r":([0-9]+)$", hostport)
    port = f":{pm.group(1)}" if pm else ""
    q = f"?{'&'.join(sorted(query.split('&')))}" if query else ""
    return f"{scheme}://{host}{port}{path}{q}"


def golden_frontier_crawl():
    import urllib.parse

    from httpz_spark.config import ScanConfig
    from httpz_spark.functions.hashing import hash64_low
    from httpz_spark.functions.htmlx import parse_page_htmlparser
    from httpz_spark.parity import refmodel as R
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=32, n_hosts=8).with_certs()
    cfg = ScanConfig.all_on(discover_links=True)
    transport = FB.FabricTransport(world)
    per_host_budget, max_depth, max_waves = 4, 1, 2

    robots = {}
    for host in FB.all_hosts(world):
        hh = FB.h64(f"{world.seed}:robots:{host}")
        # prefix-only drop model stays EXACT: robots_df's extra RFC 9309
        # wildcard/Allow fixtures ('/*.php$', '/r/public/', '/li/') are
        # chosen to match no fabric path / carve nothing that's disallowed
        # (fabric.robots_txt_bytes docstring), so the engine's
        # longest-match enforcement reduces to this startswith model here
        robots[host] = (2 + hh % 8, [] if hh % 5 else ["/r/"])

    def frontier_row(url, depth, wave_id):
        canon = canonicalize_py(url)
        m = re.match(r"^[a-z][a-z0-9+.\-]*://([^/?#]*)", canon)
        host = m.group(1)
        if not host:
            return None
        pm = re.match(r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", canon)
        path = pm.group(1) or "/"
        scheme = canon.split("://", 1)[0]
        return {
            "url_canon": canon, "url_hash": hash64_low(canon.encode()),
            "host": host, "path": path, "scheme": scheme,
            "depth": depth, "priority": depth, "wave_id": wave_id,
        }

    def fetch_row(row):
        """The fetch state machine (scanner.py:312-379 semantics) on one
        frontier row — independent reimplementation of operators/fetch."""
        target = re.sub(r"^[a-z][a-z0-9+.\-]*://", "", row["url_canon"])
        protos = ("http", "https") if row["scheme"] == "http" else ("https", "http")
        last = None
        for proto in protos:
            url = f"{proto}://{target}"
            result = None
            for attempt in range(1 + cfg.retries):
                try:
                    resp = transport.fetch(
                        url, proto, attempt=attempt,
                        follow_redirects=True, max_redirects=cfg.max_redirects,
                    )
                    result = ("ok", resp, proto)
                    break
                except Exception as e:  # FabricError
                    result = ("err", e, proto)
                    if e.error_type not in R.TRANSIENT_ERROR_TYPES:
                        break
            if result[0] == "ok":
                return result
            last = result
            if result[1].error_type not in R.FALLBACK_ERROR_TYPES:
                break
        return last

    seeds = S.seed_url_lines(world)
    frontier = {}
    for ln in seeds:
        r = frontier_row(ln, 0, 0)
        if r and r["url_hash"] not in frontier:
            frontier[r["url_hash"]] = r

    seen: set = set()
    results = []
    for wave in range(max_waves):
        ready = [r for r in frontier.values() if r["url_hash"] not in seen]
        if not ready:
            break
        # politeness: drop robots-disallowed, per-host rank by (priority,
        # url_hash), budget = per-host robots budget else default
        by_host: dict = {}
        for r in ready:
            budget, disallow = robots.get(r["host"], (per_host_budget, []))
            if any(r["path"].startswith(p) for p in disallow):
                continue
            by_host.setdefault(r["host"], []).append(r)
        scheduled, deferred = [], []
        for host, rows in by_host.items():
            budget = robots.get(host, (per_host_budget, []))[0]
            rows.sort(key=lambda r: (r["priority"], r["url_hash"]))
            scheduled += rows[:budget]
            deferred += rows[budget:]
        discovered = []
        for r in scheduled:
            kind, payload, proto = fetch_row(r)
            status = payload.status if kind == "ok" else -1
            results.append({
                "url_canon": r["url_canon"], "url_hash": r["url_hash"],
                "status": status,
                "protocol": proto if kind == "ok" else (
                    payload and proto or None),
                "wave_id": wave, "depth": r["depth"],
            })
            seen.add(r["url_hash"])
            if kind == "ok" and status == 200 and r["depth"] < max_depth:
                page = parse_page_htmlparser(
                    payload.body[:R.MAX_BODY_BYTES].decode(
                        payload.charset or "utf-8", errors="replace"))
                for href in page.hrefs:
                    absu = urllib.parse.urljoin(payload.url, href)
                    if absu.startswith(("http://", "https://")):
                        discovered.append((absu, r["depth"] + 1))
        # frontier(k+1) = deferred + discovered, min-(priority, wave_id,
        # url_canon) per url_hash (the engine's deterministic dedup)
        nxt: dict = {}

        def add(row):
            cur = nxt.get(row["url_hash"])
            if cur is None or (row["priority"], row["wave_id"], row["url_canon"]) < (
                    cur["priority"], cur["wave_id"], cur["url_canon"]):
                nxt[row["url_hash"]] = row

        for r in deferred:
            add(r)
        for u, depth in discovered:
            rr = frontier_row(u, depth, wave + 1)
            if rr:
                add(rr)
        frontier = nxt

    results.sort(key=lambda r: (r["wave_id"], r["url_hash"]))
    write_golden("frontier_crawl", pa.table({
        "url_canon": pa.array([r["url_canon"] for r in results], pa.string()),
        "url_hash": pa.array([r["url_hash"] for r in results], pa.int64()),
        "status": pa.array([r["status"] for r in results], pa.int32()),
        "protocol": pa.array([r["protocol"] for r in results], pa.string()),
        "wave_id": pa.array([r["wave_id"] for r in results], pa.int32()),
        "depth": pa.array([r["depth"] for r in results], pa.int32()),
    }))


# ---------------------------------------------------------------------------
# multimodal_decode — driver-side numpy recompute over the payload table
# ---------------------------------------------------------------------------

def golden_frame_sample(every_n=2, n_videos=24):
    """Independent replay of the frame_sample contract query: the SPKV
    header is re-parsed HERE from the documented layout (codecs/video.py
    docstring: magic|ver u8|fps u8|n_frames u16|u32 lengths|frames — all
    BE), not via the engine's video_index; frame identity is the pinned
    pure-python xxh64 of the sliced frame bytes (Spark F.xxhash64)."""
    import struct

    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=8, n_hosts=4)
    rows = []
    for i in range(n_videos):
        rec = FB.video_record(FB.video_id_at(i), world)
        data = rec["bytes"]
        magic, ver, fps, n_frames = struct.unpack_from(">4sBBH", data, 0)
        assert magic == b"SPKV" and ver == 1
        lens = struct.unpack_from(f">{n_frames}I", data, 8)
        pos = 8 + 4 * n_frames
        spans = []
        for ln in lens:
            spans.append((pos, ln))
            pos += ln
        for idx in range(0, n_frames, every_n):
            off, ln = spans[idx]
            rows.append((rec["media_id"], fps, n_frames, idx,
                         xxh64(data[off:off + ln])))
    write_golden("frame_sample", pa.table({
        "media_id": pa.array([r[0] for r in rows], pa.string()),
        "fps": pa.array([r[1] for r in rows], pa.int32()),
        "n_frames": pa.array([r[2] for r in rows], pa.int32()),
        "frame_idx": pa.array([r[3] for r in rows], pa.int32()),
        "frame_xxh": pa.array([r[4] for r in rows], pa.int64()),
    }))


def golden_multimodal_decode():
    from httpz_spark.codecs.images import average_hash, decode_image
    from httpz_spark.sources import fabric as FB

    world = FB.FabricConfig(n_images=32, n_hosts=8)
    rows = []
    for i in range(world.n_images):
        rec = FB.image_record(FB.image_id_at(i), world)
        row = {
            "image_id": rec["image_id"], "w": rec["w"], "h": rec["h"],
            "fmt": rec["fmt"], "decode_ok": False,
            "mean_lum": None, "phash_check": None,
        }
        try:
            px = decode_image(rec["bytes"], rec["fmt"])
            row.update(decode_ok=True,
                       mean_lum=spark_round(float(px.mean()), 4),
                       phash_check=average_hash(px))
        except NotImplementedError:
            pass
        rows.append(row)
    write_golden("multimodal_decode", pa.table({
        "image_id": pa.array([r["image_id"] for r in rows], pa.string()),
        "w": pa.array([r["w"] for r in rows], pa.int32()),
        "h": pa.array([r["h"] for r in rows], pa.int32()),
        "fmt": pa.array([r["fmt"] for r in rows], pa.string()),
        "decode_ok": pa.array([r["decode_ok"] for r in rows], pa.bool_()),
        "mean_lum": pa.array([r["mean_lum"] for r in rows], pa.float64()),
        "phash_check": pa.array([r["phash_check"] for r in rows], pa.int64()),
    }))


def golden_payload_validation(psnr_min=40.0):
    """Independent recompute of the per-row fetch invariant over the same
    scan wave as golden_crawl_single_wave: refscan supplies body_clean /
    status per seed; pixels, psnr, phash recompute from the fabric's
    deterministic codec functions."""
    from httpz_spark.codecs.images import average_hash, decode_image, psnr
    from httpz_spark.config import ScanConfig
    from httpz_spark.functions.hashing import hash64_low
    from httpz_spark.parity import refmodel as R
    from httpz_spark.parity import refscan
    from httpz_spark.sources import fabric as FB
    from httpz_spark.sources import synthetic as S

    world = FB.FabricConfig(n_images=48, n_hosts=12).with_certs()
    lines = S.seed_domain_lines(world)
    cfg = ScanConfig.all_on()
    transport = FB.FabricTransport(world)
    dns_map = {h.lower(): FB.dns_for_host(h, world) for h in FB.all_hosts(world)}
    cmap = FB.cname_map(world)
    results = refscan.scan(lines, transport, cfg, dns_map=dns_map, cname_targets=cmap)

    by_domain = {}
    for raw in (ln.strip() for ln in lines if ln.strip()):
        base, _port, _protos = R.parse_domain_url(raw)
        by_domain[base] = raw

    rows = []
    for g in results:
        raw = by_domain[g["domain"]]
        base, _port, _protos = R.parse_domain_url(raw)
        chain = R.resolve_cname_chain(base, cmap)
        scan_target = chain[-1] if chain else base
        image_id = FB.root_image_id(scan_target, world)
        rec = FB.image_record(image_id, world)
        row = {
            "url_hash": hash64_low(raw.encode("utf-8")), "image_id": image_id,
            "decode_ok": None, "pixel_ok": None, "psnr_db": None,
            "caption_ok": None, "phash_ok": None, "valid": None,
        }
        if g.get("status", -1) >= 0:
            px = decode_image(rec["bytes"], rec["fmt"])
            ref = FB.image_pixels(image_id, world)
            p = min(psnr(px, ref), 99.0)
            row.update(
                decode_ok=True, psnr_db=spark_round(float(p), 4),
                pixel_ok=bool(p >= psnr_min),
                phash_ok=bool(average_hash(px) == rec["phash"]),
            )
            bc = g.get("body_clean")
            row["caption_ok"] = (
                bc is not None and R.normalize_text(rec["caption"]) in bc
            )
            row["valid"] = bool(row["decode_ok"] and row["pixel_ok"]
                                and row["caption_ok"] and row["phash_ok"])
        rows.append(row)
    rows.sort(key=lambda r: r["url_hash"])
    write_golden("payload_validation", pa.table({
        "url_hash": pa.array([r["url_hash"] for r in rows], pa.int64()),
        "image_id": pa.array([r["image_id"] for r in rows], pa.string()),
        "decode_ok": pa.array([r["decode_ok"] for r in rows], pa.bool_()),
        "pixel_ok": pa.array([r["pixel_ok"] for r in rows], pa.bool_()),
        "psnr_db": pa.array([r["psnr_db"] for r in rows], pa.float64()),
        "caption_ok": pa.array([r["caption_ok"] for r in rows], pa.bool_()),
        "phash_ok": pa.array([r["phash_ok"] for r in rows], pa.bool_()),
        "valid": pa.array([r["valid"] for r in rows], pa.bool_()),
    }))


# ---------------------------------------------------------------------------
# pq_ann_topk — pure-python product quantization + ADC, accumulation order
# matched to the engine's numpy path bit-for-bit (encode: per-dim squared
# diffs added left-to-right; LUTs: sequential sums; score: per-subspace
# gather-adds, then s / (qnorm * sqrt(normsq-sum)))
# ---------------------------------------------------------------------------

def golden_pq_ann_topk(k=3, m=8, kc=16, name="pq_ann_topk"):
    emb = load_embeddings()
    vecs = {vid: list(map(float, v)) for vid, v in emb}
    ids_sorted = sorted(vecs)
    cb_vecs = [vecs[vid] for vid in ids_sorted[:kc]]
    d = len(cb_vecs[0])
    sub = d // m
    books = [[v[mi * sub:(mi + 1) * sub] for v in cb_vecs] for mi in range(m)]

    def encode(v):
        codes = []
        for mi in range(m):
            best_k, best_d = 0, None
            for ki in range(kc):
                acc = 0.0
                for j in range(sub):
                    diff = v[mi * sub + j] - books[mi][ki][j]
                    acc = acc + diff * diff
                if best_d is None or acc < best_d:  # strict: first min wins
                    best_d, best_k = acc, ki
            codes.append(best_k)
        return codes

    codes = {vid: encode(v) for vid, v in vecs.items()}
    normsq = [
        [sum(c[j] * c[j] for j in range(sub)) for c in books[mi]]
        for mi in range(m)
    ]
    rows = []
    for qid in [vid for vid in ids_sorted if vid < 8]:
        qv = vecs[qid]
        qn = 0.0
        for x in qv:
            qn += x * x
        qn = qn ** 0.5
        ip = [
            [sum(qv[mi * sub + j] * c[j] for j in range(sub))
             for c in books[mi]]
            for mi in range(m)
        ]
        scored = []
        for vid, cd in codes.items():
            nsum = normsq[0][cd[0]]
            for mi in range(1, m):
                nsum = nsum + normsq[mi][cd[mi]]
            s = ip[0][cd[0]]
            for mi in range(1, m):
                s = s + ip[mi][cd[mi]]
            scored.append((s / (qn * nsum ** 0.5), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, vid) in enumerate(scored[:k], start=1):
            rows.append((qid, vid, spark_round(score), rank))
    write_golden(name, pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int64()),
        "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
        "approx_cos": pa.array([r[2] for r in rows], pa.float64()),
        "rank": pa.array([r[3] for r in rows], pa.int32()),
    }))


def golden_pq_ann_topk_256():
    # the FAISS-standard 8-bit geometry (kc=256): 16x the codebook volume
    # through the same scalar-order encode+ADC model — the engine side
    # works through full-width numpy argmin/gather paths here (fixed
    # codebooks keep the golden bit-reproducible; the TRAINED path is
    # covered by the recall assertions in test_pipeline_ops)
    golden_pq_ann_topk(k=3, m=8, kc=256, name="pq_ann_topk_256")


def golden_ivfpq_ann_topk(k=3, n_centroids=16, nprobe=4, m=8, kc=16):
    """IVFPQ = the ivf probe/cell model composed with the PQ encode+ADC
    model — same accumulation orders as each standalone golden."""
    emb = load_embeddings()
    vecs = {vid: list(map(float, v)) for vid, v in emb}
    ids_sorted = sorted(vecs)
    cents = [vecs[vid] for vid in ids_sorted[:n_centroids]]

    def cell_of(v):
        coss = [seq_cos(v, c) for c in cents]
        return coss.index(max(coss))

    cells = {vid: cell_of(v) for vid, v in vecs.items()}

    cb_vecs = [vecs[vid] for vid in ids_sorted[:kc]]
    d = len(cb_vecs[0])
    sub = d // m
    books = [[v[mi * sub:(mi + 1) * sub] for v in cb_vecs] for mi in range(m)]

    def encode(v):
        codes = []
        for mi in range(m):
            best_k, best_d = 0, None
            for ki in range(kc):
                acc = 0.0
                for j in range(sub):
                    diff = v[mi * sub + j] - books[mi][ki][j]
                    acc = acc + diff * diff
                if best_d is None or acc < best_d:
                    best_d, best_k = acc, ki
            codes.append(best_k)
        return codes

    codes = {vid: encode(v) for vid, v in vecs.items()}
    normsq = [
        [sum(c[j] * c[j] for j in range(sub)) for c in books[mi]]
        for mi in range(m)
    ]
    rows = []
    for qid in [vid for vid in ids_sorted if vid < 8]:
        qv = vecs[qid]
        coss = [seq_cos(qv, c) for c in cents]
        probe = set(i for _, i in sorted((-c, i) for i, c in enumerate(coss))[:nprobe])
        qn = 0.0
        for x in qv:
            qn += x * x
        qn = qn ** 0.5
        ip = [
            [sum(qv[mi * sub + j] * c[j] for j in range(sub))
             for c in books[mi]]
            for mi in range(m)
        ]
        scored = []
        for vid, cd in codes.items():
            if cells[vid] not in probe:
                continue
            nsum = normsq[0][cd[0]]
            for mi in range(1, m):
                nsum = nsum + normsq[mi][cd[mi]]
            s = ip[0][cd[0]]
            for mi in range(1, m):
                s = s + ip[mi][cd[mi]]
            scored.append((s / (qn * nsum ** 0.5), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, vid) in enumerate(scored[:k], start=1):
            rows.append((qid, vid, spark_round(score), rank))
    write_golden("ivfpq_ann_topk", pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int64()),
        "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
        "approx_cos": pa.array([r[2] for r in rows], pa.float64()),
        "rank": pa.array([r[3] for r in rows], pa.int32()),
    }))


def golden_ivfpq_ann_topk_residual(k=3, n_centroids=16, nprobe=4, m=8, kc=16):
    """Residual IVFPQ (codes quantize v - centroid[cell], the FAISS rule):
    the ivfpq golden's models composed with scalar residual subtraction,
    the 2*<c_mi, r_mi> + |r_mi|^2 cross-term table, and the <q, c> score
    term — every accumulation left-to-right per dim, matching
    similarity.ivfpq_adc_topk(residual=True) bit for bit."""
    emb = load_embeddings()
    vecs = {vid: list(map(float, v)) for vid, v in emb}
    ids_sorted = sorted(vecs)
    cents = [vecs[vid] for vid in ids_sorted[:n_centroids]]

    def cell_of(v):
        coss = [seq_cos(v, c) for c in cents]
        return coss.index(max(coss))

    cells = {vid: cell_of(v) for vid, v in vecs.items()}
    d = len(cents[0])
    sub = d // m

    def resid(v, cell):
        return [v[j] - cents[cell][j] for j in range(d)]

    # residual codebooks: residuals of the kc smallest-id embeddings
    books = []
    cb_resid = [resid(vecs[vid], cells[vid]) for vid in ids_sorted[:kc]]
    books = [[rv[mi * sub:(mi + 1) * sub] for rv in cb_resid]
             for mi in range(m)]

    def encode(rv):
        codes = []
        for mi in range(m):
            best_k, best_d = 0, None
            for ki in range(kc):
                acc = 0.0
                for j in range(sub):
                    diff = rv[mi * sub + j] - books[mi][ki][j]
                    acc = acc + diff * diff
                if best_d is None or acc < best_d:
                    best_d, best_k = acc, ki
            codes.append(best_k)
        return codes

    codes = {vid: encode(resid(v, cells[vid])) for vid, v in vecs.items()}
    normsq = [
        [sum(c[j] * c[j] for j in range(sub)) for c in books[mi]]
        for mi in range(m)
    ]
    cnormsq = [seq_dot(c, c) for c in cents]
    combo = []
    for mi in range(m):
        t = []
        for c in cents:
            row = []
            for ki in range(kc):
                acc = 0.0
                for j in range(sub):
                    acc += 2.0 * c[mi * sub + j] * books[mi][ki][j]
                row.append(acc + normsq[mi][ki])
            t.append(row)
        combo.append(t)
    rows = []
    for qid in [vid for vid in ids_sorted if vid < 8]:
        qv = vecs[qid]
        coss = [seq_cos(qv, c) for c in cents]
        probe = set(i for _, i in sorted((-c, i) for i, c in enumerate(coss))[:nprobe])
        qn = 0.0
        for x in qv:
            qn += x * x
        qn = qn ** 0.5
        ip = [
            [sum(qv[mi * sub + j] * c[j] for j in range(sub))
             for c in books[mi]]
            for mi in range(m)
        ]
        qc = [seq_dot(qv, c) for c in cents]
        scored = []
        for vid, cd in codes.items():
            cell = cells[vid]
            if cell not in probe:
                continue
            nsum = cnormsq[cell] + combo[0][cell][cd[0]]
            for mi in range(1, m):
                nsum = nsum + combo[mi][cell][cd[mi]]
            s = qc[cell] + ip[0][cd[0]]
            for mi in range(1, m):
                s = s + ip[mi][cd[mi]]
            scored.append((s / (qn * nsum ** 0.5), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, vid) in enumerate(scored[:k], start=1):
            rows.append((qid, vid, spark_round(score), rank))
    write_golden("ivfpq_ann_topk_residual", pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int64()),
        "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
        "approx_cos": pa.array([r[2] for r in rows], pa.float64()),
        "rank": pa.array([r[3] for r in rows], pa.int32()),
    }))


# ---------------------------------------------------------------------------
# robots_table — independent LINE-BASED RFC-9309-subset parser (vs the
# engine's regex-based native expressions) over the same fabric
# /robots.txt bodies, plus a python model of the url_class failure matrix
# deciding which hosts' robots fetches succeed
# ---------------------------------------------------------------------------

def _parse_robots_model(text: str, default_delay_ms: int = 1000):
    """Record-structured parse: records = consecutive User-agent lines +
    following rules; FIRST record containing '*' wins; single-token
    Disallow/Allow values only; first WELL-FORMED Crawl-delay
    (strict decimal — '1.2.3' is malformed and skipped, matching the
    engine's tightened [0-9]+(\\.[0-9]+)? + coalesce-to-default) wins —
    the engine's documented subset, implemented line-by-line instead of
    by regex so the golden is an independent cross-check."""
    records = []
    agents: list = []
    rules: list = []
    collecting = False
    for raw in text.replace("\r", "").split("\n"):
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        k, v = key.strip().lower(), val.strip()
        if k == "user-agent":
            if collecting:
                records.append((agents, rules))
                agents, rules, collecting = [], [], False
            agents.append(v)
        elif k in ("disallow", "allow", "crawl-delay"):
            collecting = True
            rules.append((k, v))
    if agents or rules:
        records.append((agents, rules))
    delay_ms, disallow, allow = default_delay_ms, [], []
    for rec_agents, rec_rules in records:
        if "*" not in rec_agents:
            continue
        got_delay = False
        for k, v in rec_rules:
            toks = v.split()
            if k == "disallow" and len(toks) == 1:
                disallow.append(toks[0])
            elif k == "allow" and len(toks) == 1:
                allow.append(toks[0])
            elif k == "crawl-delay" and not got_delay and len(toks) == 1:
                tok = toks[0]
                digits = tok.split(".")
                if (1 <= len(digits) <= 2
                        and all(d.isdigit() and d for d in digits)):
                    delay_ms = int(round(float(tok) * 1000))
                    got_delay = True
        break
    return delay_ms, disallow, allow


def golden_robots_table():
    from httpz_spark.sources.fabric import (
        FabricConfig,
        all_hosts,
        h64,
        robots_txt_bytes,
    )

    world = FabricConfig(n_images=256, n_hosts=48).with_certs()
    default_ms, window_ms, max_budget = 1000, 10_000, 1000
    rows = []
    for host in all_hosts(world):
        # fetch-outcome model (fabric url_class on /robots.txt, no retries,
        # https->http fallback): m 4 (CONN both), 5 (first-attempt HTTP,
        # and the robots fetch never retries), 10 (self-redirect loop)
        # fail on both protocols; 8/9 return 404/500; everything else 200
        # (TIMEOUT/CERT/SSL on https fall back to http successfully)
        m = h64(f"{world.seed}:cls:{host}/robots.txt") % 100
        if m in (4, 5, 10):
            status = -1
        elif m == 8:
            status = 404
        elif m == 9:
            status = 500
        else:
            status = 200
        if status == 200:
            delay_ms, dis, alw = _parse_robots_model(
                robots_txt_bytes(host, world).decode("utf-8"), default_ms
            )
        else:
            delay_ms, dis, alw = default_ms, [], []
        budget = min(max(int(window_ms / max(delay_ms, 1)), 1), max_budget)
        rows.append((host, delay_ms, budget, ",".join(dis), ",".join(alw),
                     status))
    rows.sort()
    write_golden("robots_table", pa.table({
        "host": pa.array([r[0] for r in rows], pa.string()),
        "crawl_delay_ms": pa.array([r[1] for r in rows], pa.int32()),
        "per_wave_budget": pa.array([r[2] for r in rows], pa.int32()),
        "disallow_csv": pa.array([r[3] for r in rows], pa.string()),
        "allow_csv": pa.array([r[4] for r in rows], pa.string()),
        "fetch_status": pa.array([r[5] for r in rows], pa.int32()),
    }))


def golden_phash_near_dups():
    """Image pHash near-dup pairs: recompute the variant construction with
    the pure-python xxh64 (pinned against Spark's F.xxhash64) and
    brute-force popcount over ALL pairs — independent of the engine's
    banded join."""
    from httpz_spark.sources.fabric import FabricConfig, image_id_at, image_record

    world = FabricConfig(n_images=192, n_hosts=16)
    M64 = (1 << 64) - 1

    def signed(v: int) -> int:
        v &= M64
        return v - (1 << 64) if v >= (1 << 63) else v

    imgs = {}
    for i in range(192):
        iid = image_id_at(i)
        imgs[iid] = image_record(iid, world)["phash"]
    for iid in list(imgs):
        if xxh64_str(iid) % 4 == 0:
            b1 = xxh64_str(f"pflip1:{iid}") % 64
            b2 = xxh64_str(f"pflip2:{iid}") % 64
            mask = (1 << b1) ^ (1 << b2)
            imgs[iid + "_v"] = signed(imgs[iid] ^ mask)
    ids = sorted(imgs)
    rows = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin((imgs[a] ^ imgs[b]) & M64).count("1")
            if ham <= 2:
                rows.append((a, b, ham))
    rows.sort()
    write_golden("phash_near_dups", pa.table({
        "a": pa.array([r[0] for r in rows], pa.string()),
        "b": pa.array([r[1] for r in rows], pa.string()),
        "hamming": pa.array([r[2] for r in rows], pa.int64()),
    }))


# ---------------------------------------------------------------------------
# sitemap_discovery — INDEPENDENT model: line-based robots Sitemap parse,
# stdlib ElementTree XML parsing (vs the engine's native regex <loc>
# extraction), urllib host-scope checks, and the url_class fetch-outcome
# model applied to every robots/sitemap path
# ---------------------------------------------------------------------------

def _fetch_model_status(host: str, path: str, world) -> int:
    """https-first-with-http-fallback outcome for a (host, path) under the
    fabric failure matrix, with no retries (the robots/sitemap generators
    always send attempt 0): the golden_robots_table model generalized."""
    from httpz_spark.sources.fabric import h64

    m = h64(f"{world.seed}:cls:{host}{path}") % 100
    if m in (4, 5, 10):
        return -1
    if m == 8:
        return 404
    if m == 9:
        return 500
    return 200


def golden_sitemap_discovery():
    import xml.etree.ElementTree as ET
    from urllib.parse import urlsplit

    from httpz_spark.sources.fabric import (
        FabricConfig,
        all_hosts,
        robots_txt_bytes,
        sitemap_xml_bytes,
    )

    world = FabricConfig(n_images=256, n_hosts=48).with_certs()

    def same_host(url: str, host: str) -> bool:
        try:
            p = urlsplit(url)
        except ValueError:
            return False
        return p.scheme.lower() in ("http", "https") and \
            p.netloc.lower() == host.lower()

    def et_locs(body: bytes):
        root = ET.fromstring(body)
        tag = root.tag.rsplit("}", 1)[-1]
        locs = []
        for el in root.iter():
            if el.tag.rsplit("}", 1)[-1] == "loc" and el.text:
                locs.append(el.text.strip())
        # preserve set semantics (engine array_distinct + distinct)
        seen, out = set(), []
        for u in locs:
            if u not in seen:
                seen.add(u)
                out.append(u)
        return tag, out

    def et_entries(body: bytes):
        """Per-<url> (loc, lastmod, priority) with real XML parsing —
        the independent model for sitemap_entries' regex extraction."""
        root = ET.fromstring(body)
        tag = root.tag.rsplit("}", 1)[-1]
        ents = []
        for url_el in root.iter():
            if url_el.tag.rsplit("}", 1)[-1] != "url":
                continue
            loc = lastmod = prio = None
            for ch in url_el:
                name = ch.tag.rsplit("}", 1)[-1]
                text = (ch.text or "").strip()
                if name == "loc" and text:
                    loc = text
                elif name == "lastmod" and text:
                    lastmod = text
                elif name == "priority" and text:
                    prio = float(text)
            if loc is not None:
                ents.append((loc, lastmod, prio))
        return tag, ents

    rows = []
    for host in all_hosts(world):
        if _fetch_model_status(host, "/robots.txt", world) != 200:
            continue
        # line-based Sitemap extraction (global, case-insensitive key)
        sitemap_urls = []
        txt = robots_txt_bytes(host, world).decode("utf-8")
        for raw in txt.replace("\r", "").split("\n"):
            line = raw.split("#", 1)[0].strip()
            key, sep, val = line.partition(":")
            if sep and key.strip().lower() == "sitemap":
                toks = val.split()
                if len(toks) == 1 and toks[0] not in sitemap_urls:
                    sitemap_urls.append(toks[0])
        fetched = set()
        urlset_bodies = []
        level = [u for u in sitemap_urls if same_host(u, host)]
        for depth in range(2):  # level 0 + ONE index recursion
            nxt = []
            for u in level:
                if u in fetched:
                    continue
                fetched.add(u)
                path = urlsplit(u).path or "/"
                if _fetch_model_status(host, path, world) != 200:
                    continue
                body = sitemap_xml_bytes(host, path, world)
                tag, locs = et_locs(body)
                if tag == "sitemapindex":
                    if depth == 0:
                        nxt.extend(x for x in locs if same_host(x, host))
                else:
                    urlset_bodies.append(et_entries(body)[1])
            level = nxt
        for ents in urlset_bodies:
            for loc, lastmod, prio in ents:
                if same_host(loc, host):
                    rows.append((host, loc, lastmod, prio))
    # max-aggregation per (host, loc): latest lastmod (ISO-8601 is
    # lexicographic), highest advertised priority, NULL only if never set
    agg = {}
    for host, loc, lastmod, prio in rows:
        cur = agg.get((host, loc))
        if cur is None:
            agg[(host, loc)] = [lastmod, prio]
        else:
            if lastmod is not None and (cur[0] is None or lastmod > cur[0]):
                cur[0] = lastmod
            if prio is not None and (cur[1] is None or prio > cur[1]):
                cur[1] = prio
    out = sorted((h, l, v[0], v[1]) for (h, l), v in agg.items())
    write_golden("sitemap_discovery", pa.table({
        "host": pa.array([r[0] for r in out], pa.string()),
        "loc": pa.array([r[1] for r in out], pa.string()),
        "lastmod": pa.array([r[2] for r in out], pa.string()),
        "sm_priority": pa.array([r[3] for r in out], pa.float64()),
    }))


def golden_image_table():
    """The augmented image+caption frame behind ★image_table /
    ★image_training_shard: fabric base images plus re-encode variants
    (2 pHash bits flipped, same caption) and reposts (fresh random
    pHash, same caption), all derived with the pure-python xxh64 pinned
    against Spark's F.xxhash64.  This golden is the INPUT the
    image_training_shard oracle re-derives the whole shard from in
    DuckDB (caption groups + bit_count(xor()) pairs + recursive CC)."""
    from httpz_spark.sources.fabric import FabricConfig, caption_for, image_id_at

    world = FabricConfig(n_images=192, n_hosts=16)
    M64 = (1 << 64) - 1

    def signed(v: int) -> int:
        v &= M64
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = []
    for i in range(192):
        iid = image_id_at(i)
        cap = caption_for(iid, world)
        # synthetic well-spread phash, NOT the fabric average_hash: aHash
        # over the fabric's gradient-dominated pixels puts nearly every
        # image within 2 bits of every other (one giant clique — the
        # phash_near_dups query keeps that as a banding stress test), but
        # the SHARD fixture needs real cluster structure
        ph = xxh64_str(f"ph:{iid}")
        rows.append((iid, cap, ph))
        m = xxh64_str(iid) % 4
        if m == 0:
            b1 = xxh64_str(f"pflip1:{iid}") % 64
            b2 = xxh64_str(f"pflip2:{iid}") % 64
            rows.append((iid + "_v", cap, signed(ph ^ (1 << b1) ^ (1 << b2))))
        elif m == 1:
            rows.append((iid + "_r", cap, xxh64_str(f"repost:{iid}")))
    rows.sort()
    write_golden("image_table", pa.table({
        "image_id": pa.array([r[0] for r in rows], pa.string()),
        "caption": pa.array([r[1] for r in rows], pa.string()),
        "phash": pa.array([r[2] for r in rows], pa.int64()),
    }))


def golden_revalidate_wave():
    """Conditional-revalidation outcomes, modeled directly from the RFC
    rule (If-None-Match comparison, validators re-sent on 304 and 200)
    over the same clean-page candidate set the contract query builds —
    independent of the engine's scan machinery and header plumbing."""
    from httpz_spark.sources.fabric import (
        FabricConfig, host_for_image, image_id_at, page_validators, url_class,
    )

    world = FabricConfig(n_images=64, n_hosts=8)
    rows = []
    for i in range(world.n_images):
        iid = image_id_at(i)
        host = host_for_image(iid, world)
        path = f"/li/{iid}"
        cls = url_class(host, path, world)
        if (cls["status"] != 200 or cls["redirect_to"]
                or cls["fail_https"] or cls["fail_first_attempt"]):
            continue
        etag, lm = page_validators(host, path, world)
        fresh = i % 3 == 0
        rows.append({
            "host": host, "path": path,
            "status": 304 if fresh else 200,
            "not_modified": fresh,
            "etag_new": etag, "last_modified_new": lm,
        })
    rows.sort(key=lambda r: (r["host"], r["path"]))
    write_golden("revalidate_wave", pa.table({
        "host": pa.array([r["host"] for r in rows], pa.string()),
        "path": pa.array([r["path"] for r in rows], pa.string()),
        "status": pa.array([r["status"] for r in rows], pa.int32()),
        "not_modified": pa.array([r["not_modified"] for r in rows], pa.bool_()),
        "etag_new": pa.array([r["etag_new"] for r in rows], pa.string()),
        "last_modified_new": pa.array(
            [r["last_modified_new"] for r in rows], pa.string()),
    }))




# ---------------------------------------------------------------------------
# bpe_tokens — independent BPE model: Counter-based training, exhaustive
# in-learned-order merge application (vs the engine's min-rank-first loop;
# the two application orders are equivalent, so this is a real cross-check)
# ---------------------------------------------------------------------------
def golden_bpe(num_merges=60):
    from collections import Counter

    docs = load_documents()
    per_doc = []
    freqs = Counter()
    for doc_id, text in docs:
        norm = normalized_lower(text)
        words = norm.split(" ") if norm else []
        per_doc.append((doc_id, words))
        freqs.update(words)

    vocab = {w: tuple(w) + ("</w>",) for w in freqs}
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for w, n in freqs.items():
            s = vocab[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        top = max(pc.values())
        if top < 2:
            break
        pair = min(p for p, n in pc.items() if n == top)
        merges.append(pair)
        a, b = pair
        nv = {}
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            nv[w] = tuple(out)
        vocab = nv

    def seg_len(word):
        s = list(word) + ["</w>"]
        for a, b in merges:  # exhaustive application in learned order
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return len(s)

    cache = {}
    rows = []
    for doc_id, words in per_doc:
        nb = 0
        for w in words:
            if w not in cache:
                cache[w] = seg_len(w)
            nb += cache[w]
        rows.append((doc_id, len(words), nb))
    write_golden("bpe_tokens", pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "n_words": pa.array([r[1] for r in rows], pa.int64()),
        "n_bpe_tokens": pa.array([r[2] for r in rows], pa.int64()),
    }))


GOLDENS = {
    "image_table": golden_image_table,
    "revalidate_wave": golden_revalidate_wave,
    "minhash_lsh_dups": golden_minhash,
    "simhash_near_dups": golden_simhash,
    "embedding_near_dups": golden_embedding_near_dups,
    "lsh_ann_topk": golden_lsh_ann_topk,
    "ivf_ann_topk": golden_ivf_ann_topk,
    "ivf_ann_topk_256": golden_ivf_ann_topk_256,
    "winnow_fingerprints": golden_winnow_fingerprints,
    "frame_sample": golden_frame_sample,
    "payload_validation": golden_payload_validation,
    "crawl_single_wave": golden_crawl_single_wave,
    "frontier_crawl": golden_frontier_crawl,
    "multimodal_decode": golden_multimodal_decode,
    "robots_table": golden_robots_table,
    "sitemap_discovery": golden_sitemap_discovery,
    "phash_near_dups": golden_phash_near_dups,
    "pq_ann_topk": golden_pq_ann_topk,
    "pq_ann_topk_256": golden_pq_ann_topk_256,
    "ivfpq_ann_topk": golden_ivfpq_ann_topk,
    "ivfpq_ann_topk_residual": golden_ivfpq_ann_topk_residual,
    "bpe_tokens": golden_bpe,
}


def verify():
    """Run each Spark contract query and diff against its golden file."""
    import pandas as pd

    import __spark_entry__ as E
    from httpz_spark.session import get_spark

    spark = get_spark(master="local[8]", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    ok = True
    for name in GOLDENS:
        got = qs[name](spark, SF_DIR).toPandas()
        want = pq.read_table(os.path.join(OUT, f"{name}.parquet")).to_pandas()
        cols = sorted(want.columns)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        w = want[cols].sort_values(cols).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False)
            print(f"VERIFY {name}: OK ({len(g)} rows)")
        except AssertionError as e:
            ok = False
            print(f"VERIFY {name}: MISMATCH\n{e}")
    spark.stop()
    if not ok:
        raise SystemExit(1)


if __name__ == "__main__":
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    for name, fn in GOLDENS.items():
        if only and name not in only:
            continue
        fn()
    if "--verify" in sys.argv:
        verify()
