"""Engine configuration.

``ScanConfig`` mirrors the reference constructor knob-for-knob
(``/root/reference/httpz_scanner/scanner.py:61-137``) so the parity harness
can run both sides from one config; ``EngineConfig`` adds the distributed
frontier knobs the north_rule introduces (waves, politeness budgets,
partitioning, bloom sizing) that have no reference equivalent.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ScanConfig:
    # scanner.py:61-67
    concurrent_limit: int = 100
    timeout: float = 5.0
    retries: int = 1
    retry_backoff: float = 0.5     # simulated in the fabric (no real sleeps)
    max_redirects: int = 10
    follow_redirects: bool = True
    # feature toggles — scanner.py:69-78 (default OFF in the reference;
    # tests flip them all on like unit_test.py:69-86 does)
    fetch_headers: bool = False
    fetch_content_type: bool = False
    fetch_content_length: bool = False
    fetch_title: bool = False
    fetch_body: bool = False
    fetch_favicon: bool = False
    fetch_tls: bool = False
    fetch_ips: bool = False
    fetch_cname: bool = False
    # filtering / misc — scanner.py:79-86
    match_codes: frozenset | None = None
    exclude_codes: frozenset | None = None
    # custom request headers merged over the UA (scanner.py:209-212) and
    # POST body (method is POST iff post_data set, scanner.py:212,224);
    # tuple-of-pairs keeps the dataclass frozen/hashable
    custom_headers: tuple | None = None
    post_data: str | None = None
    ua_seed: int = 42                 # seeded UA rotation (A24) — replaces
                                      # the reference's random.choice
    shard: tuple | None = None
    # engine extension (NOT in the reference, which never follows links):
    # emit discovered <a href> outlinks for the frontier's next wave
    discover_links: bool = False

    @property
    def needs_body(self) -> bool:
        # scanner.py:139 (+ engine link discovery)
        return self.fetch_title or self.fetch_body or self.fetch_favicon or self.discover_links

    @staticmethod
    def all_on(**overrides) -> "ScanConfig":
        base = dict(
            fetch_headers=True,
            fetch_content_type=True,
            fetch_content_length=True,
            fetch_title=True,
            fetch_body=True,
            fetch_favicon=True,
            fetch_tls=True,
            fetch_ips=True,
            fetch_cname=True,
        )
        base.update(overrides)
        return ScanConfig(**base)


@dataclass(frozen=True)
class EngineConfig:
    """Distributed-frontier knobs (new; no reference equivalent)."""

    partitions: int = 32             # url_hash shuffle width (cluster: cores*2+)
    per_host_budget: int = 100       # politeness: max URLs per host per wave
    max_depth: int = 3               # frontier link-following depth cap
    hot_host_threshold: int = 64     # rows/host above which fetch salting kicks in
    politeness_pre_salt: int = 16    # salted local top-k fan-out before the
                                     # exact per-host window (hot-host guard;
                                     # `scheduled` stays exact — see
                                     # operators/politeness.py docstring)
    bloom_bits_per_key: int = 10     # per-partition bloom sizing (~1% FP)
    bloom_capacity_per_part: int = 1_000_000  # sizing assumption per pid
    seen_filter: str = "bloom"       # which index structure: "bloom" (10
                                     # bits/key, idempotent OR re-runs) or
                                     # "cuckoo" (~19 bits/key, supports
                                     # DELETE -> O(stale) recrawl
                                     # invalidation vs O(seen) bloom rebuild)
    bloom_min_seen: int = 5_000_000  # build + probe the seen filter once the
                                     # seen table reaches this (measured: the
                                     # plain anti-join is faster at every
                                     # size up to 64M rows; the filter's
                                     # anti-join still scans all of seen)
    include_payload: bool = True     # carry image payload columns into results
    trap_max_urls: int | None = None  # crawler-trap guard: cumulative
                                     # distinct fetched URLs per (host,
                                     # path-template) above this marks the
                                     # template trapped (operators/traps.py);
                                     # None = guard off
    trap_keep: int = 64              # trapped templates trickle at most
                                     # this many NEW urls per wave (throttle,
                                     # not blackhole)
    adaptive_politeness: bool = False  # AIMD per-host budgets from observed
                                     # latency (operators/politeness.py:
                                     # aimd_host_budgets); persisted in the
                                     # host_budgets state table
    slow_latency_ms: float = 1000.0  # median wave latency above this (or any
                                     # TIMEOUT) halves the host's budget
    min_host_budget: int = 1         # AIMD floor — a degraded host is probed
                                     # gently, never dropped
    state_dir: str = "/tmp/httpz_spark_state"
