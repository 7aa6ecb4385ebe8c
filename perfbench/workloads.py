"""The benchmark workloads.

Each workload gets a live session, the core count and a private state
directory, and implements:

* ``setup(ns)``   -- build the inputs of URL namespace ``ns`` (timed as
  set-up);
* ``warmup()``    -- one untimed cycle before the timed ones: a wave that
  the timed waves never refetch, or a pass over the same inputs;
* ``cycle(i)``    -- untimed input preparation, then one timed unit of
  work that ends committed; returns ``{"secs", "items", "attempted",
  "failed"}`` where ``secs`` covers only the committed work;
* ``min_work_done()`` -- whether the body may stop once its time is up;
* ``check()``     -- failures of the output checks (empty = correct);
* ``report(body)`` -- the workload's own end-to-end metrics;
* ``layer_metrics(body)`` -- layer counters only the workload can see
  (traced runs).

All inputs are pure functions of the namespace ids, which the runner
derives from ``--seed``.
"""

from __future__ import annotations

import dataclasses
import functools
import os
import re
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.plans.frontier import CrawlEngine
from httpz_spark.plans.statestore import StateStore
from httpz_spark.sources import fabric as FB
from httpz_spark.sources import synthetic as S
from httpz_spark.storage import release_local_checkpoint

@functools.lru_cache(maxsize=1)
def _certs() -> tuple:
    return FB.FabricConfig().with_certs().certs


def world(ns: int, n_images: int, n_hosts: int) -> FB.FabricConfig:
    """A synthetic web whose every observable is keyed by ``ns``."""
    return FB.FabricConfig(n_images=n_images, n_hosts=n_hosts, seed=ns,
                           certs=_certs())


def robots_allows(path: str, disallow: list, allow: list) -> bool:
    """RFC 9309 matching: the longest matching rule wins, allow on ties;
    ``*`` matches any run of characters and a trailing ``$`` anchors."""
    def match_len(rule: str) -> int:
        anchored = rule.endswith("$")
        body = rule[:-1] if anchored else rule
        rx = ".*".join(re.escape(p) for p in body.split("*"))
        ok = re.fullmatch(rx, path) if anchored else re.match(rx, path)
        return len(rule) if ok else -1

    best_d = max((match_len(r) for r in disallow or []), default=-1)
    best_a = max((match_len(r) for r in allow or []), default=-1)
    return best_d < 0 or best_a >= best_d


class Workload:
    name = ""
    tracer = None

    def __init__(self, spark, cores: int, state_dir: str):
        self.spark = spark
        self.cores = cores
        self.state_dir = state_dir
        shutil.rmtree(state_dir, ignore_errors=True)
        os.makedirs(state_dir)
        self._cached: list = []

    def _persist(self, df):
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def span(self, layer: str, name: str):
        """A benchmark-side span around an action this workload runs on a
        layer's lazy result (no-op when untraced)."""
        if self.tracer is None:
            import contextlib

            return contextlib.nullcontext()
        return self.tracer.span(layer, name)

    def min_work_done(self) -> bool:
        return True

    def layer_metrics(self, body: dict) -> dict:
        return {}

    def close(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []
        shutil.rmtree(self.state_dir, ignore_errors=True)


PASSTHROUGH = ["url_hash", "image_id", "url_canon", "host", "path", "depth", "priority"]
_COMPARE = ["url", "status", "protocol", "content_type", "content_length",
            "title", "body_preview", "favicon_hash", "error_type",
            "latency_ms", "attempts"]


def inproc_fetch(results, scan_cfg, w, sample: int) -> tuple:
    """The fetch stage run in this process (no Spark) on a seed-chosen
    sample of committed result rows, compared with what the wave stored.
    Returns (failures, URLs per second of the in-process stage)."""
    from httpz_spark.operators.fetch import make_fetch_stage

    pick = F.xxhash64(F.col("url_hash"), F.lit(w.seed))
    cols = PASSTHROUGH + ["w", "h", "fmt", "caption"] + _COMPARE
    rows = results.orderBy(pick, "url_hash").limit(sample).select(*cols).toPandas()
    inp = rows[PASSTHROUGH + ["w", "h", "fmt", "caption"]].copy()
    inp["scan_target"] = inp["url_canon"].str.replace(
        r"^[a-z][a-z0-9+.\-]*://", "", regex=True)
    inp["port"] = None
    http = inp["url_canon"].str.startswith("http://")
    inp["proto_first"] = np.where(http, "http", "https")
    inp["proto_second"] = np.where(http, "https", "http")
    stage = make_fetch_stage(scan_cfg, w, PASSTHROUGH)
    t0 = time.perf_counter()
    got = pd.concat(list(stage(iter([inp]))), ignore_index=True)
    rate = len(inp) / (time.perf_counter() - t0)
    fails = []
    for c in _COMPARE:
        a, b = got[c].tolist(), rows[c].tolist()
        bad = [k for k in range(len(a))
               if not (a[k] == b[k] or (pd.isna(a[k]) and pd.isna(b[k])))]
        if bad:
            fails.append(f"in-process fetch differs on {c} for "
                         f"{len(bad)}/{len(a)} sampled rows")
    return fails, rate


# --------------------------------------------------------------------------
# crawl_waves
# --------------------------------------------------------------------------

class CrawlWaves(Workload):
    """Multi-wave crawl with CrawlEngine; waves are narrow (robots budgets
    2-9 URLs per host per wave), so per-wave driver work and StateStore
    commits set the pace."""

    name = "crawl_waves"
    N_IMAGES, N_HOSTS = 2000, 40
    SAMPLE = 500

    def _engine(self, w, sub: str):
        images = self._persist(S.images_df(self.spark, w, partitions=self.cores))
        state = os.path.join(self.state_dir, sub)
        eng = CrawlEngine(
            self.spark, images, S.dns_df(self.spark, w), S.robots_df(self.spark, w),
            ScanConfig.all_on(discover_links=True),
            EngineConfig(partitions=self.cores, state_dir=state), w,
            state_dir=state,
        )
        eng.init_frontier(S.seeds_df(self.spark, S.seed_url_lines(w)))
        return eng

    def setup(self, ns: int) -> None:
        self.world = world(ns, self.N_IMAGES, self.N_HOSTS)
        self.engine = self._engine(self.world, "crawl")
        self.waves: list = []

    def warmup(self) -> None:
        """Wave 0 (seeds only, empty seen state) runs untimed; the timed
        waves are the steady state after it and never refetch its URLs."""
        self.waves.append(self.engine.run_wave(0))

    def cycle(self, i: int) -> dict:
        """One committed wave, then its results archived as WARC and read
        back (the crawl-then-archive pipeline)."""
        wave = len(self.waves)
        t0 = time.perf_counter()
        st = self.engine.run_wave(wave)
        t1 = time.perf_counter()
        if st.get("n_ready", 0) <= 0:
            raise RuntimeError(f"crawl frontier drained at wave {wave}")
        st.update(_archive(self, self.engine.store.read("results")
                           .filter(F.col("wave_id") == wave),
                           os.path.join(self.state_dir, f"warc{wave}")))
        st["wave_s"] = t1 - t0
        self.waves.append(st)
        return {"secs": time.perf_counter() - t0, "items": st["n_fetched"],
                "attempted": st["n_fetched"], "failed": 0}

    def check(self) -> list:
        store = self.engine.store
        fails, self.inproc_rate = inproc_fetch(
            store.read("results"), self.engine.scan_cfg, self.world, self.SAMPLE)
        res = (store.read("results")
               .select("url_hash", "host", "path", "wave_id", "status").toPandas())
        seen = store.read("seen").select("url_hash").toPandas()
        lineage = store.read("lineage").select("wave_id", "n_fetched").toPandas()
        robots = {r["host"]: r for r in S.robots_df(self.spark, self.world).collect()}
        default_budget = self.engine.engine_cfg.per_host_budget
        per = res.groupby(["wave_id", "host"]).size()
        for (wave, host), n in per.items():
            budget = robots[host]["per_wave_budget"] if host in robots else default_budget
            if n > budget:
                fails.append(f"wave {wave} fetched {n} URLs of {host} > budget {budget}")
        for host, path in zip(res["host"], res["path"]):
            r = robots.get(host)
            if r is not None and not robots_allows(path, r["disallow"], r["allow"]):
                fails.append(f"fetched disallowed {host}{path}")
                break
        if res["url_hash"].nunique() != len(res):
            fails.append("results url_hash not unique")
        if set(res["url_hash"]) != set(seen["url_hash"]) or len(seen) != len(res):
            fails.append(f"results keys ({len(res)}) != seen keys ({len(seen)})")
        if int(lineage["n_fetched"].sum()) != len(res):
            fails.append(f"lineage n_fetched {int(lineage['n_fetched'].sum())} "
                         f"!= results {len(res)}")
        if sorted(lineage["wave_id"]) != list(range(len(self.waves))):
            fails.append("lineage waves do not match committed waves")
        for w in self.waves[1:]:
            n_ok = int(((res["wave_id"] == w["wave_id"]) & (res["status"] >= 0)).sum())
            if not (w["n_back"] == w["n_cdx"] == n_ok):
                fails.append(f"wave {w['wave_id']}: WARC read-back {w['n_back']} / "
                             f"CDX {w['n_cdx']} / answered rows {n_ok} differ")
        return fails

    def report(self, body: dict) -> dict:
        store_bytes = _dir_bytes(self.engine.store.root)
        timed = self.waves[1:]
        n_err = sum(sum(w["errors"].values()) for w in timed)
        return {
            "items_per_s": body["items"] / body["run_s"],
            "urls_per_s": body["items"] / body["run_s"],
            "wave_s_p50": statistics.median(w["wave_s"] for w in timed),
            "archive_records_per_s": _archive_rate(timed),
            "waves": len(timed),
            "state_bytes_per_url":
                store_bytes / max(1, sum(w["n_fetched"] for w in self.waves)),
            "error_frac": n_err / max(1, body["attempted"]),
        }

    def layer_metrics(self, body: dict) -> dict:
        out = _wave_layer_metrics(self.engine, self.waves[1:])
        out["warc.bytes_per_record"] = _bytes_per_record(self.waves[1:])
        out["fetch.inproc_urls_per_s"] = self.inproc_rate
        return out

    def config(self) -> dict:
        e = self.engine.engine_cfg
        return {"images": self.N_IMAGES, "hosts": self.N_HOSTS,
                "partitions": e.partitions, "max_depth": e.max_depth}


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _wave_layer_metrics(engine, waves: list) -> dict:
    """Counters the engine's own state already holds: the politeness
    split per wave (lineage) and the fetch-partition balance
    (partition_lineage), plus protocol fallbacks in the results."""
    ready = sum(w["n_ready"] for w in waves)
    sched = sum(w["n_fetched"] for w in waves)
    deferred = sum(w["n_deferred"] for w in waves)
    pl = engine.store.read("partition_lineage").select("wave_id", "n_rows").toPandas()
    skews = [g.max() / max(1.0, float(np.median(g)))
             for _w, g in pl.groupby("wave_id")["n_rows"]]
    res = engine.store.read("results").select("url_canon", "protocol", "status")
    fb = res.filter(F.col("status") >= 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("protocol") != F.when(
            F.col("url_canon").startswith("http://"), "http").otherwise("https")
        ).cast("int")).alias("fb"),
    ).collect()[0]
    return {
        "frontier.deferred_frac": deferred / max(1, ready),
        "politeness.scheduled_frac": sched / max(1, ready),
        "politeness.fetch_partition_skew": float(np.mean(skews)) if skews else 0.0,
        "fetch.fallback_frac": (fb["fb"] or 0) / max(1, fb["n"]),
    }


def _archive(wl: Workload, results, path: str) -> dict:
    """Archive result rows as WARC and read the archive back (timed)."""
    from httpz_spark.sources.warc import crawl_to_warc, read_warc

    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    with wl.span("warc", "write"):
        n_cdx = crawl_to_warc(results, path, n_files=wl.cores).count()
    t1 = time.perf_counter()
    with wl.span("warc", "read"):
        n_back = read_warc(wl.spark, path).count()
    return {"n_cdx": n_cdx, "n_back": n_back, "warc_write_s": t1 - t0,
            "warc_read_s": time.perf_counter() - t1, "arch": path}


def _bytes_per_record(stats: list) -> float:
    return (sum(_dir_bytes(s["arch"]) for s in stats)
            / max(1, sum(s["n_cdx"] for s in stats)))


def _archive_rate(stats: list) -> float:
    """WARC records written plus read back per second of archive time."""
    recs = sum(s["n_cdx"] + s["n_back"] for s in stats)
    return recs / sum(s["warc_write_s"] + s["warc_read_s"] for s in stats)


# --------------------------------------------------------------------------
# wide_wave
# --------------------------------------------------------------------------



class WideWave(Workload):
    """One committed wave of 8000 distinct page URLs on 400 hosts (h0
    carries 30%), unlimited budget; its results are then archived as WARC
    and read back."""

    name = "wide_wave"
    N_URLS, N_HOSTS, N_IMAGES = 8000, 400, 1000
    WARM_URLS = 400
    SAMPLE = 500

    def setup(self, ns: int) -> None:
        self.ns = ns
        self.world = world(ns, self.N_IMAGES, self.N_HOSTS)
        # the payload table is stored data shared by every wave
        self.images = self._persist(
            S.images_df(self.spark, self.world, partitions=self.cores))
        self.robots = self._persist(S.robots_df(self.spark, self.world, unlimited=True))
        self.scan_cfg = ScanConfig.all_on()
        self.last = None
        self.stats: list = []

    def _seeds(self, w, n: int) -> list:
        return [
            f"https://{FB.host_for_image(FB.image_id_at(i % w.n_images), w)}"
            f"/n{w.seed}/d{i // w.n_images}/{FB.image_id_at(i % w.n_images)}"
            for i in range(n)
        ]

    def _wave(self, w, n_urls: int, sub: str) -> dict:
        """Untimed seeding, then the timed wave + archive + read-back."""
        state = os.path.join(self.state_dir, sub)
        shutil.rmtree(state, ignore_errors=True)
        eng = CrawlEngine(
            self.spark, self.images, None, self.robots, self.scan_cfg,
            EngineConfig(partitions=self.cores, per_host_budget=10**9,
                         state_dir=state), w, state_dir=state,
        )
        eng.init_frontier(S.seeds_df(self.spark, self._seeds(w, n_urls)))
        t0 = time.perf_counter()
        st = eng.run_wave(0)
        wave_s = time.perf_counter() - t0
        out = _archive(self, eng.store.read("results"),
                       os.path.join(self.state_dir, sub + "_warc"))
        out.update({"engine": eng, "world": w, "stats": st, "wave_s": wave_s,
                    "secs": time.perf_counter() - t0})
        return out

    def warmup(self) -> None:
        """A small wave on its own fabric seed: no timed fetch can hit a
        worker's fabric cache entry it left behind."""
        w = dataclasses.replace(self.world, seed=self.ns ^ 0x5A5A5A5A)
        self._wave(w, self.WARM_URLS, "warm")
        shutil.rmtree(os.path.join(self.state_dir, "warm"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.state_dir, "warm_warc"), ignore_errors=True)

    def cycle(self, i: int) -> dict:
        if self.last is not None:  # keep only the latest wave for the checks
            shutil.rmtree(self.last["engine"].store.root, ignore_errors=True)
            shutil.rmtree(self.last["arch"], ignore_errors=True)
        w = dataclasses.replace(self.world, seed=(self.ns * 7919 + i + 1) & 0x7FFFFFFF)
        self.last = self._wave(w, self.N_URLS, f"wave{i}")
        st = self.last["stats"]
        self.stats.append({k: v for k, v in self.last.items()
                           if k not in ("engine", "world", "arch")})
        return {"secs": self.last["secs"], "items": st["n_fetched"],
                "attempted": self.N_URLS, "failed": self.N_URLS - st["n_fetched"]}

    def check(self) -> list:
        last = self.last
        fails, self.inproc_rate = inproc_fetch(
            last["engine"].store.read("results"), self.scan_cfg, last["world"],
            self.SAMPLE)
        n_written = (last["engine"].store.read("results")
                     .filter(F.col("status") >= 0).count())
        if not (last["n_back"] == last["n_cdx"] == n_written):
            fails.append(f"WARC read-back {last['n_back']} / CDX {last['n_cdx']}"
                         f" / rows written {n_written} differ")
        if last["stats"]["n_fetched"] != self.N_URLS:
            fails.append(f"wave fetched {last['stats']['n_fetched']} of {self.N_URLS}")
        return fails

    def report(self, body: dict) -> dict:
        last = self.last
        n_err = sum(sum(s["stats"]["errors"].values()) for s in self.stats)
        return {
            "items_per_s": body["items"] / body["run_s"],
            "urls_per_s": body["items"] / body["run_s"],
            "archive_records_per_s": _archive_rate(self.stats),
            "state_bytes_per_url": _dir_bytes(last["engine"].store.root)
            / max(1, last["stats"]["n_fetched"]),
            "error_frac": n_err / max(1, body["attempted"]),
        }

    def layer_metrics(self, body: dict) -> dict:
        last = self.last
        out = _wave_layer_metrics(last["engine"], [s["stats"] for s in self.stats[-1:]])
        out.update({
            "fetch.inproc_urls_per_s": self.inproc_rate,
            "warc.bytes_per_record": _bytes_per_record([last]),
        })
        return out

    def config(self) -> dict:
        return {"urls": self.N_URLS, "hosts": self.N_HOSTS,
                "images": self.N_IMAGES, "partitions": self.cores,
                "warc_files": self.cores}


# --------------------------------------------------------------------------
# seen_churn
# --------------------------------------------------------------------------

class SeenChurn(Workload):
    """Gate / insert / invalidate cycles over a stored seen table larger
    than ``EngineConfig.bloom_min_seen``, so the gate takes the index
    (cuckoo) branch, until StateStore compaction has run."""

    name = "seen_churn"
    SEEN, CAND, SEEN_SHARE, STALE = 300_000, 50_000, 0.3, 5_000
    WARM_SEEN = 20_000

    def _cfg(self, seen: int) -> EngineConfig:
        return EngineConfig(partitions=self.cores, seen_filter="cuckoo",
                            bloom_min_seen=seen - seen // 6,
                            bloom_capacity_per_part=2 * seen // self.cores)

    def _keys(self, rng, n: int) -> np.ndarray:
        k = np.unique(rng.integers(1, 1 << 62, size=int(n * 1.01), dtype=np.int64))
        rng.shuffle(k)
        return k[:n]

    def _df(self, keys: np.ndarray, wave: int | None = None):
        pdf = pd.DataFrame({"url_hash": keys})
        if wave is not None:
            pdf["first_wave"] = np.int32(wave)
        return self.spark.createDataFrame(pdf)

    def _open(self, sub: str, seen_n: int, ns: int) -> dict:
        from httpz_spark.operators.frontier_dedup import CuckooIndex

        rng = np.random.default_rng(ns)
        root = os.path.join(self.state_dir, sub)
        store = StateStore(self.spark, root)
        cfg = self._cfg(seen_n)
        live = np.sort(self._keys(rng, seen_n))
        store.write("seen", self._df(live, 0))
        idx = CuckooIndex.open_or_create(os.path.join(root, "cuckoo"),
                                         partitions=cfg.partitions,
                                         capacity_per_part=cfg.bloom_capacity_per_part)
        idx.update(store.read("seen").select("url_hash"))
        return {"store": store, "idx": idx, "cfg": cfg, "rng": rng, "live": live,
                "cycles": [], "root": root}

    def setup(self, ns: int) -> None:
        self.ns = ns
        self.st = self._open("churn", self.SEEN, ns)

    def warmup(self) -> None:
        """A short cycle on a small seen table with its own keys."""
        st = self._open("warm", self.WARM_SEEN, self.ns ^ 0x5A5A5A5A)
        self._cycle(st, 0, self.WARM_SEEN // 5, self.WARM_SEEN // 50)
        shutil.rmtree(st["root"], ignore_errors=True)

    def _cycle(self, st: dict, i: int, n_cand: int, n_stale: int) -> dict:
        from httpz_spark.operators.frontier_dedup import dedup_unseen

        rng, live = st["rng"], st["live"]
        n_old = int(n_cand * self.SEEN_SHARE)
        old = rng.choice(live, n_old, replace=False)
        fresh = self._keys(rng, n_cand - n_old + 64)
        fresh = fresh[~np.isin(fresh, live)][: n_cand - n_old]
        cand = np.concatenate([old, fresh])
        rng.shuffle(cand)
        cand_df = self._df(cand)
        after_insert = np.union1d(live, fresh)
        stale = rng.choice(after_insert, n_stale, replace=False)
        stale_df = self._df(stale)
        store, idx, cfg = st["store"], st["idx"], st["cfg"]
        view = self._index_view(idx, cand, live) if self.tracer is not None else None

        t0 = time.perf_counter()
        seen = store.read("seen")
        # the engine's adaptive rule (CrawlEngine._schedule): the index
        # branch once the seen table is past bloom_min_seen
        index = idx if len(live) >= cfg.bloom_min_seen else None
        with self.span("frontier_dedup", "gate"):
            unseen = dedup_unseen(cand_df, seen, cfg.partitions, bloom=index)
            unseen = unseen.localCheckpoint(eager=True)
            n_new = unseen.count()
        idx.update(unseen)
        store.merge_upsert("seen", unseen.withColumn("first_wave", F.lit(i + 1)),
                           key="url_hash")
        store.merge_delete("seen", stale_df, key="url_hash")
        idx.delete(stale_df)
        secs = time.perf_counter() - t0
        release_local_checkpoint(unseen)

        st["live"] = np.setdiff1d(after_insert, stale)
        rec = {"secs": secs, "n_cand": len(cand), "n_new": n_new,
               "want_new": len(fresh), "n_stale": len(stale), "index_view": view}
        st["cycles"].append(rec)
        return rec

    def cycle(self, i: int) -> dict:
        rec = self._cycle(self.st, i, self.CAND, self.STALE)
        n = rec["n_cand"] + rec["n_new"] + rec["n_stale"]
        return {"secs": rec["secs"], "items": n, "attempted": n, "failed": 0}

    def min_work_done(self) -> bool:
        tdir = os.path.join(self.st["root"], "seen")
        return any(d.endswith("-compact") for d in os.listdir(tdir))

    def check(self) -> list:
        fails = []
        for k, c in enumerate(self.st["cycles"]):
            if c["n_new"] != c["want_new"]:
                fails.append(f"cycle {k}: gate passed {c['n_new']} keys, "
                             f"exact anti-join gives {c['want_new']}")
        got = np.sort(self.st["store"].read("seen").select("url_hash")
                      .toPandas()["url_hash"].to_numpy())
        if not np.array_equal(got, self.st["live"]):
            fails.append(f"final seen set ({len(got)}) != set arithmetic "
                         f"({len(self.st['live'])})")
        return fails

    def report(self, body: dict) -> dict:
        return {
            "items_per_s": body["items"] / body["run_s"],
            "keys_per_s": body["items"] / body["run_s"],
            "state_bytes_per_url": _dir_bytes(self.st["root"]) / len(self.st["live"]),
        }

    @staticmethod
    def _index_view(idx, cand: np.ndarray, live: np.ndarray) -> dict:
        """What the index answers for ``cand`` right now, read from its
        filter files in this process, against the known seen set."""
        from httpz_spark.operators.frontier_dedup import CuckooIndex, cuckoo_contains

        pids = np.mod(cand, idx.partitions)
        maybe = np.ones(len(cand), dtype=bool)
        for pid in range(idx.partitions):
            table, saturated, existed = CuckooIndex._load_file(idx._path(pid),
                                                               idx.nbuckets)
            if existed and not saturated:
                sel = pids == pid
                maybe[sel] = cuckoo_contains(table, cand[sel])
        unseen = ~np.isin(cand, live)
        return {"n": len(cand), "maybe": int(maybe.sum()),
                "unseen": int(unseen.sum()), "fp": int((maybe & unseen).sum())}

    def layer_metrics(self, body: dict) -> dict:
        views = [c["index_view"] for c in self.st["cycles"]]
        return {
            "frontier_dedup.maybe_seen_frac":
                sum(v["maybe"] for v in views) / max(1, sum(v["n"] for v in views)),
            "frontier_dedup.false_positive_frac":
                sum(v["fp"] for v in views) / max(1, sum(v["unseen"] for v in views)),
        }

    def config(self) -> dict:
        cfg = self.st["cfg"]
        return {"seen": self.SEEN, "candidates": self.CAND,
                "seen_share": self.SEEN_SHARE, "stale": self.STALE,
                "partitions": cfg.partitions, "bloom_min_seen": cfg.bloom_min_seen,
                "seen_filter": cfg.seen_filter}


# --------------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------------

class CorpusDedup(Workload):
    """ngram-Jaccard and winnow near-duplicate pairs over a seed-generated
    corpus with planted near-duplicates, plus PQ-ADC top-k for 10^4
    queries over a seed-generated embedding table."""

    name = "corpus_dedup"
    N_DOCS, VOCAB, BOILER, DUP_SHARE = 2500, 20_000, 50, 0.05
    N_EMB, DIM, N_QUERIES, K = 2000, 64, 10_000, 3

    def _docs(self, rng, n: int) -> pd.DataFrame:
        """Random word sequences, a quarter of them opening with one of
        BOILER shared phrases (df in the tens: the candidate join's
        load) and 45% with one phrase above the ngram df cap of 1000
        (the hot-shingle path), plus planted near-duplicates."""
        words = np.array([f"w{j}" for j in range(self.VOCAB)])
        lens = rng.integers(20, 90, size=n)
        toks = rng.integers(0, self.VOCAB, size=int(lens.sum()))
        bounds = np.concatenate([[0], np.cumsum(lens)])
        phrases = [" ".join(f"b{k}x{j}" for j in range(6)) for k in range(self.BOILER)]
        hot = " ".join(f"hx{j}" for j in range(6))
        texts = []
        for i in range(n):
            t = " ".join(words[toks[bounds[i]:bounds[i + 1]]])
            r = rng.random()
            if r < 0.25:
                t = phrases[int(rng.integers(0, self.BOILER))] + " " + t
            elif r < 0.7:
                t = hot + " " + t
            texts.append(t)
        # planted near-duplicates: copy an earlier doc, substitute ~8% words
        for i in np.flatnonzero(rng.random(n) < self.DUP_SHARE):
            src = texts[int(rng.integers(0, max(1, i)))].split(" ")
            for j in np.flatnonzero(rng.random(len(src)) < 0.08):
                src[j] = words[int(rng.integers(0, self.VOCAB))]
            texts[i] = " ".join(src)
        return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})

    def _embeddings(self, rng, n: int) -> np.ndarray:
        centers = rng.normal(size=(16, self.DIM))
        lab = rng.integers(0, 16, size=n)
        x = centers[lab] + 0.35 * rng.normal(size=(n, self.DIM))
        return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)

    def _inputs(self, ns: int, n_docs: int, n_queries: int) -> dict:
        from httpz_spark.operators import similarity as SIM

        rng = np.random.default_rng(ns)
        docs_pdf = self._docs(rng, n_docs)
        docs = self._persist(self.spark.createDataFrame(docs_pdf)
                             .repartition(self.cores))
        emb = self._embeddings(rng, self.N_EMB)
        emb_df = self._persist(self.spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(self.N_EMB, dtype=np.int64),
            "embedding": list(emb.astype(np.float64))})))
        cb = SIM.pq_codebooks_fixed(emb_df, m=8, kc=256)
        codes = self._persist(SIM.pq_encode(emb_df, cb))
        qv = emb[rng.integers(0, self.N_EMB, size=n_queries)]
        qv = qv + 0.05 * rng.normal(size=qv.shape)
        queries = self._persist(self.spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(n_queries, dtype=np.int64),
            "embedding": list(qv.astype(np.float64))})))
        return {"docs_pdf": docs_pdf, "docs": docs, "cb": cb, "codes": codes,
                "queries": queries, "qv": qv, "n_docs": n_docs,
                "n_queries": n_queries}

    def setup(self, ns: int) -> None:
        self.inp = self._inputs(ns, self.N_DOCS, self.N_QUERIES)
        self.passes: list = []

    def warmup(self) -> None:
        """One untimed pass over the same inputs (no fabric, no caches
        that outlive a pass)."""
        self._pass()
        self.passes = []

    def _pass(self) -> dict:
        from httpz_spark.operators.dedup import ngram_jaccard_pairs, winnow_dup_pairs
        from httpz_spark.operators.similarity import pq_adc_topk

        inp = self.inp
        t0 = time.perf_counter()
        ng = ngram_jaccard_pairs(inp["docs"], threshold=0.2)
        ng_pdf = ng.toPandas()
        release_local_checkpoint(ng)
        wn = winnow_dup_pairs(inp["docs"])
        wn_pdf = wn.toPandas()
        release_local_checkpoint(wn)
        t1 = time.perf_counter()
        with self.span("similarity", "topk"):
            top = pq_adc_topk(inp["codes"], inp["cb"], inp["queries"],
                              k=self.K).toPandas()
        t2 = time.perf_counter()
        rec = {"secs": t2 - t0, "dedup_s": t1 - t0, "ann_s": t2 - t1,
               "ngram": ng_pdf, "winnow_pairs": len(wn_pdf), "top": top}
        self.passes.append(rec)
        return rec

    def cycle(self, i: int) -> dict:
        rec = self._pass()
        if i > 0:  # the checks read only the latest pass
            self.passes[-2]["ngram"] = self.passes[-2]["top"] = None
        n = self.inp["n_docs"]
        return {"secs": rec["secs"], "items": n, "attempted": n, "failed": 0}

    def check(self) -> list:
        import duckdb

        import __spark_entry__ as entry

        fails = []
        last = self.passes[-1]
        con = duckdb.connect()
        try:
            con.register("documents", self.inp["docs_pdf"])
            want = con.sql(entry.oracle_sql()["ngram_jaccard_dups"]).df()
        finally:
            con.close()
        got = last["ngram"]
        a = sorted(zip(got["a"], got["b"], np.round(got["jaccard"], 6)))
        b = sorted(zip(want["a"], want["b"], want["jaccard"]))
        if len(a) != len(b) or any(x[:2] != y[:2] or abs(x[2] - y[2]) > 1e-6
                                   for x, y in zip(a, b)):
            fails.append(f"ngram pairs ({len(a)}) != DuckDB oracle ({len(b)})")
        if len(a) == 0:
            fails.append("no ngram pairs found (planted duplicates missed)")
        fails.extend(self._check_topk(last["top"]))
        return fails

    def _check_topk(self, top: pd.DataFrame) -> list:
        """Exact ADC in numpy over the same codes: per query, the top-k
        (score desc, id asc) must match ids and scores."""
        inp = self.inp
        codes = inp["codes"].toPandas()
        C = np.stack(codes["codes"].to_numpy()).astype(np.int64)
        ids = codes["vec_id"].to_numpy()
        books = [np.asarray(b, dtype=np.float64) for b in inp["cb"]]
        m, sub = len(books), books[0].shape[1]
        Q = inp["qv"].astype(np.float64)
        recon = np.concatenate([books[j][C[:, j]] for j in range(m)], axis=1)
        scores = (Q @ recon.T) / (np.linalg.norm(Q, axis=1)[:, None]
                                  * np.linalg.norm(recon, axis=1)[None, :])
        order = np.lexsort((np.broadcast_to(ids, scores.shape), -scores), axis=1)
        fails, bad = [], 0
        top = top.sort_values(["query_id", "rank"])
        for qid, g in top.groupby("query_id"):
            want_ids = ids[order[qid, :self.K]]
            got_ids = g["neighbor_id"].to_numpy()
            got_s = g["approx_cos"].to_numpy()
            want_s = scores[qid, order[qid, :self.K]]
            if not np.allclose(got_s, want_s, rtol=0, atol=1e-9):
                bad += 1
            elif not np.array_equal(got_ids, want_ids):
                # an id swap is only legal between (near-)tied scores
                if not np.allclose(scores[qid, np.searchsorted(ids, got_ids)],
                                   want_s, rtol=0, atol=1e-9):
                    bad += 1
        if top["query_id"].nunique() != inp["n_queries"] or bad:
            fails.append(f"PQ top-k differs from numpy exact ADC on {bad} of "
                         f"{inp['n_queries']} queries")
        return fails

    def report(self, body: dict) -> dict:
        n = len(self.passes)
        return {
            "items_per_s": body["items"] / body["run_s"],
            "docs_per_s": n * self.inp["n_docs"] / sum(p["dedup_s"] for p in self.passes),
            "ann_queries_per_s": n * self.inp["n_queries"]
            / sum(p["ann_s"] for p in self.passes),
        }

    def layer_metrics(self, body: dict) -> dict:
        last = self.passes[-1]
        return {"dedup.pairs_out": float(len(last["ngram"]) + last["winnow_pairs"])}

    def config(self) -> dict:
        return {"docs": self.N_DOCS, "vocab": self.VOCAB, "boilerplate": self.BOILER,
                "dup_share": self.DUP_SHARE, "embeddings": self.N_EMB,
                "queries": self.N_QUERIES, "k": self.K, "partitions": self.cores}


WORKLOADS = {c.name: c for c in (CrawlWaves, WideWave, SeenChurn, CorpusDedup)}
