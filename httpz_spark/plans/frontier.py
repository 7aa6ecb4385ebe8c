"""The distributed URL-frontier crawl engine — iterative batch waves.

Replaces the reference's bounded asyncio queue + FIRST_COMPLETED pump
(``/root/reference/httpz_scanner/scanner.py:382-464``) with checkpointed
DataFrame waves (SURVEY.md §3.4):

    wave k:  frontier --bloom+anti-join vs seen-->
             [trap flag: broadcast trap list -> held]
             --politeness window (broadcast robots)--> scheduled | deferred
             --salted repartition--> mapInPandas fetch        (staged)
             --> merge tail, its independent writes CONCURRENT:
                   results  (+ payload: broadcast wave ids -> left-semi
                             slice of images -> equi join)
                   seen (+ seen-filter index) | partition_lineage
                   frontier(k+1) = deferred + discovered
                   [host_budgets (AIMD)] [template_counts (trap guard)]
             --> lineage row (commit marker)

Exactly-once resume (north_rule "a killed job resumes exactly"):

* each wave first stages two atomic snapshots — ``wave<k>_sched`` (the
  seen-gated, politeness-ranked frontier: scheduled rows plus deferred
  ones) and ``wave<k>_out`` (the fetch of its scheduled rows, read back
  from ``wave<k>_sched``; no payload columns) — THEN applies merges *from
  the staging*;
* the merge tail's writes read only the staging, never each other's
  output, so they run on one thread each; the wave waits for all of them
  and re-raises the first failure before its lineage row, so a failed
  tail commits nothing a resume would skip;
* the wave's counters are ``Observation``s on writes that run anyway,
  committed in each table's manifest summary — no counting job;
* the lineage row for wave k is the commit marker — written last;
* a kill at any point re-runs wave k: each staged table is reused if it
  was committed, else rebuilt (the fetch fabric is deterministic);
  every tail write is idempotent (merge_upsert on its key, a full
  frontier rewrite), so the final tables are byte-identical to an
  uninterrupted run (tested in tests/test_frontier.py).

Payload bytes never ride a corpus-sized shuffle: the results write joins
them to the wave's fetched rows through a left-semi slice of the images
table built from the wave's broadcast ``image_id`` set — O(wave), not
O(corpus).

Deterministic crawl order = (wave_id, priority, url_hash); priority = depth
(BFS).  All per-wave metrics land in the ``lineage`` table, including the
driver wall seconds of the wave's phases (``phase_secs``: ``commit`` — the
commit check's lineage read, ``sched``, ``fetch``, ``merge`` — the wall
time of the concurrent tail).

The robots table is resolved ONCE per engine, at construction, into a
driver-local relation (it is broadcast-sized, politeness.py): otherwise
every wave's schedule would re-run its source — for
``build_robots_table``, every host's robots.txt fetch.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.util import inheritable_thread_target

from httpz_spark.config import EngineConfig, ScanConfig
from httpz_spark.functions import urls as U
from httpz_spark.operators.fetch import apply_fetch_stage, make_fetch_stage
from httpz_spark.operators.frontier_dedup import (
    BloomIndex,
    CuckooIndex,
    dedup_unseen,
)
from httpz_spark.operators.traps import url_path_template
from httpz_spark.operators.politeness import (
    aimd_host_budgets,
    politeness_schedule,
    salted_repartition,
)
from httpz_spark.parity.refmodel import ERROR_TYPES
from httpz_spark.storage import release_local_checkpoint
from httpz_spark.plans.scan import META, PAYLOAD, make_url_hash64_udf
from httpz_spark.plans.statestore import StateStore
from httpz_spark.sources.fabric import FabricConfig

FRONTIER_COLS = [
    "url_canon", "url_hash", "host", "path", "scheme", "depth", "priority", "wave_id",
]


def _merge_frontier(rows: DataFrame) -> DataFrame:
    """One frontier row per url_hash: the min (priority, wave_id,
    url_canon) row — deterministic cross-source dedup, where a bare
    dropDuplicates would pick an arbitrary row and break bit-exact
    resume/oracle comparisons."""
    others = [c for c in FRONTIER_COLS if c != "url_hash"]
    return (
        rows.groupBy("url_hash")
        .agg(F.min_by(
            F.struct(*others),
            F.struct("priority", "wave_id", "url_canon"),
        ).alias("_r"))
        .select("url_hash", *[F.col(f"_r.{c}").alias(c) for c in others])
        .select(*FRONTIER_COLS)
    )


def urls_to_frontier(df: DataFrame, url_col: str, depth: int | DataFrame,
                     wave_id: int, priority=None) -> DataFrame:
    """Canonicalize raw URLs into frontier rows — all native expressions
    except the 64-bit identity hash (Arrow-batched murmur3).

    ``priority`` (optional Column over ``df``'s columns, long-castable)
    overrides the default depth-derived crawl priority — the hook for
    real scheduling signals (sitemap ``<priority>``/``<lastmod>`` via
    :func:`~httpz_spark.operators.sitemapfetch.sitemap_seed_priority`,
    recrawl staleness, host quotas).  Lower = fetched earlier; crawl
    order stays the deterministic (wave_id, priority, url_hash)."""
    canon = U.canonicalize_url(F.col(url_col))
    depth_col = F.lit(depth) if isinstance(depth, int) else depth
    cols = [canon.alias("url_canon"), depth_col.cast("int").alias("_depth")]
    if priority is not None:
        cols.append(priority.cast("long").alias("_priority"))
    out = df.select(*cols)
    out = out.filter(F.col("url_canon").isNotNull() & (F.col("url_canon") != ""))
    out = (
        out.withColumn("url_hash", make_url_hash64_udf()(F.col("url_canon")))
        .withColumn("host", U.url_host(F.col("url_canon")))
        .withColumn(
            "path",
            F.coalesce(
                F.nullif(
                    F.regexp_extract(
                        "url_canon", r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
                    ),
                    F.lit(""),
                ),
                F.lit("/"),
            ),
        )
        .withColumn(
            "scheme", F.regexp_extract("url_canon", r"^([a-z][a-z0-9+.\-]*)://", 1)
        )
    )
    prio = (F.col("_priority") if priority is not None
            else F.col("depth").cast("long"))
    return (
        out.withColumnRenamed("_depth", "depth")
        .withColumn("priority", prio)
        .withColumn("wave_id", F.lit(wave_id).cast("int"))
        # a blank/whitespace-only line canonicalizes to 'https:///' with an
        # empty host — drop it here so every ingest path (seeds, streaming,
        # discovered links) is phantom-free, not just scan_plan's nonblank()
        .filter(F.col("host") != "")
        .select(*FRONTIER_COLS)
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        images: DataFrame,
        dns: DataFrame | None,
        robots: DataFrame | None,
        scan_cfg: ScanConfig,
        engine_cfg: EngineConfig,
        fabric_cfg: FabricConfig,
        state_dir: str | None = None,
    ):
        self.spark = spark
        self.images = images
        self.dns = dns
        # one evaluation of the robots source per engine, never inside a
        # wave: an Arrow-built frame plans as a LocalRelation
        self.robots = (None if robots is None
                       else spark.createDataFrame(robots.toArrow(), robots.schema))
        self.scan_cfg = scan_cfg
        self.engine_cfg = engine_cfg
        self.fabric_cfg = fabric_cfg
        self.store = StateStore(spark, state_dir or engine_cfg.state_dir)

    # -- cooperative stop -------------------------------------------------------
    # The reference's stop() drains in-flight requests and discards queued
    # work (scanner.py:167-175,420-428).  The wave engine's analogue: a
    # sentinel file checked (a) between stages on the driver and (b) at
    # every Arrow batch inside the fetch UDF.  A stop mid-fetch aborts the
    # staging job before its commit, so resume re-runs the wave exactly; a
    # stop after staging returns before the merges, which the resumed run
    # applies idempotently — final tables are byte-identical either way
    # (tested in tests/test_frontier.py::test_cooperative_stop_*).

    def _stop_file(self) -> str:
        return os.path.join(self.store.root, "_stop")

    def request_stop(self) -> None:
        """Ask a running crawl to drain and stop at the next safe point.
        Callable from another process: the sentinel is a file."""
        with open(self._stop_file(), "w") as f:
            f.write("stop")

    def stop_requested(self) -> bool:
        return os.path.exists(self._stop_file())

    def clear_stop(self) -> None:
        try:
            os.remove(self._stop_file())
        except FileNotFoundError:
            pass

    # -- lifecycle ------------------------------------------------------------
    def init_frontier(self, seed_urls: DataFrame, url_col: str = "raw") -> None:
        """Seeds -> frontier wave 0 (idempotent: no-op if state exists)."""
        if not self.store.exists("frontier"):
            self.add_seeds(seed_urls, url_col)

    def add_seeds(self, seed_urls: DataFrame, url_col: str = "raw") -> None:
        """MERGE new seeds into a live frontier (recrawl re-seeding: feed
        recrawl_candidates' new/stale rows here after invalidate_seen).
        Unlike init_frontier this works on existing state; already-queued
        URLs dedup away here, already-SEEN ones at the wave's seen gate."""
        fresh = urls_to_frontier(seed_urls, url_col, depth=0, wave_id=0)
        cur = self.store.read("frontier")
        if cur is None:
            self._write_frontier(fresh.dropDuplicates(["url_hash"]))
            return
        # a URL both queued and re-seeded keeps the min row, as in run_wave
        self._write_frontier(_merge_frontier(
            cur.select(*FRONTIER_COLS).unionByName(
                fresh.select(*FRONTIER_COLS))))

    def _write_frontier(self, frontier: DataFrame) -> None:
        """Commit the frontier with its row count (the next wave's n_ready)."""
        obs = Observation()
        frontier = frontier.observe(obs, F.count(F.lit(1)).alias("n_ready"))
        self.store.write("frontier", frontier, summary=(obs,))

    def committed_waves(self) -> set:
        lineage = self.store.read("lineage")
        if lineage is None:
            return set()
        return {r["wave_id"] for r in lineage.select("wave_id").distinct().collect()}

    def crawl(self, max_waves: int = 10) -> DataFrame:
        """Drain the frontier (or hit max_waves); returns the results table.
        Safe to call again after a kill — committed waves are skipped, the
        in-flight wave re-runs idempotently."""
        done = self.committed_waves()
        wave = (max(done) + 1) if done else 0
        while wave < max_waves:
            if self.stop_requested():
                break
            stats = self.run_wave(wave)
            if stats.get("stopped") or stats["n_ready"] == 0:
                break
            wave += 1
        return self.store.read("results")

    # -- one wave ---------------------------------------------------------------
    def run_wave(self, wave_id: int) -> dict:
        t0, p0 = time.time(), time.perf_counter()
        # one lineage read per wave: the commit check and the seen-table
        # size the dedup gate dispatches on (no table scan)
        lineage = self.store.read("lineage")
        done = ([] if lineage is None
                else lineage.select("wave_id", "n_fetched").collect())
        if any(r["wave_id"] == wave_id for r in done):
            return {"n_ready": -1, "skipped": True, "wave_id": wave_id}
        phases = {"commit": time.perf_counter() - p0}

        ecfg, scfg = self.engine_cfg, self.scan_cfg
        stopped = {"n_ready": -1, "stopped": True, "wave_id": wave_id}
        if self.stop_requested():
            return stopped
        counts = self._stage(wave_id, sum(r["n_fetched"] for r in done))
        if counts is None or self.stop_requested():
            # a stop mid-fetch aborted the staging commit, so a resumed run
            # re-executes the fetch exactly; a stop after staging returns
            # before the merges, which the resumed run applies idempotently
            return stopped
        phases.update(counts.pop("phase_secs"))
        staging_sched, staging_out = f"wave{wave_id}_sched", f"wave{wave_id}_out"
        staging_budgets = f"wave{wave_id}_budgets"
        if counts["n_ready"] == 0:
            return self._commit_lineage(wave_id, counts, t0, phases)

        p_merge = time.perf_counter()

        out = self.store.read(staging_out)
        # the merge tail: each closure builds and writes its own table(s)
        # from the staging alone, so they run concurrently and the tail
        # costs its longest write, not their sum.  Building a frame costs
        # driver time too (urls_to_frontier's expression tree), so that
        # happens inside the closures, and the long poles (results with
        # its payload join, the frontier rebuild) are submitted first.

        # MERGE results, like seen below, is idempotent on url_hash;
        # fetch_part is a lineage-only column — results keep their
        # established schema
        def results():
            self.store.merge_upsert(
                "results", self._with_payload(out), key="url_hash")

        # frontier(k+1) = deferred + discovered (depth-capped, in-wave
        # deduped); a URL that is BOTH deferred and freshly discovered
        # keeps the shallowest row
        def frontier():
            next_frontier = (self.store.read(staging_sched)
                             .filter(~F.col("scheduled")).select(*FRONTIER_COLS))
            if scfg.discover_links:
                discovered = (
                    out.filter(F.col("discovered").isNotNull()
                               & (F.col("depth") < ecfg.max_depth))
                    .select(F.col("depth").alias("_pd"),
                            F.explode("discovered").alias("u"))
                )
                next_frontier = next_frontier.unionByName(urls_to_frontier(
                    discovered, "u", depth=F.col("_pd") + 1, wave_id=wave_id + 1))
            self._write_frontier(_merge_frontier(next_frontier))

        def seen():
            seen_rows = out.select(
                "url_hash", "url_canon", F.lit(wave_id).alias("first_wave"))
            self.store.merge_upsert("seen", seen_rows, key="url_hash")
            # OR this wave's keys into the seen-filter index, once one
            # exists (_schedule builds it when seen reaches bloom_min_seen),
            # BEFORE the lineage commit: a kill anywhere re-runs the wave
            # and re-ORs, so the index never has false negatives vs the
            # seen table
            index = self._bloom(create=False)
            if index is not None:
                index.update(seen_rows)

        # per-partition fetch lineage (north rule: partition-granular
        # metrics checkpoint next to the wave-level lineage): derived from
        # the STAGED wave output, so a crash-rerun re-derives byte-equal
        # rows and the MERGE on (wave, partition) is idempotent
        def partition_lineage():
            plineage = (
                out.groupBy("fetch_part")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count("error_type").alias("n_errors"),
                     F.sum("latency_ms").alias("latency_ms_sum"),
                     F.max("latency_ms").alias("latency_ms_max"))
                .withColumn("wave_id", F.lit(wave_id).cast("int"))
                .withColumn("wp_key", F.concat_ws(
                    "\x00", F.lit(str(wave_id)),
                    F.col("fetch_part").cast("string")))
            )
            self.store.merge_upsert("partition_lineage", plineage, key="wp_key")

        tail = [results, frontier, seen, partition_lineage]

        # AIMD politeness update — STAGED before the state merge so a
        # crash-rerun replays the same (host, budget) rows instead of
        # recomputing from the already-updated state (which would halve a
        # slow host twice for one observed wave)
        if ecfg.adaptive_politeness:
            def budgets():
                if not self.store.exists(staging_budgets):
                    self.store.write(staging_budgets, aimd_host_budgets(
                        out, self.store.read("host_budgets"),
                        default_budget=ecfg.per_host_budget,
                        slow_latency_ms=ecfg.slow_latency_ms,
                        min_budget=ecfg.min_host_budget,
                    ))
                self.store.merge_upsert(
                    "host_budgets", self.store.read(staging_budgets), key="host")
            tail.append(budgets)

        # trap-guard bookkeeping: this wave's fetched-URL counts per (host,
        # path-template), keyed by (host, template, wave_id) so a crash
        # re-run REPLACES the same rows (merge_upsert is replace-by-key —
        # an additive update would double-count on replay).  The per-wave
        # grain keeps the table small (distinct templates x waves, StateStore
        # compaction applies); _schedule sums it into the cumulative view.
        if ecfg.trap_max_urls is not None:
            def template_counts():
                tpl = (
                    out.select(
                        "host",
                        url_path_template(F.col("url_canon")).alias("template"),
                    )
                    .groupBy("host", "template")
                    .agg(F.count(F.lit(1)).alias("n_urls"))  # frontier rows
                    #                 are unique by url_hash -> count = distinct
                    .withColumn("wave_id", F.lit(wave_id))
                    .withColumn("tpl_key", F.concat_ws(
                        "\x00", F.col("host"), F.col("template"),
                        F.lit(str(wave_id))))
                )
                self.store.merge_upsert("template_counts", tpl, key="tpl_key")
            tail.append(template_counts)

        # each closure inherits this thread's local properties (job group,
        # tags), so its jobs are billed to the caller; every future is
        # read, and a failed write raises HERE — before the lineage row,
        # so the resumed wave re-applies the whole (idempotent) tail
        with ThreadPoolExecutor(max_workers=len(tail)) as pool:
            futures = [pool.submit(inheritable_thread_target(self.spark)(f))
                       for f in tail]
        for f in futures:
            f.result()
        phases["merge"] = time.perf_counter() - p_merge

        stats = self._commit_lineage(wave_id, counts, t0, phases)
        # lineage row committed = wave durable; staging served its purpose
        # (idempotent re-run) and is GC'd so state-dir disk stays O(corpus),
        # not O(waves x corpus).  wave<k>_deferred/_meta: staging an older
        # build wrote before a kill mid-fetch (this build re-stages the wave)
        for staging in (staging_sched, staging_out, staging_budgets,
                        f"wave{wave_id}_deferred", f"wave{wave_id}_meta"):
            self.store.drop(staging)
        return stats

    def _stage(self, wave_id: int, seen_size: int) -> dict | None:
        """Stage the wave — ``wave<k>_sched`` (:meth:`_schedule`'s frame,
        written once; snapshots the frontier's n_ready, which the merge
        tail overwrites, and counts n_deferred), then ``wave<k>_out`` (the
        fetch of its scheduled rows; counts n_fetched and each error
        class) — reusing a table a killed run committed, and return the
        counters with the two steps' driver seconds (``phase_secs``).
        None: a cooperative stop aborted the fetch uncommitted."""
        sched, out = f"wave{wave_id}_sched", f"wave{wave_id}_out"
        p0 = time.perf_counter()
        if not self.store.exists(sched):
            if self.store.exists(out):
                raise RuntimeError(
                    f"{out} was staged by an older build without {sched}: finish "
                    f"wave {wave_id} with that build, or drop {out}, "
                    f"wave{wave_id}_deferred and wave{wave_id}_meta to re-run it")
            frontier = self.store.read("frontier")
            if frontier is None:
                raise RuntimeError("init_frontier() first")
            # counted on the frontier write, not here: a metric observed below
            # the seen gate is lost when AQE prunes an empty gate result
            n_ready = self.store.summary("frontier").get("n_ready")
            if n_ready is None:  # a frontier committed by an older build
                n_ready = frontier.count()
            if n_ready == 0:
                return {"n_ready": 0,
                        "phase_secs": {"sched": time.perf_counter() - p0}}
            obs = Observation()
            ranked = self._schedule(frontier, seen_size).observe(
                obs, F.count_if(~F.col("scheduled")).alias("n_deferred"))
            self.store.write(sched, ranked, summary=({"n_ready": n_ready}, obs))
        p1 = time.perf_counter()
        if not self.store.exists(out):
            obs = Observation()
            scheduled = self.store.read(sched).filter(F.col("scheduled"))
            fetched = self._fetch(scheduled, wave_id).observe(
                obs, F.count(F.lit(1)).alias("n_fetched"),
                *[F.count_if(F.col("error_type") == t).alias(t)
                  for t in ERROR_TYPES])
            try:
                self.store.write(out, fetched, summary=(obs,))
            except Exception:
                if self.stop_requested():
                    return None  # in-UDF cooperative abort: nothing committed
                raise
        secs = {"sched": p1 - p0, "fetch": time.perf_counter() - p1}
        return {**self.store.summary(sched), **self.store.summary(out),
                "phase_secs": secs}

    # -- stages -------------------------------------------------------------------
    def _bloom(self, create: bool = True) -> "BloomIndex | CuckooIndex | None":
        """The persisted seen-filter index (``EngineConfig.seen_filter``:
        bloom or cuckoo — identical probe contract, see frontier_dedup), or
        None when none exists and ``create`` is False.  A new index is
        BACKFILLED from the seen table in one job (a fresh filter over a
        populated table would answer 'definitely unseen' for the old
        corpus and re-crawl it), in a side directory renamed into place so
        a kill mid-backfill leaves no partial filter."""
        ecfg = self.engine_cfg
        if ecfg.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(
                f"EngineConfig.seen_filter must be 'bloom' or 'cuckoo', "
                f"got {ecfg.seen_filter!r}"
            )
        cls, kw = ((CuckooIndex, {}) if ecfg.seen_filter == "cuckoo" else
                   (BloomIndex, {"bits_per_key": ecfg.bloom_bits_per_key}))
        kw.update(partitions=ecfg.partitions,
                  capacity_per_part=ecfg.bloom_capacity_per_part)
        root = os.path.join(self.store.root, ecfg.seen_filter)
        if os.path.exists(os.path.join(root, "meta.json")):
            return cls.open_or_create(root, **kw)
        if not create:
            return None
        build = root + ".build"
        shutil.rmtree(build, ignore_errors=True)
        idx = cls.open_or_create(build, **kw)
        seen = self.store.read("seen")
        if seen is not None:
            idx.update(seen.select("url_hash"))
        shutil.rmtree(root, ignore_errors=True)
        os.rename(build, root)
        return cls.open_or_create(root, **kw)

    def invalidate_seen(self, stale_keys: DataFrame) -> None:
        """Recrawl invalidation: remove stale URLs from the seen state so
        the frontier re-admits them (compose with recrawl_candidates'
        ``stale`` rows).  The seen table takes an O(stale) merge-on-read
        tombstone delta either way; an existing filter index diverges —
        cuckoo deletes exactly the stale keys (O(stale)), bloom cannot
        delete and must REBUILD from the surviving seen table (O(seen)
        scan, the documented cost of picking bloom on a recrawling
        deployment).

        ``stale_keys``: any frame with a ``url_hash`` column.  Keys are
        SEMI-JOINED against the current seen table first, so deleting a
        never-seen key (recrawl 'new' rows, an overlapping stale set, or a
        crash-re-run of this method after the tombstone landed) is a
        no-op — the cuckoo contract forbids deleting what was never
        inserted (it could evict a colliding key's fingerprint and turn a
        seen URL 'definitely unseen'), and this gate is what makes the
        whole method idempotent."""
        seen = self.store.read("seen")
        if seen is None:
            return
        keys = (
            stale_keys.select("url_hash").distinct()
            .join(seen.select("url_hash"), "url_hash", "left_semi")
        )
        # persist: the keys drive the table tombstone AND the filter
        # mutation — two actions over one frame, and the semi-join's
        # result changes once the tombstone lands (same discipline as the
        # dedup eager barriers)
        keys = keys.localCheckpoint(eager=True)
        try:
            idx = self._bloom(create=False)
            self.store.merge_delete("seen", keys, key="url_hash")
            if isinstance(idx, CuckooIndex):
                idx.delete(keys)
            elif idx is not None:
                # blooms cannot delete: rebuild from the surviving seen
                # table (_bloom() backfills the fresh index)
                shutil.rmtree(idx.root, ignore_errors=True)
                self._bloom()
        finally:
            release_local_checkpoint(keys)

    def _schedule(self, frontier: DataFrame, seen_size: int) -> DataFrame:
        """The wave's one ranked frame: the seen-gated rows with the
        politeness schedule's ``scheduled`` and ``sched_rank`` (NULL when
        deferred, trap-held rows included).  ``seen_size`` (from lineage)
        picks the dedup path."""
        ecfg = self.engine_cfg
        # the frontier is unique by url_hash BY CONSTRUCTION (init_frontier
        # dedupes; next_frontier is a groupBy(url_hash) output) — a per-wave
        # dropDuplicates here would re-shuffle the whole frontier for nothing
        seen = self.store.read("seen")
        # adaptive dedup path: plain JVM anti-join until the seen table is
        # big enough that skipping its scan pays for the bloom probe
        bloom = self._bloom() if seen_size >= ecfg.bloom_min_seen else None
        unseen = dedup_unseen(frontier, seen, ecfg.partitions, bloom=bloom)
        # crawler-trap guard: templates whose CUMULATIVE fetched-URL count
        # (template_counts state, maintained by run_wave from actually
        # fetched rows) crossed the cap trickle at most trap_keep new URLs
        # (smallest url_canon first) into this wave; the rest are HELD —
        # deferred, they stay in the frontier: throttle, never blackhole.
        # One broadcast join onto the seen-gated frame and one window whose
        # sort only trapped rows share (a healthy row partitions alone on
        # its url_hash, so a hot host never sorts in one task).
        held = None
        if ecfg.trap_max_urls is not None:
            tpl_counts = self.store.read("template_counts")
            if tpl_counts is not None:
                traps = (
                    tpl_counts.groupBy("host", F.col("template").alias("_tpl"))
                    .agg(F.sum("n_urls").alias("_n"))
                    .filter(F.col("_n") > ecfg.trap_max_urls)
                    .select("host", "_tpl", F.lit(True).alias("_trap"))
                )
                unseen = unseen.withColumn(
                    "_tpl", url_path_template("url_canon")
                ).join(F.broadcast(traps), ["host", "_tpl"], "left")
                trapped = F.col("_trap").isNotNull()
                w = Window.partitionBy(
                    "host", "_tpl", F.when(~trapped, F.col("url_hash"))
                ).orderBy("url_canon")
                held = trapped & (F.row_number().over(w) > ecfg.trap_keep)
        ranked = politeness_schedule(
            unseen, self.robots, default_budget=ecfg.per_host_budget,
            host_budgets=(self.store.read("host_budgets")
                          if ecfg.adaptive_politeness else None),
            held=held,
        )
        # sched_rank rides along: _fetch salts hot hosts by
        # floor((rank-1)/HOT_HOST_ROWS) — free, perfectly balanced
        # (politeness.py)
        return ranked.select(*FRONTIER_COLS, "scheduled", "sched_rank")

    def _fetch(self, scheduled: DataFrame, wave_id: int) -> DataFrame:
        ecfg, scfg = self.engine_cfg, self.scan_cfg
        # scan target = canonical URL minus the scheme (host + path + query);
        # the fetch stage re-prefixes the protocol under test
        df = scheduled.withColumn(
            "scan_target",
            F.regexp_replace(F.col("url_canon"), r"^[a-z][a-z0-9+.\-]*://", ""),
        ).withColumn("port", F.lit(None).cast("int"))
        df = df.withColumn(
            "proto_first",
            F.when(F.col("scheme") == "http", F.lit("http")).otherwise(F.lit("https")),
        ).withColumn(
            "proto_second",
            F.when(F.col("scheme") == "http", F.lit("https")).otherwise(F.lit("http")),
        )
        # image_id resolves NATIVELY from the path tail for page URLs (the
        # dominant shape); root/odd paths get NULL here and are resolved
        # inside the fetch stage's batch loop (operators/fetch.py) — this
        # keeps the wave at exactly ONE python stage.  The column is the
        # payload key of the results write; the fetch itself needs no
        # image columns (the fabric builds each page from its URL).
        tail = F.regexp_extract(F.col("path"), r"([^/]*)$", 1)
        is_page = (~F.col("path").isin("", "/")) & tail.rlike("^img[0-9]+$")
        df = df.withColumn("image_id", F.when(is_page, tail))

        # the slim frontier columns ride the python stage as passthrough
        # (whole-array copies in the batch loop — measured cheaper than the
        # former JVM rejoin, which shuffled the FAT fetch output rows; at
        # 100 TB the post-fetch shuffle of body-bearing rows is the one to
        # avoid).  Image META + PAYLOAD join only in the results write
        # (_with_payload), over the wave's own image ids.
        passthrough = [
            ("url_hash", "long"), ("image_id", "string"),
            ("url_canon", "string"), ("host", "string"), ("path", "string"),
            ("depth", "int"), ("priority", "long"),
        ]
        stage = make_fetch_stage(
            scfg, self.fabric_cfg, [n for n, _t in passthrough],
            stop_file=self._stop_file(),
        )
        out = apply_fetch_stage(
            salted_repartition(df, ecfg.partitions), passthrough, stage)
        # partition id of the FETCH task — feeds the per-partition lineage
        # table; the value lands in the staged wave output, so resume reads
        # the recorded ids instead of recomputing them
        out = out.withColumn("fetch_part", F.spark_partition_id())
        return out.withColumn("wave_id", F.lit(wave_id).cast("int"))

    def _with_payload(self, out: DataFrame) -> DataFrame:
        """The results rows of a staged wave output: ``fetch_part`` dropped
        and, under ``include_payload``, the image META + PAYLOAD columns
        joined on the fetch stage's emitted ``image_id`` (root paths
        resolve only inside the stage).  The images side is a left-semi
        slice built from the wave's broadcast id set, so the join moves
        the wave's payload bytes, never the corpus'.  Columns an older
        build staged with the payload are dropped and re-joined (equal
        values); the column order stays that build's, ``wave_id`` last."""
        payload = [n for n, _t in META + PAYLOAD]
        res = out.drop("fetch_part", *payload)
        if not self.engine_cfg.include_payload:
            return res
        ids = res.select("image_id").distinct()
        images = (self.images.select("image_id", *payload)
                  .join(F.broadcast(ids), "image_id", "left_semi"))
        res = res.join(images, "image_id", "left")
        return res.select(*[c for c in res.columns if c != "wave_id"], "wave_id")

    def _commit_lineage(self, wave_id: int, counts: dict, t0: float,
                        phases: dict) -> dict:
        """Append the wave's lineage row — its commit marker — from the
        staged counters (every scheduled row is fetched: n_scheduled =
        n_fetched) and the phases' driver seconds (0 for a phase the wave
        skipped); returns the wave's stats.  The row is literals over a
        one-row range: no Python job."""
        n_ready, n_deferred = counts["n_ready"], counts.get("n_deferred", 0)
        n_fetched = counts.get("n_fetched", 0)
        errs = {t: counts[t] for t in ERROR_TYPES if counts.get(t)}
        t1 = time.time()
        cols = [
            ("wave_id", "int", wave_id), ("n_ready", "long", n_ready),
            ("n_scheduled", "long", n_fetched), ("n_deferred", "long", n_deferred),
            ("n_fetched", "long", n_fetched),
            ("errors_by_type", "map<string,long>", errs),
            ("t_start", "double", t0), ("t_end", "double", t1),
            ("urls_per_sec", "double", n_fetched / (t1 - t0) if t1 > t0 else 0.0),
            ("phase_secs", "map<string,double>",
             {p: phases.get(p, 0.0) for p in ("commit", "sched", "fetch", "merge")}),
        ]
        row = self.spark.range(0, 1, 1, 1).select(*[
            (F.create_map(*[F.lit(x) for kv in v.items() for x in kv])
             if isinstance(v, dict) else F.lit(v)).cast(t).alias(n)
            for n, t, v in cols])
        self.store.append("lineage", row)
        return {"wave_id": wave_id, "n_ready": n_ready, "n_fetched": n_fetched,
                "n_deferred": n_deferred, "errors": errs, "secs": t1 - t0}
