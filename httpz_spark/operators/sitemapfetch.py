"""Sitemap-driven seed discovery: robots ``Sitemap:`` lines -> sitemap
XML fetch -> page URLs ready for ``urls_to_frontier``.

The reference scanner has no seed discovery at all (it is handed a flat
domain list); production crawls at north_rule scale start from sitemaps —
this module is that path, built on the same seams as the robots builder:

* one fetch per DISTINCT (host, sitemap_url) through the engine's
  first-200 document fetch
  (:func:`~httpz_spark.operators.fetch.make_document_fetch_stage`: the
  URL's own scheme first, the other on any error or non-200, 10 MiB cap);
* a single level of ``<sitemapindex>`` recursion (the protocol forbids
  index-of-index nesting), as a SECOND fetch stage — two stages total,
  never a driver loop over hosts;
* all parsing is native (:mod:`httpz_spark.functions.sitemapx`), and the
  sitemaps.org HOST-SCOPE rule is enforced twice: a robots Sitemap line
  pointing off-host is not fetched, and cross-host ``<loc>`` entries are
  dropped.

Scale shape: distinct -> repartition -> mapInPandas fetch -> native
explode/filter; output is ``(host, loc)`` seed rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from httpz_spark.functions.robotsx import robots_sitemaps
from httpz_spark.functions.sitemapx import (
    loc_host_matches,
    sitemap_entries,
    sitemap_is_index,
    sitemap_locs,
)
from httpz_spark.operators.fetch import make_document_fetch_stage
from httpz_spark.operators.robotsfetch import fetch_robots
from httpz_spark.sources.fabric import FabricConfig
from httpz_spark.storage import release_local_checkpoint

MAX_SITEMAP_BYTES = 10 * 1024 * 1024  # sitemaps.org caps documents at 50 MB
# uncompressed; 10 MiB bounds executor memory for the synthetic path

SITEMAP_FETCH_SCHEMA = (
    "host string, sitemap_url string, fetch_status int, body string, "
    "error_type string"
)


def fetch_sitemap_urls(sm: DataFrame, fabric_cfg: FabricConfig,
                       transport_factory=None,
                       partitions: int = 32) -> DataFrame:
    """One fetch per distinct (host, sitemap_url) -> SITEMAP_FETCH_SCHEMA."""
    stage = make_document_fetch_stage(
        fabric_cfg, "sitemap_url", ["host", "sitemap_url"],
        MAX_SITEMAP_BYTES, transport_factory,
    )
    return (
        sm.select("host", "sitemap_url").distinct()
        .repartition(partitions)
        .mapInPandas(stage, schema=SITEMAP_FETCH_SCHEMA)
    )


def sitemap_seed_priority(priority_col="sm_priority",
                          lastmod_col="lastmod") -> "F.Column":
    """Map the sitemap scheduling elements onto the frontier's
    ascending-long ``priority``: the advertised ``<priority>`` (0.0-1.0,
    absent -> the protocol's 0.5 default) picks the band —
    ``round((1 - p) * 1000)``, so priority 1.0 seeds land in band 0 and
    unset ones mid-pack at 500 — and WITHIN a band, entries carrying a
    ``<lastmod>`` sort ahead of ones that don't (a recrawl scheduler has
    a real freshness signal only for the former).  Deterministic, purely
    native; pass to ``urls_to_frontier(..., priority=...)``."""
    band = F.round((F.lit(1.0) - F.coalesce(F.col(priority_col),
                                            F.lit(0.5))) * 1000)
    has_lastmod = F.when(F.col(lastmod_col).isNotNull(), F.lit(0)).otherwise(F.lit(1))
    return (band * 2 + has_lastmod).cast("long")


def sitemap_seed_frame(hosts: DataFrame, fabric_cfg: FabricConfig,
                       host_col: str = "host", transport_factory=None,
                       partitions: int = 32) -> DataFrame:
    """hosts -> robots Sitemap lines -> (one level of sitemapindex) ->
    ``(host, loc, lastmod, sm_priority)`` page-URL seed rows, host-scope
    enforced throughout; ``lastmod``/``sm_priority`` carry the protocol's
    optional scheduling elements (NULL when never advertised).

    Feed the result straight into ``urls_to_frontier`` (the ``loc``
    column is a full URL; ``priority=sitemap_seed_priority()`` turns the
    scheduling elements into the crawl order)."""
    robots = fetch_robots(hosts, fabric_cfg, host_col, transport_factory,
                          partitions)
    # sm is consumed by THREE plan branches (l0 fetch, index cycle guard,
    # urlset explode via ok0) and l0 by two; without a barrier each action
    # re-runs the robots/sitemap mapInPandas fetches, duplicating real
    # network traffic and — with a non-deterministic transport — letting
    # the branches observe DIFFERENT fetch outcomes.  Eager-checkpoint
    # both (the _finish_pairs discipline from dedup), release on exit.
    sm = (
        robots.filter(F.col("fetch_status") == 200)
        .select("host",
                F.explode(robots_sitemaps(F.col("robots_txt")))
                .alias("sitemap_url"))
        .filter(loc_host_matches(F.col("sitemap_url"), F.col("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    l0 = fetch_sitemap_urls(sm, fabric_cfg, transport_factory, partitions
                            ).localCheckpoint(eager=True)
    ok0 = l0.filter(F.col("fetch_status") == 200)
    children = (
        ok0.filter(sitemap_is_index(F.col("body")))
        .select("host",
                F.explode(sitemap_locs(F.col("body"))).alias("sitemap_url"))
        .filter(loc_host_matches(F.col("sitemap_url"), F.col("host")))
        .distinct()
        # cycle guard: an index entry pointing back at a level-0 sitemap
        # is not fetched again
        .join(sm, ["host", "sitemap_url"], "left_anti")
    )
    l1 = fetch_sitemap_urls(children, fabric_cfg, transport_factory,
                            partitions)
    urlsets = (
        ok0.filter(~sitemap_is_index(F.col("body")))
        .unionByName(
            l1.filter(F.col("fetch_status") == 200)
            # index-of-index is illegal per the protocol: deeper levels
            # are dropped, never recursed
            .filter(~sitemap_is_index(F.col("body")))
        )
    )
    seeds = (
        urlsets.select("host",
                       F.explode(sitemap_entries(F.col("body"))).alias("e"))
        .select("host", F.col("e.loc").alias("loc"),
                F.col("e.lastmod").alias("lastmod"),
                F.col("e.priority").alias("sm_priority"))
        .filter(loc_host_matches(F.col("loc"), F.col("host")))
        # a loc listed by several sitemaps (or twice in one) collapses to
        # one seed row: LATEST lastmod (ISO-8601 is lexicographic) and
        # HIGHEST advertised priority win — max-aggregation keeps NULL
        # only when every occurrence omitted the element
        .groupBy("host", "loc")
        .agg(F.max("lastmod").alias("lastmod"),
             F.max("sm_priority").alias("sm_priority"))
        # materialize the (small: host+url strings) seed list so the two
        # fetch barriers can be released before returning; the caller gets
        # a frame with no live dependency on sm/l0
        .localCheckpoint(eager=True)
    )
    release_local_checkpoint(l0)
    release_local_checkpoint(sm)
    return seeds
