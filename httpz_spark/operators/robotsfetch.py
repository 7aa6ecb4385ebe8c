"""Robots-table builder: fetch ``/robots.txt`` per host and parse it into
the politeness table the wave planner consumes.

The engine's politeness layer (``operators/politeness.py``) enforces a
``robots`` table of ``host, crawl_delay_ms, per_wave_budget, disallow``;
the synthetic table (``sources/synthetic.robots_df``) is the test stand-in.
This module is the production builder: one fetch per DISTINCT host (a
vanishing fraction of crawl traffic) through the engine's first-200
document fetch
(:func:`~httpz_spark.operators.fetch.make_document_fetch_stage` over
``https://<host>/robots.txt``, http fallback on any error or non-200,
512 KiB cap), then a fully-native parse
(:mod:`httpz_spark.functions.robotsx`).

Scale shape: ``hosts.distinct()`` -> repartition -> the one document
fetch stage -> native parse projection.  No shuffle beyond the distinct;
the result is broadcast-joined by the wave planner exactly like the
synthetic table was.

Status semantics (documented subset): only a 200 body contributes rules;
missing/4xx/5xx/unreachable hosts get the allow-all default row with
``fetch_status`` preserved, so a caller wanting RFC 9309's
5xx-means-disallow paranoia can filter on it.

The reference scanner has no robots handling (north_rule-new surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from httpz_spark.functions.robotsx import robots_columns
from httpz_spark.operators.fetch import DOCUMENT_COLUMNS, make_document_fetch_stage
from httpz_spark.sources.fabric import FabricConfig

MAX_ROBOTS_BYTES = 512 * 1024  # RFC 9309 requires parsers to accept >=500 KiB

ROBOTS_FETCH_SCHEMA = "host string, fetch_status int, robots_txt string, error_type string"


def fetch_robots(hosts: DataFrame, fabric_cfg: FabricConfig,
                 host_col: str = "host", transport_factory=None,
                 partitions: int = 32) -> DataFrame:
    """One robots fetch per distinct host -> ``ROBOTS_FETCH_SCHEMA``."""
    stage = make_document_fetch_stage(fabric_cfg, "robots_url", ["host"],
                                      MAX_ROBOTS_BYTES, transport_factory)
    return (
        hosts.select(F.col(host_col).alias("host")).distinct()
        .repartition(partitions)
        .withColumn("robots_url",
                    F.concat(F.lit("https://"), F.col("host"),
                             F.lit("/robots.txt")))
        .mapInPandas(stage, schema=f"host string, {DOCUMENT_COLUMNS}")
        .withColumnRenamed("body", "robots_txt")
    )


def robots_from_texts(fetched: DataFrame, default_delay_ms: int = 1000,
                      wave_window_ms: int = 10_000,
                      max_budget: int = 1000) -> DataFrame:
    """Parse fetched robots bodies into the politeness-table shape.

    ``per_wave_budget`` derives from the crawl delay: the number of
    requests a polite crawler may issue to the host inside one wave window
    (``wave_window_ms / crawl_delay_ms``), clamped to [1, max_budget] —
    robots.txt itself has no budget concept, so the derivation is the
    engine's documented policy knob.  Hosts without a 200 body get the
    allow-all default (delay = ``default_delay_ms``); ``fetch_status``
    rides along for callers that want stricter unreachable-host policy."""
    parsed = robots_columns(F.col("robots_txt"), default_delay_ms)
    delay = F.when(
        F.col("fetch_status") == 200, parsed.getField("crawl_delay_ms")
    ).otherwise(F.lit(default_delay_ms))
    disallow = F.when(
        F.col("fetch_status") == 200, parsed.getField("disallow")
    ).otherwise(F.array().cast("array<string>"))
    allow = F.when(
        F.col("fetch_status") == 200, parsed.getField("allow")
    ).otherwise(F.array().cast("array<string>"))
    budget = F.least(
        F.greatest(
            F.floor(F.lit(wave_window_ms) / F.greatest(delay, F.lit(1)))
            .cast("int"),
            F.lit(1),
        ),
        F.lit(max_budget),
    )
    return fetched.select(
        "host",
        delay.alias("crawl_delay_ms"),
        budget.alias("per_wave_budget"),
        disallow.alias("disallow"),
        allow.alias("allow"),
        F.col("fetch_status"),
    )


def build_robots_table(hosts: DataFrame, fabric_cfg: FabricConfig,
                       host_col: str = "host", transport_factory=None,
                       partitions: int = 32, default_delay_ms: int = 1000,
                       wave_window_ms: int = 10_000,
                       max_budget: int = 1000) -> DataFrame:
    """hosts -> fetched -> parsed politeness table (ROBOTS_SCHEMA columns
    + ``fetch_status``).  Drop ``fetch_status`` to feed ``CrawlEngine``
    directly."""
    fetched = fetch_robots(hosts, fabric_cfg, host_col, transport_factory,
                           partitions)
    return robots_from_texts(fetched, default_delay_ms, wave_window_ms,
                             max_budget)
