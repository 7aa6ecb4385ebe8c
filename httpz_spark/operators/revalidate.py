"""Conditional revalidation waves: If-None-Match / If-Modified-Since → 304.

The steady-state complement to :mod:`httpz_spark.operators.recrawl`: once
the scheduler decides a seen URL is WORTH refetching, the fetch itself
should be conditional — the engine recorded the page's cache validators
(``ETag`` / ``Last-Modified``) at the last crawl, sends them back, and a
``304 Not Modified`` costs a handshake instead of a body transfer + parse.
At north_rule scale (10^10 URLs, recrawl-dominated steady state) the
unchanged majority is exactly the traffic this removes; the reference
scanner is one-shot and has no revalidation surface, so this is new
engine capability, not a port.

Spark shape: ONE ``mapInPandas`` stage per wave, and it IS the crawl's
page fetch (:func:`~httpz_spark.operators.fetch.make_fetch_stage`): the
candidate batch carries ``etag`` / ``last_modified`` columns, which that
stage merges over the config's custom headers as ``If-None-Match`` /
``If-Modified-Since`` (retry ladder, protocol fallback, UA rotation, error
containment all shared).  Everything downstream of the stage — the
``not_modified`` flag and the refreshed validators for the seen-meta table
— is native column work over the result map, so the wave stays at exactly
one python stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from httpz_spark.config import ScanConfig
from httpz_spark.operators.fetch import apply_fetch_stage, make_fetch_stage
from httpz_spark.sources.fabric import FabricConfig


def revalidate_plan(
    candidates: DataFrame,
    cfg: ScanConfig,
    fabric_cfg: FabricConfig,
    transport_factory=None,
) -> DataFrame:
    """Conditional wave over ``candidates`` (``host, path, etag,
    last_modified`` — the recrawl output joined with the seen-meta
    validators; a row with NULL validators is an ordinary unconditional
    fetch).  Adds the fetch result columns plus:

    * ``not_modified`` — True iff the origin answered 304 (skip re-parse,
      keep the stored payload);
    * ``etag_new`` / ``last_modified_new`` — the response's validators
      (also present on 304s: the fabric, like RFC-compliant origins,
      re-sends them), the MERGE values for the seen-meta table.

    ``cfg`` must keep ``fetch_headers`` on — the validator refresh reads
    the response-header map."""
    df = (
        candidates
        .withColumn("scan_target", F.concat(F.col("host"), F.col("path")))
        .withColumn("port", F.lit(None).cast("int"))
        .withColumn("proto_first", F.lit("https"))
        .withColumn("proto_second", F.lit("http"))
    )
    passthrough = [("host", "string"), ("path", "string"),
                   ("etag", "string"), ("last_modified", "string")]
    stage = make_fetch_stage(
        cfg, fabric_cfg, [n for n, _t in passthrough],
        transport_factory=transport_factory,
    )
    out = apply_fetch_stage(df, passthrough, stage)
    return (
        out
        .withColumn("not_modified", F.col("status") == 304)
        .withColumn("etag_new", F.element_at("response_headers", F.lit("ETag")))
        .withColumn("last_modified_new",
                    F.element_at("response_headers", F.lit("Last-Modified")))
    )
