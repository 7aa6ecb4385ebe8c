"""Crawler-trap detection: per-host URL-template explosion guard.

At north_rule scale (a 10^10-URL frontier) the classic failure mode is a
crawler trap: calendars, session-ids, faceted search and pagination mint
an unbounded URL space under one path shape, and a frontier without a
guard spends its entire budget inside one host's infinite corner.  The
reference scanner is seed-list-driven so it cannot loop this way
(/root/reference/httpz_scanner/scanner.py feeds fixed input files); a
frontier crawler re-discovers URLs, so the guard is a REQUIRED new
component, not a port.

Design (all native expressions — no Python in the hot path):

1. ``url_path_template`` collapses a URL's path to its shape: the query
   string and fragment drop, runs of hex (>= 8 chars, e.g. session ids
   and content hashes — long pure-digit runs also qualify: both are
   high-entropy tokens, and RE2-targeted portability rules out a
   lookahead that would insist on a letter) collapse to ``{H}`` and
   shorter digit runs to ``{N}`` — ``/cal/2026-03-05`` and
   ``/cal/1999-12-31`` are the SAME template ``/cal/{N}-{N}-{N}``.
2. ``trap_templates`` is ONE hash aggregation over (host, template)
   counting distinct URLs; templates above ``max_urls`` are traps.  At
   scale this is map-side combinable and shuffles only (host, template)
   pairs — far smaller than the frontier itself.
3. ``frontier_detrap`` keeps every URL of healthy templates untouched and
   caps trapped templates at ``keep`` URLs, dropping the rest: the
   one-shot batch operator.  The trap list is tiny by construction (it
   is the HAVING > max_urls tail), so it rides a broadcast join; the
   rank window runs ONLY over rows of trapped templates (a vanishing
   fraction of the frontier), never globally.
4. The crawl engine (``EngineConfig.trap_max_urls``) throttles instead of
   dropping: ``CrawlEngine._schedule`` flags a trapped template's rows
   beyond its ``keep`` smallest URLs as ``held``, and
   ``politeness_schedule`` defers them (they stay in the frontier) unranked.

Deterministic: the per-template survivors are the ``keep`` smallest URLs
in lexicographic order — reproducible across runs and engines, which the
REAL-SQL oracle (★trap_templates / ★frontier_detrap) checks row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# order matters: hex runs first (a hex run contains digit runs), then
# digit runs.  Mirrored verbatim in the DuckDB oracle (with the 'g' flag —
# Spark's regexp_replace is global by default, DuckDB's is not).
_SCHEME_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"
_QUERY_FRAG_RE = r"[?#].*$"
_HEX_RUN_RE = r"[0-9a-f]{8,}"
_DIGIT_RUN_RE = r"[0-9]+"


def url_path_template(url: Column | str) -> Column:
    """The trap-detection shape of a URL's path (native expression).

    The scheme+authority strip and the query/fragment strip run as ONE
    global-replace pass over an alternation: the scheme branch is
    ``^``-anchored so it can only fire at position 0, and the
    query-fragment branch consumes to end-of-string, so the combined scan
    replaces exactly the same spans as the documented two-pass form (the
    oracle SQL keeps the two separate ``regexp_replace`` calls;
    equivalence is pinned by a property test over adversarial URLs).
    Three regex passes per URL instead of four — this expression is
    evaluated twice per detrap call (derivation + frontier pass), so it
    is the operator's single hottest kernel."""
    c = F.col(url) if isinstance(url, str) else url
    path = F.regexp_replace(
        c, f"{_SCHEME_HOST_RE}|{_QUERY_FRAG_RE}", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.regexp_replace(
        F.regexp_replace(path, _HEX_RUN_RE, "{H}"), _DIGIT_RUN_RE, "{N}"
    )


def trap_templates(
    frontier: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    max_urls: int = 1000,
) -> DataFrame:
    """(host, template, n_urls) for every template minting more than
    ``max_urls`` distinct URLs on one host — the trap list."""
    return (
        frontier.select(
            F.col(host_col).alias("host"),
            url_path_template(F.col(url_col)).alias("template"),
            F.col(url_col).alias("_u"),
        )
        .groupBy("host", "template")
        .agg(F.countDistinct("_u").alias("n_urls"))
        .filter(F.col("n_urls") > max_urls)
    )


def frontier_detrap(
    frontier: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    max_urls: int = 1000,
    keep: int = 64,
) -> DataFrame:
    """Frontier with trapped templates capped at the ``keep``
    lexicographically-smallest DISTINCT URLs each (all rows of a
    surviving URL pass; for a URL-unique frontier — the engine's
    invariant — that is exactly ``keep`` rows).  Healthy templates pass
    untouched; a ``trapped`` flag records the intervention.

    Plan shape (threshold formulation): instead of a
    union-of-filtered-branches (which scans the frontier once per branch
    — measured 21.3s at 4M rows), compute each trapped template's
    ``keep``-th smallest distinct URL as a tiny broadcast THRESHOLD table
    (distinct + rank over only the trapped subset, WindowGroupLimit
    pushes the top-k below its shuffle), then keep every row with
    ``url <= threshold`` in ONE pass over the frontier with a single
    broadcast join of the merged trap+threshold guard table.  A trapped
    template with fewer than ``keep`` distinct URLs has a NULL threshold
    and keeps everything.  The window never touches the healthy majority.
    """
    t = frontier.withColumn("template", url_path_template(F.col(url_col)))
    wd = Window.partitionBy("host", "template").orderBy(F.col("_u"))
    # ONE materialized distinct pass feeds BOTH the trap counts and the
    # thresholds.  The lazy formulation planned the identical distinct
    # subtree under two broadcast subqueries plus the count — and because
    # broadcast-subquery jobs run on CONCURRENT driver threads, runtime
    # exchange reuse does NOT collapse them: stage metrics at 4M rows
    # showed the template+distinct map evaluated THREE times (~330 of ~530
    # total core-seconds).  Persisting the distinct triple and eagerly
    # checkpointing the two tiny derived tables (trap list + thresholds —
    # both bounded by |frontier|/max_urls, the size the old plan already
    # broadcast) runs the distinct once and lets the cache release before
    # return.  The returned plan is then a pure two-broadcast-join map
    # over the frontier.
    d = t.select(F.col(host_col).alias("host"), "template",
                 F.col(url_col).alias("_u")).distinct().persist()
    try:
        traps = (
            d.groupBy("host", "template")
            .agg(F.count(F.lit(1)).alias("n_urls"))
            .filter(F.col("n_urls") > max_urls)
            .localCheckpoint(eager=True)
        )
        thr = (
            d.join(F.broadcast(traps.select("host", "template")),
                   ["host", "template"])
            .withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == keep)
            .select("host", "template", F.col("_u").alias("_thr"))
        )
        # one guard table instead of two: every trapped template, with
        # its keep-th-smallest distinct URL where one exists (NULL =
        # fewer than ``keep`` distinct URLs -> keep everything).  The
        # frontier pass below then pays ONE broadcast join, not two.
        guard = (
            traps.select("host", "template")
            .join(F.broadcast(thr), ["host", "template"], "left")
            .localCheckpoint(eager=True)
        )
    finally:
        d.unpersist(blocking=False)
    guard_b = F.broadcast(guard.withColumn("_trap", F.lit(True)))
    return (
        t.join(guard_b, ["host", "template"], "left")
        .filter(
            F.col("_trap").isNull()
            | F.col("_thr").isNull()
            | (F.col(url_col) <= F.col("_thr"))
        )
        .withColumn("trapped", F.col("_trap").isNotNull())
        .drop("_trap", "_thr")
    )
