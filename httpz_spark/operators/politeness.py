"""Politeness scheduling — THE core new operator (SURVEY.md §2 Part B).

The reference's politeness story is just a global in-flight cap
(``scanner.py:430-440``); the north_rule requires a host-keyed priority
queue with robots budgets.  Spark-first shape:

* robots is a small per-host table -> **broadcast join** (no shuffle);
* the per-host budget is an exact **two-phase window top-k** equal to
  ``row_number() over (partition by host order by priority, url_hash)
  <= budget`` — deterministic crawl order (wave, priority, url_hash) —
  without sorting a hot host's whole pending set in one task
  (``politeness_schedule``);
* hot-host skew in the *fetch* stage is handled by salted repartitioning
  on the politeness rank: a host's scheduled rows split into runs of
  ``HOT_HOST_ROWS`` (``salted_repartition``).  The dedup join's skew is
  AQE's job (skewJoin enabled in the session factory).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from httpz_spark.functions.robotsx import robots_path_allowed, robots_rules

# scheduled rows per (host, salt) fetch partition; a host with at most this
# many rows in a wave stays in one partition (salted_repartition)
HOT_HOST_ROWS = 64


def politeness_schedule(
    df: DataFrame,
    robots: DataFrame | None,
    default_budget: int,
    host_col: str = "host",
    path_col: str = "path",
    host_budgets: DataFrame | None = None,
    held: Column | None = None,
) -> DataFrame:
    """Adds ``scheduled`` (the row is among its host's first ``budget``
    rows in (priority, url_hash) order) and ``sched_rank`` (that 1-based
    per-host rank on scheduled rows, NULL on deferred ones); drops
    robots-disallowed paths.

    Callers split on ``scheduled``: selected rows fetch this wave, the rest
    stay in the frontier (budget-deferred, re-ranked next wave).

    ``held`` (a boolean predicate over ``df``; NULL counts as not held)
    marks rows the caller defers outright — the engine's crawler-trap
    overflow.  Held rows pass through unranked: ``scheduled=false``, NULL
    ``sched_rank``, exempt from the robots filter (they are not fetched
    this wave), and they take no host-budget slot — the budget goes to the
    host's first non-held rows.  ``held=None`` plans exactly as without it.

    Two-phase exact top-k, one read of ``df``:

    1. rows bucket by the top 4 bits of ``url_hash`` (``_hb``, 16 buckets)
       and rank locally, ``_lr`` over (host, ``_hb``).  A row is a
       *candidate* when ``_lr <= budget``.  A row's local rank never
       exceeds its global rank, so every row of global rank <= budget is a
       candidate, and so is every row ahead of such a row;
    2. candidates rank again over (host) alone, non-candidates stay split
       by bucket.  Among candidates a row of global rank <= budget keeps
       exactly that rank (every row ahead of it is a candidate) and every
       other candidate ranks above ``budget`` — so ``scheduled`` and the
       scheduled rows' ``sched_rank`` equal the single host window's.

    Cost bound: phase 1 sorts ~1/16 of a host per window partition; phase
    2 sorts at most 16 x budget candidates per host (non-candidates stay
    split by bucket).  So a host sorts all its pending rows in one
    partition only when they number at most 16 x budget; when its budget
    covers them all, they are the rows the wave then fetches for that host
    anyway.
    """
    if held is not None:
        # materialized before the robots join: a held row must survive the
        # Disallow filter and rank in a window of its own
        df = df.withColumn("_held", F.coalesce(held, F.lit(False)))
    if robots is not None:
        # RFC 9309 enforcement: patterns (prefix + '*'/'$' wildcards) are
        # COMPILED on the tiny robots side before the broadcast (one struct
        # array per host), so the per-frontier-row work is a short
        # filter+array_max over pre-built rules — plain prefixes via
        # startswith, wildcard rules via pre-translated anchored regexes;
        # longest match wins, Allow wins ties (robotsx.robots_path_allowed)
        allow_src = (
            F.col("allow") if "allow" in robots.columns
            else F.array().cast("array<string>")
        )
        r = F.broadcast(
            robots.select(
                F.col("host").alias("_rhost"),
                F.col("per_wave_budget").alias("_budget"),
                robots_rules(F.col("disallow"), allow_src).alias("_rules"),
            )
        )
        df = df.join(r, df[host_col] == F.col("_rhost"), "left").drop("_rhost")
        allowed = robots_path_allowed(F.col(path_col), F.col("_rules"))
        df = df.filter(allowed if held is None else allowed | F.col("_held"))
        budget = F.coalesce(F.col("_budget"), F.lit(default_budget))
    else:
        budget = F.lit(default_budget)
    if host_budgets is not None:
        # adaptive (AIMD) per-host caps from observed fetch behavior — a
        # second tiny broadcast join; the effective budget can only SHRINK
        # below the robots/default one, never exceed it
        ab = F.broadcast(host_budgets.select(
            F.col("host").alias("_abhost"), F.col("budget").alias("_abudget")
        ))
        df = df.join(ab, df[host_col] == F.col("_abhost"), "left").drop("_abhost")
        budget = F.least(budget, F.coalesce(F.col("_abudget"), budget))

    host, order = F.col(host_col), [F.col("priority"), F.col("url_hash")]
    # held rows rank apart in phase 1 (so they never push a non-held row's
    # local rank past its budget) and are never candidates
    local = [host, F.col("_hb")] + ([] if held is None else [F.col("_held")])
    df = df.withColumn("_hb", F.shiftright(F.col("url_hash"), 60))
    df = df.withColumn("_lr", F.row_number().over(
        Window.partitionBy(*local).orderBy(*order)))
    cand = F.col("_lr") <= budget
    if held is not None:
        cand = cand & ~F.col("_held")
    df = df.withColumn("sched_rank", F.row_number().over(
        Window.partitionBy(host, cand, F.when(~cand, F.col("_hb")))
        .orderBy(*order)))
    df = df.withColumn("scheduled", cand & (F.col("sched_rank") <= budget))
    df = df.withColumn("sched_rank",
                       F.when(F.col("scheduled"), F.col("sched_rank")))
    return df.drop("_hb", "_lr", "_budget", "_rules", "_abudget", "_held")


def aimd_host_budgets(
    results: DataFrame,
    prev: DataFrame | None,
    default_budget: int,
    slow_latency_ms: float = 1000.0,
    min_budget: int = 1,
    host_col: str = "host",
) -> DataFrame:
    """AIMD update of per-host wave budgets from ONE wave's fetch
    results — the scheduler analogue of the reference's per-request
    timeout discipline (``scanner.py``'s fixed-timeout ClientSession): a
    host whose observed behavior degrades gets hit less hard next wave,
    a recovered host earns its budget back one slot at a time.

    Degraded = median ``latency_ms`` above ``slow_latency_ms`` OR any
    TIMEOUT rows this wave.  Multiplicative decrease ``max(min_budget,
    old // 2)``, additive increase ``min(default_budget, old + 1)`` —
    the classic stable/fair control rule (TCP congestion avoidance).
    ``prev`` is the current ``(host, budget)`` state (None on the first
    wave; absent hosts start at ``default_budget``).  Returns the updated
    ``(host, budget)`` rows for the hosts SEEN this wave (merge-upsert
    them over the state table).  One groupBy over the wave results plus a
    broadcast join against the tiny state table; deterministic
    (median via exact percentile on the per-host group)."""
    agg = results.groupBy(F.col(host_col).alias("host")).agg(
        F.expr("percentile(latency_ms, 0.5)").alias("_med"),
        F.sum(F.when(F.col("error_type") == "TIMEOUT", 1).otherwise(0)
              ).alias("_nto"),
    )
    if prev is not None:
        pb = F.broadcast(prev.select(F.col("host"),
                                     F.col("budget").alias("_old")))
        agg = agg.join(pb, "host", "left")
    else:
        agg = agg.withColumn("_old", F.lit(None).cast("int"))
    old = F.coalesce(F.col("_old"), F.lit(default_budget))
    slow = (F.col("_med") > F.lit(slow_latency_ms)) | (F.col("_nto") > 0)
    new = F.when(slow, F.greatest(F.lit(min_budget),
                                  F.floor(old / 2).cast("int"))) \
        .otherwise(F.least(F.lit(default_budget), old + F.lit(1)))
    return agg.select("host", new.cast("int").alias("budget"))


def salted_repartition(df: DataFrame, partitions: int) -> DataFrame:
    """Fetch-stage layout: co-locate by host but fan hot hosts out over
    salt partitions (politeness budgets were already applied upstream, so
    spreading a host does not break them).

    The politeness window already assigned every scheduled row its
    per-host rank ``sched_rank``, so ``floor((rank-1)/HOT_HOST_ROWS)`` is a
    FREE, deterministic, perfectly-balanced salt — each (host, salt) bucket
    holds at most ``HOT_HOST_ROWS`` rows exactly (no hash variance, no
    extra pass, no per-host count agg; a fixed hash fan-out measured
    fetch-stage 4→16-core efficiency 0.48 vs 0.85 uniform).  Cold hosts
    (≤ HOT_HOST_ROWS rows) stay whole for a real transport's connection
    reuse."""
    salt = F.floor((F.col("sched_rank") - 1) / F.lit(HOT_HOST_ROWS))
    return df.repartition(partitions, F.col("host"), salt)
