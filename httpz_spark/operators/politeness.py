"""Politeness scheduling — THE core new operator (SURVEY.md §2 Part B).

The reference's politeness story is just a global in-flight cap
(``scanner.py:430-440``); the north_rule requires a host-keyed priority
queue with robots budgets.  Spark-first shape:

* robots is a small per-host table -> **broadcast join** (no shuffle);
* the per-host budget is a **window top-k**:
  ``row_number() over (partition by host order by priority, url_hash)``
  — deterministic crawl order (wave, priority, url_hash) falls out of the
  same window;
* hot-host skew in the *fetch* stage is handled by salted repartitioning:
  ``repartition(P, host, pmod(url_hash, salt))`` spreads a hot host across
  ``salt`` partitions while keeping unrelated hosts co-located (SURVEY §4
  O12).  The dedup join's skew is AQE's job (skewJoin enabled in the
  session factory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from httpz_spark.functions.robotsx import robots_path_allowed, robots_rules


def politeness_schedule(
    df: DataFrame,
    robots: DataFrame | None,
    default_budget: int,
    host_col: str = "host",
    path_col: str = "path",
    pre_salt: int = 16,
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Adds ``sched_rank`` (1-based per-host rank in crawl order) and
    ``scheduled`` (rank <= budget); drops robots-disallowed paths.

    Callers split on ``scheduled``: selected rows fetch this wave, the rest
    stay in the frontier (budget-deferred, re-ranked next wave).

    Hot-host scale shape (``pre_salt > 1``): a single window over
    ``partitionBy(host)`` sorts one hot host's 10^8 pending URLs in ONE
    task.  Instead, ranks are computed DISTRIBUTED and stay exact: rows
    bucket by the high ``log2(pre_salt)`` bits of ``url_hash`` (an
    arithmetic shift, so bucket order == url_hash order), each (host,
    priority, bucket) ranks locally in parallel, and a prefix sum over the
    tiny per-bucket counts table converts local ranks to exact global
    per-host ranks.  Output is identical to the single-window path row for
    row, including deferred rows' ranks (property-tested); the largest
    sort anywhere is ~1/pre_salt of the hottest host.
    """
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
        df = df.filter(robots_path_allowed(F.col(path_col), F.col("_rules")))
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

    order = [F.col("priority"), F.col("url_hash")]
    if pre_salt and pre_salt > 1:
        # distributed EXACT per-host rank, no full-host sort anywhere:
        # 1. bucket rows by the high bits of url_hash — an arithmetic
        #    shift preserves signed order, so (priority, bucket, url_hash)
        #    sorts identically to (priority, url_hash);
        # 2. rank locally within (host, priority, bucket) — each window
        #    partition holds ~1/S of the host, fully parallel;
        # 3. prefix-sum the bucket counts per host (a window over the TINY
        #    per-bucket counts table) to get each bucket's rank offset;
        # 4. exact global rank = offset + local rank.
        bits = max(1, (pre_salt - 1).bit_length())
        bucket = F.shiftright(F.col("url_hash"), 64 - bits)
        df = df.withColumn("_pb", F.col("priority")).withColumn("_hb", bucket)
        # counts first (they don't need ranks) so the rank window below is
        # computed exactly once — the offsets join broadcasts the tiny
        # counts table onto the windowed side
        cnt = df.groupBy(host_col, "_pb", "_hb").agg(F.count("*").alias("_n"))
        woff = (
            Window.partitionBy(host_col)
            .orderBy("_pb", "_hb")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off = cnt.withColumn("_off", F.coalesce(F.sum("_n").over(woff), F.lit(0)))
        wl = Window.partitionBy(F.col(host_col), F.col("_pb"), F.col("_hb")).orderBy(
            F.col("url_hash")
        )
        df = df.withColumn("_lr", F.row_number().over(wl))
        df = df.join(off.select(host_col, "_pb", "_hb", "_off"),
                     [host_col, "_pb", "_hb"])
        df = df.withColumn(
            "sched_rank", (F.col("_off") + F.col("_lr")).cast("int")
        )
        df = df.withColumn("scheduled", F.col("sched_rank") <= budget)
        df = df.drop("_pb", "_hb", "_lr", "_off")
    else:
        w = Window.partitionBy(host_col).orderBy(*order)
        df = df.withColumn("sched_rank", F.row_number().over(w))
        df = df.withColumn("scheduled", F.col("sched_rank") <= budget)
    return df.drop("_budget", "_rules", "_abudget")


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


def salted_repartition(df: DataFrame, partitions: int, target: int) -> DataFrame:
    """Fetch-stage layout: co-locate by host but fan hot hosts out over
    salt partitions (politeness budgets were already applied upstream, so
    spreading a host does not break them).

    The politeness window already assigned every scheduled row its
    per-host rank ``sched_rank``, so ``floor((rank-1)/target)`` is a FREE, deterministic,
    perfectly-balanced salt — each (host, salt) bucket holds at most
    ``target`` rows exactly (no hash variance, no extra pass, no per-host
    count agg; a fixed hash fan-out measured fetch-stage 4→16-core
    efficiency 0.48 vs 0.85 uniform).  Cold hosts (≤ target rows) stay
    whole for a real transport's connection reuse."""
    salt = F.floor((F.col("sched_rank") - 1) / F.lit(target))
    return df.repartition(partitions, F.col("host"), salt)
