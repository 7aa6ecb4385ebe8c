"""Adaptive per-host politeness: AIMD budgets from observed fetch latency
(operators/politeness.py:aimd_host_budgets), applied through
politeness_schedule's host_budgets broadcast join and persisted by the
engine in the host_budgets state table."""

import shutil
import tempfile

from pyspark.sql import functions as F

from httpz_spark.operators.politeness import (
    aimd_host_budgets,
    politeness_schedule,
)
from httpz_spark.sources import fabric as FB
from tests.test_frontier import make_engine, seed_df

WORLD = FB.FabricConfig(n_images=64, n_hosts=12).with_certs()


def _results(spark, rows):
    return spark.createDataFrame(
        rows, "host string, latency_ms double, error_type string")


def test_aimd_update_rule(spark):
    """Multiplicative decrease on degradation (median latency OR any
    TIMEOUT), additive increase to the default cap otherwise."""
    res = _results(spark, [
        ("slow.test", 2000.0, None), ("slow.test", 3000.0, None),
        ("ok.test", 10.0, None), ("ok.test", 20.0, None),
        ("to.test", 5.0, "TIMEOUT"), ("to.test", 5.0, None),
    ])
    got = {r["host"]: r["budget"]
           for r in aimd_host_budgets(res, None, default_budget=100).collect()}
    # no prior state: old = default; slow/timeout halve, healthy stays capped
    assert got == {"slow.test": 50, "ok.test": 100, "to.test": 50}

    prev = spark.createDataFrame(
        [("slow.test", 50), ("ok.test", 40)], "host string, budget int")
    got2 = {r["host"]: r["budget"]
            for r in aimd_host_budgets(res, prev, default_budget=100).collect()}
    # second slow wave halves again; recovered host earns +1; unseen-in-prev
    # timeout host starts at default then halves
    assert got2 == {"slow.test": 25, "ok.test": 41, "to.test": 50}
    # the floor: a degraded host is probed gently, never dropped to zero
    floor = {r["host"]: r["budget"]
             for r in aimd_host_budgets(
                 res, spark.createDataFrame([("slow.test", 1)],
                                            "host string, budget int"),
                 default_budget=100).collect()}
    assert floor["slow.test"] == 1


def test_politeness_schedule_applies_host_budgets(spark):
    """The adaptive cap composes with the robots/default budget via
    least() — it can only shrink a host's wave, never exceed the default
    — and the plan still carries exactly the two rank windows of the
    two-phase top-k (the budgets join adds none)."""
    rows = [("a.test", f"/p{i}", i, i * 7 + 1) for i in range(6)] + \
           [("b.test", f"/p{i}", i, i * 11 + 2) for i in range(6)]
    df = spark.createDataFrame(
        rows, "host string, path string, priority long, url_hash long")
    hb = spark.createDataFrame(
        [("a.test", 2), ("b.test", 99)], "host string, budget int")
    ranked = politeness_schedule(df, None, default_budget=4,
                                 host_budgets=hb)
    sched = {h: n for h, n in
             ranked.filter("scheduled").groupBy("host").count().collect()}
    assert sched == {"a.test": 2, "b.test": 4}  # least(default, adaptive)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2
    # hosts absent from the budgets table fall back to the default
    df2 = df.withColumn("host", F.concat(F.col("host"), F.lit(".x")))
    sched2 = {h: n for h, n in
              politeness_schedule(df2, None, default_budget=4,
                                  host_budgets=hb)
              .filter("scheduled").groupBy("host").count().collect()}
    assert sched2 == {"a.test.x": 4, "b.test.x": 4}


def test_engine_adaptive_budgets_shrink_slow_hosts(spark):
    """Deterministic fabric crawl with adaptive_politeness on: after wave
    0 the host_budgets table equals the python AIMD model over the wave's
    observed latencies — slow hosts (median > slow_latency_ms) halved,
    healthy ones at the default — and wave 1 schedules within the shrunk
    budgets."""
    sd = tempfile.mkdtemp(prefix="adap_engine_")
    try:
        eng = make_engine(spark, WORLD, sd, adaptive_politeness=True,
                          slow_latency_ms=60.0)
        eng.init_frontier(seed_df(spark, WORLD))
        eng.run_wave(0)
        out = eng.store.read("results")
        model = {}
        for r in out.groupBy("host").agg(
            F.expr("percentile(latency_ms, 0.5)").alias("med"),
            F.sum(F.when(F.col("error_type") == "TIMEOUT", 1).otherwise(0)
                  ).alias("nto"),
        ).collect():
            slow = r["med"] > 60.0 or r["nto"] > 0
            model[r["host"]] = 2 if slow else 4  # default 4: 4//2 or cap
        got = {r["host"]: r["budget"]
               for r in eng.store.read("host_budgets").collect()}
        assert got == model
        shrunk = {h for h, b in got.items() if b < 4}
        assert shrunk and len(shrunk) < len(got)  # both classes present
        # wave 1 honors the shrunk caps: no shrunk host fetches > budget
        eng.run_wave(1)
        w1 = eng.store.read("results").filter(F.col("wave_id") == 1)
        per_host = {r["host"]: r["n"]
                    for r in w1.groupBy("host").agg(
                        F.count("*").alias("n")).collect()}
        for h, n in per_host.items():
            assert n <= got.get(h, 4), (h, n, got.get(h))
    finally:
        shutil.rmtree(sd, ignore_errors=True)
