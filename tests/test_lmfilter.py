"""CCNet-style LM perplexity filter — operator tests."""

import math
import os

import pytest
from pyspark.sql import functions as F

from httpz_spark.operators.lmfilter import (
    lm_perplexity,
    lm_train,
    ppl_buckets,
)

SF_DIR = os.environ.get("HTTPZ_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def lm(spark):
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    ref = d.filter(F.pmod("doc_id", F.lit(10)) == 3)
    bigrams, contexts, vocab = lm_train(ref)
    return d, ref, bigrams.localCheckpoint(), contexts.localCheckpoint(), vocab


def test_reference_scores_lower_ppl(lm):
    """The filter's whole point: in-domain (reference) text must score
    lower perplexity than out-of-domain text under the reference LM."""
    d, ref, bg, cx, V = lm
    rest = d.filter(F.pmod("doc_id", F.lit(10)) != 3)
    mean = lambda df: df.agg(F.avg("ppl")).collect()[0][0]
    assert mean(lm_perplexity(ref, bg, cx, V)) < mean(lm_perplexity(rest, bg, cx, V))


def test_unseen_context_uniform_logp(spark, lm):
    """A doc of entirely out-of-vocabulary tokens: every bigram past the
    first has an unseen context, scoring the uniform ln(k/(k·V)) = -ln(V);
    the first bigram's context is <s> (seen: once per reference doc)."""
    d, ref, bg, cx, V = lm
    n_ref_docs = ref.count()
    doc = spark.createDataFrame([(1, "zzqx1 zzqx2 zzqx3")], ["doc_id", "text"])
    row = lm_perplexity(doc, bg, cx, V).collect()[0]
    first = math.log(0.5 / (n_ref_docs + 0.5 * V))
    uniform = -math.log(V)
    expect = (round(first, 9) + 2 * round(uniform, 9)) / 3
    assert row["n_scored"] == 3
    assert abs(row["avg_logp"] - expect) < 1e-8


def test_empty_doc_scores_null(spark, lm):
    _, _, bg, cx, V = lm
    doc = spark.createDataFrame([(1, ""), (2, "   "), (3, "hello")],
                                ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in lm_perplexity(doc, bg, cx, V).collect()}
    assert rows[1]["n_scored"] == 0 and rows[1]["ppl"] is None
    assert rows[2]["n_scored"] == 0 and rows[2]["ppl"] is None
    assert rows[3]["n_scored"] == 1 and rows[3]["ppl"] is not None


def test_partition_order_independence(lm):
    """Decimal quantization makes the per-doc sum exact: the same corpus
    scored under different partitionings is bit-identical."""
    d, _, bg, cx, V = lm
    rest = d.filter(F.pmod("doc_id", F.lit(10)) != 3)
    a = {r["doc_id"]: (r["n_scored"], r["avg_logp"])
         for r in lm_perplexity(rest.repartition(1), bg, cx, V).collect()}
    b = {r["doc_id"]: (r["n_scored"], r["avg_logp"])
         for r in lm_perplexity(rest.repartition(16, "doc_id"), bg, cx, V).collect()}
    assert a == b


def test_buckets_and_cutoffs(lm):
    d, _, bg, cx, V = lm
    rest = d.filter(F.pmod("doc_id", F.lit(10)) != 3)
    scored = lm_perplexity(rest, bg, cx, V).localCheckpoint()
    # exact corpus tertiles, applied as constants
    c1, c2 = scored.agg(F.percentile("ppl", F.lit(1.0 / 3)),
                        F.percentile("ppl", F.lit(2.0 / 3))).collect()[0]
    assert c1 < c2
    out = ppl_buckets(scored, c1, c2)
    counts = {r["ppl_bucket"]: r["n"] for r in
              out.groupBy("ppl_bucket").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    # exact tertiles: each bucket holds about a third
    for b in ("head", "middle", "tail"):
        assert counts[b] >= total * 0.2
    for r in out.collect():
        if r["ppl"] <= c1:
            assert r["ppl_bucket"] == "head"
        elif r["ppl"] <= c2:
            assert r["ppl_bucket"] == "middle"
        else:
            assert r["ppl_bucket"] == "tail"


def test_null_ppl_goes_to_tail(spark, lm):
    _, _, bg, cx, V = lm
    doc = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    out = ppl_buckets(lm_perplexity(doc, bg, cx, V), 30.0, 40.0)
    assert out.collect()[0]["ppl_bucket"] == "tail"


def test_shuffle_join_fallback_identical(lm):
    d, _, bg, cx, V = lm
    rest = d.filter(F.pmod("doc_id", F.lit(10)) != 3)
    a = {r["doc_id"]: r["avg_logp"]
         for r in lm_perplexity(rest, bg, cx, V, broadcast_lm=True).collect()}
    b = {r["doc_id"]: r["avg_logp"]
         for r in lm_perplexity(rest, bg, cx, V, broadcast_lm=False).collect()}
    assert a == b
