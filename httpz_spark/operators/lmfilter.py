"""Language-model perplexity filtering — the CCNet shape (Wenzek et al.
2020, "CCNet: Extracting high quality monolingual datasets from web crawl
data"): train an n-gram LM on a small high-quality reference corpus
(CCNet uses Wikipedia + KenLM 5-grams), score every crawl document by
perplexity under that LM, and bucket the corpus into head / middle / tail
by perplexity — the standard model-based quality signal LLaMA/RedPajama
pipelines reuse.

This engine's rebuild is a bigram LM with add-k smoothing — the KenLM
*pipeline shape* (train-on-reference, broadcast, score-everything) with a
deliberately SQL-expressible model so the DuckDB oracle can replay every
number exactly:

    logp(w | ctx) = ln( (count(ctx, w) + k) / (count(ctx) + k·V) )

with ``V`` = reference vocabulary size + 1 (the UNK slot).  Unseen
(ctx, w) degrades through the same formula with count 0; an unseen ctx
gives the uniform ``ln(k / kV) = -ln(V)``.

Scale shape (the part that matters at 100 TB of crawl text):

* The LM is trained on a BOUNDED reference corpus — thousands of docs,
  not the crawl — so both model tables (bigram counts + context counts)
  **broadcast**: scoring the crawl is a map-only bigram explode + two
  broadcast hash joins + ONE map-side-combined ``groupBy(doc)``.  The
  corpus is never shuffled on grams.  ``broadcast_lm=False`` falls back
  to shuffle equi-joins for an oversized reference.
* Per-doc aggregation sums the per-bigram log-probs as DECIMAL(20,9)
  (each summand rounded to 9 decimals first): decimal addition is exact
  and order-independent, so the result is bit-stable across partitionings
  and replayable by the oracle — a raw double sum would depend on
  partition order.

Reference analogue: none (the httpz scanner has no quality surface); this
is a training-data-pipeline operator (SURVEY.md §2 training-data family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from httpz_spark.functions.text import tokens_of as _tokens

BOS = "<s>"


def _bigram_pairs(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, ctx, w)`` — one row per bigram of ``<s> + tokens`` (map-only:
    zipped array slices, no window/lag shuffle)."""
    t = _tokens(F.col(text_col))
    a = F.concat(F.array(F.lit(BOS)), t)
    n = F.size(t)
    zipped = F.arrays_zip(
        F.slice(a, 1, n).alias("ctx"), F.slice(a, 2, n).alias("w")
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(zipped).alias("bg"))
        .select("id", F.col("bg.ctx").alias("ctx"), F.col("bg.w").alias("w"))
    )


def lm_train(
    ref_docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, int]:
    """Fit the bigram LM on the reference corpus: returns
    ``(bigrams (ctx, w, cnt), contexts (ctx, ctx_cnt), vocab_size)``.
    ``vocab_size`` = distinct reference tokens + 1 (UNK) — the single
    scalar this pulls to the driver (the model tables stay distributed
    until the scoring join broadcasts them)."""
    pairs = _bigram_pairs(ref_docs, text_col, id_col)
    bigrams = pairs.groupBy("ctx", "w").agg(F.count("*").alias("cnt"))
    contexts = pairs.groupBy("ctx").agg(F.count("*").alias("ctx_cnt"))
    vocab = (
        ref_docs.select(F.explode(_tokens(F.col(text_col))).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
        .collect()[0]["v"]
    )
    return bigrams, contexts, int(vocab) + 1


def lm_perplexity(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab_size: int,
    add_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document LM score: ``(doc_id, n_scored, avg_logp, ppl)`` where
    ``n_scored`` is the bigram count (0 for empty docs — their ``avg_logp``
    and ``ppl`` are NULL), ``avg_logp`` the mean smoothed bigram log-prob,
    ``ppl = exp(-avg_logp)``.  Lower perplexity = closer to the reference
    corpus (CCNet's "head")."""
    bg = bigrams.select("ctx", "w", "cnt")
    cx = contexts.select("ctx", "ctx_cnt")
    if broadcast_lm:
        bg, cx = F.broadcast(bg), F.broadcast(cx)
    k = float(add_k)
    pairs = _bigram_pairs(docs, text_col, id_col)
    logp = F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(k))
        / (F.coalesce(F.col("ctx_cnt"), F.lit(0)).cast("double")
           + F.lit(k * vocab_size))
    )
    scored = (
        pairs.join(bg, ["ctx", "w"], "left")
        .join(cx, ["ctx"], "left")
        .select("id", F.round(logp, 9).cast("decimal(20,9)").alias("logp_q"))
        .groupBy("id")
        .agg(F.count("*").alias("n"), F.sum("logp_q").alias("sum_q"))
    )
    # one-pass shape: every doc LEFT-joins its score row — an empty doc
    # misses (n NULL -> n_scored 0, NULL avg/ppl via NULL propagation).
    # A union-plus-anti-join would re-evaluate the whole bigram
    # explode+join+agg subtree inside the anti branch (AQE installs no
    # ReusedExchange across union branches).
    avg = F.col("sum_q").cast("double") / F.col("n").cast("double")
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_scored"),
            avg.alias("avg_logp"),
            F.exp(-avg).alias("ppl"),
        )
    )


def ppl_buckets(scored: DataFrame, head_max: float, middle_max: float,
                ppl_col: str = "ppl") -> DataFrame:
    """CCNet's head/middle/tail split at explicit perplexity cutoffs
    (CCNet computes the cutoffs as corpus tertiles offline and applies
    them as constants — same discipline here; NULL ppl → 'tail')."""
    p = F.col(ppl_col)
    return scored.withColumn(
        "ppl_bucket",
        F.when(p <= F.lit(float(head_max)), F.lit("head"))
        .when(p <= F.lit(float(middle_max)), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
