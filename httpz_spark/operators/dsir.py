"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023): pick the slice of a huge raw crawl that "looks like" a
small high-quality target corpus, by importance weights computed over
hashed n-gram features.

The published recipe (github.com/p-lambda/dsir, paper §3):

1. featurize every document as a bag of word unigrams + bigrams hashed
   into ``buckets`` slots (the paper uses 10,000);
2. fit two multinomial distributions over the buckets — ``p`` on the
   target corpus, ``q`` on the raw corpus (add-k smoothed here so both
   are SQL-replayable);
3. per-document log importance weight
   ``log w(x) = sum_b count_b(x) * (ln p_b - ln q_b)``;
4. select k documents by Gumbel-top-k over the weights — equivalent to
   sampling without replacement with probability proportional to
   ``w(x)`` (Kim et al. 2016; the dsir repo adds Gumbel noise the same
   way).

Scale shape (the part that matters at 100 TB of crawl text):

* The hashing is what makes the statistics BOUNDED: both fitted
  distributions and the log-likelihood-ratio table are exactly
  ``buckets`` rows regardless of corpus size, so the LLR table
  **broadcasts** and scoring is a map-only gram explode + broadcast
  hash join + ONE map-side-combined ``groupBy(doc)``.  Raw-corpus gram
  streams are never shuffled on gram strings; the fit aggregations
  collapse to ``buckets`` keys with heavy partial aggregation.
* Per-gram log-ratios are rounded to 9 decimals and summed as
  DECIMAL — exact, order-independent, bit-stable across partitionings
  (same discipline as lmfilter / qualityclf).
* Selection is ``orderBy(score desc).limit(k)`` which Spark plans as
  TakeOrderedAndProject: per-partition top-k then a k-row driver
  merge — no global sort shuffle.
* The Gumbel noise is derived from md5(seed, doc_id), not an RNG, so
  the selected set is deterministic, partitioning-independent, and
  exactly resumable — and the DuckDB oracle replays it bit-for-bit.

The bucket hash is the first 13 hex chars of md5 (52 bits — exact in a
BIGINT in both engines) mod ``buckets``; both Spark (``conv(...,16,10)``)
and DuckDB (``('0x'||...)::BIGINT``) parse it natively.

Reference analogue: none (the httpz scanner has no quality surface);
this is a training-data-pipeline operator (SURVEY.md §2 training-data
family) on the same normalized-token substrate as dedup/decontam.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from httpz_spark.functions.text import tokens_of as _tokens

#: 2^52 — one more than the max value of a 13-hex-char md5 prefix.
_MD5_SPAN = float(1 << 52)


def _md5_int52(s: Column) -> Column:
    """First 52 bits of md5(s) as a non-negative BIGINT (exact — fits a
    double and a DuckDB BIGINT cast alike)."""
    return F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")


def hashed_ngram_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """``(id, bucket, cnt)`` — counts of word unigrams + bigrams hashed
    into ``buckets`` slots (the DSIR featurizer).  Map-only explode +
    one map-side-combined groupBy; empty docs contribute no rows."""
    t = _tokens(F.col(text_col))
    n = F.size(t)
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = F.concat(t, bigrams)
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(grams).alias("g"))
        .select("id", F.pmod(_md5_int52(F.col("g")), F.lit(buckets)).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_llr_table(
    spark: SparkSession,
    target_feats: DataFrame,
    raw_feats: DataFrame,
    buckets: int = 10_000,
    add_k: float = 1.0,
) -> DataFrame:
    """``(bucket, llr)`` for ALL ``buckets`` slots: the per-bucket
    log-likelihood ratio ``ln p_b - ln q_b`` with add-``add_k`` smoothed
    multinomials, quantized to DECIMAL(20,9).  Exactly ``buckets`` rows
    however large the corpora — the broadcast side of the scoring join.

    Each fitted distribution costs exactly ONE aggregation pass over its
    gram stream: the ``buckets``-row count tables are collected (the
    bounded-model driver hop, like ``lm_train``'s vocab scalar — 10k
    integer rows, not corpus data), totals are summed locally, and the
    LLR expression is re-evaluated JVM-side over the re-parallelized
    counts so ln/round bit-parity with the scoring engine is preserved.
    The naive distributed shape (separate total-agg jobs + outer joins
    against a full ``range(buckets)``) re-ran the corpus gram explode a
    second time just to learn one scalar."""
    tc = {
        r["bucket"]: r["c"]
        for r in target_feats.groupBy("bucket").agg(F.sum("cnt").alias("c")).collect()
    }
    rc = {
        r["bucket"]: r["c"]
        for r in raw_feats.groupBy("bucket").agg(F.sum("cnt").alias("c")).collect()
    }
    return _llr_from_counts(spark, tc, rc, buckets, add_k)


def _llr_from_counts(
    spark: SparkSession,
    tc: dict,
    rc: dict,
    buckets: int,
    add_k: float,
) -> DataFrame:
    """LLR table from collected per-bucket count dicts (shared by the
    two-frame fit and the single-pass ``target_pred`` fit)."""
    t_total, r_total = sum(tc.values()), sum(rc.values())
    k = float(add_k)
    # The ln itself is evaluated HERE, in Python (C libm), over the
    # already-collected counts — not as a JVM F.log expression.  JVM
    # Math.log can differ from the C library log by 1 ulp, and when the
    # true LLR sits on a round(·,9) boundary that ulp survives the
    # DECIMAL quantization and diverges from any libm-based replayer
    # (observed at sf0.1: doc 4225, round 6).  The quantizing F.round
    # stays on the Spark side (proven to agree with SQL round on equal
    # double inputs across lmfilter/qualityclf/linkrank).
    import math

    t_den, r_den = t_total + k * buckets, r_total + k * buckets
    rows = [
        (
            b,
            math.log((tc.get(b, 0) + k) / t_den)
            - math.log((rc.get(b, 0) + k) / r_den),
        )
        for b in range(buckets)
    ]
    counts = spark.createDataFrame(rows, "bucket long, llr_d double")
    return counts.select(
        "bucket",
        F.round(F.col("llr_d"), 9).cast("decimal(20,9)").alias("llr"),
    )


def dsir_logweights(
    docs: DataFrame,
    target_docs: DataFrame | None = None,
    raw_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    add_k: float = 1.0,
    broadcast_llr: bool = True,
    feats: DataFrame | None = None,
    target_pred=None,
) -> DataFrame:
    """Per-document DSIR importance weights: ``(id_col, n_feats,
    log_w)`` where ``n_feats`` is the total hashed-gram count and
    ``log_w = sum_b cnt_b * llr_b`` as DECIMAL (exact, order-free).
    Empty docs surface with ``n_feats 0`` and NULL ``log_w`` via the
    one-pass left join (no union+anti double evaluation).

    ``raw_docs`` defaults to ``docs`` itself — the paper fits q on the
    raw corpus being selected from.

    When the target corpus is a PREDICATE over the raw corpus itself
    (the common in-distribution-split shape), pass ``target_pred`` — a
    callable mapping the id column to a boolean Column — instead of
    ``target_docs``.  Both multinomials then come out of ONE aggregation
    over ONE evaluation of the gram explode (feats is persisted and the
    scoring join reuses it), instead of three explode evaluations
    (target fit, raw fit, scoring).  The persisted feature frame is
    (id, bucket, cnt) — a bounded fraction of the corpus — and is left
    registered for Spark's LRU storage eviction.

    Cost shape without ``target_pred``: fit + score = TWO evaluations of
    the corpus gram explode (the q-fit collect is one action, the
    scoring join another; nothing is persisted implicitly).  Callers who
    can afford the storage pass a precomputed/persisted feature frame
    via ``feats`` (``hashed_ngram_features(docs, ...)``), reducing the
    heavy explode to ONE evaluation."""
    raw = docs if raw_docs is None else raw_docs
    if feats is None:
        feats = hashed_ngram_features(docs, text_col, id_col, buckets)
        if target_pred is not None and raw is docs:
            feats = feats.persist()
    if target_pred is not None and raw is docs:
        # single-pass fit: target counts fold into the raw-fit
        # aggregation as a conditional sum — identical to fitting on
        # docs.filter(target_pred) separately, because features are
        # per-doc counts and the target is a subset of docs
        agg = (
            feats.groupBy("bucket")
            .agg(
                F.sum("cnt").alias("rc"),
                F.sum(F.when(target_pred(F.col("id")), F.col("cnt"))).alias("tc"),
            )
            .collect()
        )
        tc = {r["bucket"]: r["tc"] for r in agg if r["tc"]}
        rc = {r["bucket"]: r["rc"] for r in agg}
        llr = _llr_from_counts(docs.sparkSession, tc, rc, buckets, add_k)
    else:
        if target_docs is None:
            raise ValueError("pass target_docs or target_pred")
        tfeats = hashed_ngram_features(target_docs, text_col, id_col, buckets)
        rfeats = (
            feats if raw is docs
            else hashed_ngram_features(raw, text_col, id_col, buckets)
        )
        llr = dsir_llr_table(docs.sparkSession, tfeats, rfeats, buckets, add_k)
    if broadcast_llr:
        llr = F.broadcast(llr)
    w = (
        feats.join(llr, "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("llr") * F.col("cnt").cast("decimal(10,0)")).alias("lw"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(w, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
            F.col("lw").cast("double").alias("log_w"),
        )
    )


def round_binary(c: Column, scale: int) -> Column:
    """``round(double, scale)`` with C-library semantics — round the
    BINARY double (``std::round(x * 10^s) / 10^s``), which is what
    DuckDB's ``round()`` does.  Spark's ``F.round(x, s)`` instead
    HALF_UPs the *shortest decimal repr* of the double, and the two
    disagree when that repr lands exactly on a midpoint: a
    DECIMAL(·,9) sum of ``-16.672618500`` cast to double reprs as
    ``-16.6726185`` → ``F.round(·,6)`` says ``…619`` while the binary
    value is below the midpoint so DuckDB says ``…618`` (r6 driver-gate
    divergence, doc 4225 @ sf0.1).  At scale 0 the two conventions
    agree for EVERY double (a shortest repr ending in ``.5`` is exactly
    representable, hence exactly ``.5``), so scaling first replicates
    the C semantics bit-for-bit — property-tested against DuckDB over
    250k values including the observed midpoint."""
    p = float(10**scale)
    return F.round(c * F.lit(p), 0) / F.lit(p)


def gumbel_key(id_c: Column, log_w: Column, seed: str = "dsir") -> Column:
    """Deterministic Gumbel-perturbed score ``log_w + G(seed, id)``
    rounded to 6 decimals (so cross-engine double ordering is stable).
    ``G = -ln(-ln(u))`` with ``u = (md5_52(seed:id) + 0.5) / 2^52`` —
    hash-derived, so re-running selects the identical set."""
    u = (
        _md5_int52(F.concat(F.lit(seed + ":"), id_c.cast("string"))).cast("double")
        + F.lit(0.5)
    ) / F.lit(_MD5_SPAN)
    return round_binary(log_w + -F.log(-F.log(u)), 6)


def dsir_resample(
    docs: DataFrame,
    target_docs: DataFrame | None = None,
    k: int = 100,
    raw_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    add_k: float = 1.0,
    seed: str = "dsir",
    target_pred=None,
) -> DataFrame:
    """Gumbel-top-``k`` DSIR selection: ``(id_col, n_feats, log_w,
    score)`` for the ``k`` sampled documents, highest score first.
    Equivalent to weighted sampling without replacement with probability
    proportional to the importance weight.  Docs with no features
    (empty text) carry NULL ``log_w`` and are never selected.  Plans as
    TakeOrderedAndProject — per-partition top-k, k-row driver merge.
    ``target_pred`` enables the single-explode fit (see
    :func:`dsir_logweights`)."""
    scored = dsir_logweights(
        docs, target_docs, raw_docs, text_col, id_col, buckets, add_k,
        target_pred=target_pred,
    )
    score = gumbel_key(F.col(id_col), F.col("log_w"), seed)
    return (
        scored.filter(F.col("log_w").isNotNull())
        .select(id_col, "n_feats", "log_w", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
