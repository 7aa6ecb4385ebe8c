"""Gopher-style document quality + repetition signals (Rae et al.,
"Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", 2021, §A1.1 — the rule family RefinedWeb/RedPajama/Dolma reuse).

Everything except the n-gram signals is a pure per-row native expression
(whole-stage codegen, no shuffle); the n-gram repetition battery (top
2/3/4-gram + dup 5..10-gram fractions) is computed in a SINGLE pass —
one explode emitting ``(n, gram)`` for every requested n, one
map-side-combined count, one per-doc conditional aggregation
(:func:`ngram_signal_frame`) — instead of one explode+shuffle+join per
n.  Every formula is deliberately ANSI-SQL-replayable so the DuckDB
oracle checks values exactly (★gopher_quality).

Signal definitions (documented precisely, so downstream thresholds mean
the same thing on both sides):

* ``n_words`` / ``mean_word_len`` — whitespace tokens of the normalized
  text; mean length computed arithmetically as
  ``(len(norm) - (n_words - 1)) / n_words`` (single-space normalization
  makes this exactly the average word length).
* ``alpha_word_frac`` — fraction of words containing at least one
  [A-Za-z].
* ``bullet_line_frac`` / ``ellipsis_line_frac`` — fraction of non-blank
  RAW-text lines starting with a bullet (``-``, ``*``, ``•`` after
  optional indent) / ending with ``...`` or ``…``.
* ``dup_line_frac`` — 1 − distinct/total over non-blank lines.
* ``dup_line_char_frac`` — fraction of non-blank-line characters carried
  by repeated line occurrences: 1 − chars(distinct lines)/chars(all
  lines).
* ``top_bigram_char_frac`` — characters covered by the most frequent
  word 2-gram: ``count * len(gram) / len(norm)``; ties break to the
  lexicographically smallest gram (deterministic).
* ``stop_word_hits`` — occurrences of Gopher's 8 stop words
  (the, be, to, of, and, that, have, with).

``gopher_keep`` applies the published thresholds (parameterized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from httpz_spark.functions.text import normalize_ws_ascii

GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _nonblank_lines(text: Column) -> Column:
    return F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")


def gopher_row_signals(text: Column) -> Column:
    """struct of all per-row signals (everything except the bigram)."""
    norm = normalize_ws_ascii(text)

    def _of(args):
        n, lines = args.getField("norm"), args.getField("lines")
        words = F.split(n, " ")
        n_words = F.when(n == "", F.lit(0)).otherwise(F.size(words))
        mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
            (F.length(n) - (n_words - 1)).cast("double") / n_words
        )
        alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        alpha_frac = F.when(n_words == 0, F.lit(0.0)).otherwise(
            alpha.cast("double") / n_words
        )
        n_lines = F.size(lines)
        bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
        ellipsis = F.size(
            F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
        )
        line_frac = lambda c: F.when(n_lines == 0, F.lit(0.0)).otherwise(  # noqa: E731
            c.cast("double") / n_lines
        )
        total_chars = F.aggregate(
            lines, F.lit(0), lambda acc, l: acc + F.length(l)
        )
        distinct_chars = F.aggregate(
            F.array_distinct(lines), F.lit(0), lambda acc, l: acc + F.length(l)
        )
        dup_line_frac = F.when(n_lines == 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines
        )
        dup_char_frac = F.when(total_chars == 0, F.lit(0.0)).otherwise(
            1.0 - distinct_chars.cast("double") / total_chars
        )
        low_words = F.split(F.lower(n), " ")
        stop_hits = F.size(
            F.filter(low_words, lambda w: w.isin(GOPHER_STOP_WORDS))
        )
        return F.struct(
            n_words.alias("n_words"),
            F.round(mean_word_len, 6).alias("mean_word_len"),
            F.round(alpha_frac, 6).alias("alpha_word_frac"),
            F.round(line_frac(bullet), 6).alias("bullet_line_frac"),
            F.round(line_frac(ellipsis), 6).alias("ellipsis_line_frac"),
            F.round(dup_line_frac, 6).alias("dup_line_frac"),
            F.round(dup_char_frac, 6).alias("dup_line_char_frac"),
            stop_hits.alias("stop_word_hits"),
        )

    # let-bind norm + lines: both feed several signals, and Catalyst does
    # no CSE across HOF lambda boundaries (the word_shingles/winnow bug
    # class — the normalize regex would otherwise re-run per signal)
    bound = F.struct(norm.alias("norm"), _nonblank_lines(text).alias("lines"))
    return F.element_at(F.transform(F.array(bound), _of), 1)


def ngram_signal_frame(docs: DataFrame, top_ns: tuple = (2, 3, 4),
                       dup_ns: tuple = (5,), text_col: str = "text",
                       id_col: str = "doc_id",
                       input_partitions: int | str | None = "auto") -> DataFrame:
    """SINGLE-PASS n-gram repetition battery: one frame ``(id,
    top_{n}gram_char_frac..., dup_{n}gram_char_frac...)`` for every
    requested n, built from ONE explode of the corpus and TWO shuffles
    total — vs one explode+groupBy+window+join PER n.

    Plan shape (the 100-TB consideration): the normalized word array is
    let-bound once; a single generator emits ``struct(n, gram)`` rows for
    all requested n (a doc with < n words emits one ``(n, NULL)``
    placeholder so every doc reaches the output); one map-side-combined
    ``groupBy(id, n, gram)`` counts occurrences; one conditional
    aggregation per doc then extracts, per n, the top gram via
    ``min(struct(-count, gram))`` — identical selection to ``ORDER BY
    count DESC, gram ASC LIMIT 1`` (the deterministic lexicographic
    tie-break) without a window shuffle — and the duplicated-gram char
    sum.  Shuffle volume is the gram stream ONCE, keyed by (id, n, gram),
    instead of |top_ns|+|dup_ns| separate explode+shuffle+join passes.

    ``input_partitions``: the gram generator amplifies each input row
    ~|ns|×len(doc) — if the scan is under-split (a small parquet file
    with one row group reads as a handful of partitions), the whole
    battery serializes onto those few cores.  ``"auto"`` (default)
    repartitions the minimal (id, text) projection up to
    ``defaultParallelism`` ONLY when the input has fewer partitions than
    that — a no-op on any real at-scale input (a 100 TB corpus reads as
    ~10^5 splits), and on a cluster where it does trigger, pre-spreading
    a below-parallelism input before a 9× explode is the right trade.
    Pass ``None`` to never shuffle the text, or an int to force."""
    ns = sorted(set(top_ns) | set(dup_ns))
    if not ns:
        raise ValueError("at least one n required in top_ns/dup_ns")
    if min(ns) < 1:
        raise ValueError(f"n-gram sizes must be >= 1: {ns}")
    norm = normalize_ws_ascii(F.col(text_col))
    words_expr = F.split(norm, " ")
    struct_t = "array<struct<n:int,gram:string>>"

    def _all_grams(words):
        sz = F.size(words)

        def _mk(n):  # closure factory: never capture the loop var in a lambda
            return lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(words, i + 1, n)).alias("gram"),
            )

        parts = [
            F.when(
                sz >= n,
                F.transform(F.sequence(F.lit(0), F.greatest(sz - n, F.lit(0))),
                            _mk(n)),
            ).otherwise(
                F.array(F.struct(
                    F.lit(n).alias("n"),
                    F.lit(None).cast("string").alias("gram"),
                )).cast(struct_t)
            )
            for n in ns
        ]
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    src = docs.select(F.col(id_col).alias(id_col), F.col(text_col))
    if input_partitions == "auto":
        target = docs.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < target:
            src = src.repartition(target)
    elif input_partitions:
        src = src.repartition(int(input_partitions))
    # let-bind the split: Catalyst does no CSE across HOF lambda
    # boundaries, so referencing words_expr per n would re-normalize per n
    grams = F.element_at(F.transform(F.array(words_expr), _all_grams), 1)
    counts = (
        src.select(
            F.col(id_col).alias("id"),
            F.length(norm).alias("_nchars"),
            F.explode(grams).alias("g"),
        )
        .select("id", "_nchars", F.col("g.n").alias("_n"),
                F.col("g.gram").alias("gram"))
        .groupBy("id", "_nchars", "_n", "gram")
        .agg(F.count("*").alias("_c"))
    )
    aggs = [
        F.min(
            F.when(
                F.col("_n") == n,
                F.struct((-F.col("_c")).alias("_negc"),
                         F.col("gram").alias("gram")),
            )
        ).alias(f"_t{n}")
        for n in top_ns
    ] + [
        F.sum(
            F.when(
                (F.col("_n") == n) & F.col("gram").isNotNull()
                & (F.col("_c") > 1),
                F.col("_c") * F.length("gram"),
            )
        ).alias(f"_d{n}")
        for n in dup_ns
    ]
    per = counts.groupBy("id", "_nchars").agg(*aggs)

    def _topcol(n):
        t = F.col(f"_t{n}")
        return F.round(
            F.when(
                t.isNull() | t.getField("gram").isNull()
                | (F.col("_nchars") == 0),
                F.lit(0.0),
            ).otherwise(
                (-t.getField("_negc")) * F.length(t.getField("gram"))
                / F.col("_nchars").cast("double")
            ),
            6,
        ).alias(f"top_{n}gram_char_frac")

    def _dupcol(n):
        return F.round(
            F.when(F.col("_nchars") == 0, F.lit(0.0)).otherwise(
                F.least(
                    F.lit(1.0),
                    F.coalesce(F.col(f"_d{n}"), F.lit(0))
                    / F.col("_nchars").cast("double"),
                )
            ),
            6,
        ).alias(f"dup_{n}gram_char_frac")

    return per.select(
        "id", *[_topcol(n) for n in top_ns], *[_dupcol(n) for n in dup_ns]
    )


def top_ngram_char_frac(docs: DataFrame, n: int = 2, text_col: str = "text",
                        id_col: str = "doc_id",
                        out_col: str | None = None) -> DataFrame:
    """(id, <out_col>) — characters covered by each doc's MOST FREQUENT
    word n-gram: ``count * len(gram) / len(norm)``; ties break to the
    lexicographically smallest gram (deterministic).  Docs with < n
    words get 0.0.  Gopher applies this for n = 2, 3, 4."""
    out = ngram_signal_frame(docs, top_ns=(n,), dup_ns=(), text_col=text_col,
                             id_col=id_col)
    return out.withColumnRenamed(f"top_{n}gram_char_frac",
                                 out_col or f"top_{n}gram_char_frac")


def top_bigram_char_frac(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Backward-compatible alias: n=2 of :func:`top_ngram_char_frac`."""
    return top_ngram_char_frac(docs, 2, text_col, id_col,
                               out_col="top_bigram_char_frac")


def gopher_quality_signals(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           top_ns: tuple = (2, 3, 4),
                           dup_ns: tuple = (5, 6, 7, 8, 9, 10)) -> DataFrame:
    """All signals as one frame: per-row natives + ONE single-pass n-gram
    battery (:func:`ngram_signal_frame`) joined back once.  The defaults
    now compute Gopher's COMPLETE repetition battery (top 2/3/4-gram +
    dup 5..10-gram).  The n=2 column keeps its historical name
    ``top_bigram_char_frac``."""
    out = docs.select(
        F.col(id_col).alias("id"),
        gopher_row_signals(F.col(text_col)).alias("s"),
    ).select("id", "s.*")
    if top_ns or dup_ns:
        ng = ngram_signal_frame(docs, top_ns, dup_ns, text_col, id_col)
        if 2 in top_ns:
            ng = ng.withColumnRenamed("top_2gram_char_frac",
                                      "top_bigram_char_frac")
        out = out.join(ng, "id")
    return out


def gopher_keep(
    signals: DataFrame,
    min_words: int = 50, max_words: int = 100_000,
    min_mean_word_len: float = 3.0, max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.80,
    max_bullet_line_frac: float = 0.90,
    max_ellipsis_line_frac: float = 0.30,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_bigram_char_frac: float = 0.20,
    max_top_3gram_char_frac: float = 0.18,
    max_top_4gram_char_frac: float = 0.16,
    max_dup_5gram_char_frac: float = 0.15,
    max_dup_6gram_char_frac: float = 0.14,
    max_dup_7gram_char_frac: float = 0.13,
    max_dup_8gram_char_frac: float = 0.12,
    max_dup_9gram_char_frac: float = 0.11,
    max_dup_10gram_char_frac: float = 0.10,
    min_stop_word_hits: int = 2,
) -> DataFrame:
    """Adds ``keep boolean`` per the (parameterized) Gopher thresholds.
    N-gram thresholds apply only when their column is present, so callers
    of :func:`gopher_quality_signals` with narrower ``top_ns``/``dup_ns``
    still compose."""
    c = F.col
    keep = (
        c("n_words").between(min_words, max_words)
        & c("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (c("alpha_word_frac") >= min_alpha_word_frac)
        & (c("bullet_line_frac") <= max_bullet_line_frac)
        & (c("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (c("dup_line_frac") <= max_dup_line_frac)
        & (c("dup_line_char_frac") <= max_dup_line_char_frac)
        & (c("stop_word_hits") >= min_stop_word_hits)
    )
    for col, thr in (("top_bigram_char_frac", max_top_bigram_char_frac),
                     ("top_3gram_char_frac", max_top_3gram_char_frac),
                     ("top_4gram_char_frac", max_top_4gram_char_frac),
                     ("dup_5gram_char_frac", max_dup_5gram_char_frac),
                     ("dup_6gram_char_frac", max_dup_6gram_char_frac),
                     ("dup_7gram_char_frac", max_dup_7gram_char_frac),
                     ("dup_8gram_char_frac", max_dup_8gram_char_frac),
                     ("dup_9gram_char_frac", max_dup_9gram_char_frac),
                     ("dup_10gram_char_frac", max_dup_10gram_char_frac)):
        if col in signals.columns:
            keep = keep & (c(col) <= thr)
    return signals.withColumn("keep", keep)
