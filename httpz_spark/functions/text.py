"""Text / filter column expressions — native Spark SQL functions only.

Models the reference's scalar string semantics (whitespace normalize,
truncation caps, status-code set filters, shard modulo, human_size) as
Catalyst expressions.  Citations point into ``/root/reference/``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Caps — parsers.py:31-35
TITLE_MAX_CHARS = 1024
BODY_PREVIEW_BYTES = 1024
BODY_CLEAN_CHARS = 1024


def normalize_ws(c: Column) -> Column:
    """Collapse whitespace runs to single spaces and strip — parsers.py:77-82.

    Python's ``re`` ``\\s`` is unicode-aware; Java needs the embedded (?U)
    flag for the same class.  (Known residual divergence: U+001C..U+001F,
    which python treats as whitespace but Unicode White_Space excludes —
    the fetch path uses the python-side ``refmodel.normalize_text`` for
    bit-parity; this native column is for bulk text-pipeline operators.)
    """
    return F.regexp_replace(F.regexp_replace(c, r"(?U)\s+", " "), r"^ +| +$", "")


def normalize_ws_ascii(c: Column) -> Column:
    """ASCII-only whitespace collapse — used for contract queries where the
    DuckDB oracle must evaluate the *identical* regex semantics (DuckDB's RE2
    ``\\s`` is ASCII-only)."""
    return F.trim(F.regexp_replace(c, "[ \t\n\r\f]+", " "))


def tokens_of(c: Column) -> Column:
    """Empty-safe word tokens of the lowered, whitespace-normalized
    text: ``[]`` for blank input (``split('')`` would yield ``['']``).
    THE tokenization substrate shared by the text-pipeline operators
    (dedup shingles, lmfilter, dsir, search, exactsubstr) — every
    DuckDB oracle replays exactly this expression, so tokenization
    changes must happen here, once."""
    norm = normalize_ws_ascii(F.lower(c))
    return F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def status_isin(status: Column, codes: set[int] | list[int]) -> Column:
    """match_codes filter — scanner.py:450-451; set literal from
    parse_status_codes (parsers.py:257-274)."""
    return status.isin(sorted(codes))


def status_not_excluded(status: Column, codes: set[int] | list[int]) -> Column:
    """exclude_codes filter — scanner.py:452-453."""
    return ~status.isin(sorted(codes))


def shard_keep(line_num: Column, shard_index: int, total_shards: int) -> Column:
    """Shard predicate ``line_num % total == index`` — utils.py:182-183.
    ``line_num`` must be the persisted 0-based input line number (blank lines
    consume numbers too, utils.py:214-216); never derive it from
    monotonically_increasing_id at scale."""
    return F.pmod(line_num, F.lit(total_shards)) == F.lit(shard_index)


def nonblank(raw: Column) -> Column:
    """Blank-line skip after strip — utils.py:193,203,214."""
    return F.regexp_replace(raw, r"(?U)^\s+|\s+$", "") != F.lit("")


def human_size(size_bytes: Column) -> Column:
    """bytes -> '1.5KB' (1024 base, one decimal, B/KB/MB/GB; falsy -> '0B')
    — utils.py:86-104.  Native when/otherwise chain."""
    b = size_bytes.cast("double")
    kb, mb, gb = 1024.0, 1024.0**2, 1024.0**3
    return (
        F.when(size_bytes.isNull() | (size_bytes == 0), F.lit("0B"))
        .when(b < kb, F.concat(F.format_string('%.1f', b), F.lit("B")))
        .when(b < mb, F.concat(F.format_string('%.1f', b / kb), F.lit("KB")))
        .when(b < gb, F.concat(F.format_string('%.1f', b / mb), F.lit("MB")))
        .otherwise(F.concat(F.format_string('%.1f', b / gb), F.lit("GB")))
    )
