"""robots.txt parsing as native column expressions.

The north_rule's politeness layer consumes a robots table
(``host, crawl_delay_ms, per_wave_budget, disallow, allow``) that
:mod:`httpz_spark.operators.politeness` enforces; this module is the
production *builder* side: turn fetched ``/robots.txt`` bodies into those
columns without leaving the JVM (regexp_replace/regexp_extract/
regexp_extract_all — one codegen'd projection, no UDF).

Implemented subset of the Robots Exclusion Protocol (RFC 9309), documented
so the politeness semantics downstream are unambiguous:

* the ``User-agent: *`` record is selected (group lines up to the next
  ``User-agent:`` record; consecutive ``User-agent`` lines immediately
  after the matched one share the record, per the RFC's group rules);
* ``Disallow:`` / ``Allow:`` values are RFC 9309 path patterns: matched
  as path prefixes, with ``*`` matching any character run and a trailing
  ``$`` anchoring the end of the path.  Enforcement
  (``politeness.apply_politeness``) follows the RFC's precedence: the
  matching rule with the LONGEST pattern wins; on a length tie Allow
  wins (the RFC's "least restrictive" tie-break).  Empty values
  (allow-all / match-nothing) contribute nothing;
* ``Crawl-delay:`` seconds (fractional ok) → milliseconds — a de-facto
  extension honored by major engines, absent from the RFC.  Malformed
  numeric values (e.g. ``1.2.3``) fall back to the default rather than
  yielding NULL (a NULL delay would silently un-throttle the host);
* ``#`` comments and CR line endings are stripped; directive names and the
  ``*`` agent match case-insensitively.

The reference scanner has no robots handling at all
(/root/reference/httpz_scanner/ — no robots mention); this is engine-new
surface mandated by the north_rule's "robots budgets".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the '*' record: the matched User-agent line, any IMMEDIATELY following
# User-agent lines (shared record), then every line up to the next
# User-agent line (stray blank lines inside don't terminate extraction —
# directives are pulled by their own anchored regexes, so a malformed
# rules-after-blank-line file degrades exactly like a strict parser that
# ignores them would... see module docstring for the supported subset)
_GROUP_RE = (
    r"(?ims)^user-agent:[ \t]*\*[ \t]*$"
    r"((?:\nuser-agent:[^\n]*)*(?:\n(?!user-agent:)[^\n]*)*)"
)

# Crawl-delay value: a well-formed decimal only — '1.2.3' or '5x' must NOT
# half-match ('[0-9.]+' used to accept '1.2.3', cast to NULL, and NULL
# delays disable throttling downstream; ADVICE r04)
_DELAY_RE = r"(?im)^crawl-delay:[ \t]*([0-9]+(?:\.[0-9]+)?)[ \t]*$"


def robots_star_group(txt: Column) -> Column:
    """The raw rule block of the ``User-agent: *`` record ('' if none)."""
    cleaned = F.regexp_replace(
        F.regexp_replace(txt, "\r", ""), r"(?m)#[^\n]*", ""
    )
    return F.regexp_extract(cleaned, _GROUP_RE, 1)


def robots_sitemaps(txt: Column) -> Column:
    """array<string> of ``Sitemap:`` URLs — GLOBAL lines per sitemaps.org
    (position-independent, outside any user-agent group, case-insensitive
    key), so extraction runs over the whole comment-stripped text, not the
    star record.  Duplicates collapse."""
    cleaned = F.regexp_replace(
        F.regexp_replace(txt, "\r", ""), r"(?m)#[^\n]*", ""
    )
    return F.array_distinct(
        F.regexp_extract_all(
            cleaned, F.lit(r"(?im)^sitemap:[ \t]*(\S+)[ \t]*$"), 1
        )
    )


def robots_columns(txt: Column, default_delay_ms: int = 1000) -> Column:
    """struct<crawl_delay_ms int, disallow array<string>,
    allow array<string>> — parsed once.

    The shared group subtree is let-bound through a 1-element-array
    transform (Catalyst does no CSE across the extract calls' common
    ``robots_star_group`` regexes otherwise — same class as the
    word_shingles/winnow fix, here ~4 redundant big-regex passes/row)."""
    def _of(grp):
        delay_raw = F.regexp_extract(grp, _DELAY_RE, 1)
        return F.struct(
            F.when(delay_raw == "", F.lit(default_delay_ms))
            .otherwise(
                F.coalesce(
                    F.round(delay_raw.cast("double") * 1000).cast("int"),
                    F.lit(default_delay_ms),
                )
            )
            .alias("crawl_delay_ms"),
            F.regexp_extract_all(
                grp, F.lit(r"(?im)^disallow:[ \t]*(\S+)[ \t]*$"), 1
            ).alias("disallow"),
            F.regexp_extract_all(
                grp, F.lit(r"(?im)^allow:[ \t]*(\S+)[ \t]*$"), 1
            ).alias("allow"),
        )

    return F.element_at(F.transform(F.array(robots_star_group(txt)), _of), 1)


def robots_pattern_regex(pat: Column) -> Column:
    """RFC 9309 path pattern → anchored Java regex, natively.

    ``*`` → ``.*``; a TRAILING ``$`` → end-of-path anchor (mid-pattern
    ``$`` is literal, matching Google's reference parser); everything else
    is regex-escaped.  The result is ``^``-prefixed so `RLIKE`'s
    find() semantics become prefix-match — exactly the RFC's rule shape."""
    esc = F.regexp_replace(pat, r"[\\.\[\]{}()+?^$|]", r"\\$0")
    star = F.regexp_replace(esc, r"\*", ".*")
    anchored = F.regexp_replace(star, r"\\\$$", r"\$")
    return F.concat(F.lit("^"), anchored)


def robots_rules(disallow: Column, allow: Column) -> Column:
    """Compile Disallow/Allow pattern arrays into the enforcement-ready
    rule set: array<struct<plen int, allow int, plain int, pat string,
    rx string>>.

    Struct field ORDER is the precedence order: ``array_max`` over the
    matching subset yields the longest pattern, Allow winning length ties
    (RFC 9309 §2.2.2 "most specific match", least-restrictive tie-break).
    ``plain=1`` rules (no ``*``/``$``) are enforced via ``startswith``
    (no per-row regex); ``pat`` length is the RFC's octet count for
    ASCII patterns (documented approximation for multibyte).

    Built once per robots TABLE row (tiny, broadcast side) — never per
    frontier row."""
    def _rule(allow_flag: int):
        def f(p):
            return F.struct(
                F.length(p).alias("plen"),
                F.lit(allow_flag).alias("allow"),
                (~p.contains("*") & ~p.contains("$")).cast("int").alias("plain"),
                p.alias("pat"),
                robots_pattern_regex(p).alias("rx"),
            )
        return f

    # F.concat is NULL-propagating: a host row with rules on only ONE of
    # the two lines must degrade to "the other side is empty", never to a
    # NULL rule set (which robots_path_allowed reads as allow-everything).
    empty = F.array().cast("array<string>")
    return F.concat(
        F.transform(F.coalesce(disallow, empty), _rule(0)),
        F.transform(F.coalesce(allow, empty), _rule(1)),
    )


def robots_rule_matches(path: Column, rule: Column) -> Column:
    """True iff ``path`` matches one compiled rule (plain rules via
    startswith — the overwhelmingly common case stays regex-free)."""
    return F.when(
        rule.getField("plain") == 1, path.startswith(rule.getField("pat"))
    ).otherwise(F.regexp_like(path, rule.getField("rx")))


def robots_path_allowed(path: Column, rules: Column) -> Column:
    """RFC 9309 verdict for ``path`` against a compiled rule array:
    True (allowed) when no rule matches, the rule array is NULL/empty, or
    the best (longest, allow-on-tie) matching rule is an Allow."""
    best_allow = F.array_max(
        F.filter(rules, lambda r: robots_rule_matches(path, r))
    ).getField("allow")
    return F.coalesce(best_allow == F.lit(1), F.lit(True))
