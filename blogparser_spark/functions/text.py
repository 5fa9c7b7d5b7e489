"""Native-Column text functions — the (N) mappings from SURVEY.md §2.

Everything here stays JVM-side (whole-stage codegen): regexp_replace chains,
higher-order array functions, try_to_timestamp coalesce. The transcript
pipeline uses only the date parse (parse_stage's created_at, from the
kernel's raw candidates): the parse kernel returns the final title, slug,
summary and cleaned lists itself, through the pyref functions. The rest
serve the driver-contract queries over the testdata `documents` table
(queries.py) and the BM25 summary (operators/summary_bm25.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from blogparser_spark.functions import patterns as P

# --------------------------------------------------------------- generic ---


def collapse_ws(col: Column) -> Column:
    """strings.Fields-join analog (parser/title.go:76-87): collapse any
    whitespace run to one space, trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


# ----------------------------------------------------------------- title ---


def clean_title(col: Column) -> Column:
    """parser/title.go:76-87 as a native chain: \\n→space, collapse ws,
    escape double quotes, strip the literal site-name suffix, trim."""
    c = F.regexp_replace(col, r"\n", " ")
    c = collapse_ws(c)
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.replace(c, F.lit(P.SITE_NAME_SUFFIX), F.lit(""))
    return F.trim(c)


# --------------------------------------------------------------- summary ---


def truncate_summary(col: Column) -> Column:
    """parser/summary.go:164-171 — Spark length/substring are char-based,
    matching Go rune slicing."""
    return F.when(
        F.length(col) > P.SUMMARY_MAX_RUNES,
        F.concat(F.substring(col, 1, P.SUMMARY_MAX_RUNES), F.lit(P.SUMMARY_ELLIPSIS)),
    ).otherwise(col)


def split_sentences(col: Column, delim: str = P.SENTENCE_DELIM) -> Column:
    """splitSentences (summary.go:244-254): split on 。 (or a caller-supplied
    delimiter regex), trim, drop empties."""
    return F.filter(
        F.transform(F.split(col, delim), lambda s: F.trim(s)),
        lambda s: s != "",
    )


# ------------------------------------------------------------------ slug ---


def slugify(col: Column) -> Column:
    """pkg/models/blog.go:26-50."""
    c = F.regexp_replace(F.lower(col), "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, "[^a-z0-9]+", "-")
    return F.regexp_replace(c, "^-+|-+$", "")


# ------------------------------------------------------------------ date ---


def try_parse_date(col: Column) -> Column:
    """parseDateString (parser/date.go:113-137): try layouts in order via
    try_to_timestamp coalesce; Japanese dates pre-normalized
    (\\d+)年(\\d+)月(\\d+)日 → y-M-d. Malformed → NULL (zero-time analog)."""
    jp = F.regexp_replace(F.trim(col), r"(\d{4})年(\d{1,2})月(\d{1,2})日", r"$1-$2-$3")
    cands = [F.try_to_timestamp(F.trim(col), F.lit(f)) for f in P.SPARK_DATE_FORMATS]
    cands += [
        F.try_to_timestamp(jp, F.lit("yyyy-M-d H:mm")),
        F.try_to_timestamp(jp, F.lit("yyyy-M-d")),
    ]
    return F.coalesce(*cands)


def pick_date(candidates: Column) -> Column:
    """Given array<string> date candidates already in priority order, return
    the first parseable one (unparseable candidates fall through — mirrors
    the per-candidate validation in parser/date.go:20-90)."""
    parsed = F.transform(candidates, lambda s: try_parse_date(s))
    # try_element_at: no parseable candidate → NULL, not an ANSI
    # INVALID_ARRAY_INDEX on the empty filtered array
    return F.try_element_at(F.filter(parsed, lambda t: t.isNotNull()), F.lit(1))
