"""The parse stage: one extraction UDF + native post-stages.

The reference rebuilds a DOM three times per document and recompiles its
regexes per call (parser/parser.go:68, clean_content.go:61, summary.go:102,
title.go:28); here the text column crosses the JVM↔Python boundary exactly
once, through a single pandas UDF that maps one per-row function over each
Arrow batch. That function calls the oracle's own extractors
(blogparser_spark.oracle.pyref, over the module-level compiled regex bank
in blogparser_spark.functions.patterns) behind per-row literal needle
gates, so the kernel and the oracle share one implementation of every
extraction rule. Everything downstream — validity gates, status derivation,
date parsing, summary truncation, slug, first-image selection — is native
Column code (whole-stage codegen).

The output is asserted equal to pyref row-by-row in
tests/test_parse_stage.py, which also checks every needle gate against
the ungated oracle extractors.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from blogparser_spark.functions import patterns as P
from blogparser_spark.functions import text as T
from blogparser_spark.oracle import pyref

IMAGE_TYPE = StructType(
    [
        StructField("url", StringType()),
        StructField("alt", StringType()),
        StructField("width", StringType()),
        StructField("height", StringType()),
        StructField("description", StringType()),
    ]
)

EXTRACT_TYPE = StructType(
    [
        StructField("title", StringType()),  # cleaned; null if not found
        StructField("title_found", BooleanType()),
        # the raw selected candidate (pre-clean body) stays Python-side:
        # only content_found derives from it, so serializing it to the JVM
        # would ship a near-duplicate of `body` per row for nothing
        StructField("content_found", BooleanType()),
        StructField("body", StringType()),  # after cleaning bank ('' if emptied)
        StructField("categories", ArrayType(StringType())),  # raw, pre-clean
        StructField("tags", ArrayType(StringType())),  # raw, pre-clean
        StructField("date_candidates", ArrayType(StringType())),  # priority order
        StructField("images", ArrayType(IMAGE_TYPE)),
    ]
)


def _extract_content(text: str, lower: str) -> str | None:
    """pyref.extract_content behind literal needle gates: a selector's
    balanced matcher runs only on text whose lowercase form contains its
    needle (necessary, not sufficient), and no selector can match text
    without '<', which takes the plain-text fallback instead. The oracle
    stays ungated, so the parity tests check every gate."""
    if "<" not in text:
        candidate = pyref.normalize_html(text)
        return candidate if pyref.is_valid_content(candidate) else None
    for needle, ep in P.CONTENT_PATTERNS:
        if needle in lower:
            inner = ep.search_inner(text)
            if inner is not None:
                candidate = pyref.normalize_html(inner)
                if pyref.is_valid_content(candidate):
                    return candidate
    return None


def _date_candidates(text: str) -> list[str]:
    """Priority-ordered raw candidates; JSON-LD reversed so that the
    reference's last-match-wins (parser/date.go:27-38) becomes first-valid
    after the native-side parse filter."""
    out: list[str] = []
    for script in P.JSONLD_SCRIPT.findall(text):
        out.extend(P.DATE_PUBLISHED.findall(script))
    out.reverse()
    m = P.TIME_DATETIME.search(text)
    if m:
        out.append(m.group(1))
    m = P.TIME_TEXT.search(text)
    if m:
        inner = P.STRIP_TAGS.sub("", m.group(1)).strip()
        if inner:
            out.append(inner)
    for pat in (P.DATE_META_PUBLISHED_TIME, P.DATE_META_PUBDATE, P.DATE_META_DATE):
        m = pat.search(text)
        if m:
            out.append(m.group(1))
    m = P.DATE_CLASS.search(text)
    if m:
        out.append(m.group(1).strip())
    return out


def _images_rows(text: str) -> list[dict]:
    return [
        {
            "url": im.url,
            "alt": im.alt,
            "width": im.width,
            "height": im.height,
            "description": im.description,
        }
        for im in pyref.extract_images(text)
    ]


# per-row literal prefilters for the list-valued extractors. The
# category/tag gates are the union of every selector bank's needle
# (patterns.CATEGORY_GATE_NEEDLES / TAG_GATE_NEEDLES); the extractors
# re-check per-bank needles so only the banks that can fire pay their
# regex. "date" covers pubdate/datePublished/DATE_META_NAME; the OGP meta
# key article:published_time contains neither literal, so it needs its own
# needle or its rows never reach _date_candidates.
_DATE_NEEDLES = ("date", "<time", "published_time")
_IMAGE_NEEDLES = ("og:image", "twitter:image", "<img")


def _extract_row(text: str) -> tuple:
    """One payload → one EXTRACT_TYPE row, through the oracle's own
    extractors (field order follows EXTRACT_TYPE)."""
    lower = text.lower()
    title = pyref.extract_title(text)
    content = _extract_content(text, lower)
    return (
        None if title is None else pyref.clean_title(title),
        title is not None,
        content is not None,
        None if content is None else pyref.clean_content(content),
        pyref.extract_categories(text)
        if any(n in lower for n in P.CATEGORY_GATE_NEEDLES)
        else [],
        pyref.extract_tags(text) if any(n in lower for n in P.TAG_GATE_NEEDLES) else [],
        _date_candidates(text) if any(n in lower for n in _DATE_NEEDLES) else [],
        _images_rows(text) if any(n in lower for n in _IMAGE_NEEDLES) else [],
    )


@F.pandas_udf(EXTRACT_TYPE)
def extract_udf(texts: pd.Series) -> pd.DataFrame:
    """The single JVM↔Python boundary of the parse stage: one per-row
    function mapped over the Arrow batch. A per-row substring test skips
    each extractor a row cannot feed, where whole-batch pandas passes
    would scan every row for patterns that fire on few."""
    # per-record error isolation (parser.go's per-file loop never aborts the
    # run): a NULL text must ROUTE (no_title) rather than fail the batch
    texts = texts.fillna("")
    return pd.DataFrame.from_records(
        [_extract_row(t) for t in texts], columns=EXTRACT_TYPE.names
    )


STATUS_OK = "ok"
STATUSES = (
    STATUS_OK,
    "no_title",
    "invalid_title",
    "no_content",
    "empty_after_clean",
    "short_content",
)


def _status(e: Column) -> Column:
    """Fail-fast gate order of parser/parser.go:64-154 as one CASE chain."""
    valid_title = T.is_valid_title(e["title"])
    return (
        F.when(~e["title_found"], "no_title")
        .when(~valid_title, "invalid_title")
        .when(~e["content_found"], "no_content")
        .when(e["body"] == "", "empty_after_clean")
        .when(F.octet_length(e["body"]) < P.MIN_CONTENT_BYTES, "short_content")
        .otherwise(STATUS_OK)
    )


def parse_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """transcripts → parsed: adds title, slug, body, summary, categories,
    tags, created_at, first_image, images, parse_status.

    Field availability per status mirrors the reference's fail-fast error
    returns (parser/parser.go:74-154): failed rows carry NULL/empty for
    everything downstream of the failing gate; a date that doesn't parse is
    non-fatal (created_at NULL, parser.go:131-134); summary is computed
    before the post-clean validity gate (parser.go:95 vs :100-102), so
    short_content rows still have one.
    """
    e = F.col("_ex")
    status = F.col("parse_status")
    title_ok = ~status.isin("no_title", "invalid_title")
    body_ok = status.isin(STATUS_OK, "short_content")
    fully_ok = status == STATUS_OK

    out = (
        df.withColumn("_ex", extract_udf(F.col(text_col)))
        .withColumn("parse_status", _status(e))
        .withColumn("title", F.when(title_ok, e["title"]))
        .withColumn("slug", F.when(title_ok, T.slugify(e["title"])).otherwise(F.lit("")))
        .withColumn("body", F.when(body_ok, e["body"]))
        .withColumn("summary", F.when(body_ok, T.summarize_truncation(e["body"])))
        .withColumn(
            "categories",
            F.when(
                fully_ok,
                # clean → validity filter (parser/parser.go:110-116) → dedup
                F.array_distinct(
                    F.filter(
                        F.transform(e["categories"], T.clean_category),
                        lambda s: T.is_valid_title(s),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn(
            "tags",
            F.when(
                fully_ok, T.finalize_string_array(e["tags"], T.clean_tag)
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn(
            "created_at", F.when(fully_ok, T.pick_date(e["date_candidates"]))
        )
        .withColumn(
            "first_image",
            F.when(fully_ok, F.coalesce(e["images"][0]["url"], F.lit(""))).otherwise(
                F.lit("")
            ),
        )
        .withColumn("images", F.when(fully_ok, e["images"]))
        .drop("_ex")
    )
    return out
