"""The parse stage: one parse UDF returning the final fields, then a
native date parse.

The reference rebuilds a DOM three times per document and recompiles its
regexes per call (parser/parser.go:68, clean_content.go:61, summary.go:102,
title.go:28); here the text column crosses the JVM↔Python boundary exactly
once, through a single pandas UDF that maps one per-row function over each
Arrow batch. That function follows pyref.parse_record's fail-fast order and
calls the oracle's own functions (blogparser_spark.oracle.pyref, over the
module-level compiled regex bank in blogparser_spark.functions.patterns):
title cleaning and validity, slug, the content extractors behind per-row
literal needle gates, cleaning, summary, and the category/tag cleanup, so
the kernel and the oracle share one implementation of every rule. It
returns the final status, title, slug, body, summary, categories and tags.
Only the date stays native: the raw candidates cross the boundary and
parse_stage parses them as Column code, because strptime per candidate
costs more in CPython than the whole try_to_timestamp chain in Spark.

The output is asserted equal to pyref row-by-row in
tests/test_parse_stage.py, which also checks every needle gate against
the ungated oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
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

PARSED_TYPE = StructType(
    [
        StructField("parse_status", StringType()),
        StructField("title", StringType()),  # cleaned; null unless valid
        StructField("slug", StringType()),  # '' unless the title is valid
        StructField("body", StringType()),  # cleaned; null unless ok/short
        StructField("summary", StringType()),
        StructField("categories", ArrayType(StringType())),  # cleaned, deduped
        StructField("tags", ArrayType(StringType())),  # cleaned, deduped
        # raw, priority order; parse_stage parses them natively
        StructField("date_candidates", ArrayType(StringType())),
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


STATUS_OK = "ok"
STATUSES = (
    STATUS_OK,
    "no_title",
    "invalid_title",
    "no_content",
    "empty_after_clean",
    "short_content",
)


def _parse_row(text: str) -> tuple:
    """One payload → one PARSED_TYPE row (field order follows
    PARSED_TYPE), in pyref.parse_record's fail-fast order
    (parser/parser.go:64-154): a row stops at its failing gate, so no
    extractor runs for a field the row's status would discard. A failed
    row carries NULL/empty for everything downstream of its gate; the
    summary is computed before the post-clean validity gate
    (parser.go:95 vs :100-102), so short_content rows still have one."""
    raw_title = pyref.extract_title(text)
    if raw_title is None:
        return ("no_title", None, "", None, None, [], [], None, None)
    title = pyref.clean_title(raw_title)
    if not pyref.is_valid_title(title):
        return ("invalid_title", None, "", None, None, [], [], None, None)
    slug = pyref.set_slug(title)
    lower = text.lower()
    content = _extract_content(text, lower)
    if content is None:
        return ("no_content", title, slug, None, None, [], [], None, None)
    body = pyref.clean_content(content)
    if not body:
        return ("empty_after_clean", title, slug, None, None, [], [], None, None)
    summary = pyref.summarize_truncation(body)
    if not pyref.is_valid_content(body):
        return ("short_content", title, slug, body, summary, [], [], None, None)
    return (
        STATUS_OK,
        title,
        slug,
        body,
        summary,
        pyref.finalize_categories(text)
        if any(n in lower for n in P.CATEGORY_GATE_NEEDLES)
        else [],
        pyref.finalize_tags(text)
        if any(n in lower for n in P.TAG_GATE_NEEDLES)
        else [],
        _date_candidates(text) if any(n in lower for n in _DATE_NEEDLES) else [],
        _images_rows(text) if any(n in lower for n in _IMAGE_NEEDLES) else [],
    )


@F.pandas_udf(PARSED_TYPE)
def extract_udf(texts: pd.Series) -> pd.DataFrame:
    """The single JVM↔Python boundary of the parse stage: one per-row
    function mapped over the Arrow batch. A per-row substring test skips
    each extractor a row cannot feed, where whole-batch pandas passes
    would scan every row for patterns that fire on few."""
    # per-record error isolation (parser.go's per-file loop never aborts the
    # run): a NULL text must ROUTE (no_title) rather than fail the batch
    texts = texts.fillna("")
    return pd.DataFrame.from_records(
        [_parse_row(t) for t in texts], columns=PARSED_TYPE.names
    )


def parse_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """transcripts → parsed: adds parse_status, title, slug, body, summary,
    categories, tags, created_at, first_image, images.

    Every field but the date comes out of the kernel final (_parse_row).
    A date that doesn't parse is non-fatal (created_at NULL,
    parser.go:131-134); rows that are not ok carry no date candidates and
    no images, so their created_at and images are NULL and their
    first_image is ''.
    """
    p = F.col("_parsed")
    return (
        df.withColumn("_parsed", extract_udf(F.col(text_col)))
        .withColumns(
            {
                "parse_status": p["parse_status"],
                "title": p["title"],
                "slug": p["slug"],
                "body": p["body"],
                "summary": p["summary"],
                "categories": p["categories"],
                "tags": p["tags"],
                "created_at": T.pick_date(p["date_candidates"]),
                "first_image": F.coalesce(
                    F.try_element_at(p["images"], F.lit(1))["url"], F.lit("")
                ),
                "images": p["images"],
            }
        )
        .drop("_parsed")
    )
