"""Deterministic synthetic transcript generator (seed=42 convention).

Produces the `transcripts(conv_id, turn_idx, role, text, tool, ts)` table
(BASELINE.json input_hint) whose text payloads embed every extraction-pattern
family from the reference's table-driven tests (FIXTURES.md §1.1):
title priority chain, title cleaning/validity, 9 date layouts + JSON-LD,
byte-length content gates, cleaning bank, tag multi-bank union, category
first-bank-wins, image precedence/normalization, summary truncation, slug.

Includes hot conv_ids holding ~20% of rows so skew handling is exercised.
Rows are emitted shuffled so stable (conv_id, turn_idx) ordering logic is
actually tested.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "browser", "python", "bash", "none", "mystery-tool")

_WORDS = (
    "spark query window batch stream merge join filter scan agg sort group "
    "row column table data value key order part line hash vector fast slow "
    "small big dup customer".split()
)

_EPOCH = datetime(2024, 1, 1)

# one body paragraph ≥ 100 utf-8 bytes
def _body_words(rng: random.Random, n: int = 40) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _make_text(rng: random.Random, i: int) -> str:
    """Compose one payload; variant chosen deterministically by index."""
    v = i % 28
    body = _body_words(rng)
    title_word = f"Post {i} {rng.choice(_WORDS)} report"

    if v == 0:  # full-featured: ld_blog_vars title + everything
        return (
            f"<script>ld_blog_vars = {{ articles : [ {{ title : '{title_word}' }} ], "
            f"categories : [ {{ name : 'テーマ：DataEng' }}, {{ name : 'Spark' }} ], "
            f"tags : ['TagB','TagC'] }};</script>"
            f"<meta property=\"og:title\" content=\"OG should lose {i}\">"
            f"<meta name=\"keywords\" content=\"kw1, kw2, TagB\">"
            f"<script type=\"application/ld+json\">{{\"datePublished\": \"2023-10-20T10:30:00+09:00\"}}</script>"
            f"<meta property=\"og:image\" content=\"https://stat.ameba.jp/img/{i}_s.jpg\">"
            f"<div class=\"article-body-inner\">{body} {body}</div>"
        )
    if v == 1:  # og:title + time datetime + img data-src
        return (
            f"<meta property=\"og:title\" content=\"{title_word}\">"
            f"<time datetime=\"2023-09-15\">Sep 15</time>"
            f"<img data-src=\"https://example.com/real{i}.png\" src=\"https://example.com/lazy.gif\" alt=\"pic\" width=\"640\" height=\"480\">"
            f"<article>{body} {body}</article>"
        )
    if v == 2:  # h1 + japanese date + ameblo category label (category.go:29)
        return (
            f"<h1>{title_word}</h1>"
            f"<span class=\"skin-categoryLabel\">テーマ：日常</span>"
            f"<span class=\"date\">2023年8月10日</span>"
            f"<div class=\"skin-entryBody\">{body} {body}</div>"
        )
    if v == 3:  # title tag + dotted date + meta section category
        return (
            f"<title>{title_word}</title>"
            f"<meta property=\"article:section\" content=\"News\">"
            f"<meta name=\"date\" content=\"2023.07.25\">"
            f"<div class=\"entry-content\">{body} {body}</div>"
        )
    if v == 4:  # meta name=title + slash datetime + twitter image
        return (
            f"<meta name=\"title\" content=\"{title_word}\">"
            f"<meta name=\"pubdate\" content=\"2023/09/15\">"
            f"<meta name=\"twitter:image\" content=\"https://example.com/tw{i}.jpg\">"
            f"<div class=\"post-body\">{body} {body}</div>"
        )
    if v == 5:  # no title at all → no_title route
        return f"<div class=\"entry-content\">{body} {body}</div>"
    if v == 6:  # invalid title (embedded markup survives cleaning)
        return (
            f"<meta property=\"og:title\" content=\"bad <b>bold</b> title\">"
            f"<div class=\"entry-content\">{body} {body}</div>"
        )
    if v == 7:  # short content → no_content (candidate < 100 bytes)
        return f"<h1>{title_word}</h1><div class=\"entry-content\">tiny</div>"
    if v == 8:  # exactly-100-byte boundary content (ok) — ascii so bytes==chars
        payload = ("x" * 99 + "y")
        return f"<h1>{title_word}</h1><article>{payload}</article>"
    if v == 9:  # 99-byte boundary (no_content)
        return f"<h1>{title_word}</h1><article>{'x' * 99}</article>"
    if v == 10:  # multibyte: 40 Japanese chars = 120 bytes ≥ 100 (byte gate!)
        return f"<h1>{title_word}</h1><article>{'あ' * 40}</article>"
    if v == 11:  # multibyte PASS boundary: 34 chars = 102 bytes ≥ 100 (ok);
        # 33 chars = 99 bytes would fail — a char-length gate (34 < 100)
        # would wrongly reject this row, so it guards the BYTE semantics
        return f"<h1>{title_word}</h1><article>{'い' * 34}</article>"
    if v == 12:  # cleaning bank: comments, script, style, global removeTags
        return (
            f"<h1>{title_word}</h1>"
            f"<div class=\"post-main\"><!-- ad slot -->１位：{body}"
            f"<script>evil()</script><style>.x{{}}</style>"
            f"<dl class=\"article-tags\">DL-AD</dl>"
            f"<p class=\"google-auto-placed\">AD2</p> {body}</div>"
        )
    if v == 13:  # title cleaning: newlines, quotes, site suffix
        return (
            f"<h1>  Messy\ntitle  \"quoted\" {i} {P_SITE_SUFFIX}</h1>"
            f"<div class=\"articleText\">{body} {body}</div>"
        )
    if v == 14:  # tags multi-bank union with duplicates
        return (
            f"<h1>{title_word}</h1>"
            f"<span class=\"hashtag-module__item__text\">#TagA</span>"
            f"<script>ld_blog_vars = {{ tags : ['TagB','TagC','TagA'] }};</script>"
            f"<meta name=\"keywords\" content=\"TagC, kw-{i}, ブログ\">"
            f"<div class=\"post-content\">{body} {body}</div>"
        )
    if v == 15:  # long body → summary truncation at 300 runes
        return (
            f"<h1>{title_word}</h1>"
            f"<div class=\"entry-content\">{_body_words(rng, 120)}</div>"
        )
    if v == 16:  # japanese sentences (。-delimited) for BM25/sentence ops
        sents = "。".join(
            "これは" + "".join(rng.choice("データ解析処理基盤分散計算高速") for _ in range(rng.randint(6, 14)))
            for _ in range(rng.randint(3, 6))
        )
        return f"<h1>{title_word}</h1><div class=\"entry-content\">{sents}。 {body}</div>"
    if v == 17:  # JSON-LD multi-script: LAST datePublished wins
        return (
            f"<h1>{title_word}</h1>"
            f"<script type=\"application/ld+json\">{{\"datePublished\": \"2022-01-01\"}}</script>"
            f"<script type=\"application/ld+json\">{{\"datePublished\": \"2023-06-12T15:30:00Z\"}}</script>"
            f"<time datetime=\"2020-01-01\">old</time>"
            f"<main>{body} {body}</main>"
        )
    if v == 18:  # invalid date string → NULL created_at
        return (
            f"<h1>{title_word}</h1><span class=\"date\">invalid-date</span>"
            f"<div class=\"content\">{body} {body}</div>"
        )
    if v == 19:  # image zoo: data: URL dropped, ameblo thumb normalized
        return (
            f"<h1>{title_word}</h1>"
            f"<img src=\"data:image/png;base64,AAAA\">"
            f"<img src=\"https://stat.ameba.jp/user_images/p{i}_m.jpg\" alt=\"thumb\">"
            f"<figure><img src=\"https://example.com/f{i}.jpg\"><figcaption>cap {i}</figcaption></figure>"
            f"<div class=\"post-body\">{body} {body}</div>"
        )
    if v == 20:  # plain text, no markup (tool output style)
        return f"{body} {body} {body}"
    if v == 21:  # empty after clean: container holds only removable junk
        return (
            f"<h1>{title_word}</h1>"
            f"<div class=\"entry-content\"><!-- {'pad ' * 40}-->"
            f"<script>junk()</script><style>s{{}}</style></div>"
        )
    if v == 22:  # selector priority — article-body-inner beats article
        return (
            f"<h1>{title_word}</h1>"
            f"<div class=\"article-body-inner\">INNER {body} {body}</div>"
            f"<article>OUTER {body}</article>"
        )
    if v == 23:  # short_content — candidate ≥100 bytes pre-clean, shrinks
        # <100 but non-empty after cleaning (parser/parser.go:100-102 gate)
        return (
            f"<h1>{title_word}</h1>"
            f"<article><!-- {'pad ' * 30}-->tiny leftover {i}</article>"
        )
    if v == 24:  # ameblo: entryThemes categories, tagLabel, SCOPED ad removal
        return (
            f"<h1>{title_word}</h1>"
            f"<div class=\"skin-entryThemes\"><a>テーマ：解析</a><a>Spark</a></div>"
            f"<span class=\"skin-tagLabel\">#分散</span>"
            f"<ins class=\"adsbygoogle\">KEEP-OUTSIDE</ins>"
            f"<div class=\"skin-entryBody\">{body}"
            f"<ins class=\"adsbygoogle\">AD-IN</ins>"
            f"<p class=\"social-btn\">SNS</p> {body}</div>"
        )
    if v == 25:  # livedoor: dd categories, taglist/blog-tags anchors
        return (
            f"<h1>{title_word}</h1>"
            f"<dd class=\"article-category1\">Liv日記</dd>"
            f"<dd class=\"article-category2\">Liv技術</dd>"
            f"<div class=\"taglist\"><a>lt-{i % 5}</a><a>shared</a></div>"
            f"<div class=\"blog-tags\"><a>shared</a></div>"
            f"<div class=\"articleText\">{body} {body}</div>"
        )
    if v == 26:  # excite: POST_TAIL TIME category; POST_TAIL removed from body
        return (
            f"<h1>{title_word}</h1>"
            f"<div class=\"POST_TAIL\"><span class=\"TIME\">"
            f"<a href=\"/i{i}\">Ex謎解き</a><a href=\"/other\">skip</a></span></div>"
            f"<div class=\"POST_BODY\">{body}"
            f"<div class=\"POST_TAIL\">trailer junk</div> {body}</div>"
        )
    # v == 27: wordpress-ish: cat-links + itemprop BOTH accumulate (stage-1
    # banks union in selector order), tagcloud/label tags
    return (
        f"<h1>{title_word}</h1>"
        f"<div class=\"cat-links\"><a>WpCat</a></div>"
        f"<span itemprop=\"articleSection\">AlsoCat</span>"
        f"<div class=\"tagcloud\"><a>#wp-{i % 3}</a></div>"
        f"<div class=\"label\"><a>lbl</a></div>"
        f"<div class=\"entry-content\">{body} {body}</div>"
    )


P_SITE_SUFFIX = "| 心理カウンセラー・中井亜紀『成長の記録』"


def gen_transcripts(
    n_convs: int = 200,
    turns_per_conv: int = 10,
    seed: int = 42,
    hot_convs: int = 2,
    hot_share: float = 0.2,
) -> list[tuple[str, int, str, str, str, datetime]]:
    """Rows (conv_id, turn_idx, role, text, tool, ts), shuffled. The first
    `hot_convs` conversations are hot: each gets a `hot_share` split of
    the corpus's nominal turns, never fewer turns than a normal one."""
    rng = random.Random(seed)
    rows: list[tuple[str, int, str, str, str, datetime]] = []
    total_turns = n_convs * turns_per_conv
    hot_turns = max(
        turns_per_conv, int(total_turns * hot_share / max(hot_convs, 1))
    )
    i = 0
    for c in range(n_convs):
        conv_id = f"conv-{c:06d}"
        n_turns = hot_turns if c < hot_convs else turns_per_conv
        t0 = _EPOCH + timedelta(hours=c)
        for t in range(n_turns):
            role = ROLES[(c + t) % len(ROLES)]
            tool = TOOLS[(c * 7 + t) % len(TOOLS)] if role == "tool" else (
                TOOLS[(c + t) % 5] if t % 3 == 0 else "none"
            )
            rows.append(
                (
                    conv_id,
                    t,
                    role,
                    _make_text(rng, i),
                    tool,
                    t0 + timedelta(seconds=30 * t + (c % 7)),
                )
            )
            i += 1
    rng.shuffle(rows)
    return rows


TRANSCRIPTS_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def transcripts_df(spark, **kwargs):
    """Create the transcripts DataFrame with the authoritative schema."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType(), False),
            StructField("turn_idx", IntegerType(), False),
            StructField("role", StringType(), False),
            StructField("text", StringType(), False),
            StructField("tool", StringType(), False),
            StructField("ts", TimestampType(), False),
        ]
    )
    return spark.createDataFrame(gen_transcripts(**kwargs), schema)


def write_transcripts_parquet(spark, path: str, **kwargs) -> None:
    transcripts_df(spark, **kwargs).write.mode("overwrite").parquet(path)
