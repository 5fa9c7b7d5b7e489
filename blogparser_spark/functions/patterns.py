"""The shared regex bank: compiled once at module import.

This module is the single source of truth for every extraction pattern. The
row-at-a-time extractors in blogparser_spark.oracle.pyref apply it, and the
parse UDF (blogparser_spark.operators.parse) calls those same extractors
behind literal needle gates, so parity between the two is structural, not
incidental.

The banks re-express the reference's CSS-selector + regex extraction chains
(which are DOM queries in Go, parser/title.go:18-73, parser/content.go:16-113,
parser/category.go:18-111, parser/tag.go:17-110, parser/date.go:20-90,
parser/image.go:20-92) as priority-ordered regex chains over the raw text
payload. The reference recompiles its regexes per document
(parser/title.go:28, parser/category.go:74, parser/tag.go:69); here every
pattern is compiled exactly once per Python worker.

Container elements are matched with BALANCED same-tag scanning
(ElementPattern below): the inner span of <div …> runs to the close tag
that balances nested same-name opens, exactly as a DOM gives goquery —
a lazy regex would stop at the FIRST close and truncate any container
with a nested same-name child (real blog pages always nest). Tag names
match case-insensitively end to end (<DIV …></div> extracts); class
tokens stay case-sensitive (cascadia semantics). Unclosed containers
auto-close at end of input, as WHATWG parsing does at end of body.
"""

from __future__ import annotations

import html as _html
import re
from typing import NamedTuple

# --------------------------------------------------------------------------
# Title (parser/title.go:18-73) — 5-level priority chain, first match wins
# --------------------------------------------------------------------------

# (1) ld_blog_vars articles title — regex from title.go:28, applied only to
#     text containing the ld_blog_vars marker (title.go:25-35 scans <script>s)
LD_BLOG_VARS_MARKER = "ld_blog_vars"
TITLE_LD_BLOG_VARS = re.compile(r"articles\s*:\s*\[\s*\{\s*[^}]*?title\s*:\s*'([^']*)'")

# (2) og:title meta (title.go: meta[property='og:title']@content) —
#     attribute order is free in HTML, so two orderings
TITLE_OG_A = re.compile(
    r"<meta[^>]*property=[\"']og:title[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
TITLE_OG_B = re.compile(
    r"<meta[^>]*content=[\"']([^\"']*)[\"'][^>]*property=[\"']og:title[\"']", re.I
)

# (3) first h1 text
TITLE_H1 = re.compile(r"<h1[^>]*>([\s\S]*?)</h1>", re.I)
# (4) <title> text
TITLE_TAG = re.compile(r"<title[^>]*>([\s\S]*?)</title>", re.I)
# (5) meta[name='title']@content
TITLE_META_NAME_A = re.compile(
    r"<meta[^>]*name=[\"']title[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
TITLE_META_NAME_B = re.compile(
    r"<meta[^>]*content=[\"']([^\"']*)[\"'][^>]*name=[\"']title[\"']", re.I
)

# cleanTitle (parser/title.go:76-87); cleanTag deletes the BARE site name
# (tag.go:118), cleanTitle the " | "-prefixed form (title.go:84)
SITE_NAME = "心理カウンセラー・中井亜紀『成長の記録』"
SITE_NAME_SUFFIX = " | " + SITE_NAME
WS_RUN = re.compile(r"\s+")
# isValidTitle (parser/title.go:90-109): no <>, no control chars except \t\n\r
CONTROL_CHARS = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
ANGLE = re.compile(r"[<>]")

STRIP_TAGS = re.compile(r"<[^>]+>")

# --------------------------------------------------------------------------
# CSS-selector mini-engine.
# goquery runs real CSS selectors over a DOM; here each selector compiles to
# a (literal needle, extractor) pair: the needle is a cheap lowercase
# containment prefilter (necessary, not sufficient), the extractor an
# ElementPattern over raw markup. Class tokens match exactly and
# case-sensitively (cascadia semantics); tag/attribute NAMES match
# case-insensitively, including the close tag (a lazy backreference regex
# was case-sensitive on the close — <DIV …></div> now extracts). Balanced
# same-tag scanning handles nested same-name containers (module docstring).
# --------------------------------------------------------------------------

_TAGNAME = r"[a-zA-Z][a-zA-Z0-9]*"


def _class_attr(cls: str) -> str:
    """class attribute containing the exact token `cls`."""
    return (
        r"(?i:class)\s*=\s*[\"'](?:[^\"']*\s)?" + re.escape(cls) + r"(?:\s[^\"']*)?[\"']"
    )


def _attr_eq(name: str, value: str) -> str:
    return "(?i:" + re.escape(name) + r")\s*=\s*[\"']" + re.escape(value) + r"[\"']"


def _attr_contains(name: str, sub: str) -> str:
    return (
        "(?i:" + re.escape(name) + r")\s*=\s*[\"'][^\"']*" + re.escape(sub) + r"[^\"']*[\"']"
    )


class Elem(NamedTuple):
    """One matched element: spans index the ORIGINAL text."""

    tag: str
    inner: str
    start: int  # '<' of the open tag
    inner_start: int  # just after the open tag's '>'
    inner_end: int  # '<' of the balancing close tag
    end: int  # just after the close tag's '>'


class ElementPattern:
    """Raw-markup element matcher with DOM-faithful balanced close-tag
    matching: the inner span of <tag …> runs to the close tag that balances
    nested same-name opens (a DOM gives goquery this for free; the lazy
    `([\\s\\S]*?)</tag>` form this replaces stopped at the FIRST close and
    truncated any container with a nested same-name child,
    parser/content.go:42-66 handles arbitrary nesting). Close-tag matching
    is case-insensitive on its own compiled pattern — never a backreference,
    whose inline-scoped (?i:) did not apply to the backreference itself.
    Self-closed same-name tags don't change depth; an unclosed container
    auto-closes at end of input (WHATWG tree construction does the same at
    end of body). Exposes findall/sub with re.Pattern-compatible shapes so
    extractors treat both interchangeably."""

    def __init__(self, open_re: str):
        self.open = re.compile(open_re)
        self._close: dict[str, re.Pattern[str]] = {}

    def _tokens(self, tag: str) -> re.Pattern[str]:
        pat = self._close.get(tag)
        if pat is None:
            pat = re.compile("<(/?)" + re.escape(tag) + r"\b", re.I)
            self._close[tag] = pat
        return pat

    def _element(self, text: str, m: re.Match[str]) -> Elem:
        tag = m.group(1)
        if m.group(0).rstrip(">").endswith("/"):  # self-closed open tag
            return Elem(tag, "", m.start(), m.end(), m.end(), m.end())
        depth = 1
        for t in self._tokens(tag).finditer(text, m.end()):
            gt = text.find(">", t.end())
            if t.group(1):  # close token
                depth -= 1
                if depth == 0:
                    end = gt + 1 if gt != -1 else len(text)
                    return Elem(
                        tag, text[m.end() : t.start()], m.start(), m.end(), t.start(), end
                    )
            elif gt == -1 or text[gt - 1] != "/":  # real (non-self-closed) open
                depth += 1
        n = len(text)  # unclosed: auto-close at end of input
        return Elem(tag, text[m.end() :], m.start(), m.end(), n, n)

    def iter_elements(self, text: str):
        """Non-overlapping elements in document order (the outermost match
        wins where same-selector containers nest — goquery would also list
        the nested one; outer.Text() already contains it)."""
        pos = 0
        while True:
            m = self.open.search(text, pos)
            if m is None:
                return
            el = self._element(text, m)
            yield el
            pos = max(el.end, m.end())

    def findall(self, text: str) -> list[tuple[str, str]]:
        return [(el.tag, el.inner) for el in self.iter_elements(text)]

    def search_inner(self, text: str) -> str | None:
        for el in self.iter_elements(text):
            return el.inner
        return None

    def sub(self, repl: str, text: str) -> str:
        """Element removal (goquery Remove()); only repl == '' is used."""
        out: list[str] = []
        pos = 0
        for el in self.iter_elements(text):
            out.append(text[pos : el.start])
            if repl:
                out.append(repl)
            pos = el.end
        out.append(text[pos:])
        return "".join(out)


def _el_re(attr: str | None = None, tag: str | None = None) -> ElementPattern:
    """<tag ...attr...>inner</tag> with balanced same-tag inner matching."""
    t = "(?i:" + (tag or _TAGNAME) + ")"
    mid = (r"[^>]*" + attr) if attr else ""
    return ElementPattern("<(" + t + r")\b" + mid + r"[^>]*>")


def _texts(pat: ElementPattern):
    """goquery .Text() analog: inner markup stripped, entities decoded (the
    DOM parser decodes text nodes before .Text() sees them), untrimmed
    (callers apply TrimSpace / cleanTag per the Go call sites)."""

    def ex(text: str) -> list[str]:
        return [
            _html.unescape(STRIP_TAGS.sub("", inner)) for _t, inner in pat.findall(text)
        ]

    return ex


def _descend(container: ElementPattern, inner_ex):
    """Descendant combinator: run inner_ex inside each container block —
    document order is preserved."""

    def ex(text: str) -> list[str]:
        out: list[str] = []
        for _t, inner in container.findall(text):
            out.extend(inner_ex(inner))
        return out

    return ex


def _sel(cls: str | None = None, tag: str | None = None, attr: str | None = None):
    """Element text: `.cls` / `tag.cls` / `tag[attr]` / `[attr]`."""
    return _texts(_el_re(_class_attr(cls) if cls else attr, tag))


def _sel_in(
    cls: str | None = None,
    tag: str | None = None,
    attr: str | None = None,
    inner_tag: str = "a",
    inner_attr: str | None = None,
):
    """Descendant text: `.cls a` and friends."""
    return _descend(
        _el_re(_class_attr(cls) if cls else attr, tag),
        _texts(_el_re(inner_attr, inner_tag)),
    )


# --------------------------------------------------------------------------
# Content (parser/content.go:16-113) — selector priority list. Each entry
# is (needle, balanced pattern): the lowercase literal needle is a cheap
# containment prefilter (necessary, not sufficient) for the ElementPattern,
# the authoritative balanced matcher. The candidate is kept if its
# normalized form is ≥ 100 **bytes** (content.go:139-151, Go len()).
# --------------------------------------------------------------------------


def _div_class(needle: str, cls: str) -> tuple[str, ElementPattern]:
    return needle, _el_re(_class_attr(cls), "div")


def _any_id(needle: str, el_id: str) -> tuple[str, ElementPattern]:
    return needle, _el_re(_attr_eq("id", el_id), "div|main|section")


# mirrors contentSelectors order, parser/content.go:24-40, then main, body
CONTENT_PATTERNS: list[tuple[str, ElementPattern]] = [
    _div_class("article-body-inner", "article-body-inner"),
    _div_class("skin-entrybody", "skin-entryBody"),
    _div_class("articletext", "articleText"),
    _div_class("post-main", "post-main"),
    _div_class("post-body", "post-body"),
    _div_class("entry-content", "entry-content"),
    _div_class("post_body", "POST_BODY"),
    ("<article", _el_re(None, "article")),
    ("itemprop", _el_re(_attr_eq("itemprop", "articleBody"))),
    _div_class("post-content", "post-content"),
    _div_class("article-content", "article-content"),
    _any_id("content", "content"),
    _any_id("main-content", "main-content"),
    _div_class("content", "content"),
    ("<main", _el_re(None, "main")),
    ("<body", _el_re(None, "body")),
]

MIN_CONTENT_BYTES = 100  # content.go:146 — bytes, not runes


# --------------------------------------------------------------------------
# CleanContent (parser/clean_content.go:13-48)
# --------------------------------------------------------------------------

HTML_COMMENT = re.compile(r"<!--[\s\S]*?-->")  # regexPatterns, clean_content.go:42-47
RANK_MARKER = re.compile(r"[１-９一二三四五六七八九十]位：")
# removeTags bank (clean_content.go:13-25): global removals. script/style/
# iframe are raw-text elements in HTML parsing: their content runs to the
# FIRST matching close tag, so the lazy regex is exact there; a leftover
# orphan close token (e.g. the second </script> of a nested-script payload,
# clean_content_test.go 'ネストしたscriptタグ') is a stray close tag, which
# tree construction drops — STRAY_BLOCK_CLOSE reproduces that.
BLOCK_TAGS = re.compile(r"<(script|style|iframe)\b[^>]*>[\s\S]*?</\1\s*>", re.I)
STRAY_BLOCK_CLOSE = re.compile(r"</(?:script|style|iframe)\s*>", re.I)
# (needle, pattern): the lowercase literal names what each pattern removes;
# ElementPattern entries remove balanced element spans, plain regexes the
# void/self-closing forms.
GLOBAL_REMOVE_PATTERNS: tuple[tuple[str, object], ...] = (
    ("google-auto-placed", _el_re(_class_attr("google-auto-placed"))),
    ("article-tags", _el_re(_class_attr("article-tags"), "dl")),  # dl.article-tags
    ("blogroll1", _el_re(_class_attr("blogroll1"), "div")),  # div.blogroll1
    ("rss2-title", _el_re(_class_attr("rss2-title"), "div")),  # div.rss2-title
    ("newresu1.blog.fc2.com", _el_re(_attr_contains("href", "newresu1.blog.fc2.com"), "a")),
    ("ad-entry-bottom", _el_re(_class_attr("ad-entry-bottom"), "div")),
    ("post_tail", _el_re(_class_attr("POST_TAIL"), "div")),  # div.POST_TAIL
    # hr[style*='191970'] — void element, no close tag
    ("191970", re.compile(r"<(?i:hr)\b[^>]*" + _attr_contains("style", "191970") + r"[^>]*/?>")),
)
# ameblo-scoped removals (clean_content.go:28-39): ONLY inside
# .skin-entryBody / .skin-entryBody2 containers
AMEBLO_SCOPE = ElementPattern(
    "<(" + _TAGNAME + r")\b[^>]*"
    r"(?i:class)\s*=\s*[\"'](?:[^\"']*\s)?skin-entryBody2?(?:\s[^\"']*)?[\"']"
    r"[^>]*>"
)
AMEBLO_AD_CLASSES = (
    "google-auto-placed",
    "adsbygoogle",
    "blogroll-ad",
    "social-btn",
    "share-btn",
    "twitter-share-button",
)
_AMEBLO_CLS = r"(?:[^\"']*\s)?(?:" + "|".join(AMEBLO_AD_CLASSES) + r")(?:\s[^\"']*)?"
AMEBLO_AD_ELEMENT = ElementPattern(
    "<(" + _TAGNAME + r")\b[^>]*(?i:class)\s*=\s*[\"']" + _AMEBLO_CLS + r"[\"'][^>]*>"
)
AMEBLO_AD_VOID = re.compile(
    "<" + _TAGNAME + r"\b[^>]*(?i:class)\s*=\s*[\"']" + _AMEBLO_CLS + r"[\"'][^>]*/>"
)


def scrub_ameblo_inner(inner: str) -> str:
    """The child-selector Remove() pass applied to one container's inner
    HTML (clean_content.go:70-77)."""
    s = AMEBLO_AD_ELEMENT.sub("", inner)
    return AMEBLO_AD_VOID.sub("", s)


def scrub_ameblo(text: str) -> str:
    """Scrub ad/SNS children inside each .skin-entryBody container, keeping
    the container tags byte-identical (clean_content.go:70-77). Balanced
    container matching: a nested <div> inside the entry body no longer
    truncates the scrub scope."""
    out: list[str] = []
    pos = 0
    for el in AMEBLO_SCOPE.iter_elements(text):
        out.append(text[pos : el.inner_start])
        out.append(scrub_ameblo_inner(el.inner))
        out.append(text[el.inner_end : el.end])
        pos = el.end
    out.append(text[pos:])
    return "".join(out)


# --- Go-renderer re-serialization (clean_content.go:82-94 renders the
# cleaned DOM back to HTML). Three observable renderer behaviors, each
# pinned by the reference's own goldens:
#   1. text nodes escape with a fixed 5-char set, so source entities are
#      normalized: &quot; → &#34;, &apos;/' → &#39;, stray & → &amp;
#      ('特殊文字を含むHTML');
#   2. attributes render double-quoted ('アメブロ特有要素の削除' shows
#      class='x' → class="x");
#   3. unclosed tags auto-close at end of input ('HTMLパースエラー':
#      <div><span> → <div><span></span></div>).
# Text between tags is unescaped (full entity table, as the parser does)
# then re-escaped with exactly the renderer's set.
_TAG_SPLIT = re.compile(r"(<[^>]*>)")
_GO_ESCAPE = str.maketrans(
    {"&": "&amp;", "'": "&#39;", "<": "&lt;", ">": "&gt;", '"': "&#34;"}
)
_ATTR_SINGLE_QUOTED = re.compile(r"=\s*'([^\"']*)'")
_TAG_TOKEN = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)[^>]*?(/?)>")
# HTML void elements: no close tag to balance
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


def reencode_entities(text: str) -> str:
    parts = _TAG_SPLIT.split(text)
    for i in range(0, len(parts), 2):  # even indices are text nodes
        if parts[i]:
            parts[i] = _html.unescape(parts[i]).translate(_GO_ESCAPE)
    for i in range(1, len(parts), 2):  # odd indices are tags
        if "'" in parts[i]:
            parts[i] = _ATTR_SINGLE_QUOTED.sub(r'="\1"', parts[i])
    return "".join(parts)


_UNTERMINATED_TAIL = re.compile(r"<[^>]*$")


def close_unclosed_tags(text: str) -> str:
    """Renderer behavior 3: append close tags for elements still open at
    end of input, innermost first (the simplified tree-construction
    recovery — real parsers also do implicit mid-document closes for
    <p>/<li> etc., which the extraction model doesn't need). A trailing
    UNTERMINATED tag-start ('<A' with no '>') is text per WHATWG
    EOF-in-tag handling — its '<'s are pre-escaped so an appended close
    tag cannot merge with it into a bogus token."""
    m = _UNTERMINATED_TAIL.search(text)
    if m:
        text = text[: m.start()] + m.group(0).replace("<", "&lt;")
    stack: list[str] = []
    for m in _TAG_TOKEN.finditer(text):
        closing, name, selfclosed = m.group(1), m.group(2).lower(), m.group(3)
        if closing:
            if name in stack:  # pop to the matching open (parser recovery)
                while stack and stack.pop() != name:
                    pass
        elif not selfclosed and name not in VOID_ELEMENTS:
            stack.append(name)
    if not stack:
        return text
    return text + "".join(f"</{n}>" for n in reversed(stack))


# --------------------------------------------------------------------------
# Categories (parser/category.go:18-111) — first non-empty STAGE wins; within
# stage 1 all 22 selectors accumulate in selector order with order-preserving
# dedup (category.go:56-66)
# --------------------------------------------------------------------------

CATEGORY_SELECTOR_BANKS: list[tuple[str, object]] = [
    ("skin-categorylabel", _sel(cls="skin-categoryLabel")),  # .skin-categoryLabel
    ("data-uranus-component", _sel(attr=_attr_eq("data-uranus-component", "theme"))),
    ("skin-entrythemes", _sel_in(cls="skin-entryThemes")),  # .skin-entryThemes a
    ("skin-categorytag", _sel(cls="skin-categoryTag")),  # .skin-categoryTag
    (
        "data-analytics-index-name",  # [data-analytics-index-name='theme'] span
        _sel_in(attr=_attr_eq("data-analytics-index-name", "theme"), inner_tag="span"),
    ),
    ("theme", _sel_in(cls="theme", tag="div")),  # div.theme a
    ("skintheme", _sel(cls="skinTheme")),  # .skinTheme
    ("theme", _sel_in(cls="theme", tag="li")),  # li.theme a
    ("subheader-theme", _sel(cls="subHeader-theme")),  # .subHeader-theme
    ("theme-link", _sel(cls="theme-link", tag="a")),  # a.theme-link
    ("article-category1", _sel(cls="article-category1", tag="dd")),  # livedoor
    ("article-category2", _sel(cls="article-category2", tag="dd")),
    (
        "post_tail",  # .POST_TAIL .TIME a[href*="/i"] (excite)
        _descend(
            _el_re(_class_attr("POST_TAIL")),
            _descend(
                _el_re(_class_attr("TIME")),
                _texts(_el_re(_attr_contains("href", "/i"), "a")),
            ),
        ),
    ),
    ("articletheme", _sel(cls="articleTheme")),  # .articleTheme
    ("rel", _sel(attr=_attr_eq("rel", "category"), tag="a")),  # a[rel='category']
    ("category", _sel_in(cls="category")),  # .category a
    ("cat-links", _sel_in(cls="cat-links")),  # .cat-links a
    ("entry-categories", _sel_in(cls="entry-categories")),  # .entry-categories a
    ("post-categories", _sel_in(cls="post-categories")),  # .post-categories a
    ("articlesection", _sel(attr=_attr_eq("itemprop", "articleSection"))),
    ("tags", _sel_in(cls="tags")),  # .tags a (no category/tag distinction)
    ("rel", _sel(attr=_attr_eq("rel", "category tag"), tag="a")),  # a[rel='category tag']
]
# stage 2: ld_blog_vars categories — the reference regex captures the FIRST
# name per `categories : [ {` block (category.go:74, FindAllStringSubmatch)
CATEGORY_LD_FIRSTNAME = re.compile(
    r"categories\s*:\s*\[\s*\{\s*[^}]*?name\s*:\s*'([^']*)'"
)
# stage 3: meta article:section
CATEGORY_META_SECTION = re.compile(
    r"<meta[^>]*property=[\"']article:section[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
# stage 4: .category element text
CATEGORY_CLASS_TEXT = _sel(cls="category")
# cleanCategory prefixes (category.go:114-141)
CATEGORY_PREFIXES = ("テーマ：", "テーマ:", "Theme：", "Theme:")

# parse-kernel prefilter: a row can only yield categories if one of these
# literals appears in its lowercase text (necessary, not sufficient)
CATEGORY_NEEDLES = tuple(
    sorted({n for n, _ in CATEGORY_SELECTOR_BANKS} | {"ld_blog_vars", "article:section"})
)

# --------------------------------------------------------------------------
# Tags (parser/tag.go:17-110) — ALL banks accumulate (union), dedup preserves
# first occurrence (tag.go:59,77,90,102 / category.go:166-168)
# --------------------------------------------------------------------------

TAG_SELECTOR_BANKS: list[tuple[str, object]] = [
    ("skin-taglabel", _sel(cls="skin-tagLabel")),  # .skin-tagLabel
    ("skin-entrytags", _sel_in(cls="skin-entryTags")),  # .skin-entryTags a
    ("skin-tag", _sel(cls="skin-tag")),  # .skin-tag
    ("tag", _sel_in(cls="tag")),  # .tag a
    ("tags", _sel_in(cls="tags")),  # .tags a
    ("entry-tags", _sel_in(cls="entry-tags")),  # .entry-tags a
    ("post-tags", _sel_in(cls="post-tags")),  # .post-tags a
    ("blog-tags", _sel_in(cls="blog-tags")),  # .blog-tags a
    ("article-tags", _sel_in(cls="article-tags")),  # .article-tags a
    ("taglist", _sel_in(cls="taglist")),  # .taglist a
    ("entrytag", _sel_in(cls="entryTag")),  # .entryTag a
    ("entry_tag", _sel_in(cls="entry_tag")),  # .entry_tag a
    ("blogtag", _sel_in(cls="blogTag")),  # .blogTag a
    ("blog_tag", _sel_in(cls="blog_tag")),  # .blog_tag a
    ("label", _sel_in(cls="label")),  # .label a
    ("labels", _sel_in(cls="labels")),  # .labels a
    ("post-labels", _sel_in(cls="post-labels")),  # .post-labels a
    ("post_label", _sel_in(cls="post_label")),  # .post_label a
    ("entry-labels", _sel_in(cls="entry-labels")),  # .entry-labels a
    ("entry_label", _sel_in(cls="entry_label")),  # .entry_label a
    ("tagcloud", _sel_in(cls="tagcloud")),  # .tagcloud a
    ("tagcloud", _sel_in(cls="tagCloud")),  # .tagCloud a
    ("tag-list", _sel_in(cls="tag-list")),  # .tag-list a
    ("taglist", _sel_in(cls="tagList")),  # .tagList a
    ("tag_links", _sel_in(cls="tag_links")),  # .tag_links a
    ("taglinks", _sel_in(cls="tagLinks")),  # .tagLinks a
    (
        "tag",  # .tag a[rel='tag']
        _descend(
            _el_re(_class_attr("tag")), _texts(_el_re(_attr_eq("rel", "tag"), "a"))
        ),
    ),
    ("hashtag-module__item__text", _sel(cls="hashtag-module__item__text")),
]
TAG_LD_BLOCK = re.compile(r"tags\s*:\s*\[([^\]]*)\]")  # tag.go:69
TAG_LD_ITEM = re.compile(r"'([^']*)'")  # tag.go:72
TAG_META_KEYWORDS = re.compile(
    r"<meta[^>]*name=[\"']keywords[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
# stage 4 (tag.go:96-108): element TEXT of .tag/.tags/.entry-tags/.post-tags
TAG_TEXT_BANKS: list[tuple[str, object]] = [
    ("tag", _sel(cls="tag")),
    ("tags", _sel(cls="tags")),
    ("entry-tags", _sel(cls="entry-tags")),
    ("post-tags", _sel(cls="post-tags")),
]
# cleanTag (parser/tag.go:113-134) — BARE site name, unlike cleanTitle
TAG_DELETE_LITERALS = (SITE_NAME, "ブログ")

TAG_NEEDLES = tuple(
    sorted(
        {n for n, _ in TAG_SELECTOR_BANKS}
        | {n for n, _ in TAG_TEXT_BANKS}
        | {"ld_blog_vars", "keywords"}
    )
)


def _minimal_cover(needles: tuple[str, ...]) -> tuple[str, ...]:
    """Smallest subset with the same any-of-contains semantics: a needle
    containing another needle as a substring is redundant for the GATE
    (any text containing the longer one contains the shorter one). The
    per-bank extractors still check their own full needles; only the
    per-row prefilter uses this. 22 category needles reduce to 13, 27 tag
    needles to 4."""
    out: list[str] = []
    for n in sorted(needles, key=len):
        if not any(m in n for m in out):
            out.append(n)
    return tuple(out)


CATEGORY_GATE_NEEDLES = _minimal_cover(CATEGORY_NEEDLES)
TAG_GATE_NEEDLES = _minimal_cover(TAG_NEEDLES)

# --------------------------------------------------------------------------
# Date (parser/date.go:20-137)
# --------------------------------------------------------------------------

JSONLD_SCRIPT = re.compile(
    r"<script[^>]*type=[\"']application/ld\+json[\"'][^>]*>([\s\S]*?)</script>", re.I
)
DATE_PUBLISHED = re.compile(r"\"datePublished\"\s*:\s*\"([^\"]*)\"")  # date.go:93-110
TIME_DATETIME = re.compile(r"<time[^>]*datetime=[\"']([^\"']*)[\"']", re.I)
TIME_TEXT = re.compile(r"<time[^>]*>([\s\S]*?)</time>", re.I)
DATE_META_PUBLISHED_TIME = re.compile(
    r"<meta[^>]*property=[\"']article:published_time[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
DATE_META_PUBDATE = re.compile(
    r"<meta[^>]*name=[\"']pubdate[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
DATE_META_DATE = re.compile(
    r"<meta[^>]*name=[\"']date[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
DATE_CLASS = re.compile(r"<[a-z]+[^>]*class=[\"']date[\"'][^>]*>([^<]*)<", re.I)

# parseDateString layouts (parser/date.go:113-137) as Python strptime formats.
# Python accepts non-zero-padded month/day, so Go's padded/non-padded layout
# pairs collapse into one format each.
DATE_FORMATS: tuple[str, ...] = (
    "%Y-%m-%dT%H:%M:%S%z",  # RFC3339 / ±hh:mm / Z
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d",
    "%Y/%m/%d %H:%M",
    "%Y/%m/%d",
    "%Y年%m月%d日 %H:%M",
    "%Y年%m月%d日",
    "%Y.%m.%d",
)

# Spark-side equivalents (Java DateTimeFormatter); Japanese layouts go through
# a regexp_replace pre-pass (\d+)年(\d+)月(\d+)日 → $1-$2-$3 first.
SPARK_DATE_FORMATS: tuple[str, ...] = (
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ssX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
    "yyyy/MM/dd HH:mm",
    "yyyy/MM/dd",
    "yyyy.MM.dd",
    "yyyy-M-d H:mm",
    "yyyy-M-d",
)

# --------------------------------------------------------------------------
# Images (parser/image.go:20-128)
# --------------------------------------------------------------------------

IMG_OG = re.compile(
    r"<meta[^>]*property=[\"']og:image[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
IMG_OG_DESC = re.compile(
    r"<meta[^>]*property=[\"']og:description[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
IMG_TWITTER = re.compile(
    r"<meta[^>]*name=[\"']twitter:image[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
IMG_TWITTER_DESC = re.compile(
    r"<meta[^>]*name=[\"']twitter:description[\"'][^>]*content=[\"']([^\"']*)[\"']", re.I
)
IMG_TAG = re.compile(r"<img\b[^>]*>", re.I)
IMG_ATTR = {
    name: re.compile(name + r"=[\"']([^\"']*)[\"']", re.I)
    for name in ("data-src", "src", "alt", "width", "height")
}
FIGURE_WITH_CAPTION = re.compile(
    r"<figure[^>]*>([\s\S]*?)<figcaption[^>]*>([\s\S]*?)</figcaption>[\s\S]*?</figure>", re.I
)
AMEBLO_HOST = re.compile(r"^https?://[^/]*ameblo\.jp/|^https?://stat\.ameba\.jp/", re.I)
AMEBLO_THUMB = re.compile(r"_[sm]\.")

# --------------------------------------------------------------------------
# Summary (parser/summary.go) & slug (pkg/models/blog.go:26-50)
# --------------------------------------------------------------------------

SUMMARY_MAX_RUNES = 300  # summary.go:164-171 — runes, not bytes
SUMMARY_ELLIPSIS = "・・・"
SENTENCE_DELIM = "。"  # splitSentences, summary.go:244-254

# DOM .Text() entity decoding for the summary path: summary.go:102-106
# re-parses the cleaned HTML and text extraction unescapes entities. This
# basic set covers the renderer's own escape output (reencode_entities)
# plus the common source spellings; &amp; decodes LAST so double-escaped
# sequences resolve one level, like a DOM. Used by pyref.strip_to_text,
# which the parse kernel calls for every summary.
BASIC_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&#34;", '"'),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

SLUG_NON_ASCII = re.compile(r"[^a-z0-9 ]")  # blog.go:42-50 after lower()
SLUG_SEP = re.compile(r"[^a-z0-9]+")  # blog.go:26-39

# posWeights (parser/summary.go:23-30) — the broadcast lookup dim
POS_WEIGHTS: dict[str, float] = {
    "名詞-固有名詞": 2.0,
    "名詞-一般": 1.5,
    "動詞-自立": 1.2,
    "形容詞-自立": 1.2,
    "副詞-一般": 0.8,
    "名詞-副詞可能": 0.7,
}
POS_PREFIX_WEIGHTS: dict[str, float] = {"名詞": 1.0, "動詞": 0.9, "形容詞": 0.9}
BM25_K1 = 1.2  # summary.go:17-21
BM25_B = 0.75
