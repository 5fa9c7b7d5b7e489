"""Pure-Python oracle: row-at-a-time ports of the reference's semantics.

Each function mirrors one operator from SURVEY.md §2 (Go source cited per
function). They are the ground truth the Spark pipeline is asserted against
in tests, and the parse UDF (blogparser_spark.operators.parse) calls them
directly on each row in parse_record's fail-fast order, with literal
needle gates of its own in front of the extractors. The functions here
stay ungated, so the parity tests check every gate.

Timezone convention: aware datetimes are normalized to naive UTC so they
compare exactly against Spark TimestampType values under
spark.sql.session.timeZone=UTC.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from blogparser_spark.functions import patterns as P

# ---------------------------------------------------------------- title ----


def extract_title(text: str) -> str | None:
    """5-level priority chain, first non-empty wins (parser/title.go:18-73).
    DOM-sourced values (meta attributes, element text) are entity-decoded —
    goquery reads them post-parse; the ld_blog_vars capture comes from
    <script> RAW TEXT, which HTML parsing does not decode."""
    import html as _html

    if P.LD_BLOG_VARS_MARKER in text:
        m = P.TITLE_LD_BLOG_VARS.search(text)
        if m and m.group(1).strip():
            return m.group(1)
    for pat in (P.TITLE_OG_A, P.TITLE_OG_B):
        m = pat.search(text)
        if m and m.group(1).strip():
            return _html.unescape(m.group(1))
    for pat in (P.TITLE_H1, P.TITLE_TAG):
        m = pat.search(text)
        if m:
            inner = _html.unescape(P.STRIP_TAGS.sub("", m.group(1))).strip()
            if inner:
                return inner
    for pat in (P.TITLE_META_NAME_A, P.TITLE_META_NAME_B):
        m = pat.search(text)
        if m and m.group(1).strip():
            return _html.unescape(m.group(1))
    return None


def clean_title(title: str) -> str:
    """parser/title.go:76-87: \\n→space, collapse ws (strings.Fields ≡ split on
    any whitespace), escape double quotes, strip site-name suffix, trim."""
    t = title.replace("\n", " ")
    t = " ".join(t.split())
    t = t.replace('"', '\\"')
    t = t.replace(P.SITE_NAME_SUFFIX, "")
    return t.strip()


def is_valid_title(title: str) -> bool:
    """parser/title.go:90-109."""
    if not title:
        return False
    if P.ANGLE.search(title):
        return False
    if P.CONTROL_CHARS.search(title):
        return False
    return True


# -------------------------------------------------------------- content ----


def normalize_html(s: str) -> str:
    """parser/content.go:116-136: CRLF/CR→LF, trim lines, drop empties."""
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    lines = [ln.strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln).strip()


def is_valid_content(content: str) -> bool:
    """parser/content.go:139-151 — **byte** length (Go len on string)."""
    return bool(content) and len(content.encode("utf-8")) >= P.MIN_CONTENT_BYTES


def extract_content(text: str) -> str | None:
    """Priority selector bank with BALANCED container matching (a nested
    same-name tag inside the container no longer truncates the candidate,
    parser/content.go:42-66); per-candidate normalize + byte-length gate
    (parser/content.go:16-113)."""
    for _needle, ep in P.CONTENT_PATTERNS:
        inner = ep.search_inner(text)
        if inner is not None:
            candidate = normalize_html(inner)
            if is_valid_content(candidate):
                return candidate
    # plain-text transcripts (no markup at all): the whole payload is the body
    if "<" not in text:
        candidate = normalize_html(text)
        if is_valid_content(candidate):
            return candidate
    return None


def clean_content(content: str) -> str:
    """parser/clean_content.go:52-94: regex deletions (comments, rank
    markers), the global removeTags bank (clean_content.go:13-25) with
    raw-text block elements and their stray close tags, the ameblo-SCOPED
    child removals applied only inside .skin-entryBody containers
    (clean_content.go:28-39,70-77), the Go-renderer entity re-encoding of
    text nodes (clean_content.go:82-94, clean_content_test.go
    '特殊文字を含むHTML'), then whitespace normalization
    (clean_content.go:106-129)."""
    s = P.HTML_COMMENT.sub("", content)
    s = P.RANK_MARKER.sub("", s)
    s = P.BLOCK_TAGS.sub("", s)
    s = P.STRAY_BLOCK_CLOSE.sub("", s)
    for _needle, pat in P.GLOBAL_REMOVE_PATTERNS:
        s = pat.sub("", s)
    if "skin-entrybody" in s.lower():
        s = P.scrub_ameblo(s)
    if "<" in s:
        s = P.close_unclosed_tags(s)
    s = P.reencode_entities(s)
    # normalizeWhitespace: trim each line, drop empty lines, collapse \n\s*\n
    lines = [ln.strip() for ln in s.split("\n")]
    return "\n".join(ln for ln in lines if ln).strip()


# ----------------------------------------------------------- categories ----


def dedup_preserve_order(items: list[str]) -> list[str]:
    """containsString-gated append (parser/category.go:166-168)."""
    seen: set[str] = set()
    out: list[str] = []
    for it in items:
        if it not in seen:
            seen.add(it)
            out.append(it)
    return out


def clean_category(cat: str) -> str:
    """parser/category.go:114-141."""
    c = cat.replace("\n", " ")
    c = " ".join(c.split())
    for pref in P.CATEGORY_PREFIXES:
        if c.startswith(pref):
            c = c[len(pref):]
            break
    return c.strip()


def is_valid_category(cat: str) -> bool:
    """parser/category.go:144-163 — same predicate as title."""
    return is_valid_title(cat)


def extract_categories(text: str) -> list[str]:
    """First non-empty STAGE wins (parser/category.go:18-111); stage 1 runs
    all 22 selectors in bank order, accumulating with order-preserving
    dedup (category.go:56-66)."""
    lower = text.lower()
    # stage 1: the full selector bank (category.go:26-54)
    found: list[str] = []
    for needle, ex in P.CATEGORY_SELECTOR_BANKS:
        if needle not in lower:
            continue
        for raw in ex(text):
            c = raw.strip()
            if c and c not in found:
                found.append(c)
    if found:
        return found
    # stage 2: ld_blog_vars categories — first name per block (category.go:74)
    if P.LD_BLOG_VARS_MARKER in text:
        names = [n.strip() for n in P.CATEGORY_LD_FIRSTNAME.findall(text)]
        found = dedup_preserve_order([n for n in names if n])
        if found:
            return found
    # stage 3: meta article:section (category.go:92-100)
    m = P.CATEGORY_META_SECTION.search(text)
    if m and m.group(1).strip():
        return [m.group(1).strip()]
    # stage 4: .category element text (category.go:103-110)
    return dedup_preserve_order(
        [c.strip() for c in P.CATEGORY_CLASS_TEXT(text) if c.strip()]
    )


def finalize_categories(text: str) -> list[str]:
    """extract → clean → validity filter → dedup (parser/parser.go:104-116)."""
    out = [clean_category(c) for c in extract_categories(text)]
    return dedup_preserve_order([c for c in out if is_valid_category(c)])


# ----------------------------------------------------------------- tags ----


def clean_tag(tag: str) -> str:
    """parser/tag.go:113-134: trim, delete bare-site-name + 'ブログ'
    substrings, \\n→space, strip ONE leading '#' (TrimPrefix, tag.go:127),
    collapse ws, trim."""
    t = tag.strip()
    for lit in P.TAG_DELETE_LITERALS:
        t = t.replace(lit, "")
    t = t.replace("\n", " ")
    t = t.removeprefix("#")
    t = " ".join(t.split())
    return t.strip()


def extract_tags(text: str) -> list[str]:
    """ALL banks accumulate (parser/tag.go:17-110): 28 selectors, then
    ld_blog_vars tags, then meta keywords, then the 4 text selectors —
    order-preserving dedup across the union. The reference dedups on
    CLEANED values during accumulation; returning raw values and cleaning
    in finalize_tags is equivalent because cleanTag is deterministic and
    dedup keeps first occurrence."""
    lower = text.lower()
    found: list[str] = []

    def add(raw: str) -> None:
        t = raw.strip()
        if t and t not in found:
            found.append(t)

    for needle, ex in P.TAG_SELECTOR_BANKS:
        if needle not in lower:
            continue
        for raw in ex(text):
            add(raw)
    if P.LD_BLOG_VARS_MARKER in text:
        blk = P.TAG_LD_BLOCK.search(text)
        if blk:
            for t in P.TAG_LD_ITEM.findall(blk.group(1)):
                add(t)
    m = P.TAG_META_KEYWORDS.search(text)
    if m:
        for k in m.group(1).split(","):
            add(k)
    for needle, ex in P.TAG_TEXT_BANKS:
        if needle not in lower:
            continue
        for raw in ex(text):
            add(raw)
    return found


def finalize_tags(text: str) -> list[str]:
    """extract → clean → drop empties → dedup (parser/parser.go:118-129)."""
    out = [clean_tag(t) for t in extract_tags(text)]
    return dedup_preserve_order([t for t in out if t])


# ----------------------------------------------------------------- date ----


def parse_date_string(s: str) -> datetime | None:
    """Try layouts in order (parser/date.go:113-137); aware → naive UTC."""
    s = s.strip()
    if not s:
        return None
    for fmt in P.DATE_FORMATS:
        raw = s
        f = fmt
        if f == "%Y-%m-%dT%H:%M:%S%z" and raw.endswith("Z"):
            raw = raw[:-1] + "+00:00"
        try:
            dt = datetime.strptime(raw, f)
        except ValueError:
            continue
        if dt.tzinfo is not None:
            dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
        return dt
    return None


def extract_date_raw(text: str) -> str | None:
    """Priority chain; JSON-LD **last** match wins (parser/date.go:27-38 uses
    plain Each which overwrites), then time[datetime], time text, metas,
    first .date element (parser/date.go:20-90)."""
    jsonld_matches: list[str] = []
    for script in P.JSONLD_SCRIPT.findall(text):
        jsonld_matches.extend(P.DATE_PUBLISHED.findall(script))
    for cand in reversed(jsonld_matches):
        if parse_date_string(cand):
            return cand
    m = P.TIME_DATETIME.search(text)
    if m and parse_date_string(m.group(1)):
        return m.group(1)
    m = P.TIME_TEXT.search(text)
    if m:
        inner = P.STRIP_TAGS.sub("", m.group(1)).strip()
        if inner and parse_date_string(inner):
            return inner
    for pat in (P.DATE_META_PUBLISHED_TIME, P.DATE_META_PUBDATE, P.DATE_META_DATE):
        m = pat.search(text)
        if m and parse_date_string(m.group(1)):
            return m.group(1)
    m = P.DATE_CLASS.search(text)
    if m and parse_date_string(m.group(1).strip()):
        return m.group(1).strip()
    return None


def extract_date(text: str) -> datetime | None:
    """Non-fatal: missing/bad date → None ≡ Go zero time → NULL
    (parser/parser.go:131-134)."""
    raw = extract_date_raw(text)
    return parse_date_string(raw) if raw else None


# --------------------------------------------------------------- images ----


@dataclass
class ImageInfo:
    """parser/image.go:11-17."""

    url: str
    alt: str = ""
    width: str = ""
    height: str = ""
    description: str = ""


def normalize_image_url(url: str) -> str:
    """parser/image.go:104-128: drop data:/unparseable; ameblo thumb→full."""
    u = url.strip()
    if not u or u.startswith("data:"):
        return ""
    if ":" in u.split("/")[0] and not u.startswith(("http://", "https://", "//")):
        return ""  # scheme-ish but not a URL (e.g. ':bad url')
    if " " in u:
        return ""
    if P.AMEBLO_HOST.search(u):
        u = P.AMEBLO_THUMB.sub(".", u, count=1)
    return u


def extract_images(text: str) -> list[ImageInfo]:
    """og:image, else twitter:image, then every <img> (data-src preferred over
    src, parser/image.go:60-63), figcaption description (image.go:77-80)."""
    images: list[ImageInfo] = []
    og = P.IMG_OG.search(text)
    if og:
        desc = P.IMG_OG_DESC.search(text)
        u = normalize_image_url(og.group(1))
        if u:
            images.append(ImageInfo(url=u, description=desc.group(1) if desc else ""))
    else:
        tw = P.IMG_TWITTER.search(text)
        if tw:
            desc = P.IMG_TWITTER_DESC.search(text)
            u = normalize_image_url(tw.group(1))
            if u:
                images.append(ImageInfo(url=u, description=desc.group(1) if desc else ""))
    # figcaption map: img src → caption
    captions: dict[str, str] = {}
    for inner, cap in P.FIGURE_WITH_CAPTION.findall(text):
        im = P.IMG_TAG.search(inner)
        if im:
            for attr in ("data-src", "src"):
                am = P.IMG_ATTR[attr].search(im.group(0))
                if am:
                    captions[am.group(1)] = P.STRIP_TAGS.sub("", cap).strip()
                    break
    for tag in P.IMG_TAG.findall(text):
        raw_src = ""
        for attr in ("data-src", "src"):
            am = P.IMG_ATTR[attr].search(tag)
            if am:
                raw_src = am.group(1)
                break
        u = normalize_image_url(raw_src)
        if not u:
            continue

        def attr_of(name: str) -> str:
            am = P.IMG_ATTR[name].search(tag)
            return am.group(1) if am else ""

        images.append(
            ImageInfo(
                url=u,
                alt=attr_of("alt"),
                width=attr_of("width"),
                height=attr_of("height"),
                description=captions.get(raw_src, ""),
            )
        )
    return images


def first_image(text: str) -> str:
    """parser/image.go:95-101."""
    imgs = extract_images(text)
    return imgs[0].url if imgs else ""


# -------------------------------------------------------------- summary ----


def truncate_summary(s: str) -> str:
    """parser/summary.go:164-171 — **rune** length; 300 runes + ・・・."""
    if len(s) > P.SUMMARY_MAX_RUNES:
        return s[: P.SUMMARY_MAX_RUNES] + P.SUMMARY_ELLIPSIS
    return s


def split_sentences(text: str) -> list[str]:
    """parser/summary.go:244-254: split on 。, trim, drop empties."""
    return [s.strip() for s in text.split(P.SENTENCE_DELIM) if s.strip()]


SENTENCE_END_PUNCT = ("。", "！", "？", ".", "!", "?")


def is_sentence_end(surface: str, features: tuple[str, ...] | None = None) -> bool:
    """A10 isSentenceEnd (parser/summary.go:257-271): sentence-final
    punctuation by surface, or a 記号 token whose subtype is 句点/終助詞.
    Dead code in the reference's own pipeline (splitSentences splits on 。
    directly), implemented for completeness and pinned to
    summary_test.go:52-62."""
    if surface in SENTENCE_END_PUNCT:
        return True
    f = features or ()
    return len(f) > 1 and f[0] == "記号" and f[1] in ("句点", "終助詞")


def strip_to_text(html: str) -> str:
    """doc.Find('body').Text() analog (summary.go:106) + ws normalization.
    Entities decode through the fixed BASIC_ENTITIES replace chain (same
    constants, same order), not html.unescape, so the summary's decoding
    is pinned to the renderer's own escapes. The parse kernel computes
    every summary through this function; nothing derives it natively."""
    t = P.STRIP_TAGS.sub(" ", html)
    for ent, ch in P.BASIC_ENTITIES:
        t = t.replace(ent, ch)
    return " ".join(t.split())


def summarize_truncation(cleaned_content: str) -> str:
    """The north-star summary: strip → normalize → truncate (A1 fast path,
    summary.go:110-112 when ≤2 sentences, plus A2)."""
    return truncate_summary(strip_to_text(cleaned_content))


# ----------------------------------------------------------------- slug ----


def set_slug(title: str) -> str:
    """pkg/models/blog.go:26-50: lower, drop non-ASCII-alnum-space,
    [^a-z0-9]+→'-', collapse, trim '-'."""
    s = P.SLUG_NON_ASCII.sub("", title.lower())
    s = P.SLUG_SEP.sub("-", s)
    return s.strip("-")


# ------------------------------------------------------------ full parse ---


@dataclass
class ParsedRecord:
    """Oracle-side BlogPost analog (pkg/models/blog.go:11-23)."""

    title: str | None = None
    body: str | None = None
    summary: str | None = None
    categories: list[str] = field(default_factory=list)
    tags: list[str] = field(default_factory=list)
    created_at: datetime | None = None
    first_image: str = ""
    slug: str = ""
    parse_status: str = "ok"


def parse_record(text: str) -> ParsedRecord:
    """The full extraction DAG (parser/parser.go:64-154) with fail-fast
    errors re-expressed as parse_status routing values."""
    rec = ParsedRecord()
    raw_title = extract_title(text)
    if raw_title is None:
        rec.parse_status = "no_title"
        return rec
    title = clean_title(raw_title)
    if not is_valid_title(title):
        rec.parse_status = "invalid_title"
        return rec
    rec.title = title
    rec.slug = set_slug(title)

    content = extract_content(text)
    if content is None:
        rec.parse_status = "no_content"
        return rec
    cleaned = clean_content(content)
    if not cleaned:
        rec.parse_status = "empty_after_clean"
        return rec
    # quirk preserved: summary computed before the post-clean validity gate
    # (parser/parser.go:95 vs :100-102)
    rec.summary = summarize_truncation(cleaned)
    if not is_valid_content(cleaned):
        rec.parse_status = "short_content"
        rec.body = cleaned
        return rec
    rec.body = cleaned
    rec.categories = finalize_categories(text)
    rec.tags = finalize_tags(text)
    rec.created_at = extract_date(text)  # non-fatal
    rec.first_image = first_image(text)
    return rec
