"""Parity: the Spark parse stage vs the pure-Python oracle, row by row
under stable (conv_id, turn_idx) ordering (the BASELINE.json per-turn
text-equality invariant), and the parse kernel's needle gates vs the
ungated oracle extractors, in process."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from test_fuzz_parity import CONTAINERS, FRAGMENTS

from blogparser_spark.oracle.pyref import parse_record


# every kernel-test payload opens with a valid title and carries enough
# body, so its row passes the fail-fast gates and reaches the extractor
# under test; markup-free payloads get their title from an ld_blog_vars
# object, the one title source without '<'
TITLE = "<h1>Gate title</h1>"
PLAIN_TITLE = "ld_blog_vars = { articles : [ { title : 'plain ld' } ] };"
PAD = " alpha" * 20


def test_parse_stage_matches_oracle(parsed):
    rows = parsed.orderBy("conv_id", "turn_idx").collect()
    assert len(rows) > 500
    mismatches = []
    for r in rows:
        want = parse_record(r["text"])
        got = {
            "parse_status": r["parse_status"],
            "title": r["title"],
            "slug": r["slug"],
            "body": r["body"],
            "summary": r["summary"],
            "categories": list(r["categories"] or []),
            "tags": list(r["tags"] or []),
            "created_at": r["created_at"],
            "first_image": r["first_image"],
        }
        exp = {
            "parse_status": want.parse_status,
            "title": want.title,
            "slug": want.slug,
            "body": want.body,
            "summary": want.summary,
            "categories": want.categories,
            "tags": want.tags,
            "created_at": want.created_at,
            "first_image": want.first_image,
        }
        if got != exp:
            diffs = {k: (got[k], exp[k]) for k in got if got[k] != exp[k]}
            mismatches.append((r["conv_id"], r["turn_idx"], diffs))
    assert not mismatches, f"{len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"


def test_all_statuses_exercised(parsed):
    statuses = {r["parse_status"] for r in parsed.select("parse_status").distinct().collect()}
    assert statuses == {
        "ok",
        "no_title",
        "invalid_title",
        "no_content",
        "empty_after_clean",
        "short_content",
    } - (set() if len(statuses) == 6 else set()), statuses


def test_stable_turn_ordering(parsed, transcripts):
    """Input rows arrive shuffled; (conv_id, turn_idx) must reconstruct the
    conversation exactly — per-turn text equality under stable ordering."""
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in parsed.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in transcripts.select("conv_id", "turn_idx", "text").collect()
    )
    assert got == want


def test_content_fast_path_defers_to_balanced_semantics():
    """The parse kernel must agree with the balanced oracle on the payloads
    a lazy regex reads wrongly: an alternation selector closed by a
    DIFFERENT tag, the wildcard itemprop selector closed by a different
    tag, and a self-closed open followed by a later real close."""
    import pandas as pd

    from blogparser_spark.operators.parse import extract_udf
    from blogparser_spark.oracle import pyref

    pad = "word " * 40  # ≥100 bytes of plain body
    payloads = [
        TITLE + p
        for p in (
            f'<div id="content">{pad}</main>tail after mismatched close {pad}',
            f'<span itemprop="articleBody">{pad}</div>trailing {pad}',
            f'<div class="entry-content"/>{pad}</div>extra {pad}',
            f"<DIV id='content'>{pad}</SECTION>cased mismatch {pad}",
        )
    ]
    got = extract_udf.func(pd.Series(payloads))
    for i, p in enumerate(payloads):
        want = pyref.extract_content(p)
        rec = pyref.parse_record(p)
        assert (got["parse_status"].iloc[i] != "no_content") == (want is not None), (i, want)
        assert got["parse_status"].iloc[i] == rec.parse_status, i
        g = got["body"].iloc[i]
        assert (g is None and want is None) or g == pyref.clean_content(want), (i, g, want)


def test_null_text_routes_per_record(spark):
    """Per-record error isolation: a NULL text row must ROUTE (no_title),
    never poison its Arrow batch — `~NA` over the plain-text-fallback gate
    used to raise TypeError and kill the task for every row in the batch."""
    from blogparser_spark.operators.parse import parse_stage

    pad = "word " * 30
    df = spark.createDataFrame(
        [
            ("c", 0, None),
            ("c", 1, f"<h1>Title</h1><article>{pad}</article>"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    rows = {r["turn_idx"]: r for r in parse_stage(df).collect()}
    assert rows[0]["parse_status"] == "no_title"
    assert rows[1]["parse_status"] == "ok"


def test_published_time_only_date_reaches_extractor(spark):
    """A document whose ONLY date source is the OGP article:published_time
    meta (no literal 'date', no <time>) must still get created_at — the
    vectorized gate needs its own needle for this key."""
    from blogparser_spark.operators.parse import parse_stage
    from blogparser_spark.oracle import pyref

    pad = "word " * 30
    text = (
        '<meta property="article:published_time" content="2023-05-01T10:00:00Z">'
        f"<h1>Title</h1><article>{pad}</article>"
    )
    assert "date" not in text.lower() and "<time" not in text.lower()
    want = pyref.extract_date(text)
    assert want is not None
    df = spark.createDataFrame([("c", 0, text)], "conv_id string, turn_idx int, text string")
    got = parse_stage(df).collect()[0]
    assert got["parse_status"] == "ok"
    assert got["created_at"] == want


def test_clean_content_needle_spliced_by_comment_removal():
    """Comment removal can splice a remove-bank needle into existence
    ('goo<!-- x -->gle-auto-placed' → 'google-auto-placed'); the oracle
    applies the bank AFTER comment removal, so the kernel must too —
    gating on the original text skips the removal."""
    import pandas as pd

    from blogparser_spark.operators.parse import extract_udf
    from blogparser_spark.oracle import pyref

    pad = "keep " * 30
    payloads = [
        f'<div class="goo<!-- x -->gle-auto-placed">AD</div>{pad}',
        f'<div class="google-auto-placed">AD</div>{pad}',  # plain needle
        pad,  # bank-free row
    ]
    # each payload is the whole inner of an <article> container behind a
    # valid title, so the kernel hands it to the cleaning bank as is
    got = extract_udf.func(
        pd.Series([f"{TITLE}<article>{p}</article>" for p in payloads])
    )["body"]
    for i, p in enumerate(payloads):
        want = pyref.clean_content(p)
        assert got.iloc[i] == want, (i, got.iloc[i], want)
    assert "AD" not in got.iloc[0]


# fragments and containers that reach the needle gates the fuzz bank
# leaves uncovered, so that dropping any needle from a kernel gate changes
# the kernel's output on some one-fragment payload. Four gate needles
# cannot be isolated: their banks match only attribute values that hold
# another needle of the same gate (rel='category…', the two ='theme'
# attributes; an ld_blog_vars tag block always holds "tags").
GATE_FRAGMENTS = [
    '<a rel="category">{w}rel</a>',
    '<div class="cat-links"><a>{w}cl</a></div>',
    '<div class="post-categories"><a>{w}pc</a></div>',
    '<div class="entry-categories"><a>{w}ec</a></div>',
    '<div data-analytics-index-name="theme"><span>{w}an</span></div>',
    '<span data-uranus-component="theme">{w}ur</span>',
    '<div class="label"><a>{w}lb</a></div>',
    '<meta property="article:published_time" content="2023-05-01T10:00:00Z">',
    '<meta name="twitter:image" content="https://e.com/t{n}.png">',
    "<script>ld_blog_vars = {{ categories : [ {{ name : '{w}ldc' }} ] }};</script>",
    "<time>2023-07-01</time>",
]
GATE_CONTAINERS = [
    '<div class="skin-entryBody">{body}</div>',
    '<div class="articleText">{body}</div>',
    '<div class="post-main">{body}</div>',
    '<div class="post-body">{body}</div>',
    '<div class="POST_BODY">{body}</div>',
    '<div class="post-content">{body}</div>',
    '<div class="article-content">{body}</div>',
    '<section id="main-content">{body}</section>',
    '<div class="content">{body}</div>',
    "<body>{body}</body>",
]


def _fragment(bank: list[str]):
    return st.builds(
        lambda f, w, n, upper: f.format(w=w, n=n).upper() if upper else f.format(w=w, n=n),
        st.sampled_from(bank),
        st.sampled_from("alpha beta gamma delta".split()),
        st.integers(0, 99),
        st.booleans(),
    )


_FRAGMENT = _fragment(FRAGMENTS + GATE_FRAGMENTS)
_PAYLOAD = st.one_of(
    st.builds(
        lambda head, container, body: TITLE
        + "".join(head)
        + container.format(body="".join(body) + PAD),
        st.lists(_FRAGMENT, max_size=5),
        st.sampled_from(CONTAINERS + GATE_CONTAINERS),
        st.lists(_FRAGMENT, max_size=5),
    ),
    # markup-free payloads take the kernel's plain-text branch
    st.lists(_fragment([f for f in FRAGMENTS if "<" not in f]), min_size=1).map(
        lambda frags: PLAIN_TITLE + "".join(frags) + PAD
    ),
)


def _assert_kernel_matches_ungated_oracle(payloads: list[str]) -> None:
    """Each kernel row equals the ungated pyref.parse_record, plus the raw
    date candidates and images that ok rows carry for parse_stage."""
    import pandas as pd

    from blogparser_spark.operators.parse import _date_candidates, extract_udf
    from blogparser_spark.oracle import pyref

    got = extract_udf.func(pd.Series(payloads)).to_dict("records")
    for text, g in zip(payloads, got):
        rec = pyref.parse_record(text)
        ok = rec.parse_status == "ok"
        want = {
            "parse_status": rec.parse_status,
            "title": rec.title,
            "slug": rec.slug,
            "body": rec.body,
            "summary": rec.summary,
            "categories": rec.categories,
            "tags": rec.tags,
            "date_candidates": _date_candidates(text) if ok else None,
            "images": [vars(im) for im in pyref.extract_images(text)] if ok else None,
        }
        assert g == want, text


def test_kernel_gates_match_ungated_oracle_one_fragment():
    """Every field of the parse kernel equals the UNGATED oracle on every
    single fragment, inside every content container and in the head before
    one, and as the whole of a markup-free body (each payload has one way
    into each gate, so a needle the kernel dropped shows here): each
    per-row needle gate is a necessary condition, never a filter that
    drops a match."""
    frags = [f.format(w="beta", n=7) for f in FRAGMENTS + GATE_FRAGMENTS]
    payloads = (
        [TITLE + c.format(body=f + PAD) for f in frags for c in CONTAINERS + GATE_CONTAINERS]
        + [f"{TITLE}{f}<article>{PAD}</article>" for f in frags]
        + [PLAIN_TITLE + f + PAD for f in frags if "<" not in f]
    )
    rows = payloads + [p.upper() for p in payloads]
    _assert_kernel_matches_ungated_oracle(rows)


@settings(max_examples=150, deadline=None)
@given(st.lists(_PAYLOAD, min_size=1, max_size=6))
def test_kernel_gates_match_ungated_oracle(payloads):
    """The same equality on random mixes of fuzz fragments, containers and
    markup-free text."""
    _assert_kernel_matches_ungated_oracle(payloads)
