"""Driver-contract queries: one entry per operator family (SURVEY.md §2 and
the dataops modules), each paired with an exact DuckDB SQL oracle in
ORACLE_SQL.

Every query is a callable (spark, sf_dir) -> DataFrame over the driver's
parquet tables. Column names/aliases match the oracle SQL exactly; float
outputs are rounded on both sides; arrays are sorted on both sides (DuckDB's
list_distinct does not preserve order, Spark's array_distinct does — sorting
makes the comparison engine-neutral).

The HTML-ish payloads the extraction operators need are constructed
deterministically *inside* the query from table columns (doc_id % k variant
switch), so both engines see identical inputs without external fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blogparser_spark.dataops import dedup, similarity, textstats
from blogparser_spark.functions import text as T
from blogparser_spark.operators import aggregate as agg_ops
from blogparser_spark.operators import summary_bm25

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _prepare(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs this package's semantics assume, for
    callers that hand us their own session (the driver does): ANSI off so a
    malformed date is a NULL rather than an exception (the reference's
    zero-value contract, parser/parser.go:131-134), UTC so timestamp
    rendering matches the DuckDB oracles, Arrow on for the pandas UDFs.
    Also ships the package zip to executor workers (addPyFile) in case the
    session's JVM was launched without this repo on PYTHONPATH."""
    from blogparser_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only in some deployments; defaults then apply
    return spark


def _q(name: str, sql: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(_prepare(spark), sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if sql is not None:
            ORACLE_SQL[name] = sql
        return wrapped

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ===========================================================================
# Extraction family (SURVEY.md §2.2) — priority chains, cleaning, validity
# ===========================================================================


@_q(
    "title_priority_chain",
    """
    WITH payload AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN '<meta property="og:title" content="OG ' || source || '"><h1>h1 loses</h1>'
          WHEN 1 THEN '<h1> H1 ' || source || ' </h1><title>title loses</title>'
          ELSE '<title>TT ' || source || '</title>'
        END AS html
      FROM documents
    )
    SELECT doc_id,
      coalesce(
        nullif(trim(regexp_extract(html, '<meta[^>]*property="og:title"[^>]*content="([^"]*)"', 1)), ''),
        nullif(trim(regexp_extract(html, '<h1[^>]*>(.*?)</h1>', 1)), ''),
        nullif(trim(regexp_extract(html, '<title[^>]*>(.*?)</title>', 1)), '')
      ) AS title
    FROM payload
    """,
)
def title_priority_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 extractTitle (parser/title.go:18-73): priority coalesce over regex
    captures — native Columns, whole-stage codegen."""
    d = _docs(spark, sf_dir)
    html = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="OG '),
                F.col("source"),
                F.lit('"><h1>h1 loses</h1>'),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("<h1> H1 "), F.col("source"), F.lit(" </h1><title>title loses</title>")
            ),
        )
        .otherwise(F.concat(F.lit("<title>TT "), F.col("source"), F.lit("</title>")))
    )

    def rx(pat: str) -> F.Column:
        return F.nullif(F.trim(F.regexp_extract(F.col("html"), pat, 1)), F.lit(""))

    return d.select(F.col("doc_id"), html.alias("html")).select(
        "doc_id",
        F.coalesce(
            rx('<meta[^>]*property="og:title"[^>]*content="([^"]*)"'),
            rx("<h1[^>]*>(.*?)</h1>"),
            rx("<title[^>]*>(.*?)</title>"),
        ).alias("title"),
    )


@_q(
    "clean_title_chain",
    """
    SELECT doc_id,
      trim(replace(
        replace(trim(regexp_replace(
          replace('  Report' || chr(10) || '"' || source || '"   end | 心理カウンセラー・中井亜紀『成長の記録』', chr(10), ' '),
          '\\s+', ' ', 'g')), '"', '\\"'),
        '| 心理カウンセラー・中井亜紀『成長の記録』', '')) AS title
    FROM documents
    """,
)
def clean_title_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 cleanTitle (parser/title.go:76-87): newline→space, collapse ws,
    escape quotes, strip site suffix, trim."""
    d = _docs(spark, sf_dir)
    messy = F.concat(
        F.lit('  Report\n"'),
        F.col("source"),
        F.lit('"   end | 心理カウンセラー・中井亜紀『成長の記録』'),
    )
    return d.select("doc_id", T.clean_title(messy).alias("title"))


@_q(
    "validity_route_counts",
    """
    SELECT status, count(*)::BIGINT AS n FROM (
      SELECT CASE
        WHEN text IS NULL OR text = '' THEN 'no_content'
        WHEN strlen(text) < 100 THEN 'short_content'
        WHEN regexp_matches(text, '[<>]') THEN 'invalid'
        ELSE 'ok' END AS status
      FROM documents
    ) GROUP BY status
    """,
)
def validity_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P6 validity gates as a routing-status derivation + sink counts —
    byte semantics via octet_length (content.go:146, Go len())."""
    d = _docs(spark, sf_dir)
    status = (
        F.when(F.col("text").isNull() | (F.col("text") == ""), "no_content")
        .when(F.octet_length("text") < 100, "short_content")
        .when(F.col("text").rlike("[<>]"), "invalid")
        .otherwise("ok")
    )
    return d.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n")
    )


@_q(
    "truncate_summary",
    """
    SELECT doc_id,
      CASE WHEN length(text) > 300
           THEN substring(text, 1, 300) || '・・・'
           ELSE text END AS summary
    FROM documents
    """,
)
def truncate_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 truncateSummary (summary.go:164-171): rune-based truncation —
    Spark length/substring are char-based ≡ Go rune slicing."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.truncate_summary(F.col("text")).alias("summary"))


@_q(
    "slugify",
    """
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        lower(substring(text, 1, 50)), '[^a-z0-9 ]', '', 'g'),
        '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS slug
    FROM documents
    """,
)
def slugify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P18 SetSlug (pkg/models/blog.go:26-50)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.slugify(F.substring("text", 1, 50)).alias("slug"))


@_q(
    "date_multiformat_parse",
    """
    WITH s AS (
      SELECT o_orderkey,
        CASE o_orderkey % 3
          WHEN 0 THEN strftime(o_orderdate, '%Y/%m/%d')
          WHEN 1 THEN strftime(o_orderdate, '%Y.%m.%d')
          ELSE strftime(o_orderdate, '%Y-%m-%d') END AS ds
      FROM orders
    )
    SELECT o_orderkey,
      coalesce(try_strptime(ds, '%Y-%m-%d'), try_strptime(ds, '%Y/%m/%d'),
               try_strptime(ds, '%Y.%m.%d')) AS parsed
    FROM s
    """,
)
def date_multiformat_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17 parseDateString (parser/date.go:113-137): multi-layout
    try-parse coalesce; malformed → NULL, never a job failure."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ds = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy/MM/dd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy.MM.dd"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    parsed = F.coalesce(
        F.try_to_timestamp(F.col("ds"), F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(F.col("ds"), F.lit("yyyy/MM/dd")),
        F.try_to_timestamp(F.col("ds"), F.lit("yyyy.MM.dd")),
    )
    return o.select("o_orderkey", ds.alias("ds")).select(
        "o_orderkey", parsed.alias("parsed")
    )


@_q(
    "tags_union_dedup",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks, source
      FROM documents
    )
    SELECT doc_id,
      array_to_string(list_sort(list_distinct(list_concat(list_concat(toks[1:3], toks[3:5]), [source]))), '|') AS tags
    FROM t
    """,
)
def tags_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 extractTags: all banks accumulate (union) then dedup
    (tag.go:17-110); sorted + joined for engine-neutral comparison."""
    d = _docs(spark, sf_dir)
    toks = textstats.tokens(F.col("text"))
    tags = F.array_sort(
        F.array_distinct(
            F.concat(F.slice(toks, 1, 3), F.slice(toks, 3, 3), F.array(F.col("source")))
        )
    )
    return d.select("doc_id", F.array_join(tags, "|").alias("tags"))


@_q(
    "category_first_bank",
    """
    WITH b AS (
      SELECT doc_id,
        regexp_extract_all(text, 'spark[a-z]*') AS b1,
        regexp_extract_all(text, 'table[a-z]*') AS b2,
        [source] AS b3
      FROM documents
    )
    SELECT doc_id,
      array_to_string(list_sort(list_distinct(
        CASE WHEN len(b1) > 0 THEN b1 WHEN len(b2) > 0 THEN b2 ELSE b3 END
      )), '|') AS categories
    FROM b
    """,
)
def category_first_bank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 extractCategories: FIRST non-empty bank wins (category.go:18-111)
    — array-level coalesce, unlike the tags union."""
    d = _docs(spark, sf_dir)
    b1 = F.regexp_extract_all(F.col("text"), F.lit("spark[a-z]*"), 0)
    b2 = F.regexp_extract_all(F.col("text"), F.lit("table[a-z]*"), 0)
    b3 = F.array(F.col("source"))
    chosen = F.when(F.size(b1) > 0, b1).when(F.size(b2) > 0, b2).otherwise(b3)
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(chosen)), "|").alias("categories"),
    )


@_q(
    "image_first_url",
    """
    WITH p AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN '<meta property="og:image" content="https://stat.ameba.jp/img/p' || doc_id || '_s.jpg"><img src="https://example.com/lose.png">'
          WHEN 1 THEN '<meta name="twitter:image" content="https://example.com/tw' || doc_id || '.jpg">'
          WHEN 2 THEN '<img src="data:image/png;base64,AAAA"><img src="https://example.com/i' || doc_id || '.png">'
          ELSE '<p>no image</p>'
        END AS html
      FROM documents
    ), ext AS (
      SELECT doc_id,
        coalesce(
          nullif(regexp_extract(html, '<meta[^>]*property="og:image"[^>]*content="([^"]*)"', 1), ''),
          nullif(regexp_extract(html, '<meta[^>]*name="twitter:image"[^>]*content="([^"]*)"', 1), ''),
          nullif(regexp_extract(html, '<img[^>]*src="(https?://[^"]*)"', 1), ''),
          '') AS url
      FROM p
    )
    SELECT doc_id,
      CASE WHEN url LIKE 'https://stat.ameba.jp/%'
           THEN regexp_replace(url, '_[sm]\\.', '.')
           ELSE url END AS first_image
    FROM ext
    """,
)
def image_first_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1-I3 image extraction: og:image > twitter:image > first img;
    data: URLs skipped (the https?:// requirement), ameblo thumbnail
    suffix normalized to the full-size URL (parser/image.go:104-128)."""
    d = _docs(spark, sf_dir)
    html = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<meta property="og:image" content="https://stat.ameba.jp/img/p'),
                F.col("doc_id"),
                F.lit('_s.jpg"><img src="https://example.com/lose.png">'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('<meta name="twitter:image" content="https://example.com/tw'),
                F.col("doc_id"),
                F.lit('.jpg">'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit('<img src="data:image/png;base64,AAAA"><img src="https://example.com/i'),
                F.col("doc_id"),
                F.lit('.png">'),
            ),
        )
        .otherwise(F.lit("<p>no image</p>"))
    )
    h = F.col("html")
    url = F.coalesce(
        F.nullif(
            F.regexp_extract(h, '<meta[^>]*property="og:image"[^>]*content="([^"]*)"', 1),
            F.lit(""),
        ),
        F.nullif(
            F.regexp_extract(h, '<meta[^>]*name="twitter:image"[^>]*content="([^"]*)"', 1),
            F.lit(""),
        ),
        F.nullif(F.regexp_extract(h, '<img[^>]*src="(https?://[^"]*)"', 1), F.lit("")),
        F.lit(""),
    )
    first = F.when(
        F.col("url").startswith("https://stat.ameba.jp/"),
        F.regexp_replace("url", r"_[sm]\.", "."),
    ).otherwise(F.col("url"))
    return (
        d.select("doc_id", html.alias("html"))
        .select("doc_id", url.alias("url"))
        .select("doc_id", first.alias("first_image"))
    )


@_q(
    "jsonld_date_extract",
    """
    WITH p AS (
      SELECT doc_id,
        '<script type="application/ld+json">{"datePublished": "2023-' ||
        printf('%02d', (doc_id % 12)::INT + 1) || '-' ||
        printf('%02d', (doc_id % 28)::INT + 1) || 'T10:30:00"}</script>' AS html
      FROM documents
    )
    SELECT doc_id,
      try_strptime(regexp_extract(html, '"datePublished"\\s*:\\s*"([^"]*)"', 1),
                   '%Y-%m-%dT%H:%M:%S') AS published
    FROM p
    """,
)
def jsonld_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16 extractDatePublishedFromJSONLD (parser/date.go:93-110): regex scan
    of the JSON-LD script payload, then timestamp parse."""
    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<script type="application/ld+json">{"datePublished": "2023-'),
        F.format_string("%02d", (F.col("doc_id") % 12 + 1).cast("int")),
        F.lit("-"),
        F.format_string("%02d", (F.col("doc_id") % 28 + 1).cast("int")),
        F.lit('T10:30:00"}</script>'),
    )
    published = F.try_to_timestamp(
        F.regexp_extract(F.col("html"), r'"datePublished"\s*:\s*"([^"]*)"', 1),
        F.lit("yyyy-MM-dd'T'HH:mm:ss"),
    )
    return d.select("doc_id", html.alias("html")).select(
        "doc_id", published.alias("published")
    )


@_q(
    "normalize_lines",
    """
    WITH p AS (
      SELECT doc_id,
        '  ' || replace(text, ' ', chr(13) || chr(10) || '  ') || '   ' AS messy
      FROM documents
    )
    SELECT doc_id,
      trim(regexp_replace(
        regexp_replace(
          regexp_replace(messy, '\\r\\n?', chr(10), 'g'),
          '(?m)^[ \\t]+|[ \\t]+$', '', 'g'),
        '\\n{2,}', chr(10), 'g')) AS normalized
    FROM p
    """,
)
def normalize_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P9 normalizeHTML / normalizeWhitespace (parser/content.go:116-136):
    CRLF→LF, per-line trim, empty-line drop, outer trim — one native chain."""
    d = _docs(spark, sf_dir)
    messy = F.concat(
        F.lit("  "),
        F.regexp_replace("text", " ", "\r\n  "),
        F.lit("   "),
    )
    c = F.regexp_replace(F.col("messy"), r"\r\n?", "\n")
    c = F.regexp_replace(c, r"(?m)^[ \t]+|[ \t]+$", "")
    c = F.trim(F.regexp_replace(c, r"\n{2,}", "\n"))
    return d.select("doc_id", messy.alias("messy")).select(
        "doc_id", c.alias("normalized")
    )


# ===========================================================================
# Enrich / route / aggregate family (§2.5)
# ===========================================================================


@_q(
    "enrich_broadcast_route",
    """
    SELECT channel, count(*)::BIGINT AS n, round(sum(value), 2) AS total_value
    FROM (
      SELECT coalesce(d.channel, 'unknown') AS channel, e.value
      FROM events e
      LEFT JOIN (VALUES ('click','ui'), ('view','ui'), ('purchase','commerce'),
                        ('signup','growth')) AS d(event_type, channel)
        ON e.event_type = d.event_type
    ) GROUP BY channel
    """,
)
def enrich_broadcast_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-analog lookup enrich: broadcast hash join of a tiny dim, null
    bucket → 'unknown', then per-sink counts (the route+aggregate shape)."""
    e = _events(spark, sf_dir)
    dim = spark.createDataFrame(
        [("click", "ui"), ("view", "ui"), ("purchase", "commerce"), ("signup", "growth")],
        "event_type string, channel string",
    )
    return (
        e.join(F.broadcast(dim), "event_type", "left")
        .withColumn("channel", F.coalesce("channel", F.lit("unknown")))
        .groupBy("channel")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@_q(
    "conv_window_stats",
    """
    WITH w AS (
      SELECT user_id, event_id, ts,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_no,
        epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT user_id, count(*)::BIGINT AS n_events,
           max(turn_no)::BIGINT AS max_turn,
           max(gap_us)::BIGINT AS max_gap_us
    FROM w GROUP BY user_id
    """,
)
def conv_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conv window features (north-star stable turn ordering): row_number
    + lag over (user, ts) then rollup — the A9/window family on events.
    Gaps in exact integer microseconds (sub-second ts resolution)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("turn_no", F.row_number().over(w))
        .withColumn(
            "gap_us",
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w)),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("turn_no").cast("long").alias("max_turn"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


@_q(
    "turn_window_features",
    """
    SELECT user_id, event_id,
      row_number() OVER w AS turn_no,
      lag(event_type) OVER w AS prev_type,
      lead(event_type) OVER w AS next_type,
      round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING), 6) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def turn_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full stable-ordered window family over conversations (north-star
    turn features): row_number, lag, lead, running sum — one shuffle on the
    conv key, every function sharing the same window frame."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("turn_no"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(F.sum("value").over(run), 6).alias("running_value"),
    )


@_q(
    "top2_per_group",
    """
    SELECT event_type, rank, event_id, round(value, 6) AS value
    FROM (
      SELECT event_type, event_id, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
      FROM events
    ) WHERE rank <= 2
    """,
)
def top2_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 top-2 stable select (summary.go:136-158): window row_number with a
    deterministic tie-break (the documented fix of Go's unstable sort)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("event_type", "rank", "event_id", F.round("value", 6).alias("value"))
    )


@_q(
    "summary_length_histogram",
    """
    SELECT (floor(length(text) / 50) * 50)::BIGINT AS bucket, count(*)::BIGINT AS n
    FROM documents GROUP BY bucket
    """,
)
def summary_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star summary-length histogram (bucket width 50)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy((F.floor(F.length("text") / 50) * 50).alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


@_q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
        CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
             OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts,
        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*)::BIGINT AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a session — lag + running sum over
    the stable (user, ts) window, then per-session rollup."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            )
            > 1800 * 1_000_000
        ),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(run).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@_q(
    "pricing_rollup",
    """
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      count(*)::BIGINT AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregatable hash rollup with filter pushdown (the classic
    pricing-summary shape) — decimal sums for exact cross-engine equality.
    Expressed through spark.sql() over a temp view: the SQL front-end and
    the DataFrame API land on the same Catalyst plan."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "lineitem_v"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          count(*) AS n
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    )


# ===========================================================================
# BM25 summary family (§2.4) — the relational flagship
# ===========================================================================


@_q(
    "bm25_top2",
    """
    WITH sent AS (
      SELECT source AS doc, doc_id AS sent_idx, text AS sentence
      FROM documents
    ), toks AS (
      SELECT doc, sent_idx, unnest(list_filter(string_split(lower(sentence), ' '), x -> x != '')) AS term
      FROM sent
    ), tf AS (
      SELECT doc, sent_idx, term, count(*) AS tf
      FROM toks GROUP BY doc, sent_idx, term
    ), sent_toks AS (
      SELECT doc, sent_idx, sum(tf) AS n_toks FROM tf GROUP BY doc, sent_idx
    ), dft AS (
      SELECT doc, term, count(DISTINCT sent_idx) AS df FROM tf GROUP BY doc, term
    ), stats AS (
      SELECT doc, count(*) AS n_sents, avg(strlen(sentence)) AS avg_len FROM sent GROUP BY doc
    ), scored AS (
      SELECT tf.doc, tf.sent_idx,
        sum(greatest(0.0, ln((stats.n_sents - dft.df + 0.5) / (dft.df + 0.5)))
            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * st.n_toks / stats.avg_len))
            * tf.tf) AS score
      FROM tf JOIN dft ON tf.doc = dft.doc AND tf.term = dft.term
              JOIN sent_toks st ON tf.doc = st.doc AND tf.sent_idx = st.sent_idx
              JOIN stats ON tf.doc = stats.doc
      GROUP BY tf.doc, tf.sent_idx
    )
    SELECT doc, rank, sent_idx, round(score, 4) AS score FROM (
      SELECT doc, sent_idx, score,
        row_number() OVER (PARTITION BY doc ORDER BY round(score, 6) DESC, sent_idx) AS rank
      FROM scored
    ) WHERE rank <= 2
    """,
)
def bm25_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-A9 relational BM25: source = document, each row = sentence; tf/df/
    avg-len as hash aggregations, top-2 via window — linear where the
    reference is quadratic (summary.go:49-55)."""
    d = _docs(spark, sf_dir)
    sent = d.select(
        F.col("source").alias("doc"),
        F.col("doc_id").alias("sent_idx"),
        F.col("text").alias("sentence"),
    )
    scored = summary_bm25.bm25_sentence_scores(sent)
    w = Window.partitionBy("doc").orderBy(F.desc(F.round("score", 6)), F.asc("sent_idx"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("doc", "rank", "sent_idx", F.round("score", 4).alias("score"))
    )


# ===========================================================================
# Dedup family (dataops.dedup)
# ===========================================================================


@_q(
    "dedup_exact_stats",
    """
    SELECT count(*)::BIGINT AS n_docs,
           (count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
            + max(CASE WHEN text IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_distinct,
           (count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
            - max(CASE WHEN text IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_dup_rows
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: hash-groupBy on md5 of normalized text."""
    return dedup.exact_dedup_stats(_docs(spark, sf_dir))


@_q(
    "dedup_apply_survivors",
    """
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_apply_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized dedup decision: ids surviving exact dedup (min-id
    per normalized-text group) — what a training pipeline actually writes."""
    return dedup.apply_exact_dedup(_docs(spark, sf_dir)).select("doc_id")


@_q(
    "minhash_signatures",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS shingles
      FROM t
    )
    SELECT doc_id,
      array_to_string([
       list_min(list_transform(shingles, s -> md5('0:' || s))),
       list_min(list_transform(shingles, s -> md5('1:' || s))),
       list_min(list_transform(shingles, s -> md5('2:' || s))),
       list_min(list_transform(shingles, s -> md5('3:' || s))),
       list_min(list_transform(shingles, s -> md5('4:' || s))),
       list_min(list_transform(shingles, s -> md5('5:' || s))),
       list_min(list_transform(shingles, s -> md5('6:' || s))),
       list_min(list_transform(shingles, s -> md5('7:' || s)))], '|') AS sig
    FROM sh
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) over word 3-shingles — md5-string
    minimization is engine-portable."""
    sig = dedup.minhash_signature_df(_docs(spark, sf_dir))
    return sig.select(
        "doc_id",
        F.array_join(
            F.array(*[F.col(f"mh_{i}") for i in range(dedup.MINHASH_K)]), "|"
        ).alias("sig"),
    )


@_q(
    "minhash_lsh_buckets",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS shingles
      FROM t
    ), sig AS (
      SELECT doc_id,
        [list_min(list_transform(shingles, s -> md5('0:' || s))),
         list_min(list_transform(shingles, s -> md5('1:' || s))),
         list_min(list_transform(shingles, s -> md5('2:' || s))),
         list_min(list_transform(shingles, s -> md5('3:' || s))),
         list_min(list_transform(shingles, s -> md5('4:' || s))),
         list_min(list_transform(shingles, s -> md5('5:' || s))),
         list_min(list_transform(shingles, s -> md5('6:' || s))),
         list_min(list_transform(shingles, s -> md5('7:' || s)))] AS s
      FROM sh
    ), bands AS (
      SELECT doc_id, b.band_idx, md5(s[b.band_idx*2 + 1] || '|' || s[b.band_idx*2 + 2]) AS band_hash
      FROM sig, (SELECT unnest(range(4)) AS band_idx) b
    )
    SELECT band_idx, band_hash, count(*)::BIGINT AS n_docs,
           array_to_string(list_transform(list_sort(list(doc_id))[1:100], x -> x::VARCHAR), '|') AS ids
    FROM bands GROUP BY band_idx, band_hash HAVING count(*) >= 2
    """,
)
def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band buckets with ≥2 members — the candidate-pair generator; the
    only shuffle key is the tiny (band_idx, band_hash)."""
    out = dedup.minhash_lsh_candidates(_docs(spark, sf_dir))
    return out.select(
        "band_idx",
        "band_hash",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.array_join(F.transform("ids", lambda x: x.cast("string")), "|").alias("ids"),
    )


@_q(
    "ngram_jaccard_pairs",
    """
    WITH base AS (
      SELECT doc_id AS id, lang,
        list_distinct(list_transform(
          range(1, greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 2)),
          i -> list_filter(string_split(text, ' '), x -> x != '')[i] || ' ' ||
               list_filter(string_split(text, ' '), x -> x != '')[i+1])) AS sh
      FROM documents
    ), b2 AS (
      SELECT id, lang, sh, (len(sh) // 8)::BIGINT AS bucket FROM base
    )
    SELECT a.id AS id_a, b.id AS id_b,
      round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
    FROM b2 a JOIN b2 b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.id < b.id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) >= 0.12
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise 2-gram Jaccard (block = lang × size bucket)."""
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.12, bucket_width=8
    )


@_q(
    "simhash_signatures",
    """
    WITH t AS (
      SELECT doc_id,
        list_distinct(list_filter(string_split(lower(text), ' '), x -> x != '')) AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, md5(unnest(toks)) AS h FROM t
    ), votes AS (
      SELECT doc_id, r.b,
        sum(2 * (((strpos('0123456789abcdef', substr(h, (r.b // 4)::INT + 1, 1)) - 1)
                  >> (3 - (r.b % 4))::INT) & 1) - 1) AS vote
      FROM tok, (SELECT unnest(range(32)) AS b) r
      GROUP BY doc_id, r.b
    )
    SELECT doc_id,
      sum(CASE WHEN vote > 0 THEN (1::BIGINT << (31 - b)::INT) ELSE 0 END)::BIGINT AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc (relational vote-sum plan)."""
    return dedup.simhash_df(_docs(spark, sf_dir))


@_q(
    "simhash_band_candidates",
    """
    WITH t AS (
      SELECT doc_id,
        list_distinct(list_filter(string_split(lower(text), ' '), x -> x != '')) AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, md5(unnest(toks)) AS h FROM t
    ), votes AS (
      SELECT doc_id, r.b,
        sum(2 * (((strpos('0123456789abcdef', substr(h, (r.b // 4)::INT + 1, 1)) - 1)
                  >> (3 - (r.b % 4))::INT) & 1) - 1) AS vote
      FROM tok, (SELECT unnest(range(32)) AS b) r
      GROUP BY doc_id, r.b
    ), sh AS (
      SELECT doc_id,
        sum(CASE WHEN vote > 0 THEN (1::BIGINT << (31 - b)::INT) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band_idx, simhash // 65536 AS band_val FROM sh
      UNION ALL
      SELECT doc_id, 1 AS band_idx, simhash % 65536 AS band_val FROM sh
    )
    SELECT band_idx, band_val, count(*)::BIGINT AS n_docs,
           array_to_string(list_transform(list_sort(list(doc_id))[1:100], x -> x::VARCHAR), '|') AS ids
    FROM bands GROUP BY band_idx, band_val HAVING count(*) >= 2
    """,
)
def simhash_band_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate generation: group on the 16-bit signature
    halves — hamming distance ≤ 1 always collides on one half (dedup.py
    simhash_band_candidates)."""
    out = dedup.simhash_band_candidates(_docs(spark, sf_dir))
    return out.select(
        "band_idx",
        F.col("band_val").cast("long").alias("band_val"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.array_join(F.transform("ids", lambda x: x.cast("string")), "|").alias("ids"),
    )


@_q(
    "simhash_verified_pairs",
    """
    WITH t AS (
      SELECT doc_id,
        list_distinct(list_filter(string_split(lower(text), ' '), x -> x != '')) AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, md5(unnest(toks)) AS h FROM t
    ), votes AS (
      SELECT doc_id, r.b,
        sum(2 * (((strpos('0123456789abcdef', substr(h, (r.b // 4)::INT + 1, 1)) - 1)
                  >> (3 - (r.b % 4))::INT) & 1) - 1) AS vote
      FROM tok, (SELECT unnest(range(32)) AS b) r
      GROUP BY doc_id, r.b
    ), sh AS MATERIALIZED (
      SELECT doc_id,
        sum(CASE WHEN vote > 0 THEN (1::BIGINT << (31 - b)::INT) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band_idx, simhash // 65536 AS band_val FROM sh
      UNION ALL
      SELECT doc_id, 1 AS band_idx, simhash % 65536 AS band_val FROM sh
    ), chained AS (
      SELECT lag(doc_id) OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) AS id_a,
             doc_id AS id_b
      FROM bands
    ), pairs AS (
      SELECT DISTINCT id_a, id_b FROM chained WHERE id_a IS NOT NULL
    )
    SELECT p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INT AS hamming
    FROM pairs p JOIN sh a ON p.id_a = a.doc_id JOIN sh b ON p.id_b = b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_verified_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with EXACT Hamming verification: half-band
    chained candidates (linear, never all-pairs) filtered to popcount(xor)
    ≤ 3 over the full 32-bit signatures — the SimHash mirror of the MinHash
    path's candidates → exact-Jaccard verify (dedup.simhash_verified_pairs)."""
    out = dedup.simhash_verified_pairs(_docs(spark, sf_dir), max_distance=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "hamming",
    )


@_q(
    "simhash_near_dup_clusters",
    """
    WITH RECURSIVE t AS (
      SELECT doc_id,
        list_distinct(list_filter(string_split(lower(text), ' '), x -> x != '')) AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, md5(unnest(toks)) AS h FROM t
    ), votes AS (
      SELECT doc_id, r.b,
        sum(2 * (((strpos('0123456789abcdef', substr(h, (r.b // 4)::INT + 1, 1)) - 1)
                  >> (3 - (r.b % 4))::INT) & 1) - 1) AS vote
      FROM tok, (SELECT unnest(range(32)) AS b) r
      GROUP BY doc_id, r.b
    ), sh AS MATERIALIZED (
      SELECT doc_id,
        sum(CASE WHEN vote > 0 THEN (1::BIGINT << (31 - b)::INT) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, 0 AS band_idx, simhash // 65536 AS band_val FROM sh
      UNION ALL
      SELECT doc_id, 1 AS band_idx, simhash % 65536 AS band_val FROM sh
    ), chained AS (
      SELECT lag(doc_id) OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) AS id_a,
             doc_id AS id_b
      FROM bands
    ), pairs AS (
      SELECT DISTINCT id_a, id_b FROM chained WHERE id_a IS NOT NULL
    ), verified AS (
      SELECT p.id_a, p.id_b
      FROM pairs p JOIN sh a ON p.id_a = a.doc_id JOIN sh b ON p.id_b = b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b AS u, id_a AS v FROM verified
    ), nodes AS (
      SELECT DISTINCT u AS node FROM edges
    ), reach AS (
      SELECT node, node AS m FROM nodes
      UNION
      SELECT e.u AS node, r.m FROM edges e JOIN reach r ON e.v = r.node
    )
    SELECT node::BIGINT AS doc_id, min(m)::BIGINT AS component,
           (node = min(m)) AS keep
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def simhash_near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash half-bands → chained pairs → exact-Hamming verify →
    connected components → survivor flags — the SimHash twin of
    near_dup_clusters, same iterative pointer-jumping CC on the Spark
    side, same recursive-closure oracle shape."""
    out = dedup.simhash_near_dup_clusters(_docs(spark, sf_dir), max_distance=3)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        "keep",
    ).orderBy("doc_id")


@_q(
    "boilerplate_turn_flags",
    """
    WITH t AS (
      SELECT doc_id, source AS conv_id,
        CASE WHEN doc_id % 7 = 0 THEN 'Hello!  How can I help you today?'
             WHEN doc_id % 11 = 0 THEN 'This conversation was closed by the tool.'
             WHEN doc_id % 13 = 0 THEN 'within-conv repeat ' || source
             ELSE text END AS text
      FROM documents
    ), h AS (
      SELECT doc_id, conv_id,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash
      FROM t
    ), c AS (
      SELECT text_hash, count(DISTINCT conv_id)::BIGINT AS n_groups
      FROM h GROUP BY text_hash
    )
    SELECT h.doc_id, h.text_hash, c.n_groups, c.n_groups >= 3 AS is_boilerplate
    FROM h JOIN c USING (text_hash)
    """,
)
def boilerplate_turn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation boilerplate detection (C4-style repeated-content
    filter, curation.boilerplate_flags): canned turns injected at
    doc_id%7 / %11 recur across ≥3 conversations and get flagged; the
    %13 text repeats only WITHIN its conversation and must survive."""
    from blogparser_spark.dataops.curation import boilerplate_flags

    d = _docs(spark, sf_dir)
    canned = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("Hello!  How can I help you today?"))
        .when(F.col("doc_id") % 11 == 0,
              F.lit("This conversation was closed by the tool."))
        .when(F.col("doc_id") % 13 == 0,
              F.concat(F.lit("within-conv repeat "), F.col("source")))
        .otherwise(F.col("text"))
    )
    t = d.select(
        "doc_id", F.col("source").alias("conv_id"), canned.alias("text")
    )
    return boilerplate_flags(t, min_groups=3).select(
        "doc_id", "text_hash", "n_groups", "is_boilerplate"
    )


# ===========================================================================
# Similarity family (dataops.similarity)
# ===========================================================================

_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "greatest(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))), 1e-12)"
)


@_q(
    "ann_cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), sims AS (
      SELECT q.qid, e.vec_id AS nid,
        round({_COS.format(a="q.qv", b="e.embedding")}, 6) AS sim
      FROM embeddings e JOIN q ON e.vec_id != q.qid
    )
    SELECT qid, rank, nid, sim FROM (
      SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via the matmul scale path: one BLAS matmul per
    Arrow batch, local top-k per partition, join-free — the shuffle carries
    ≤ k·parts·queries rows. The join-based brute_force_topk remains as the
    equivalence-tested parity reference (test_dataops)."""
    return similarity.brute_force_topk_matmul(_emb(spark, sf_dir), n_queries=5, k=5)


@_q(
    "ivf_cell_assign",
    f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
    ), scored AS (
      SELECT e.vec_id, c.cid,
        round({_COS.format(a="e.embedding", b="c.cv")}, 6) AS csim
      FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, cid AS cell, csim AS cell_sim FROM (
      SELECT vec_id, cid, csim,
        row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS r
      FROM scored
    ) WHERE r = 1
    """,
)
def ivf_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: deterministic centroids (lowest vec_ids),
    max-cosine cell assignment — the ANN scale path's partitioning key."""
    return similarity.assign_ivf_cells(_emb(spark, sf_dir), n_cells=8)


def _kmeans_iter_sql(prev: str, this: str, it: int) -> str:
    """One Lloyd round as DuckDB CTEs: assign to `prev` centroids (round-6
    cosine, lowest-cid tie-break), per-coordinate round-6 mean per cell,
    emptied cells carry the previous centroid — exactly
    similarity.kmeans_refine's iteration contract."""
    cos = _COS.format(a="e.v", b="c.cv")
    return f"""
    a{it} AS MATERIALIZED (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
          row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY round({cos}, 6) DESC, c.cid
          ) AS r
        FROM e CROSS JOIN {prev} c
      ) WHERE r = 1
    ), u{it} AS (
      SELECT a.cell, i.i, round(avg(e.v[i.i]), 6) AS c
      FROM a{it} a JOIN e USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
      GROUP BY a.cell, i.i
    ), {this} AS MATERIALIZED (
      SELECT cell AS cid, list(c ORDER BY i) AS cv FROM u{it} GROUP BY cell
      UNION ALL
      SELECT cid, cv FROM {prev}
      WHERE cid NOT IN (SELECT DISTINCT cell FROM a{it})
    )"""


_KMEANS_SQL = f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cents0 AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
    ),{_kmeans_iter_sql("cents0", "cents1", 1)},{_kmeans_iter_sql("cents1", "cents2", 2)}
    SELECT vec_id, cid AS cell, csim AS cell_sim FROM (
      SELECT e.vec_id, c.cid,
        round({_COS.format(a="e.v", b="c.cv")}, 6) AS csim,
        row_number() OVER (
          PARTITION BY e.vec_id
          ORDER BY round({_COS.format(a="e.v", b="c.cv")}, 6) DESC, c.cid
        ) AS r
      FROM e CROSS JOIN cents2 c
    ) WHERE r = 1
"""


@_q("kmeans_refined_cells", _KMEANS_SQL)
def kmeans_refined_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (2 rounds, MLlib shape): per round one
    assignment scan against a broadcast k×d centroid literal + one
    posexplode partial-agg mean; only k·d aggregated doubles ever reach
    the driver (similarity.kmeans_refine)."""
    return similarity.kmeans_refine(_emb(spark, sf_dir), n_cells=8, iters=2)


# --- product quantization (m=4 subspaces × ksub=16 codes over dim 64) -------
# Shared oracle fragment replaying similarity.pq_train's single Lloyd round:
# subvector slices, deterministic init codebook (lowest 16 vec_ids), round-6
# expanded-L2 assignment with lowest-code tie-break, round-6 per-coordinate
# means, emptied (sub, code) cells keeping their previous codeword.

_PQ_L2 = (
    "round(list_dot_product({a}, {a}) + list_dot_product({b}, {b}) "
    "- 2*list_dot_product({a}, {b}), 6)"
)

_PQ_CB1 = f"""
    e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sv AS MATERIALIZED (
      SELECT e.vec_id, s.sub, (e.v)[(s.sub*16+1):((s.sub+1)*16)] AS sv
      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS sub) s
    ), cb0 AS MATERIALIZED (
      SELECT sub, vec_id AS code, sv AS cw FROM sv WHERE vec_id < 16
    ), a1 AS MATERIALIZED (
      SELECT vec_id, sub, code FROM (
        SELECT sv.vec_id, sv.sub, c.code,
          row_number() OVER (
            PARTITION BY sv.vec_id, sv.sub
            ORDER BY {_PQ_L2.format(a="sv.sv", b="c.cw")} ASC, c.code ASC
          ) AS r
        FROM sv JOIN cb0 c ON sv.sub = c.sub
      ) WHERE r = 1
    ), u1 AS (
      SELECT a.sub, a.code, i.i, round(avg(sv.sv[i.i]), 6) AS c
      FROM a1 a JOIN sv ON a.vec_id = sv.vec_id AND a.sub = sv.sub
      CROSS JOIN (SELECT unnest(range(1, 17)) AS i) i
      GROUP BY a.sub, a.code, i.i
    ), cb1 AS MATERIALIZED (
      SELECT sub, code, list(c ORDER BY i) AS cw FROM u1 GROUP BY sub, code
      UNION ALL
      SELECT sub, code, cw FROM cb0
      WHERE NOT EXISTS (
        SELECT 1 FROM a1 WHERE a1.sub = cb0.sub AND a1.code = cb0.code
      )
    ), codes AS MATERIALIZED (
      SELECT vec_id, sub, code FROM (
        SELECT sv.vec_id, sv.sub, c.code,
          row_number() OVER (
            PARTITION BY sv.vec_id, sv.sub
            ORDER BY {_PQ_L2.format(a="sv.sv", b="c.cw")} ASC, c.code ASC
          ) AS r
        FROM sv JOIN cb1 c ON sv.sub = c.sub
      ) WHERE r = 1
    )
"""


@_q(
    "pq_train_codebooks",
    f"""
    WITH {_PQ_CB1}
    SELECT sub, code, i.i - 1 AS pos, cw[i.i] AS c
    FROM cb1 CROSS JOIN (SELECT unnest(range(1, 17)) AS i) i
    """,
)
def pq_train_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (Jégou et al. 2011), one
    distributed Lloyd round per subspace: a mapInPandas assignment scan
    (one BLAS matmul per subspace per Arrow batch) feeds a partial-agg
    mean; only m·ksub·dsub = 1024 doubles reach the driver. Emitted
    unnested (sub, code, pos, c) so the comparison is numeric, not
    string-formatted."""
    cb = similarity.pq_train(_emb(spark, sf_dir), m=4, ksub=16, iters=1)
    rows = [
        (s, c, pos, comp) for s, c, cw in cb for pos, comp in enumerate(cw)
    ]
    return spark.createDataFrame(rows, "sub long, code long, pos long, c double")


@_q(
    "pq_encode_codes",
    f"""
    WITH {_PQ_CB1}
    SELECT vec_id, string_agg(code::VARCHAR, '-' ORDER BY sub) AS codes
    FROM codes GROUP BY vec_id
    """,
)
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding: every 64-dim float vector compressed to m=4 codebook
    ids (256 bytes → 4 — the memory lever for a 100-TB ANN tier). Join-free
    single scan; codes joined to a string for engine-neutral comparison."""
    cb = similarity.pq_train(_emb(spark, sf_dir), m=4, ksub=16, iters=1)
    enc = similarity.pq_encode(_emb(spark, sf_dir), cb)
    return enc.select(
        "vec_id",
        F.concat_ws(
            "-", F.transform(F.col("codes"), lambda c: c.cast("string"))
        ).alias("codes"),
    )


@_q(
    "pq_adc_topk",
    f"""
    WITH {_PQ_CB1},
    q AS (SELECT vec_id AS qid, sub, sv FROM sv WHERE vec_id < 5),
    lut AS (
      SELECT q.qid, c.sub, c.code, {_PQ_L2.format(a="q.sv", b="c.cw")} AS d
      FROM q JOIN cb1 c ON q.sub = c.sub
    ),
    adc AS (
      SELECT l.qid, cd.vec_id AS nid, round(sum(l.d), 6) AS adist
      FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
      WHERE cd.vec_id != l.qid
      GROUP BY l.qid, cd.vec_id
    )
    SELECT qid, rank, nid, adist FROM (
      SELECT qid, nid, adist,
        row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) AS rank
      FROM adc
    ) WHERE rank <= 5
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query an m×ksub LUT of
    exact subvector L2 terms is built once driver-side; each corpus vector
    scores as m table lookups + a sum — no decompression, no per-pair O(d)
    math — and each Arrow batch ships only its local top-k into the global
    merge (the matmul path's shuffle bound, ≤ k·parts·queries rows)."""
    emb = _emb(spark, sf_dir)
    cb = similarity.pq_train(emb, m=4, ksub=16, iters=1)
    return similarity.pq_adc_topk(emb, cb, n_queries=5, k=5)


@_q(
    "ivfpq_topk",
    f"""
    WITH {_PQ_CB1},
    ic AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    icscored AS (
      SELECT e.vec_id, ic.cid,
        round({_COS.format(a="e.v", b="ic.cv")}, 6) AS csim
      FROM e CROSS JOIN ic
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS r
        FROM icscored
      ) WHERE r = 1
    ),
    q AS (SELECT vec_id AS qid, sub, sv FROM sv WHERE vec_id < 5),
    lut AS (
      SELECT q.qid, c.sub, c.code, {_PQ_L2.format(a="q.sv", b="c.cw")} AS d
      FROM q JOIN cb1 c ON q.sub = c.sub
    ),
    qc AS (SELECT vec_id AS qid, cell AS qcell FROM cells WHERE vec_id < 5),
    adc AS (
      SELECT l.qid, cd.vec_id AS nid, round(sum(l.d), 6) AS adist
      FROM codes cd
      JOIN cells nc ON nc.vec_id = cd.vec_id
      JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
      JOIN qc ON qc.qid = l.qid
      WHERE nc.cell = qc.qcell AND cd.vec_id != l.qid
      GROUP BY l.qid, cd.vec_id
    )
    SELECT qid, rank, nid, adist FROM (
      SELECT qid, nid, adist,
        row_number() OVER (PARTITION BY qid ORDER BY adist ASC, nid ASC) AS rank
      FROM adc
    ) WHERE rank <= 5
    """,
)
def ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS-shape): coarse cells prune the SCAN (own-cell probe =
    partition pruning on a write-time layout), PQ codes shrink what it
    READS (64× smaller rows), ADC LUT scoring with local top-k — both
    scale levers in one plan (similarity.ivfpq_topk)."""
    return similarity.ivfpq_topk(
        _emb(spark, sf_dir), n_queries=5, k=5, n_cells=8, m=4, ksub=16, iters=1
    )


# shared oracle fragment: IVF cell assignment (centroids = 8 lowest vec_ids)
_IVF_CELLS = f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    cscored AS (
      SELECT e.vec_id, c.cid,
        round({_COS.format(a="e.v", b="c.cv")}, 6) AS csim
      FROM e CROSS JOIN c
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS r
        FROM cscored
      ) WHERE r = 1
    )
"""


@_q(
    "ivf_topk",
    f"""
    WITH {_IVF_CELLS},
    base AS (
      SELECT e.vec_id AS nid, cells.cell AS ncell, e.v AS nv
      FROM e JOIN cells ON e.vec_id = cells.vec_id
    ), q AS (
      SELECT e.vec_id AS qid, cells.cell AS qcell, e.v AS qv
      FROM e JOIN cells ON e.vec_id = cells.vec_id WHERE e.vec_id < 5
    ), sims AS (
      SELECT q.qid, base.nid,
        round({_COS.format(a="q.qv", b="base.nv")}, 6) AS sim
      FROM base JOIN q ON base.ncell = q.qcell AND base.nid != q.qid
    )
    SELECT qid, rank, nid, sim FROM (
      SELECT qid, nid, sim,
        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe (nprobe=1): approximate top-k scanning only the query's own
    cell — the partition-pruned ANN plan (similarity.py ivf_topk)."""
    return similarity.ivf_topk(_emb(spark, sf_dir), n_queries=5, k=5, n_cells=8)


@_q(
    "ann_recall_eval",
    f"""
    WITH {_IVF_CELLS},
    exactq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
    exacts AS (
      SELECT q.qid, x.vec_id AS nid,
        round({_COS.format(a="q.qv", b="x.v")}, 6) AS sim
      FROM e x JOIN exactq q ON x.vec_id != q.qid
    ),
    exact AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
        FROM exacts
      ) WHERE r <= 5
    ),
    abase AS (
      SELECT e.vec_id AS nid, cells.cell AS ncell, e.v AS nv
      FROM e JOIN cells ON e.vec_id = cells.vec_id
    ),
    aq AS (
      SELECT e.vec_id AS qid, cells.cell AS qcell, e.v AS qv
      FROM e JOIN cells ON e.vec_id = cells.vec_id WHERE e.vec_id < 5
    ),
    asims AS (
      SELECT aq.qid, abase.nid,
        round({_COS.format(a="aq.qv", b="abase.nv")}, 6) AS sim
      FROM abase JOIN aq ON abase.ncell = aq.qcell AND abase.nid != aq.qid
    ),
    approx AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
        FROM asims
      ) WHERE r <= 5
    )
    SELECT exact.qid, count(*)::BIGINT AS n_exact,
      sum(CASE WHEN approx.nid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
      round(sum(CASE WHEN approx.nid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
            / count(*), 6) AS recall
    FROM exact LEFT JOIN approx USING (qid, nid)
    GROUP BY exact.qid
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF nprobe=1 probe against the exact matmul top-k,
    per query — the evaluation loop a real deployment runs to tune
    n_cells/nprobe. One plan: both rankings + a left join on (qid, nid) +
    a per-qid partial agg; nothing leaves the executors but 5 rows."""
    emb = _emb(spark, sf_dir)
    exact = similarity.brute_force_topk_matmul(emb, n_queries=5, k=5).select(
        "qid", "nid"
    )
    approx = similarity.ivf_topk(emb, n_queries=5, k=5, n_cells=8).select(
        "qid", "nid", F.lit(1).alias("_hit")
    )
    return (
        exact.join(approx, ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
            F.round(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count("*"), 6
            ).alias("recall"),
        )
    )


@_q(
    "ann_recall_nprobe_sweep",
    f"""
    WITH {_IVF_CELLS},
    exactq AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
    exacts AS (
      SELECT q.qid, x.vec_id AS nid,
        round({_COS.format(a="q.qv", b="x.v")}, 6) AS sim
      FROM e x JOIN exactq q ON x.vec_id != q.qid
    ),
    exact AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r
        FROM exacts
      ) WHERE r <= 5
    ),
    qranks AS (
      SELECT vec_id AS qid, cid AS cell, r AS crank FROM (
        SELECT vec_id, cid,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS r
        FROM cscored WHERE vec_id < 5
      ) WHERE r <= 4
    ),
    cand AS (
      SELECT qr.qid, x.vec_id AS nid, qr.crank,
        round({_COS.format(a="qe.v", b="x.v")}, 6) AS sim
      FROM qranks qr
      JOIN e qe ON qe.vec_id = qr.qid
      JOIN cells cx ON cx.cell = qr.cell
      JOIN e x ON x.vec_id = cx.vec_id AND x.vec_id != qr.qid
    ),
    levels AS (SELECT unnest([1, 2, 4]) AS nprobe),
    approx AS (
      SELECT nprobe, qid, nid FROM (
        SELECT l.nprobe, c.qid, c.nid,
          row_number() OVER (PARTITION BY l.nprobe, c.qid
                             ORDER BY c.sim DESC, c.nid) AS r
        FROM cand c JOIN levels l ON c.crank <= l.nprobe
      ) WHERE r <= 5
    )
    SELECT l.nprobe::INT AS nprobe, exact.qid, count(*)::BIGINT AS n_exact,
      sum(CASE WHEN approx.nid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        AS n_hits,
      round(sum(CASE WHEN approx.nid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
            / count(*), 6) AS recall
    FROM exact CROSS JOIN levels l
    LEFT JOIN approx ON approx.nprobe = l.nprobe
      AND approx.qid = exact.qid AND approx.nid = exact.nid
    GROUP BY l.nprobe, exact.qid
    """,
)
def ann_recall_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning curve (similarity.ivf_recall_nprobe_sweep):
    recall@5 at nprobe ∈ {1,2,4} against the exact matmul top-k, in one
    plan — candidates scored once against each query's top-4 cells and
    tagged with the cell rank, each sweep level a crank filter + window
    top-k over already-scored rows. The readout a deployment uses to pick
    its recall-vs-cells-read operating point; recall is non-decreasing in
    nprobe by construction."""
    return similarity.ivf_recall_nprobe_sweep(
        _emb(spark, sf_dir), n_queries=5, k=5, n_cells=8, nprobes=(1, 2, 4)
    )


@_q(
    "embedding_near_dup_pairs",
    f"""
    WITH {_IVF_CELLS},
    v AS (
      SELECT e.vec_id AS id, cells.cell, e.v
      FROM e JOIN cells ON e.vec_id = cells.vec_id
    )
    SELECT a.id AS id_a, b.id AS id_b,
      round({_COS.format(a="a.v", b="b.v")}, 6) AS sim
    FROM v a JOIN v b ON a.cell = b.cell AND a.id < b.id
    WHERE round({_COS.format(a="a.v", b="b.v")}, 6) >= 0.3
    """,
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, IVF-cell-blocked (threshold 0.3 on
    the synthetic embeddings; real corpora use ~0.95)."""
    return similarity.embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.3, n_cells=8)


@_q(
    "semantic_dedup_groups",
    f"""
    WITH RECURSIVE {_IVF_CELLS},
    sd_csim AS (
      SELECT vec_id, csim AS cell_sim FROM (
        SELECT vec_id, csim,
          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS r
        FROM cscored
      ) WHERE r = 1
    ),
    sd_v AS (
      SELECT e.vec_id AS id, cells.cell, e.v
      FROM e JOIN cells ON e.vec_id = cells.vec_id
    ),
    sd_pairs AS (
      SELECT a.id AS ua, b.id AS ub
      FROM sd_v a JOIN sd_v b ON a.cell = b.cell AND a.id < b.id
      WHERE round({_COS.format(a="a.v", b="b.v")}, 6) >= 0.3
    ),
    sd_edges AS (
      SELECT ua AS s, ub AS d FROM sd_pairs
      UNION SELECT ub, ua FROM sd_pairs
    ),
    sd_nodes AS (SELECT DISTINCT s AS node FROM sd_edges),
    sd_reach AS (
      SELECT node, node AS m FROM sd_nodes
      UNION
      SELECT e2.s AS node, r.m FROM sd_edges e2 JOIN sd_reach r ON e2.d = r.node
    ),
    sd_comp AS (SELECT node, min(m) AS component FROM sd_reach GROUP BY node)
    SELECT c.node AS vec_id, c.component::BIGINT AS component, s.cell_sim,
      (row_number() OVER (PARTITION BY c.component
                          ORDER BY s.cell_sim ASC, c.node ASC) = 1) AS keep
    FROM sd_comp c JOIN sd_csim s ON s.vec_id = c.node
    """,
)
def semantic_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semantic_dedup; Abbas et al. 2023): duplicate
    groups chained from within-cluster cosine pairs (threshold 0.3 on the
    synthetic embeddings; real corpora use ~0.95), with the paper's keep
    rule — the group member LEAST similar to its cluster centroid
    survives. The oracle replays the clustering, the blocked pair join,
    the transitive closure, and the keep window."""
    return similarity.semantic_dedup(
        _emb(spark, sf_dir), threshold=0.3, n_cells=8
    )


# ===========================================================================
# Text analysis family (dataops.textstats)
# ===========================================================================


@_q(
    "token_stats",
    """
    WITH t AS (
      SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    )
    SELECT doc_id,
      len(toks)::BIGINT AS n_tokens,
      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe_tokens,
      length(text)::BIGINT AS n_chars,
      strlen(text)::BIGINT AS n_bytes,
      round(list_aggregate(list_transform(toks, x -> length(x)::DOUBLE), 'sum') /
            greatest(len(toks), 1), 6) AS avg_token_len
    FROM t
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish lexemes + char/byte."""
    d = textstats.with_token_stats(_docs(spark, sf_dir))
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("long"),
        F.col("n_bpe_tokens").cast("long"),
        F.col("n_chars").cast("long"),
        F.col("n_bytes").cast("long"),
        "avg_token_len",
    )


@_q(
    "doc_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable document fingerprint (whitespace-normalized md5)."""
    return textstats.with_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint"
    )


@_q(
    "langid_confusion",
    """
    WITH s AS (
      SELECT lang,
        list_distinct(list_filter(string_split(lower(text), ' '), x -> x != '')) AS toks,
        length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g'))::DOUBLE /
          greatest(length(text), 1) AS ar
      FROM documents
    ), sc AS (
      SELECT lang, ar,
        len(list_intersect(toks, ['the','and','of','to','a','in','is','that','for','it'])) AS s_en,
        len(list_intersect(toks, ['el','la','de','que','y','los','en','un','una','es'])) AS s_es,
        len(list_intersect(toks, ['le','la','les','de','et','des','un','une','est','dans'])) AS s_fr,
        len(list_intersect(toks, ['der','die','das','und','ist','ein','eine','den','von','mit'])) AS s_de
      FROM s
    )
    SELECT lang, lang_pred, count(*)::BIGINT AS n FROM (
      SELECT lang,
        CASE WHEN ar < 0.5 THEN 'zh'
             WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'und'
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM sc
    ) GROUP BY lang, lang_pred
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID vs the table's lang label (confusion counts)."""
    d = textstats.with_langid(_docs(spark, sf_dir))
    return d.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


def _quality_feature_ctes(base: str, t: str = "qt", f: str = "qf") -> str:
    """Shared quality-feature CTE pair over a (doc_id, text) base — the
    SINGLE source of the oracle-side stopword list and feature columns,
    consumed by quality_scores and every quality-gated query so they cannot
    drift."""
    return f"""{t} AS (
      SELECT doc_id, text,
        list_filter(string_split(lower(text), ' '), x -> x != '') AS toks
      FROM {base}
    ), {f} AS (
      SELECT doc_id, text, toks,
        greatest(len(toks), 1) AS n,
        len(list_filter(toks, x -> list_contains(
          ['a','and','das','dans','de','den','der','des','die','el','ein','eine','en','es',
           'est','et','for','in','is','it','la','le','les','los','mit','of','que','that',
           'the','to','un','una','und','une','von','y'], x))) AS n_stop,
        length(regexp_replace(text, '[^A-Za-zÀ-ɏ一-鿿]', '', 'g'))::DOUBLE /
          greatest(length(text), 1) AS alpha_ratio,
        list_aggregate(list_transform(toks, x -> length(x)::DOUBLE), 'sum') AS tok_len_sum
      FROM {t}
    )"""


_QUALITY_SCORE_SQL = """round(0.3 * (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.3 END)
          + 0.3 * (CASE WHEN tok_len_sum / n BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.4 END)
          + 0.2 * (least(n_stop::DOUBLE / n * 4, 1.0))
          + 0.2 * alpha_ratio, 6)"""


@_q(
    "quality_scores",
    f"""
    WITH {_quality_feature_ctes("documents")}
    SELECT doc_id,
      round(n_stop::DOUBLE / n, 6) AS stopword_ratio,
      round(alpha_ratio, 6) AS alpha_ratio,
      {_QUALITY_SCORE_SQL} AS quality
    FROM qf
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length band, token-length band, stopword
    ratio, alpha ratio) — a pushdown-friendly native filter key."""
    d = textstats.with_quality(_docs(spark, sf_dir))
    return d.select("doc_id", "stopword_ratio", "alpha_ratio", "quality")


@_q(
    "bm25_weighted",
    """
    WITH sent AS (
      SELECT source AS doc, doc_id AS sent_idx, text AS sentence
      FROM documents
    ), toks AS (
      SELECT doc, sent_idx, unnest(list_filter(string_split(lower(sentence), ' '), x -> x != '')) AS term
      FROM sent
    ), wt AS (
      SELECT t.*, coalesce(w.weight, 1.0) AS weight
      FROM toks t LEFT JOIN (VALUES ('table', 2.0), ('data', 1.5), ('key', 0.5))
        AS w(term, weight) ON t.term = w.term
    ), tf AS (
      SELECT doc, sent_idx, term, weight, count(*) AS tf
      FROM wt GROUP BY doc, sent_idx, term, weight
    ), sent_toks AS (
      SELECT doc, sent_idx, sum(tf) AS n_toks FROM tf GROUP BY doc, sent_idx
    ), dft AS (
      SELECT doc, term, count(DISTINCT sent_idx) AS df FROM tf GROUP BY doc, term
    ), stats AS (
      SELECT doc, count(*) AS n_sents, avg(strlen(sentence)) AS avg_len FROM sent GROUP BY doc
    ), scored AS (
      SELECT tf.doc, tf.sent_idx,
        sum(greatest(0.0, ln((stats.n_sents - dft.df + 0.5) / (dft.df + 0.5)))
            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * st.n_toks / stats.avg_len))
            * tf.weight * tf.tf) AS score
      FROM tf JOIN dft ON tf.doc = dft.doc AND tf.term = dft.term
              JOIN sent_toks st ON tf.doc = st.doc AND tf.sent_idx = st.sent_idx
              JOIN stats ON tf.doc = stats.doc
      GROUP BY tf.doc, tf.sent_idx
    )
    SELECT doc, rank, sent_idx, round(score, 4) AS score FROM (
      SELECT doc, sent_idx, score,
        row_number() OVER (PARTITION BY doc ORDER BY round(score, 6) DESC, sent_idx) AS rank
      FROM scored
    ) WHERE rank <= 2
    """,
)
def bm25_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 getWordWeight as a BROADCAST dim join (the reference's only
    lookup-enrich, parser/summary.go:227-241) feeding the BM25 rollup."""
    d = _docs(spark, sf_dir)
    sent = d.select(
        F.col("source").alias("doc"),
        F.col("doc_id").alias("sent_idx"),
        F.col("text").alias("sentence"),
    )
    dim = spark.createDataFrame(
        [("table", 2.0), ("data", 1.5), ("key", 0.5)], "term string, weight double"
    )
    scored = summary_bm25.bm25_sentence_scores(sent, weights_dim=dim)
    w = Window.partitionBy("doc").orderBy(F.desc(F.round("score", 6)), F.asc("sent_idx"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("doc", "rank", "sent_idx", F.round("score", 4).alias("score"))
    )


def _bm25_pos_sql() -> str:
    """DuckDB twin of the POS-weighted BM25 chain, generated from the same
    jpos constants as the Spark plan so the engines cannot drift."""
    from blogparser_spark.functions import jpos

    return f"""
    WITH sent AS (
      SELECT source AS doc, doc_id AS sent_idx, text AS sentence
      FROM documents
    ), seg AS (
      SELECT doc, sent_idx,
        unnest(regexp_extract_all(sentence, '{jpos.SEGMENT_RE}')) AS surface
      FROM sent
    ), lem AS MATERIALIZED (
      -- MATERIALIZED throughout this chain: projection collapse would
      -- substitute the generated 48-branch lemma CASE into every reference
      -- of `term` in the POS CASE (≈15 refs), then that product into every
      -- `pos` reference in the weight CASE (≈9 refs) — multiplicative
      -- expression blowup (observed: planner OOM, then 600 s runtime).
      -- Materializing each stage pins one evaluation per row.
      SELECT doc, sent_idx, surface, {jpos.lemma_case_sql("surface")} AS term
      FROM seg
    ), tagged AS MATERIALIZED (
      SELECT doc, sent_idx, term,
        {jpos.pos_lemma_case_sql("surface", "term")} AS pos
      FROM lem
    ), wt AS MATERIALIZED (
      SELECT doc, sent_idx, term, {jpos.weight_case_sql("pos")} AS weight FROM tagged
    ), kept AS MATERIALIZED (
      SELECT * FROM wt WHERE weight > 0
    ), tf AS (
      SELECT doc, sent_idx, term, weight, count(*) AS tf
      FROM kept GROUP BY doc, sent_idx, term, weight
    ), sent_toks AS (
      SELECT doc, sent_idx, sum(tf) AS n_toks FROM tf GROUP BY doc, sent_idx
    ), dft AS (
      SELECT doc, term, count(DISTINCT sent_idx) AS df FROM tf GROUP BY doc, term
    ), stats AS (
      SELECT doc, count(*) AS n_sents, avg(strlen(sentence)) AS avg_len FROM sent GROUP BY doc
    ), scored AS (
      SELECT tf.doc, tf.sent_idx,
        sum(greatest(0.0, ln((stats.n_sents - dft.df + 0.5) / (dft.df + 0.5)))
            * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * st.n_toks / stats.avg_len))
            * tf.weight * tf.tf) AS score
      FROM tf JOIN dft ON tf.doc = dft.doc AND tf.term = dft.term
              JOIN sent_toks st ON tf.doc = st.doc AND tf.sent_idx = st.sent_idx
              JOIN stats ON tf.doc = stats.doc
      GROUP BY tf.doc, tf.sent_idx
    )
    SELECT doc, rank, sent_idx, round(score, 4) AS score FROM (
      SELECT doc, sent_idx, score,
        row_number() OVER (PARTITION BY doc ORDER BY round(score, 6) DESC, sent_idx) AS rank
      FROM scored
    ) WHERE rank <= 2
    """


@_q("bm25_pos_weighted", _bm25_pos_sql())
def bm25_pos_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 closed loop: the reference's ACTUAL lookup-enrich — heuristic POS
    per token (jpos, the kagome stand-in), broadcast join on the POS-keyed
    posWeights dim (enrich.dim_pos_weight, summary.go:23-30), prefix-default
    fallback, weight-0 drop — feeding the BM25 rollup (summary.go:186-241)."""
    from blogparser_spark.operators.enrich import dim_pos_weight

    d = _docs(spark, sf_dir)
    sent = d.select(
        F.col("source").alias("doc"),
        F.col("doc_id").alias("sent_idx"),
        F.col("text").alias("sentence"),
    )
    scored = summary_bm25.bm25_pos_sentence_scores(sent, dim_pos_weight(spark))
    w = Window.partitionBy("doc").orderBy(F.desc(F.round("score", 6)), F.asc("sent_idx"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("doc", "rank", "sent_idx", F.round("score", 4).alias("score"))
    )


# ===========================================================================
# Shared near-duplicate oracle chain (near_dup_clusters and its kin)
# ===========================================================================


def _near_dup_ctes(base: str) -> str:
    """The MinHash-LSH → lag-chained pairs → exact-Jaccard verify →
    transitive-closure CTE chain over a base CTE/table exposing
    (doc_id, text). Appended inside a WITH RECURSIVE context; exposes
    nd_reach (node, m) — component = min(m) per node."""
    return f"""
    nd_t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM {base}
    ), nd_sh AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END AS shingles
      FROM nd_t
    ), nd_sig AS (
      SELECT doc_id,
        [list_min(list_transform(shingles, s -> md5('0:' || s))),
         list_min(list_transform(shingles, s -> md5('1:' || s))),
         list_min(list_transform(shingles, s -> md5('2:' || s))),
         list_min(list_transform(shingles, s -> md5('3:' || s))),
         list_min(list_transform(shingles, s -> md5('4:' || s))),
         list_min(list_transform(shingles, s -> md5('5:' || s))),
         list_min(list_transform(shingles, s -> md5('6:' || s))),
         list_min(list_transform(shingles, s -> md5('7:' || s)))] AS s
      FROM nd_sh
    ), nd_bands AS (
      SELECT doc_id, b.band_idx,
             md5(s[b.band_idx*2 + 1] || '|' || s[b.band_idx*2 + 2]) AS band_hash
      FROM nd_sig, (SELECT unnest(range(4)) AS band_idx) b
      WHERE s[1] IS NOT NULL
    ), nd_ranked AS (
      SELECT doc_id,
        lag(doc_id) OVER (PARTITION BY band_idx, band_hash ORDER BY doc_id) AS prev
      FROM nd_bands
    ), nd_cand AS (
      SELECT DISTINCT prev AS id_a, doc_id AS id_b FROM nd_ranked WHERE prev IS NOT NULL
    ), nd_dsh AS (
      SELECT doc_id, list_distinct(shingles) AS sh FROM nd_sh
    ), nd_verified AS (
      SELECT id_a, id_b FROM nd_cand
      JOIN nd_dsh a ON a.doc_id = nd_cand.id_a
      JOIN nd_dsh b ON b.doc_id = nd_cand.id_b
      WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
            greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6)
            >= 0.5
    ), nd_edges AS (
      SELECT id_a AS u, id_b AS v FROM nd_verified
      UNION
      SELECT id_b AS u, id_a AS v FROM nd_verified
    ), nd_nodes AS (
      SELECT DISTINCT u AS node FROM nd_edges
    ), nd_reach AS (
      SELECT node, node AS m FROM nd_nodes
      UNION
      SELECT e.u AS node, r.m FROM nd_edges e JOIN nd_reach r ON e.v = r.node
    )"""


# ===========================================================================
# Flagship pipeline (pandas-UDF parse; exact DuckDB oracle replays the
# extraction semantics via the shared pattern bank since round 3)
# ===========================================================================


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically reshape the documents table into the authoritative
    transcripts schema (conv_id, turn_idx, role, text, tool, ts), wrapping
    payloads in the HTML variants the parse stage extracts from. The narrow
    input is repartitioned so the downstream parse UDF parallelizes even when
    the source parquet is a single file."""
    d = _docs(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism)
    w = Window.partitionBy("source").orderBy("doc_id")
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool"))
    tools = F.array(
        F.lit("search"), F.lit("browser"), F.lit("python"), F.lit("bash"), F.lit("none")
    )
    html = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("<h1>Doc "),
                F.col("doc_id"),
                F.lit('</h1><span class="date">2023-10-20</span>'
                      '<div class="entry-content">'),
                F.col("text"),
                F.lit("</div>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('<meta property="og:title" content="Doc '),
                F.col("doc_id"),
                F.lit('"><article>'),
                F.col("text"),
                F.lit("</article>"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("<article>no title "), F.col("text"), F.lit("</article>")),
        )
        .otherwise(F.col("text"))
    )
    return d.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.element_at(roles, (F.col("doc_id") % 4 + 1).cast("int")).alias("role"),
        html.alias("text"),
        F.element_at(tools, (F.col("doc_id") % 5 + 1).cast("int")).alias("tool"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id") * 30)
        ).alias("ts"),
    )


@_q(
    "top_terms_per_source",
    """
    WITH tok AS (
      SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS term
      FROM documents
    ), counts AS (
      SELECT source, term, count(*)::BIGINT AS n FROM tok GROUP BY source, term
    )
    SELECT source, rank, term, n FROM (
      SELECT source, term, n,
        row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rank
      FROM counts
    ) WHERE rank <= 5
    """,
)
def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters per corpus slice: explode → hash-count (map-side
    partial) → per-group top-k window. The term count shuffle is bounded by
    distinct (source, term), not token volume."""
    d = _docs(spark, sf_dir)
    counts = (
        d.select(
            "source",
            F.explode(textstats.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("source", "rank", "term", "n")
    )


@_q(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE {_near_dup_ctes("documents")}
    SELECT node AS doc_id, min(m)::BIGINT AS component, (node = min(m)) AS keep
    FROM nd_reach GROUP BY node ORDER BY doc_id
    """,
)
def near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH bands → lag-chained pairs → exact-Jaccard verify →
    connected components → survivor flags. The Spark side is genuinely
    iterative (driver-side fixpoint with pointer jumping and lineage
    checkpointing); the oracle reproduces the fixpoint as a bounded
    recursive transitive closure over the verified pairs — tractable
    because the verified pair set is tiny at oracle scale."""
    return dedup.near_dup_clusters(_docs(spark, sf_dir)).orderBy("doc_id")


@_q(
    "incremental_dedup_probe",
    f"""
    WITH RECURSIVE {_near_dup_ctes("documents")},
    ip_cand AS (
      SELECT DISTINCT c.doc_id AS corpus_id, n.doc_id AS new_id
      FROM nd_bands c JOIN nd_bands n
        ON c.band_idx = n.band_idx AND c.band_hash = n.band_hash
      WHERE c.doc_id < 400 AND n.doc_id >= 400
    ),
    ip_j AS (
      SELECT corpus_id, new_id,
        round(len(list_intersect(a.sh, b.sh))::DOUBLE /
          greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6)
          AS jaccard
      FROM ip_cand
      JOIN nd_dsh a ON a.doc_id = ip_cand.corpus_id
      JOIN nd_dsh b ON b.doc_id = ip_cand.new_id
    )
    SELECT corpus_id, new_id, jaccard FROM ip_j WHERE jaccard >= 0.5
    """,
)
def incremental_dedup_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the last 100 doc_ids play a freshly-ingested
    batch probed against the first 400 as the existing corpus — batch
    bands broadcast against corpus bands, exact-Jaccard verify on the
    candidates only. The corpus is never self-joined; at 100 TB the
    corpus bands are the write-once bucketed index
    (dedup.write_minhash_index / probe_minhash_index)."""
    docs = _docs(spark, sf_dir)
    return dedup.incremental_dedup_probe(
        docs.filter(F.col("doc_id") < 400),
        docs.filter(F.col("doc_id") >= 400),
        threshold=0.5,
    )


@_q(
    "cross_doc_span_stats",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ), sp AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 8 THEN
          list_transform(range(1, len(toks) - 6),
                         i -> md5(array_to_string(toks[i:i+7], ' ')))
        ELSE [] END AS hs
      FROM t
    ), occ AS (
      SELECT doc_id, unnest(hs) AS h FROM sp
    ), dh AS (
      SELECT h, count(DISTINCT doc_id) AS n_docs FROM occ GROUP BY h
    ), st AS (
      SELECT occ.doc_id, count(*) AS n_spans,
        sum(CASE WHEN dh.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
      FROM occ JOIN dh USING (h) GROUP BY occ.doc_id
    )
    SELECT t.doc_id,
      CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
      CAST(COALESCE(st.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      round(COALESCE(st.n_dup_spans, 0)::DOUBLE /
            greatest(COALESCE(st.n_spans, 0), 1), 6) AS dup_span_frac
    FROM t LEFT JOIN st USING (doc_id)
    """,
)
def cross_doc_span_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring cross-doc duplication per document (Lee et al. 2022
    adapted to hashed word 8-grams): the fraction of a doc's spans that
    also occur in another document — the removal mask substring dedup acts
    on (dedup.cross_doc_span_stats)."""
    return dedup.cross_doc_span_stats(_docs(spark, sf_dir), w=8).select(
        "doc_id",
        F.col("n_spans").cast("long"),
        F.col("n_dup_spans").cast("long"),
        "dup_span_frac",
    )


@_q(
    "pipeline_sink_counts",
    """
    WITH t AS (
      SELECT doc_id % 4 AS v,
        ['user','assistant','system','tool'][(doc_id % 4)::INT + 1] AS role,
        ['search','browser','python','bash','none'][(doc_id % 5)::INT + 1] AS tool,
        strlen(trim(regexp_replace(regexp_replace(regexp_replace(text,
          '\\r\\n?', chr(10), 'g'), '(?m)^[ \\t\\f\\v]+|[ \\t\\f\\v]+$', '', 'g'),
          '\\n{2,}', chr(10), 'g'))) AS body_bytes
      FROM documents
    ), s AS (
      SELECT role, tool,
        CASE WHEN v >= 2 THEN 'no_title'
             WHEN body_bytes >= 100 THEN 'ok'
             ELSE 'no_content' END AS parse_status
      FROM t
    )
    SELECT channel, tool_category, parse_status, count(*)::BIGINT AS n_rows
    FROM s
    JOIN (VALUES ('user','inbound'), ('assistant','outbound'),
                 ('system','control'), ('tool','machine')) AS rc(role, channel)
      USING (role)
    JOIN (VALUES ('search','retrieval'), ('browser','web'), ('python','code'),
                 ('bash','shell'), ('none','chat')) AS tc(tool, tool_category)
      USING (tool)
    GROUP BY channel, tool_category, parse_status
    """,
)
def pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship parse→enrich→route→aggregate chain over transcripts
    derived from the documents table; per-sink counts. The oracle exploits
    the deterministic doc_id%4 payload variants: v2 (<article> without any
    title source) and v3 (plain text, no markup → no title chain fires)
    route to no_title; v0/v1 extract the document text as body, so the
    status reduces to the ≥100-byte gate on the normalized text (the
    documents corpus contains no markup, so CleanContent is the identity
    there); role/tool dims are the enrich literal-map lookups."""
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.parse import parse_stage

    t = documents_as_transcripts(spark, sf_dir)
    parsed = parse_stage(t)
    enriched = enrich(parsed, spark)
    return agg_ops.sink_counts(enriched).withColumnRenamed("n", "n_rows")


# ===========================================================================
# Repetition quality (round-3 additions)
# ===========================================================================


@_q(
    "repetition_flags",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), bi AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= 2
        THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        ELSE [CAST(NULL AS VARCHAR)] END) AS g
      FROM toks
    ), tri AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        THEN list_transform(range(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        ELSE [CAST(NULL AS VARCHAR)] END) AS g
      FROM toks
    ), bistat AS (
      SELECT doc_id,
        round(max(CASE WHEN g IS NOT NULL THEN cnt ELSE 0 END) /
              greatest(sum(CASE WHEN g IS NOT NULL THEN cnt ELSE 0 END), 1), 6)
          AS top_bigram_frac
      FROM (SELECT doc_id, g, count(*) AS cnt FROM bi GROUP BY doc_id, g)
      GROUP BY doc_id
    ), tristat AS (
      SELECT doc_id,
        round((sum(CASE WHEN g IS NOT NULL THEN cnt ELSE 0 END) -
               sum(CASE WHEN g IS NOT NULL THEN 1 ELSE 0 END)) /
              greatest(sum(CASE WHEN g IS NOT NULL THEN cnt ELSE 0 END), 1), 6)
          AS dup_trigram_frac
      FROM (SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.top_bigram_frac, t.dup_trigram_frac,
           CAST(b.top_bigram_frac > 0.18 OR t.dup_trigram_frac > 0.30 AS INT)
             AS repetitive
    FROM bistat b JOIN tristat t USING (doc_id)
    """,
)
def repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top-bigram and duplicate-trigram
    fractions) as drop-candidate flags — explode → partial hash agg, no
    array HOFs in the hot path (CLAUDE.md rule 1)."""
    out = textstats.repetition_signals(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "top_bigram_frac",
        "dup_trigram_frac",
        F.col("repetitive").cast("int").alias("repetitive"),
    )


# ===========================================================================
# Corpus curation: decontamination, stratified sampling, sequence packing
# ===========================================================================


@_q(
    "benchmark_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        THEN list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))
        ELSE [CAST(NULL AS VARCHAR)] END) AS g
      FROM toks
    ), bench AS (
      SELECT DISTINCT g FROM sh WHERE doc_id % 17 = 0 AND g IS NOT NULL
    )
    SELECT s.doc_id,
      CAST(sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_ngrams,
      CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_contaminated,
      round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) /
            greatest(sum(CASE WHEN s.g IS NOT NULL THEN 1 ELSE 0 END), 1), 6)
        AS contaminated_frac,
      CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS INT)
        AS contaminated
    FROM sh s LEFT JOIN bench b USING (g)
    GROUP BY s.doc_id
    """,
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3 13-gram collision rule at n=5
    for this corpus's short docs): every doc's word-5-gram occurrences are
    checked against the distinct 5-grams of a benchmark split (docs with
    doc_id % 17 == 0 stand in for the eval suite). The benchmark n-gram
    hash set is BROADCAST — the corpus never shuffles on text, only the
    per-doc count agg shuffles, keyed on doc_id."""
    from blogparser_spark.dataops.curation import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    out = decontaminate(docs, bench, n=5)
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_contaminated",
        "contaminated_frac",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


@_q(
    "stratified_sample_langs",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '40000000' WHEN 'es' THEN '80000000'
                ELSE 'g' END
    """,
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: the dominant language keeps
    25%, es keeps 50%, tail languages keep everything — the keep/drop
    decision is substr(md5('sample:'||id),1,8) < per-stratum hex threshold,
    a pure scan-stage predicate (no shuffle, no RNG state; identical row
    set on any cluster size or retry)."""
    from blogparser_spark.dataops.curation import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(docs, {"en": 0.25, "es": 0.5}).select(
        "doc_id", "lang", "source"
    )


@_q(
    "token_pack_bins",
    """
    WITH t AS (
      SELECT doc_id, lang, CAST(doc_id // 200 AS BIGINT) AS shard,
        CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INT)
          AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, shard, n_tokens,
        COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM t
    )
    SELECT doc_id, lang, shard, n_tokens,
      CAST(cb // 256 AS BIGINT) AS pack_id,
      CAST(cb % 256 AS BIGINT) AS pack_pos
    FROM c
    """,
)
def token_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: per (lang, 200-id shard), docs are
    scanned in id order and assigned the pack their starting token offset
    falls in (budget 256). The shard key bounds every window partition —
    the 10^12-row version of this is the same plan with a wider shard."""
    from blogparser_spark.dataops.curation import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget=256, shard_size=200
    )


@_q(
    "quality_budget_selection",
    f"""
    WITH {_quality_feature_ctes("documents")},
    qq AS (
      SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality,
        CAST(len(toks) AS BIGINT) AS n_tokens
      FROM qf
    ),
    c AS (
      SELECT doc_id, quality, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS tokens_before
      FROM qq
    )
    SELECT doc_id, quality, n_tokens, tokens_before,
      CAST(CASE WHEN tokens_before + n_tokens <= 12000 THEN 1 ELSE 0 END
        AS BIGINT) AS selected
    FROM c
    """,
)
def quality_budget_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget corpus selection: documents taken in
    (quality DESC, doc_id) order until a 12k-token budget fills — the
    "best docs first" counterpart of temperature sampling. The global
    prefix sum is the bucketed two-pass (no single-reducer sort); the
    oracle is the same prefix sum as one window."""
    from blogparser_spark.dataops.curation import quality_budget_selection

    d = textstats.with_quality(_docs(spark, sf_dir)).select(
        "doc_id",
        "quality",
        F.size(textstats.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return quality_budget_selection(d, budget=12000).select(
        "doc_id", "quality", "n_tokens", "tokens_before", "selected"
    )


@_q(
    "corpus_token_quantiles",
    """
    WITH t AS (
      SELECT lang,
        CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS DOUBLE)
          AS nt
      FROM documents
    )
    SELECT lang, count(*)::BIGINT AS n_docs,
      round(quantile_cont(nt, 0.5), 6) AS p50,
      round(quantile_cont(nt, 0.9), 6) AS p90,
      round(quantile_cont(nt, 0.99), 6) AS p99
    FROM t GROUP BY lang
    """,
)
def corpus_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length quantile profile (p50/p90/p99) — the
    corpus-shape report that sizes packing budgets and truncation limits.
    Exact interpolated percentile here for oracle parity (Spark
    `percentile` == DuckDB `quantile_cont`); at 100 TB swap in
    `approx_percentile` — a single-pass mergeable sketch with the same
    groupBy shape, no extra shuffle."""
    d = _docs(spark, sf_dir).select(
        "lang",
        F.size(textstats.tokens(F.col("text"))).cast("double").alias("nt"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("nt", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("nt", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("nt", F.lit(0.99)), 6).alias("p99"),
    )


@_q(
    "training_shuffle_order",
    """
    SELECT doc_id,
      md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      CAST(row_number() OVER (
        ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR))) AS BIGINT)
        AS shuffle_rank
    FROM documents
    """,
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 training shuffle: global rank in
    md5('epoch1:'||id) order via range partition + per-partition
    row_number + broadcast offsets — the scalable equivalent of
    row_number() OVER (ORDER BY key), which is the oracle. No stage holds
    more than one partition's rows; re-running (or resuming) an epoch
    export reproduces the identical order."""
    from blogparser_spark.dataops.curation import epoch_shuffle_rank

    out = epoch_shuffle_rank(_docs(spark, sf_dir), epoch=1)
    return out.select("doc_id", "shuffle_key", "shuffle_rank")


_EXPORT_SQL = f"""
    WITH {_quality_feature_ctes("documents")}, quality AS (
      SELECT doc_id, text FROM qf WHERE {_QUALITY_SCORE_SQL} >= 0.8
    ), toks2 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        THEN list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))
        ELSE [CAST(NULL AS VARCHAR)] END) AS g
      FROM toks2
    ), bench AS (
      SELECT DISTINCT g FROM sh WHERE doc_id % 17 = 0 AND g IS NOT NULL
    ), contam AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (g)
    ), clean AS (
      SELECT q.doc_id, q.text, d.lang
      FROM quality q JOIN documents d USING (doc_id)
      WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)
    ), sampled AS (
      SELECT * FROM clean
      WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) <
        CASE lang WHEN 'en' THEN '80000000' ELSE 'g' END
    ), ranked AS (
      SELECT doc_id, lang, text,
        CAST(row_number() OVER (
          ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR))) AS BIGINT)
          AS shuffle_rank
      FROM sampled
    ), base AS (
      SELECT doc_id, lang, shuffle_rank,
        CAST((shuffle_rank - 1) // 64 AS BIGINT) AS shard,
        CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS INT)
          AS n_tokens
      FROM ranked
    ), c AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        ORDER BY shuffle_rank
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM base
    )
    SELECT doc_id, lang, shuffle_rank, shard, n_tokens,
      CAST(cb // 256 AS BIGINT) AS pack_id, CAST(cb % 256 AS BIGINT) AS pack_pos
    FROM c
"""


@_q("training_export_manifest", _EXPORT_SQL)
def training_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-export composition in one plan: quality gate
    (score >= 0.8) → benchmark decontamination (5-gram collision vs the
    doc_id%17 eval split) → deterministic stratified sampling (en keeps
    50%) → epoch-1 global shuffle rank → token-budget packing within
    64-row rank shards. Every stage is the already-oracled operator; the
    oracle here is their SQL composition, so stage drift anywhere breaks
    this query. All joins are id-keyed or broadcast; the only full sort
    is range-partitioned."""
    from pyspark.sql import Window as W

    from blogparser_spark.dataops.curation import (
        decontaminate,
        epoch_shuffle_rank,
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    qd = textstats.with_quality(docs).filter(F.col("quality") >= 0.8)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    keep = (
        decontaminate(qd.select("doc_id", "text"), bench, n=5)
        .filter(~F.col("contaminated"))
        .select("doc_id")
    )
    clean = qd.select("doc_id", "text", "lang").join(keep, "doc_id")
    samp = stratified_sample(clean, {"en": 0.5})
    ranked = epoch_shuffle_rank(samp, epoch=1)
    base = ranked.select(
        "doc_id",
        "lang",
        "shuffle_rank",
        ((F.col("shuffle_rank") - 1) / F.lit(64)).cast("long").alias("shard"),
        F.size(textstats.tokens(F.col("text"))).alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("shuffle_rank")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cb = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "lang",
        "shuffle_rank",
        "shard",
        "n_tokens",
        F.floor(cb / 256).alias("pack_id"),
        (cb % 256).alias("pack_pos"),
    )


# ------------------------------------------------------- segment-level dedup ---

_SEGDUP_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ), segs AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, greatest(cast(ceil(len(toks) / 12.0) AS int), 1)),
               i -> {'seg': i,
                     'seg_text': array_to_string(toks[i*12+1 : i*12+12], ' ')})) AS s
      FROM t
    ), seg2 AS (
      SELECT doc_id, s.seg AS seg, s.seg_text AS seg_text FROM segs
    ), flagged AS (
      SELECT doc_id, seg, seg_text,
             row_number() OVER (PARTITION BY md5(seg_text) ORDER BY doc_id, seg) = 1 AS keep
      FROM seg2
    )
    SELECT doc_id, count(*)::BIGINT AS n_segs,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN seg_text END, ' ' ORDER BY seg), '')
             AS clean_text
    FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


@_q("segment_dedup_docs", _SEGDUP_SQL)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document exact dedup with reassembly: every 12-word
    segment survives only at its corpus-global first occurrence (lowest
    (doc_id, seg)); documents are re-joined from their surviving segments
    in original order. The Spark side computes the first-keeper as a
    map-side-combinable min(struct) groupBy on the segment md5 (no
    corpus-wide window sort, robust to boilerplate-heavy corpora); the
    oracle expresses the identical semantics as a row_number window."""
    from blogparser_spark.dataops.dedup import segment_dedup_reassemble

    return segment_dedup_reassemble(_docs(spark, sf_dir), width=12)


# ------------------------------------------------- large-large join + top-k ---

_ORDER_REV_SQL = """
    WITH rev AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))) AS r
      FROM lineitem
      WHERE l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY l_orderkey
    ), j AS (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_orderdate,
             CAST(rev.r AS DOUBLE) AS revenue
      FROM rev
      JOIN orders o ON rev.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    ), rk AS (
      SELECT c_mktsegment, o_orderkey, o_orderdate, revenue,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY revenue DESC, o_orderkey) AS rk
      FROM j
    )
    SELECT c_mktsegment, o_orderkey, o_orderdate, revenue, rk
    FROM rk WHERE rk <= 3 ORDER BY c_mktsegment, rk
"""


@_q("order_revenue_topk", _ORDER_REV_SQL)
def order_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by revenue per market segment (TPC-H Q3/Q10 blend) —
    the large-large fact-fact join demonstrated with its scale shape:
    lineitem is filtered (pushes to the scan) and PRE-AGGREGATED to one
    row per orderkey BEFORE the join, so the shuffle-join probe side
    shrinks by the lineitems-per-order factor; orders joins on the same
    orderkey (co-partitioned sort-merge at scale; AQE may elect broadcast
    at small SF); the customer dim is an explicit broadcast; the top-k
    window partitions by segment with a deterministic (revenue desc,
    orderkey) tie-break. Money is decimal-summed, cast to double only at
    the boundary (CLAUDE.md rule 7)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        li.filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
            ).alias("r")
        )
    )
    j = (
        rev.join(orders, rev["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            "o_orderkey",
            "o_orderdate",
            F.col("r").cast("double").alias("revenue"),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), "o_orderkey"
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("c_mktsegment", "rk")
    )


# ----------------------------------------------------- weighted sampling (ES) ---

_WSAMPLE_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '), x -> x != ''))::BIGINT
               AS weight_tokens
      FROM documents
    ), keyed AS (
      SELECT doc_id, weight_tokens,
             round(ln((('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 13))::BIGINT + 1)
                      / 4503599627370496.0) / weight_tokens, 6) AS es_key
      FROM t WHERE weight_tokens > 0
    )
    SELECT row_number() OVER (ORDER BY es_key DESC, doc_id) AS rank,
           doc_id, weight_tokens, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50
"""


@_q("weighted_sample_docs", _WSAMPLE_SQL)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count-weighted sample of 50 documents via deterministic
    Efraimidis–Spirakis exponential keys (dataops/curation.py): key =
    ln(md5-uniform)/weight, global top-n by key = weighted sample without
    replacement. The plan is TakeOrderedAndProject (plan-asserted in
    test_curation) — per-partition local top-n merged on the driver, so at
    10^12 rows the driver sees n·partitions candidates, never a global
    sort shuffle; reruns and different cluster sizes select the identical
    row set. The oracle evaluates the same key expression in DuckDB."""
    from blogparser_spark.dataops import curation, textstats

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(textstats.tokens(F.lower(F.col("text"))))
        .cast("bigint")
        .alias("weight_tokens"),
    )
    top = curation.weighted_sample(d, "weight_tokens", 50)
    w = Window.orderBy(F.desc("es_key"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "weight_tokens", "es_key"
    )


# ------------------------------------------------- bigram-LM quality scoring ---

def _lm_ctes(extra_cols: str = "") -> str:
    """The bigram-LM replay CTE chain (token lists, bigrams, add-one
    counts, vocab, round-6 per-bigram log-probs) — shared by the
    perplexity and domain-reweight oracles so the smoothing/rounding
    conventions cannot drift between copies. `extra_cols` appends
    passthrough columns (e.g. ', source') to the token CTE."""
    return rf"""t AS (
      SELECT doc_id{extra_cols}, list_filter(string_split(lower(text), ' '), x -> x != '') AS tk
      FROM documents
    ), b2 AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(tk), 1)),
                                     i -> {{'w1': tk[i], 'w2': tk[i+1]}})) AS u
        FROM t
      )
    ), c2 AS (
      SELECT w1, w2, count(*)::BIGINT AS cnt2 FROM b2 GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, sum(cnt2)::BIGINT AS cnt1 FROM c2 GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT w)::BIGINT AS vocab
      FROM (SELECT unnest(tk) AS w FROM t)
    ), lp AS (
      SELECT doc_id,
             round(ln((cnt2 + 1.0) / (cnt1 + vocab)), 6) AS lp
      FROM b2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
    )"""


_LMPPL_SQL = rf"""
    WITH {_lm_ctes()}
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(lp), 6) AS avg_logprob,
           round(exp(-avg(lp)), 6) AS ppl
    FROM lp GROUP BY 1 ORDER BY 1
"""


@_q("lm_perplexity_scores", _LMPPL_SQL)
def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores (Wenzek et al. 2020): an add-one
    bigram LM is TRAINED on the corpus distributed (lead()-built bigrams,
    two partial hash aggs keyed on bigram vocabulary — dataops/lm.py) and
    every document is scored by its mean bigram log-probability +
    perplexity. Count tables join back broadcast; at 10^12 turns the LM
    tables stay vocabulary-sized while the token volume only ever flows
    through map-side partial aggs. The oracle replays the identical
    integer counts and round-6 log math in DuckDB."""
    from blogparser_spark.dataops import lm

    return lm.lm_quality_scores(_docs(spark, sf_dir)).orderBy("doc_id")


# ===========================================================================
# SRP-LSH over embeddings (dataops.similarity, round 3)
# ===========================================================================

# Shared oracle fragment: the deterministic hyperplane table and round-6
# sign-bit band packing — the exact math of similarity.srp_band_values
# (md5-derived hyperplanes mean DuckDB derives the SAME floats in SQL).
_SRP_BANDS_SQL = """
    h AS MATERIALIZED (
      SELECT b.b, d.d,
        CAST('0x'||substr(md5('srp:'||b.b||':'||d.d),1,8) AS BIGINT)
          / 4294967296.0 - 0.5 AS hv
      FROM (SELECT unnest(range(16)) AS b) b
      CROSS JOIN (SELECT unnest(range(64)) AS d) d
    ), ev AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), proj AS (
      SELECT ev.vec_id, h.b, round(sum(ev.v[h.d + 1] * h.hv), 6) AS s
      FROM ev CROSS JOIN h GROUP BY ev.vec_id, h.b
    ), srp_bands AS MATERIALIZED (
      SELECT vec_id, CAST(b // 4 AS INT) AS band_idx,
        sum(CASE WHEN s >= 0 THEN 1 ELSE 0 END * (1 << CAST(b % 4 AS INT)))
          ::BIGINT AS band_val
      FROM proj GROUP BY vec_id, b // 4
    )"""


@_q(
    "srp_signatures",
    f"""
    WITH {_SRP_BANDS_SQL}
    SELECT vec_id, band_idx, band_val FROM srp_bands
    """,
)
def srp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH signatures (Charikar, STOC 2002) — the
    embedding-space twin of the MinHash/SimHash band families: 16 sign bits
    from one BLAS matmul per Arrow batch, packed into 4 integer band keys.
    Cosine-similar vectors agree on whole bands, so near-dup search becomes
    a (band_idx, band_val) bucket join — never all-pairs. The oracle derives
    the identical md5-seeded hyperplanes in SQL and replays the round-6
    sign test bit-for-bit."""
    return similarity.srp_band_values(_emb(spark, sf_dir))


@_q(
    "srp_verified_pairs",
    f"""
    WITH {_SRP_BANDS_SQL}, cand AS (
      SELECT DISTINCT prev AS id_a, vec_id AS id_b FROM (
        SELECT vec_id, lag(vec_id) OVER (
          PARTITION BY band_idx, band_val ORDER BY vec_id
        ) AS prev
        FROM srp_bands
      ) WHERE prev IS NOT NULL
    )
    SELECT id_a, id_b,
      round({_COS.format(a="a.v", b="b.v")}, 6) AS cos_sim
    FROM cand JOIN ev a ON a.vec_id = id_a JOIN ev b ON b.vec_id = id_b
    WHERE round({_COS.format(a="a.v", b="b.v")}, 6) >= 0.25
    """,
)
def srp_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP band buckets → chained candidate pairs (lag() over the bucket
    window — bounded state, linear pair count) → EXACT cosine verification
    (≥ 0.25): the embedding-space analog of the verify-before-cluster rule
    on the text side (dedup.verify_pairs_jaccard) — an LSH false positive
    never reaches the output. Norms precomputed per row; per-pair dots run
    in the batched numpy kernel."""
    return similarity.srp_verified_pairs(_emb(spark, sf_dir), threshold=0.25)


@_q(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id,
        unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS _df FROM tf GROUP BY 1
    ), n AS (
      SELECT count(*) AS _n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
        round(tf.tf * round(ln((_n + 1.0) / (_df + 1.0)) + 1.0, 6), 6) AS score
      FROM tf JOIN dfreq USING (term), n
    )
    SELECT doc_id, rank, term, tf, score FROM (
      SELECT doc_id, term, tf, score,
        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (top-3 terms by smoothed
    tf·idf): the classic corpus-statistics enrichment a training-data
    pipeline runs for topic routing and quality filters. All-relational —
    two partial hash aggs (doc,term)/(term), one term-keyed join, corpus
    size N as a broadcast 1-row aggregate (never a driver collect), per-doc
    top-k window; the only vocabulary-wide state is the df table."""
    from blogparser_spark.dataops import textstats

    return textstats.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@_q(
    "event_funnel",
    """
    WITH s0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s0 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1
    )
    SELECT 0 AS step_idx, 'view' AS step, count(*)::BIGINT AS n_users FROM s0
    UNION ALL
    SELECT 1, 'click', count(*)::BIGINT FROM s1
    UNION ALL
    SELECT 2, 'purchase', count(*)::BIGINT FROM s2
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel analytics (view → click → purchase, each step
    strictly after the user's previous step): per-stage converted-user
    counts via aggregate.funnel_counts — len(steps) filtered min-aggs +
    user-keyed joins, no full-history window, no per-user event
    collection."""
    from blogparser_spark.operators.aggregate import funnel_counts

    return funnel_counts(_events(spark, sf_dir)).withColumn(
        "step_idx", F.col("step_idx").cast("int")
    )


@_q(
    "retention_scrub_counts",
    """
    SELECT event_type, count(*)::BIGINT AS n_events
    FROM events WHERE user_id % 7 != 3
    GROUP BY event_type
    """,
)
def retention_scrub_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten shape: a deterministic tombstone key set
    (user_id ≡ 3 mod 7) removed via LEFT ANTI broadcast join — one scan,
    the corpus never shuffles — then per-type survivor counts. The oracle
    states the same semantics as a predicate; the Spark side deliberately
    runs the anti-join plan."""
    e = _events(spark, sf_dir)
    tomb = (
        e.select("user_id").distinct().filter(F.col("user_id") % 7 == 3)
    )
    return (
        e.join(F.broadcast(tomb), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


@_q(
    "shadow_diff_audit",
    """
    SELECT
      sum(CASE WHEN event_id % 7 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_only_left,
      0::BIGINT AS n_only_right,
      sum(CASE WHEN event_id % 7 != 3 AND event_id % 5 = 0
                AND value IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_changed,
      sum(CASE WHEN event_id % 7 != 3
                AND (event_id % 5 != 0 OR value IS NULL)
               THEN 1 ELSE 0 END)::BIGINT AS n_equal,
      sum(CASE WHEN event_id % 7 != 3 AND event_id % 5 = 0
                AND value IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS diff_value
    FROM events
    """,
)
def shadow_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shadow-deployment diff (operators/diff.py): the candidate pipeline's
    output is the incumbent's with every 7th event dropped and every 5th
    value bumped — the audit must report exactly those removal/change
    counts from ONE full-outer join + one aggregate, never a driver-side
    compare. The oracle states the same counts arithmetically."""
    from blogparser_spark.operators.diff import diff_datasets

    e = _events(spark, sf_dir).select("event_id", "value")
    candidate = e.filter(F.col("event_id") % 7 != 3).withColumn(
        "value",
        F.when(
            F.col("event_id") % 5 == 0, F.round(F.col("value") + 1.0, 2)
        ).otherwise(F.col("value")),
    )
    return diff_datasets(e, candidate, keys=["event_id"], compare_cols=["value"])


@_q(
    "srp_near_dup_clusters",
    f"""
    WITH RECURSIVE {_SRP_BANDS_SQL}, cand AS (
      SELECT DISTINCT prev AS id_a, vec_id AS id_b FROM (
        SELECT vec_id, lag(vec_id) OVER (
          PARTITION BY band_idx, band_val ORDER BY vec_id
        ) AS prev
        FROM srp_bands
      ) WHERE prev IS NOT NULL
    ), verified AS (
      SELECT id_a, id_b
      FROM cand JOIN ev a ON a.vec_id = id_a JOIN ev b ON b.vec_id = id_b
      WHERE round({_COS.format(a="a.v", b="b.v")}, 6) >= 0.25
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b AS u, id_a AS v FROM verified
    ), nodes AS (
      SELECT DISTINCT u AS node FROM edges
    ), reach AS (
      SELECT node, node AS m FROM nodes
      UNION
      SELECT e.u AS node, r.m FROM edges e JOIN reach r ON e.v = r.node
    )
    SELECT node::BIGINT AS vec_id, min(m)::BIGINT AS component,
           (node = min(m)) AS keep
    FROM reach GROUP BY node ORDER BY vec_id
    """,
)
def srp_near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP bands → chained pairs → exact-cosine verify → connected
    components → survivor flags: the EMBEDDING-space member of the
    near-dup-clusters family (MinHash and SimHash twins above), same
    iterative pointer-jumping CC on the Spark side, same
    recursive-closure oracle shape."""
    out = similarity.srp_near_dup_clusters(_emb(spark, sf_dir), threshold=0.25)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("component"),
        "keep",
    ).orderBy("vec_id")


@_q(
    "shipping_priority_topk",
    """
    WITH rev AS (
      SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-06-01'
        AND l.l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY 1, 2, 3
    )
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority, rank FROM (
      SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rank
      FROM rev
    ) WHERE rank <= 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — the canonical dim ⋈ fact ⋈ fact chain: the filtered
    customer segment broadcasts into orders (filter pushed to both scans),
    the surviving orders hash-join lineitem on the fact key, revenue
    partial-aggregates map-side as exact decimals, and the global top-10 is
    a rank window over the (small) aggregated set with a deterministic
    revenue/orderkey tie-break. Exactly the join-reordering / broadcast /
    pushdown surface Catalyst+AQE owns at 100 TB."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    dec = lambda name: F.col(name).cast("decimal(18,2)")  # noqa: E731
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )
    # distributed top-10 (TakeOrderedAndProject) BEFORE the rank window, so
    # the only partition-less window in the plan sees exactly 10 rows — the
    # aggregate output itself never funnels through one partition
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return (
        rev.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority", "rank")
    )


@_q(
    "dataset_split_counts",
    f"""
    WITH s AS (
      SELECT lang,
        CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{__import__("blogparser_spark.dataops.curation", fromlist=["c"]).rate_to_hex_threshold(0.1)}' THEN 'val'
             WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{__import__("blogparser_spark.dataops.curation", fromlist=["c"]).rate_to_hex_threshold(0.2)}' THEN 'test'
             ELSE 'train' END AS split
      FROM documents
    )
    SELECT lang, split, count(*)::BIGINT AS n FROM s GROUP BY 1, 2
    """,
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed train/val/test split (curation.dataset_split)
    rolled up per language: engine-portable (same md5 thresholds in the
    oracle), shuffle-free assignment, and growth-stable — adding documents
    never reassigns existing ones, the property that keeps eval sets
    uncontaminated across retrains."""
    from blogparser_spark.dataops import curation

    return (
        curation.dataset_split(_docs(spark, sf_dir))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "fk_integrity_audit",
    """
    SELECT 'orders->customer' AS relation,
      (SELECT count(*) FROM orders)::BIGINT AS n_child,
      (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      )::BIGINT AS n_orphans,
      round((SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        / greatest((SELECT count(*) FROM orders), 1), 6) AS orphan_frac
    UNION ALL
    SELECT 'lineitem->orders',
      (SELECT count(*) FROM lineitem)::BIGINT,
      (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      )::BIGINT,
      round((SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        / greatest((SELECT count(*) FROM lineitem), 1), 6)
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (dataops/profile.py): orphaned-FK counts
    for orders→customer and lineitem→orders as ONE lazy plan per relation
    (left join against distinct parent keys + one aggregate) unioned into
    the audit table — the pre-ingest data-quality gate, never a driver-side
    row inspection."""
    from blogparser_spark.dataops.profile import fk_audit

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return fk_audit(
        [
            (o, c, "o_custkey", "c_custkey", "orders->customer"),
            (li, o, "l_orderkey", "o_orderkey", "lineitem->orders"),
        ]
    )


@_q(
    "column_null_profile",
    """
    WITH a AS (
      SELECT count(*)::BIGINT AS n_rows,
        sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT AS n0,
        sum(CASE WHEN event_type IS NOT NULL AND trim(event_type) = ''
                 THEN 1 ELSE 0 END)::BIGINT AS b0,
        sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n1,
        sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT AS n2,
        sum(CASE WHEN props IS NOT NULL AND trim(props) = ''
                 THEN 1 ELSE 0 END)::BIGINT AS b2
      FROM events
    )
    SELECT 'event_type' AS col, n_rows, n0 AS n_null, b0 AS n_blank FROM a
    UNION ALL SELECT 'value', n_rows, n1, 0::BIGINT FROM a
    UNION ALL SELECT 'props', n_rows, n2, b2 FROM a
    """,
)
def column_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/blank profiling over events — one aggregate for all
    columns, unpivoted in-plan to audit rows (dataops/profile.py)."""
    from blogparser_spark.dataops.profile import null_blank_profile

    return null_blank_profile(
        _events(spark, sf_dir), ["event_type", "value", "props"]
    )


@_q(
    "props_json_rollup",
    """
    SELECT event_type,
      count(*)::BIGINT AS n,
      min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
      sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
      sum(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
        ::BIGINT AS n_missing
    FROM events GROUP BY event_type
    """,
)
def props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload rollup: the `props` JSON column parsed
    IN-PLAN with get_json_object (JVM JSON path evaluation inside
    whole-stage codegen — no Python, no pre-flattening ETL) feeding a
    partial hash agg. The log-pipeline reality check: telemetry payloads
    are ragged JSON, and the engine must aggregate over paths without a
    schema migration. Missing-path counts ride the same aggregate."""
    e = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.sum(k).alias("sum_k"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("n_missing"),
    )


@_q(
    "rolling_event_stats",
    """
    SELECT user_id, event_id,
      count(*) OVER w ::BIGINT AS n_1h,
      round(avg(value) OVER w, 6) AS avg_1h
    FROM (
      SELECT user_id, event_id, value,
        epoch_us(ts) AS us
      FROM events
    )
    WINDOW w AS (
      PARTITION BY user_id ORDER BY us
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def rolling_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding window — the window flavor tumbling/session
    coverage doesn't exercise: each event's trailing-1-hour per-user
    count/mean via `rangeBetween` on event-time microseconds (value-based
    frame, not row-based; one shuffle+sort per user partition, the same
    cost as any per-user window at 10^12 events). Rolling rates are the
    bread-and-butter anomaly signal of a telemetry pipeline."""
    e = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
    )


@_q(
    "sink_rollup_hierarchy",
    """
    WITH t AS (
      SELECT event_type, CAST(user_id % 4 AS VARCHAR) AS user_bucket, value
      FROM events
    )
    SELECT coalesce(event_type, '<all>') AS event_type,
      coalesce(user_bucket, '<all>') AS user_bucket,
      count(*)::BIGINT AS n,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM t GROUP BY ROLLUP (event_type, user_bucket)
    """,
)
def sink_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (type → type×bucket → grand total in
    ONE pass — Catalyst expands the grouping sets into a single shuffle,
    not three scans): the multi-dimensional reporting rollup every sink
    dashboard wants, with decimal-exact money sums."""
    e = _events(spark, sf_dir).select(
        "event_type",
        (F.col("user_id") % 4).cast("string").alias("user_bucket"),
        "value",
    )
    return (
        e.rollup("event_type", "user_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("user_bucket"), F.lit("<all>")).alias("user_bucket"),
            "n",
            "total_value",
        )
    )


@_q(
    "event_type_pivot",
    """
    SELECT CAST(user_id % 4 AS VARCHAR) AS user_bucket,
      sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
      sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
      sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
      sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
    FROM events GROUP BY 1
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an EXPLICIT value list — the form that stays
    one pass at scale: Catalyst rewrites it to one hash agg with per-value
    conditional counts (exactly the oracle's CASE sums); omitting the list
    would trigger a driver-side distinct scan first. Wide per-entity
    feature rows are the export shape feature stores ask for."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy((F.col("user_id") % 4).cast("string").alias("user_bucket"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@_q(
    "value_decile_profile",
    """
    WITH d AS (
      SELECT event_type, value,
        ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
          AS decile
      FROM events
    )
    SELECT event_type, decile, count(*)::BIGINT AS n,
      round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM d GROUP BY event_type, decile
    """,
)
def value_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile bucketing per event type (deterministic tie-break on
    event_id) rolled up to per-decile count/lo/hi — the distribution
    profile dashboards bin by. One window + one partial agg, both keyed on
    event_type."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


# Shared winnowing oracle fragment (Schleimer et al. 2003): k=16 char
# k-grams over whitespace-normalized lowercase text; for EVERY w=4 window
# the rightmost minimum hash is selected (per-window argmin, pos DESC tie
# break — the true winnowing rule; see dedup.winnow_fingerprints),
# md5-prefix integers via the same hex-cast derivation as SRP.
_WINNOW_FP_SQL = r"""
    wt AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS tx
      FROM documents
    ), wt2 AS (
      SELECT doc_id, tx FROM wt WHERE length(tx) >= 16
    ), wpos AS (
      SELECT doc_id, tx, length(tx) - 16 + 1 AS n,
             unnest(range(1, length(tx) - 16 + 2)) AS pos FROM wt2
    ), wh AS (
      SELECT doc_id, pos, n,
        CAST('0x'||substr(md5(substr(tx, CAST(pos AS INT), 16)),1,8) AS BIGINT)
          AS hh
      FROM wpos
    ), wq AS (
      SELECT doc_id, pos, hh,
        unnest(range(greatest(1, pos - 3),
                     least(pos, greatest(n - 3, 1)) + 1)) AS q
      FROM wh
    ), wsel AS (
      SELECT doc_id, pos, hh,
        row_number() OVER (PARTITION BY doc_id, q
                           ORDER BY hh ASC, pos DESC) AS rn
      FROM wq
    ), wfp AS MATERIALIZED (
      SELECT doc_id, hh AS fingerprint, min(pos) AS pos
      FROM wsel WHERE rn = 1 GROUP BY 1, 2
    )"""


@_q(
    "winnow_fingerprint_stats",
    f"""
    WITH {_WINNOW_FP_SQL}
    SELECT doc_id, count(*)::BIGINT AS n_fingerprints,
      sum(fingerprint)::BIGINT AS fp_sum,
      min(fingerprint) AS fp_min
    FROM wfp GROUP BY doc_id
    """,
)
def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS signature) rolled up per document: any shared substring of
    length >= k+w-1 between two documents is GUARANTEED a shared
    fingerprint, and the kept set is a sparse ~2/(w+1) sample of positions.
    The checksum column (exact integer sum of 32-bit prints) pins the full
    fingerprint SET cross-engine without shipping 35k rows."""
    from blogparser_spark.dataops import dedup

    fp = dedup.winnow_fingerprints(_docs(spark, sf_dir), k=16, w=4)
    return fp.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.sum("fingerprint").alias("fp_sum"),
        F.min("fingerprint").alias("fp_min"),
    )


@_q(
    "winnow_overlap_pairs",
    f"""
    WITH {_WINNOW_FP_SQL}, wdf AS (
      SELECT fingerprint, count(*) AS dfc FROM wfp GROUP BY 1
    ), wkept AS (
      SELECT wfp.doc_id, wfp.fingerprint
      FROM wfp JOIN wdf USING (fingerprint) WHERE dfc <= 10
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
    FROM wkept a JOIN wkept b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def winnow_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free overlap detection: document pairs sharing >= 3
    winnowing fingerprints after MOSS's stop-fingerprint rule (prints in
    > 10 docs dropped — which ALSO bounds the self-join to <= cap² pairs
    per fingerprint; linear in corpus, never all-pairs)."""
    from blogparser_spark.dataops import dedup

    return dedup.winnow_overlap_pairs(
        _docs(spark, sf_dir), min_shared=3, k=16, w=4, df_cap=10
    )


# ===========================================================================
# Time-series analytics family (dataops/timeseries.py)
# ===========================================================================


@_q(
    "cohort_retention",
    """
    WITH cohorts AS (
      SELECT user_id, date_trunc('week', min(ts))::DATE AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT user_id, date_trunc('week', ts)::DATE AS active_week FROM events
    )
    SELECT cohort_week,
      (datediff('day', cohort_week, active_week) // 7)::INT AS week_offset,
      count(DISTINCT user_id)::BIGINT AS active_users
    FROM activity JOIN cohorts USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (first-seen week x offset). Both
    shuffles key on user_id (min-ts agg, then the join) so the layout is
    reused; the output grid is |weeks|^2 — tiny at any scale."""
    from blogparser_spark.dataops import timeseries

    return timeseries.cohort_retention(_events(spark, sf_dir))


@_q(
    "event_transitions",
    """
    WITH pairs AS (
      SELECT event_type AS src_type,
        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS dst_type
      FROM events
    ), counts AS (
      SELECT src_type, dst_type, count(*)::BIGINT AS n_transitions
      FROM pairs WHERE dst_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT src_type, dst_type, n_transitions,
      round(n_transitions / sum(n_transitions) OVER (PARTITION BY src_type),
            6) AS p_transition
    FROM counts
    """,
)
def event_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams,
    (ts, event_id)-ordered for determinism. One window sort bounded by
    per-user history, then a |types|^2 partial hash agg."""
    from blogparser_spark.dataops import timeseries

    return timeseries.event_transitions(_events(spark, sf_dir))


@_q(
    "gap_fill_daily",
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n_events,
        sum(value) AS value_sum, avg(value) AS value_avg
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(ts)::DATE AS min_day, max(ts)::DATE AS max_day FROM events
    ), spine AS (
      SELECT t.event_type,
        unnest(generate_series(b.min_day, b.max_day, INTERVAL 1 DAY))::DATE
          AS day
      FROM (SELECT DISTINCT event_type FROM events) t, bounds b
    )
    SELECT s.event_type, s.day,
      coalesce(d.n_events, 0)::BIGINT AS n_events,
      round(coalesce(d.value_sum, 0.0), 6) AS value_sum,
      round(last_value(d.value_avg IGNORE NULLS) OVER (
        PARTITION BY s.event_type ORDER BY s.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        AS locf_value_avg,
      sum(coalesce(d.n_events, 0)) OVER (
        PARTITION BY s.event_type ORDER BY s.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        AS cum_events
    FROM spine s
    LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
    """,
)
def gap_fill_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar gap-fill with zero-fill, LOCF daily-mean carry-forward,
    and running cumulative counts. The spine joins the ALREADY-aggregated
    daily grid — the raw log is touched exactly once."""
    from blogparser_spark.dataops import timeseries

    return timeseries.gap_fill_daily(_events(spark, sf_dir))


# ===========================================================================
# Collocations + fuzzy dedup + cube additions
# ===========================================================================


@_q(
    "pmi_collocations",
    """
    WITH docs_arr AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    t -> t <> '') AS arr
      FROM documents
    ), uni AS (
      SELECT unnest(arr) AS x FROM docs_arr
    ), bi AS (
      SELECT split_part(xy, ' ', 1) AS x, split_part(xy, ' ', 2) AS y
      FROM (
        SELECT unnest(list_transform(range(1, len(arr)),
                                     i -> arr[i] || ' ' || arr[i + 1])) AS xy
        FROM docs_arr
      )
    ), uni_counts AS (
      SELECT x, count(*)::BIGINT AS n_x FROM uni GROUP BY 1
    ), bi_counts AS (
      SELECT x, y, count(*)::BIGINT AS n_xy FROM bi GROUP BY 1, 2
    ), totals AS (
      SELECT (SELECT count(*) FROM uni)::DOUBLE AS t_uni,
             (SELECT count(*) FROM bi)::DOUBLE AS t_bi
    )
    SELECT x || ' ' || y AS bigram, n_xy AS n_pair,
      round(ln((n_xy / t_bi) / ((a.n_x / t_uni) * (b.n_x / t_uni))), 6)
        AS pmi
    FROM bi_counts
    JOIN uni_counts a USING (x)
    JOIN uni_counts b ON bi_counts.y = b.x
    CROSS JOIN totals
    WHERE n_xy >= 5
    ORDER BY pmi DESC, bigram ASC LIMIT 30
    """,
)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram collocations by pointwise mutual information
    (Church & Hanks 1990): one posexplode, a per-doc lead() window, two
    vocab-sized partial aggs, broadcast totals. Top-30 by (rounded pmi,
    bigram) so the cut is engine-deterministic."""
    from blogparser_spark.dataops import textstats

    return textstats.pmi_collocations(
        _docs(spark, sf_dir), min_count=5, top_k=30
    )


@_q(
    "fuzzy_prefix_pairs",
    """
    WITH base AS (
      SELECT doc_id AS id, source,
        substr(regexp_replace(lower(text), '[^a-z0-9 ]+', '', 'g'), 1, 40)
          AS k
      FROM documents
    ), b2 AS (
      SELECT *, length(k) // 8 AS bucket FROM base
    )
    SELECT a.id AS id_a, b.id AS id_b,
      levenshtein(a.k, b.k)::INT AS edit_dist
    FROM b2 a JOIN b2 b
      ON a.id < b.id AND a.bucket = b.bucket AND a.source = b.source
    WHERE levenshtein(a.k, b.k) <= 8
    """,
)
def fuzzy_prefix_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-duplicate pairs by edit distance on an
    ASCII-normalized 40-char prefix. The normalization makes
    levenshtein byte==char deterministic across engines (DuckDB's is
    byte-based on UTF-8); blocking on (source, length-bucket) bounds the
    self-join exactly like ngram_jaccard_pairs."""
    from blogparser_spark.dataops import dedup

    pairs = dedup.fuzzy_prefix_pairs(
        _docs(spark, sf_dir),
        block_cols=("source",),
        prefix_len=40,
        max_dist=8,
        bucket_width=8,
    )
    return pairs.select(
        "id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist")
    )


@_q(
    "event_cube_counts",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
      coalesce(wd, -1)::INT AS wd,
      GROUPING(event_type, wd)::INT AS gid,
      count(*)::BIGINT AS n_events,
      round(sum(value), 6) AS value_sum
    FROM (SELECT event_type, isodow(ts)::INT - 1 AS wd, value FROM events)
    GROUP BY CUBE(event_type, wd)
    """,
)
def event_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets rollup over (event_type, weekday): all four
    grouping sets in ONE pass (Spark expands to a single partial-agg plan,
    not four scans). grouping_id bit order (first col = MSB) matches
    DuckDB's GROUPING(). Weekday is Monday=0 on both engines
    (Spark weekday() / DuckDB isodow()-1)."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.weekday("ts").alias("wd"), "value"
    )
    return (
        ev.cube("event_type", "wd")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("wd", F.lit(-1)).cast("int").alias("wd"),
            "gid",
            "n_events",
            "value_sum",
        )
    )


# ===========================================================================
# Batch-2 analytics: interarrival, anomaly, inverted index, skew distinct,
# winsorized stats
# ===========================================================================


@_q(
    "interarrival_quantiles",
    """
    WITH gaps AS (
      SELECT event_type,
        (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          - epoch_us(ts))::DOUBLE AS gap_us
      FROM events
    )
    SELECT event_type, count(*)::BIGINT AS n_gaps,
      round(quantile_cont(gap_us, 0.5), 6) AS p50_us,
      round(quantile_cont(gap_us, 0.9), 6) AS p90_us,
      round(max(gap_us), 6) AS max_us
    FROM gaps WHERE gap_us IS NOT NULL GROUP BY event_type
    """,
)
def interarrival_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival gap profile on integer microseconds
    (engine-exact before the quantile interpolation). Per-user lead
    window bounded by user history; exact percentile for parity,
    approx_percentile at 100 TB."""
    from blogparser_spark.dataops import timeseries

    return timeseries.interarrival_quantiles(_events(spark, sf_dir))


@_q(
    "daily_anomaly_flags",
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n_events
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, day, n_events,
        CASE WHEN stddev_pop(n_events) OVER (PARTITION BY event_type) > 0
             THEN round((n_events - avg(n_events) OVER (PARTITION BY event_type))
               / stddev_pop(n_events) OVER (PARTITION BY event_type), 6)
             ELSE 0.0 END AS z_score
      FROM daily
    )
    SELECT * FROM s WHERE abs(z_score) > 2.0
    """,
)
def daily_anomaly_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly days: per-(type, day) counts z-scored against the
    type's own mean/stddev_pop, |z| > 2 flagged. One partial agg over the
    raw log; the z window runs on the |types| x |days| grid."""
    from blogparser_spark.dataops import timeseries

    return timeseries.daily_anomaly_flags(_events(spark, sf_dir), z_threshold=2.0)


@_q(
    "inverted_postings",
    """
    WITH toks AS (
      SELECT doc_id AS id,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           t -> t <> '')) AS term
      FROM documents
    ), per_doc AS (
      SELECT term, id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term ORDER BY id) AS rn
      FROM per_doc
    )
    SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf,
      string_agg(CASE WHEN rn <= 20 THEN id::VARCHAR END, ',' ORDER BY id)
        AS postings_head
    FROM ranked GROUP BY term HAVING count(*) >= 5
    """,
)
def inverted_postings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists with exact df/tf and a capped,
    id-ascending posting sample. The cap is applied BEFORE the collect
    (row_number filter inside the agg), so reduce-side state stays
    bounded on stop-word terms."""
    from blogparser_spark.dataops import textstats

    return textstats.inverted_postings(
        _docs(spark, sf_dir), min_df=5, max_postings=20
    )


@_q(
    "skew_salted_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via the explicit two-stage
    rewrite (pre-dedup on (key, value) — the value is a perfect salt, so a
    hot event_type's rows spread across ALL reducers; the second shuffle
    reduces |distinct| rows per key). Same answer as count(distinct), skew-
    proof plan (operators/skew.py:salted_exact_distinct)."""
    from blogparser_spark.operators.skew import salted_exact_distinct

    return salted_exact_distinct(
        _events(spark, sf_dir), ["event_type"], "user_id"
    )


@_q(
    "winsorized_value_stats",
    """
    WITH pct AS (
      SELECT event_type,
        quantile_cont(value, 0.05) AS p05,
        quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, count(*)::BIGINT AS n_events,
      round(avg(least(greatest(e.value, p.p05), p.p95)), 6) AS winsor_mean,
      sum(CASE WHEN e.value < p.p05 OR e.value > p.p95 THEN 1 ELSE 0
          END)::BIGINT AS n_clipped
    FROM events e JOIN pct p ON e.event_type = p.event_type
    GROUP BY e.event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) per-type value means — the outlier-
    robust metric pass. The percentile table is |types| rows, broadcast
    back onto the log; one partial agg computes clipped mean and clip
    counts in the same pass."""
    ev = _events(spark, sf_dir)
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    joined = ev.join(F.broadcast(pct), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg(clipped), 6).alias("winsor_mean"),
        F.sum(
            F.when(
                (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")),
                1,
            ).otherwise(0)
        ).alias("n_clipped"),
    )


# ===========================================================================
# Batch-3 analytics: trend regression, trigram mining, chi-squared,
# entropy, CDC latest-state
# ===========================================================================


@_q(
    "daily_volume_trend",
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
      FROM events GROUP BY 1, 2
    ), xy AS (
      SELECT event_type, (day - DATE '1970-01-01')::BIGINT AS x, y FROM daily
    ), s AS (
      SELECT event_type, count(*)::BIGINT AS n_days,
        sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(x*y)::BIGINT AS sxy,
        sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy
      FROM xy GROUP BY 1
    ), m AS (
      SELECT event_type, n_days, sx, sy,
        CAST(n_days AS DOUBLE) AS n,
        CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS c2,
        CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx2,
        CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy2
      FROM s
    )
    SELECT event_type, n_days,
      round(CASE WHEN vx2 > 0 THEN c2 / vx2 END, 6) AS slope_per_day,
      round(CASE WHEN vx2 > 0 THEN (sy - (c2 / vx2) * sx) / n END, 6)
        AS intercept,
      round(CASE WHEN vx2 > 0 AND vy2 > 0 THEN (c2 * c2) / (vx2 * vy2) END, 6)
        AS r2
    FROM m
    """,
)
def daily_volume_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of daily volume from exact integer
    moments (order-independent — the built-in regr_* co-moment
    accumulators are partition-order-dependent in float)."""
    from blogparser_spark.dataops import timeseries

    return timeseries.daily_volume_trend(_events(spark, sf_dir))


@_q(
    "event_trigram_topk",
    """
    WITH tri AS (
      SELECT event_type AS e1,
        lead(event_type, 1) OVER w AS e2,
        lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS trigram,
      count(*)::BIGINT AS n_occurrences
    FROM tri WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n_occurrences DESC, trigram LIMIT 20
    """,
)
def event_trigram_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 per-user event-type trigrams: one window sort per user,
    partial agg on the <=|types|^3 grid, bounded global top-k with a
    deterministic tie-break at the cut."""
    from blogparser_spark.dataops import timeseries

    return timeseries.event_trigram_topk(_events(spark, sf_dir), k=20)


@_q(
    "type_weekday_chi2",
    """
    WITH obs AS (
      SELECT event_type AS a, isodow(ts)::INT - 1 AS b, count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2
    ), rt AS (SELECT a, sum(o)::BIGINT AS row_total FROM obs GROUP BY a),
    ct AS (SELECT b, sum(o)::BIGINT AS col_total FROM obs GROUP BY b),
    g AS (SELECT sum(o)::BIGINT AS grand_total FROM obs),
    cells AS (
      SELECT a, b, o, grand_total,
        CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
          / CAST(grand_total AS DOUBLE) AS e
      FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN g
    )
    SELECT sum(o)::BIGINT AS n_obs,
      count(DISTINCT a)::BIGINT AS n_rows_a,
      count(DISTINCT b)::BIGINT AS n_cols_b,
      ((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1))::BIGINT AS dof,
      round(sum((o - e) * (o - e) / e - e) + first(grand_total), 6) AS chi2
    FROM cells
    """,
)
def type_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test between event_type and weekday
    (Monday=0 on both engines). Structural-zero cells enter the statistic
    via the Sum(e) identity instead of a dense grid."""
    from blogparser_spark.dataops.profile import contingency_chi2

    ev = _events(spark, sf_dir).select(
        "event_type", F.weekday("ts").alias("wd")
    )
    return contingency_chi2(ev, "event_type", "wd")


@_q(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*)::BIGINT AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, sum(cnt)::BIGINT AS n_events,
      count(*)::BIGINT AS n_distinct,
      round(ln(CAST(sum(cnt) AS DOUBLE))
        - sum(cnt * ln(CAST(cnt AS DOUBLE))) / CAST(sum(cnt) AS DOUBLE),
        6) AS entropy_nats
    FROM c GROUP BY user_id
    """,
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats) of the event-type mix via the
    factored H = ln(n) - (Sum c*ln c)/n — two plain partial aggs, constant
    reduce state per key."""
    from blogparser_spark.dataops.profile import categorical_entropy

    return categorical_entropy(_events(spark, sf_dir), ["user_id"], "event_type")


@_q(
    "source_score_normalize",
    """
    SELECT source, doc_id, strlen(text)::BIGINT AS n_bytes,
      round(percent_rank() OVER (PARTITION BY source
                                 ORDER BY strlen(text)), 6) AS pct_rank,
      round(CASE WHEN max(strlen(text)) OVER w > min(strlen(text)) OVER w
            THEN (strlen(text) - min(strlen(text)) OVER w)
                 / (max(strlen(text)) OVER w - min(strlen(text)) OVER w)
            END, 6) AS minmax
    FROM documents WINDOW w AS (PARTITION BY source)
    """,
)
def source_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score normalization (percent_rank + min-max) of the
    byte-length signal — rank-based so ties are engine-stable
    (curation.score_normalize; DDSketch CDF lookup is the stated no-sort
    100-TB swap)."""
    from blogparser_spark.dataops.curation import score_normalize

    d = _docs(spark, sf_dir).select(
        "source", "doc_id", F.octet_length("text").cast("long").alias("n_bytes")
    )
    return score_normalize(d, ["source"], "n_bytes", ["doc_id"])


@_q(
    "decayed_engagement",
    """
    WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
    t AS (
      SELECT user_id,
        round(value * 100, 0)::BIGINT AS value_c,
        round(value * pow(2.0, -(((ref_us - epoch_us(ts))::DOUBLE) / 86400e6)
                                / 7.0) * 1e6, 0)::BIGINT AS term_e6
      FROM events, ref
    )
    SELECT user_id, count(*)::BIGINT AS n_events,
      round(sum(value_c) / 100, 6) AS raw_value,
      round(sum(term_e6) / 1e6, 6) AS decayed_value
    FROM t GROUP BY 1
    """,
)
def decayed_engagement_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed engagement (half-life 7d against
    the corpus max timestamp): the forward-decay rewrite turns "EMA over a
    stream" into one partial-aggregatable sum — no window, no per-user
    state; terms are integer-quantized before summing so the float total
    is partition-order- and engine-independent
    (timeseries.decayed_engagement)."""
    from blogparser_spark.dataops import timeseries

    return timeseries.decayed_engagement(_events(spark, sf_dir))


@_q(
    "zorder_curve_segments",
    """
    WITH b AS (
      SELECT user_id % 256 AS ub,
             (epoch_us(ts) // 3600000000) % 256 AS tb
      FROM events
    ), s1 AS (
      SELECT ub & 65535 AS xa, tb & 65535 AS xb FROM b
    ), s2 AS (
      SELECT (xa | (xa << 8)) & 16711935 AS xa,
             (xb | (xb << 8)) & 16711935 AS xb FROM s1
    ), s3 AS (
      SELECT (xa | (xa << 4)) & 252645135 AS xa,
             (xb | (xb << 4)) & 252645135 AS xb FROM s2
    ), s4 AS (
      SELECT (xa | (xa << 2)) & 858993459 AS xa,
             (xb | (xb << 2)) & 858993459 AS xb FROM s3
    ), s5 AS (
      SELECT (xa | (xa << 1)) & 1431655765 AS xa,
             (xb | (xb << 1)) & 1431655765 AS xb FROM s4
    ), zz AS (
      SELECT (xa | (xb << 1)) AS z FROM s5
    )
    SELECT z // 4096 AS segment, count(*)::BIGINT AS n_events,
      min(z) AS z_min, max(z) AS z_max
    FROM zz GROUP BY 1
    """,
)
def zorder_curve_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-keys over (user, hour) buckets rolled up per curve segment —
    the multi-dimensional clustering key Iceberg/Delta zorder rewrites sort
    by, computed with plain shift/mask codegen and replicated bit-exactly
    in the oracle (storage.zorder_key; write path + file-stat pruning
    audit are plan-verified in test_bucketing)."""
    from blogparser_spark.operators.storage import zorder_key

    ev = _events(spark, sf_dir).select(
        F.pmod(F.col("user_id"), F.lit(256)).alias("ub"),
        F.pmod(
            F.expr("unix_micros(cast(ts as timestamp)) div 3600000000"),
            F.lit(256),
        ).alias("tb"),
    )
    z = ev.select(zorder_key(F.col("ub"), F.col("tb")).alias("z"))
    return z.groupBy(F.expr("z div 4096").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
    )


@_q(
    "slice_column_manifest",
    """
    WITH base AS (
      SELECT ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 16
               AS slice_id,
             user_id, event_type, ts
      FROM events
    ), g AS (
      SELECT slice_id, count(*)::BIGINT AS n_rows,
        min(user_id)::VARCHAR AS min_u, max(user_id)::VARCHAR AS max_u,
        sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_u,
        min(event_type) AS min_e, max(event_type) AS max_e,
        sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_e,
        min(ts)::VARCHAR AS min_t, max(ts)::VARCHAR AS max_t,
        sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_t
      FROM base GROUP BY 1
    )
    SELECT slice_id, col, n_rows, min_value, max_value, n_null FROM (
      SELECT slice_id, 'user_id' AS col, n_rows,
             min_u AS min_value, max_u AS max_value, null_u AS n_null FROM g
      UNION ALL
      SELECT slice_id, 'event_type', n_rows, min_e, max_e, null_e FROM g
      UNION ALL
      SELECT slice_id, 'ts', n_rows, min_t, max_t, null_t FROM g
    )
    """,
)
def slice_column_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-storage-slice column min/max/null manifest — the Iceberg
    manifest-file stats a planner prunes with, keyed on the engine-portable
    md5 slice (profile.slice_column_manifest; the physical per-FILE twin
    with box-pruning audit is storage.file_minmax_manifest, plan-verified
    in test_bucketing)."""
    from blogparser_spark.dataops.profile import slice_column_manifest

    return slice_column_manifest(
        _events(spark, sf_dir), "event_id", ["user_id", "event_type", "ts"]
    )


@_q(
    "prefix_filter_pairs",
    """
    WITH tok AS (
      SELECT doc_id AS id,
        unnest(list_distinct(list_filter(string_split(text, ' '),
                                         x -> x != ''))) AS token
      FROM documents
    ), dfreq AS (
      SELECT token, count(*)::BIGINT AS df FROM tok GROUP BY 1
    ), ord AS (
      SELECT token, row_number() OVER (ORDER BY df, token) AS rnk FROM dfreq
    ), t2 AS (
      SELECT id, tok.token, rnk FROM tok JOIN ord ON ord.token = tok.token
    ), sz AS (
      SELECT id, count(*)::BIGINT AS sz FROM t2 GROUP BY 1
    ), pos AS (
      SELECT id, token,
             row_number() OVER (PARTITION BY id ORDER BY rnk) AS pos
      FROM t2
    ), pref AS (
      SELECT pos.id, token, sz FROM pos JOIN sz USING (id)
      WHERE pos <= sz - ceil(0.6 * sz) + 1
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                      a.sz AS sz_a, b.sz AS sz_b
      FROM pref a JOIN pref b ON a.token = b.token AND a.id < b.id
      WHERE b.sz >= ceil(0.6 * a.sz) AND a.sz >= ceil(0.6 * b.sz)
    ), inter AS (
      SELECT id_a, id_b, sz_a, sz_b, count(*)::BIGINT AS n_shared
      FROM cand
      JOIN tok ta ON ta.id = cand.id_a
      JOIN tok tb ON tb.id = cand.id_b AND tb.token = ta.token
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, sz_a, sz_b, n_shared,
           round(n_shared / (sz_a + sz_b - n_shared), 6) AS jaccard
    FROM inter
    WHERE n_shared / (sz_a + sz_b - n_shared) >= 0.6
    """,
)
def prefix_filter_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-≥-t pairs via prefix filtering (SSJoin/PPJoin): the
    rarest-first token prefix index keeps hot stop-word postings out of the
    candidate join entirely; guaranteed-complete, the deterministic
    complement to MinHash-LSH (dedup.prefix_filter_pairs)."""
    return dedup.prefix_filter_pairs(_docs(spark, sf_dir), threshold=0.6)


_PSI_SQL = r"""
    WITH ev AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             least(greatest(floor(value)::BIGINT // 31, 0), 15) AS bin
      FROM events
    ), bounds AS (
      SELECT min(day) AS mn, max(day) AS mx FROM ev
    ), tagged AS (
      SELECT event_type, bin, day <= mn + (mx - mn) // 2 AS is_ref
      FROM ev, bounds
    ), cnt AS (
      SELECT event_type, bin,
             count(*) FILTER (is_ref)::BIGINT AS a,
             count(*) FILTER (NOT is_ref)::BIGINT AS b
      FROM tagged GROUP BY 1, 2
    ), spine AS (
      SELECT DISTINCT event_type, unnest(range(0, 16))::BIGINT AS bin
      FROM tagged
    ), cells AS (
      SELECT s.event_type, s.bin,
             coalesce(c.a, 0) AS a, coalesce(c.b, 0) AS b
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type
                                  AND c.bin = s.bin
    ), tot AS (
      SELECT event_type, sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb,
             sum((a > 0)::INT)::BIGINT AS ha, sum((b > 0)::INT)::BIGINT AS hb
      FROM cells GROUP BY 1
    )
    SELECT c.event_type, ta AS n_ref, tb AS n_cur,
           ha AS n_bins_hit_ref, hb AS n_bins_hit_cur,
           round(sum(((c.a + 1)::DOUBLE / (ta + 16)
                      - (c.b + 1)::DOUBLE / (tb + 16))
                     * ln(((c.a + 1)::DOUBLE / (ta + 16))
                          / ((c.b + 1)::DOUBLE / (tb + 16)))), 6) AS psi
    FROM cells c JOIN tot t ON t.event_type = c.event_type
    GROUP BY 1, ta, tb, ha, hb
    ORDER BY 1
"""


@_q("psi_value_drift", _PSI_SQL)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the `value` distribution per event
    type, first-half days vs second-half days (profile.psi_drift): the
    drift gate run before trusting a new data drop. Bins derive from a
    bare floor(value) (one IEEE op, engine-identical) integer-divided into
    16 fixed buckets; Laplace-smoothed (p-q)*ln(p/q) terms sum over the
    full exploded bin spine so empty bins count. Two partial-agg scans +
    broadcast totals — no window, no dense materialization."""
    from blogparser_spark.dataops.profile import psi_drift

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias(
            "day"
        ),
        F.expr(
            "least(greatest(cast(floor(value) as bigint) div 31, 0), 15)"
        ).alias("bin"),
    )
    bounds = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    tagged = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "is_ref", F.expr("day <= mn + (mx - mn) div 2")
    )
    out = psi_drift(
        tagged.filter("is_ref"),
        tagged.filter("NOT is_ref"),
        ("event_type",),
        "bin",
        n_bins=16,
    )
    return out.orderBy("event_type")


_ATTRIBUTION_SQL = r"""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type,
             sum((event_type = 'purchase')::INT) OVER w
               - (event_type = 'purchase')::INT AS grp
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), touches AS (
      SELECT user_id, ts, event_id, event_type, grp
      FROM base WHERE event_type <> 'purchase'
    ), convs AS (
      SELECT user_id, grp FROM base WHERE event_type = 'purchase'
    ), t AS (
      SELECT tch.user_id, tch.ts, tch.event_id, tch.event_type, tch.grp
      FROM touches tch JOIN convs USING (user_id, grp)
    ), ranked AS (
      SELECT user_id, grp, event_type,
        row_number() OVER (PARTITION BY user_id, grp
                           ORDER BY ts, event_id) AS rn_a,
        row_number() OVER (PARTITION BY user_id, grp
                           ORDER BY ts DESC, event_id DESC) AS rn_d,
        count(*) OVER (PARTITION BY user_id, grp) AS n
      FROM t
    ), direct AS (
      SELECT count(*)::BIGINT AS n_direct
      FROM convs c
      LEFT JOIN (SELECT DISTINCT user_id, grp FROM touches) x
        ON c.user_id = x.user_id AND c.grp = x.grp
      WHERE x.user_id IS NULL
    ), credits AS (
      SELECT 'first_touch' AS model, event_type AS touch_type,
             count(*)::DOUBLE AS credit
      FROM ranked WHERE rn_a = 1 GROUP BY 2
      UNION ALL
      SELECT 'last_touch', event_type, count(*)::DOUBLE
      FROM ranked WHERE rn_d = 1 GROUP BY 2
      UNION ALL
      SELECT 'linear', event_type, round(sum(1::DOUBLE / n), 6)
      FROM ranked GROUP BY 2
      UNION ALL
      SELECT m, '(direct)', n_direct::DOUBLE
      FROM direct, unnest(['first_touch', 'last_touch', 'linear']) AS u(m)
      WHERE n_direct > 0
    )
    SELECT model, touch_type, credit FROM credits
    ORDER BY model, touch_type
"""


@_q("attribution_credits", _ATTRIBUTION_SQL)
def attribution_credits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch purchase attribution over the event log
    (timeseries.attribution_credits): first-touch / last-touch / linear
    credit per touch type, '(direct)' for conversions with no preceding
    touch. Group assignment is one cumulative-sum window over the
    (user, ts, id) sort — no range join; per-group reduces are partial
    hash aggs. Every model distributes exactly 1.0 per attributed
    conversion."""
    from blogparser_spark.dataops import timeseries

    return (
        timeseries.attribution_credits(
            _events(spark, sf_dir), conversion_type="purchase"
        )
        .orderBy("model", "touch_type")
    )


def _fd_pair_sql(lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{lhs}' AS lhs_col, '{rhs}' AS rhs_col,
             sum(g_rows)::BIGINT AS n_rows, count(*)::BIGINT AS n_groups,
             sum((n_rhs > 1)::INT)::BIGINT AS n_violating_groups,
             round((sum(g_rows) - sum(modal))::DOUBLE / sum(g_rows), 6)
               AS g3_error
      FROM (
        SELECT lhsv, sum(c) AS g_rows, count(*) AS n_rhs, max(c) AS modal
        FROM (
          SELECT {lhs} AS lhsv, {rhs} AS rhsv, count(*) AS c
          FROM events GROUP BY 1, 2
        ) GROUP BY 1
      )"""


_FD_CANDIDATES = [
    ("event_id", "event_type"),
    ("user_id", "event_type"),
    ("event_type", "user_id"),
]

_FD_SQL = (
    "\n    UNION ALL\n".join(_fd_pair_sql(l, r) for l, r in _FD_CANDIDATES)
    + "\n    ORDER BY lhs_col, rhs_col"
)


@_q("fd_profile_events", _FD_SQL)
def fd_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over the events schema
    (profile.fd_profile): event_id -> event_type must hold exactly (keys
    determine attributes), while user_id <-> event_type violate in both
    directions with quantified g3 repair cost — the schema-inference /
    data-contract profiling pass. Two nested partial aggs per candidate,
    no window, no distinct over raw rows."""
    from blogparser_spark.dataops.profile import fd_profile

    return fd_profile(_events(spark, sf_dir), _FD_CANDIDATES).orderBy(
        "lhs_col", "rhs_col"
    )


_FINGERPRINT_SQL = r"""
    WITH rowh AS (
      SELECT md5(concat_ws(chr(31),
               coalesce(doc_id::VARCHAR, chr(0)),
               coalesce(text, chr(0)),
               coalesce(lang, chr(0)),
               coalesce(source, chr(0)),
               coalesce(n_chars::VARCHAR, chr(0)))) AS h
      FROM documents
    ), hashed AS (
      SELECT ('0x' || substr(h, 1, 13))::BIGINT AS h52,
             ('0x' || substr(h, 14, 4))::BIGINT % 16 AS slice_id
      FROM rowh
    )
    SELECT slice_id, count(*)::BIGINT AS n_rows,
           bit_xor(h52) AS fp_xor,
           (sum(h52 % 1000000007) % 1000000007)::BIGINT AS fp_sum
    FROM hashed GROUP BY 1 ORDER BY 1
"""


@_q("content_fingerprint_docs", _FINGERPRINT_SQL)
def content_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-slice content fingerprint of the documents
    table (diff.content_fingerprint): bit-XOR plus mod-prime sum of exact
    52-bit row hashes, grouped on an md5-derived slice — the
    O(slices)-size equality certificate shadow deployments compare before
    paying a full-outer-join diff, and the integrity stamp checkpoint
    manifests record. One scan, one partial agg; partition order can
    never change the answer."""
    from blogparser_spark.operators.diff import content_fingerprint

    return content_fingerprint(
        _docs(spark, sf_dir),
        ["doc_id", "text", "lang", "source", "n_chars"],
        n_slices=16,
    )


_EQUI_DEPTH_SQL = r"""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value)
               AS rn
      FROM events
    ), sizes AS (
      SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY 1
    ), targets AS (
      SELECT event_type, n, unnest(range(1, 10))::BIGINT AS bucket
      FROM sizes
    )
    SELECT t.event_type, t.bucket, r.value AS boundary, t.n AS n_rows
    FROM targets t
    JOIN ranked r ON r.event_type = t.event_type
                 AND r.rn = ceil(t.bucket * t.n / 10.0)::BIGINT
    ORDER BY t.event_type, t.bucket
"""


@_q("equi_depth_value_bounds", _EQUI_DEPTH_SQL)
def equi_depth_value_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth decile boundaries of `value` per event type
    (skew.equi_depth_bounds): the order statistics a range partitioner /
    stratifier audits against (repartitionByRange samples these;
    DDSketch approximates them; this is the exact form). One window sort
    per group; target ranks explode from the tiny per-group size agg and
    join back on rank."""
    from blogparser_spark.operators.skew import equi_depth_bounds

    return equi_depth_bounds(
        _events(spark, sf_dir), ["event_type"], "value", n_buckets=10
    ).orderBy("event_type", "bucket")


_FIXED_K_SQL = r"""
    SELECT doc_id, lang, source FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY lang, source
      ORDER BY md5('fixk:' || doc_id::VARCHAR), doc_id
    ) <= 3
    ORDER BY lang, source, doc_id
"""


@_q("stratified_k_per_group", _FIXED_K_SQL)
def stratified_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced eval-set sampling: exactly min(3, group size) documents
    per (lang, source) cell, chosen by md5-hash rank within the group
    (curation.stratified_fixed_k) — deterministic across reruns and
    engines, and adding rows to one group cannot change another group's
    members. One window rank over the hash order; no collect."""
    from blogparser_spark.dataops.curation import stratified_fixed_k

    return (
        stratified_fixed_k(
            _docs(spark, sf_dir).select("doc_id", "lang", "source"),
            ["lang", "source"],
            "doc_id",
            k=3,
        )
        .orderBy("lang", "source", "doc_id")
    )


_RFM_SQL = r"""
    WITH per AS (
      SELECT user_id, max(epoch_us(ts)) AS last_us,
             count(*)::BIGINT AS frequency,
             round(sum(value), 6) AS monetary
      FROM events GROUP BY 1
    ), anchor AS (
      SELECT max(epoch_us(ts)) AS a FROM events
    ), met AS (
      SELECT user_id, (a - last_us)::BIGINT AS recency_us, frequency,
             monetary
      FROM per, anchor
    ), nn AS (
      SELECT count(*)::BIGINT AS n FROM met
    ), rb AS (
      SELECT boundary FROM (
        SELECT recency_us AS boundary,
               row_number() OVER (ORDER BY recency_us) AS rn FROM met), nn
      WHERE rn IN (ceil(1 * n / 5.0), ceil(2 * n / 5.0),
                   ceil(3 * n / 5.0), ceil(4 * n / 5.0))
    ), fb AS (
      SELECT boundary FROM (
        SELECT frequency AS boundary,
               row_number() OVER (ORDER BY frequency) AS rn FROM met), nn
      WHERE rn IN (ceil(1 * n / 5.0), ceil(2 * n / 5.0),
                   ceil(3 * n / 5.0), ceil(4 * n / 5.0))
    ), mb AS (
      SELECT boundary FROM (
        SELECT monetary AS boundary,
               row_number() OVER (ORDER BY monetary) AS rn FROM met), nn
      WHERE rn IN (ceil(1 * n / 5.0), ceil(2 * n / 5.0),
                   ceil(3 * n / 5.0), ceil(4 * n / 5.0))
    ), rs AS (
      SELECT user_id, (5 - sum((boundary < recency_us)::INT))::INT
               AS r_score
      FROM met, rb GROUP BY 1
    ), fs AS (
      SELECT user_id, (1 + sum((boundary < frequency)::INT))::INT AS f_score
      FROM met, fb GROUP BY 1
    ), ms AS (
      SELECT user_id, (1 + sum((boundary < monetary)::INT))::INT AS m_score
      FROM met, mb GROUP BY 1
    )
    SELECT m.user_id, recency_us, frequency, monetary,
           r_score, f_score, m_score,
           r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
             AS rfm_segment
    FROM met m
    JOIN rs ON rs.user_id = m.user_id
    JOIN fs ON fs.user_id = m.user_id
    JOIN ms ON ms.user_id = m.user_id
    ORDER BY m.user_id
"""


@_q("rfm_user_scores", _RFM_SQL)
def rfm_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring (timeseries.rfm_scores): recency / frequency /
    monetary quintile bands per user. The classic formulation is three
    global ntile windows — one reducer sorting the whole user table; here
    the band boundaries come from the exact equi-depth order statistics
    over the (much smaller) per-user aggregate and broadcast back as a
    4-row cross join, so scoring is an embarrassingly parallel comparison
    count. Monetary is round-6 before banding so float-sum order cannot
    flip a boundary comparison between engines."""
    from blogparser_spark.dataops import timeseries

    return (
        timeseries.rfm_scores(_events(spark, sf_dir), n_bands=5)
        .select(
            "user_id",
            "recency_us",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
            "rfm_segment",
        )
        .orderBy("user_id")
    )


_SESSION_PATHS_SQL = r"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     > 1800 * 1000000
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             count(*)::BIGINT AS path_len
      FROM sess GROUP BY 1, 2
    ), top AS (
      SELECT path, min(path_len)::BIGINT AS path_len,
             count(*)::BIGINT AS n_sessions
      FROM paths WHERE path_len <= 6
      GROUP BY 1
    )
    SELECT path, path_len, n_sessions FROM top
    QUALIFY row_number() OVER (ORDER BY n_sessions DESC, path) <= 20
    ORDER BY n_sessions DESC, path
"""


@_q("top_session_paths", _SESSION_PATHS_SQL)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 20 most common complete session journeys (event
    types joined in stable (ts, id) order, sessions cut at 30-min gaps —
    same rule as `events_sessionize`), restricted to paths of <= 6 events
    so the path string stays bounded. The length cut happens BEFORE any
    array materializes — a window count per session drops long sessions
    first, so collect_list state is provably <= 6 structs per group even
    on a degenerate never-idle stream (filtering after the collect would
    build the mega-session's array just to discard it); the top-k is a
    count agg into a distributed orderBy+limit."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            )
            > 1800 * 1_000_000
        ),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = e.withColumn("new_sess", new_sess).withColumn(
        "session_id", F.sum("new_sess").over(run).cast("long")
    )
    slen = F.count("*").over(Window.partitionBy("user_id", "session_id"))
    short = sess.withColumn("_slen", slen).filter(F.col("_slen") <= 6)
    paths = short.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count("*").alias("path_len"),
    )
    top = paths.groupBy("path").agg(
        F.min("path_len").alias("path_len"),
        F.count("*").alias("n_sessions"),
    )
    # orderBy+limit = distributed top-20 (TakeOrderedAndProject); the old
    # rank-window-then-filter form funneled every distinct path through one
    # partition just to keep 20 rows
    return top.orderBy(F.desc("n_sessions"), F.asc("path")).limit(20)


_CHUNK_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), meta AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 64 THEN 1
                  ELSE ceil((len(t) - 64) / 48.0)::BIGINT + 1 END AS n_chunks
      FROM toks
    )
    SELECT doc_id, i AS chunk_idx, (i * 48)::BIGINT AS start_tok,
           len(t[i * 48 + 1 : i * 48 + 64])::INT AS n_tokens,
           array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
    FROM meta, unnest(range(0, n_chunks)) AS u(i)
    ORDER BY doc_id, chunk_idx
"""


@_q("chunk_documents_64_16", _CHUNK_SQL)
def chunk_documents_64_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG / context-window chunking (curation.chunk_documents): 64-token
    windows with 16-token overlap per document, short final window, one
    window for short docs. Native split -> explode -> slice -> join; the
    fan-out inherits the scan's partitioning, so production use
    repartitions the narrow input first (CLAUDE.md rule 4)."""
    from blogparser_spark.dataops.curation import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=64, overlap=16
    ).orderBy("doc_id", "chunk_idx")


@_q(
    "near_dup_cluster_sizes",
    f"""
    WITH RECURSIVE {_near_dup_ctes("documents")}
    , comp AS (
      SELECT node, min(m) AS component FROM nd_reach GROUP BY node
    ), sizes AS (
      SELECT component, count(*)::BIGINT AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           (cluster_size * count(*))::BIGINT AS n_docs
    FROM sizes GROUP BY 1 ORDER BY 1
    """,
)
def near_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-duplicate graph — the dedup
    QA readout (how much mass sits in big boilerplate clusters vs
    pairs): LSH -> exact-Jaccard verify -> connected components, then
    two tiny partial aggs over the (node, component) labels. The oracle
    re-derives components via the recursive-CTE closure, so the whole
    iterative pipeline is checked end-to-end at one more remove."""
    sizes = (
        dedup.near_dup_clusters(_docs(spark, sf_dir))
        .groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


HARD_NEG_SQL = f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), sims AS (
      SELECT q.qid, e.vec_id AS nid,
        round({_COS.format(a="q.qv", b="e.embedding")}, 6) AS sim
      FROM embeddings e JOIN q ON e.vec_id != q.qid
    )
    SELECT qid, rank, nid, sim FROM (
      SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, nid) AS rank
      FROM sims WHERE sim < 0.9
    ) WHERE rank <= 5
"""


@_q("hard_negative_mining", HARD_NEG_SQL)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives (similarity.hard_negative_topk):
    per query the 5 most similar vectors with cosine strictly below 0.9 —
    hard, but not duplicates that would poison the negative set. The
    threshold is applied INSIDE the matmul kernel before the local top-k
    (filtering commutes with top-k), so the plan is the same join-free
    exact-ANN shape, never a top-(k+buffer) heuristic that starves when
    near-copies crowd a neighborhood."""
    return similarity.hard_negative_topk(
        _emb(spark, sf_dir), n_queries=5, k=5, dup_threshold=0.9
    )


_RR_SQL = r"""
    WITH ranked AS (
      SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang
                           ORDER BY md5('rr:' || doc_id::VARCHAR), doc_id)
          AS rank_in_source
      FROM documents
    ), sizes AS (
      SELECT lang, count(*)::BIGINT AS cnt,
             (row_number() OVER (ORDER BY lang) - 1)::INT AS source_idx
      FROM documents GROUP BY 1
    )
    SELECT r.doc_id, r.lang, r.rank_in_source, s.source_idx,
           (SELECT sum(least(s2.cnt, r.rank_in_source - 1)
                       + CASE WHEN s2.source_idx < s.source_idx
                                   AND s2.cnt >= r.rank_in_source
                              THEN 1 ELSE 0 END)::BIGINT
            FROM sizes s2) AS global_pos
    FROM ranked r JOIN sizes s ON s.lang = r.lang
    ORDER BY global_pos
"""


@_q("round_robin_training_order", _RR_SQL)
def round_robin_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order (curation.round_robin_interleave):
    documents shuffled within each language, languages consumed
    round-robin, and the 0-based global position computed ANALYTICALLY
    from the tiny per-source size array — no global row_number window, so
    no single reducer sorts the corpus. The oracle recomputes the closed
    form per row."""
    from blogparser_spark.dataops.curation import round_robin_interleave

    return (
        round_robin_interleave(
            _docs(spark, sf_dir).select("doc_id", "lang"), "lang", "doc_id"
        )
        .select("doc_id", "lang", "rank_in_source", "source_idx", "global_pos")
        .orderBy("global_pos")
    )


_KS_SQL = r"""
    WITH ev AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             least(greatest(floor(value)::BIGINT // 31, 0), 15) AS bin
      FROM events
    ), bounds AS (
      SELECT min(day) AS mn, max(day) AS mx FROM ev
    ), tagged AS (
      SELECT event_type, bin, day <= mn + (mx - mn) // 2 AS is_ref
      FROM ev, bounds
    ), cnt AS (
      SELECT event_type, bin,
             count(*) FILTER (is_ref)::BIGINT AS a,
             count(*) FILTER (NOT is_ref)::BIGINT AS b
      FROM tagged GROUP BY 1, 2
    ), cum AS (
      SELECT event_type,
             sum(a) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS ca,
             sum(b) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cb,
             sum(a) OVER (PARTITION BY event_type) AS ta,
             sum(b) OVER (PARTITION BY event_type) AS tb
      FROM cnt
    )
    SELECT event_type, max(ta)::BIGINT AS n_ref, max(tb)::BIGINT AS n_cur,
           round(max(abs(
             CASE WHEN ta > 0 THEN ca::DOUBLE / ta ELSE 0.0 END
             - CASE WHEN tb > 0 THEN cb::DOUBLE / tb ELSE 0.0 END)), 6) AS ks_d
    FROM cum GROUP BY 1 ORDER BY 1
"""


@_q("ks_value_drift", _KS_SQL)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift of the value distribution per event type,
    first-half days vs second-half (profile.ks_drift) — PSI's complement:
    the single worst CDF gap instead of integrated log-ratio mass, no
    smoothing choices, and every CDF point is an independent exact-int
    ratio so no float-sum ordering exists anywhere. Same split and bins
    as psi_value_drift so the two gates read the same data."""
    from blogparser_spark.dataops.profile import ks_drift

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias(
            "day"
        ),
        F.expr(
            "least(greatest(cast(floor(value) as bigint) div 31, 0), 15)"
        ).alias("bin"),
    )
    bounds = ev.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    tagged = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "is_ref", F.expr("day <= mn + (mx - mn) div 2")
    )
    return ks_drift(
        tagged.filter("is_ref"), tagged.filter("NOT is_ref"),
        ("event_type",), "bin",
    ).orderBy("event_type")


_ADDITIVE_SQL = r"""
    WITH state AS (
      SELECT event_type, event_id % 2 AS slice_id,
             count(*)::BIGINT AS cnt,
             sum(value::DECIMAL(18,2)) AS vsum,
             min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, sum(cnt)::BIGINT AS cnt,
           sum(vsum)::DOUBLE AS vsum,
           min(vmin) AS vmin, max(vmax) AS vmax,
           round(sum(vsum)::DOUBLE / sum(cnt), 6) AS vavg
    FROM state GROUP BY 1 ORDER BY 1
"""


@_q("additive_state_rollup", _ADDITIVE_SQL)
def additive_state_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable additive aggregate state (aggregate.additive_state +
    merge_additive_states): the event log folds slice by slice into
    (cnt, decimal vsum, vmin, vmax) per event type and the stored states
    MERGE exactly — merge(state(A), state(B)) == state(A ∪ B), the
    contract that lets a 10^12-row log roll up without rescanning raw
    history. The query builds states on the two event-id parity slices,
    merges them, and derives avg at read time; the oracle folds the same
    two slices in SQL."""
    from blogparser_spark.operators.aggregate import (
        additive_state,
        merge_additive_states,
    )

    ev = _events(spark, sf_dir)
    halves = [ev.filter(F.col("event_id") % 2 == i) for i in (0, 1)]
    merged = merge_additive_states(
        additive_state(halves[0], ["event_type"], "value"),
        additive_state(halves[1], ["event_type"], "value"),
        key_cols=["event_type"],
    )
    return merged.select(
        "event_type",
        "cnt",
        F.col("vsum").cast("double").alias("vsum"),
        "vmin",
        "vmax",
        F.round(
            F.col("vsum").cast("double") / F.col("cnt"), 6
        ).alias("vavg"),
    ).orderBy("event_type")


_TEMP_MIX_SQL = r"""
    WITH c AS (
      SELECT lang AS strata, count(*)::BIGINT AS n_rows
      FROM documents GROUP BY 1
    ), m AS (
      SELECT min(n_rows) AS cmin FROM c
    )
    SELECT strata, n_rows,
      round(least(1::DOUBLE, pow(n_rows::DOUBLE / cmin, -0.5)), 6)
        AS keep_rate,
      round(least(1::DOUBLE, pow(n_rows::DOUBLE / cmin, -0.5)) * n_rows, 6)
        AS expected_kept
    FROM c, m ORDER BY strata
"""


@_q("temperature_mixing_plan", _TEMP_MIX_SQL)
def temperature_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature-sampling plan (alpha = 0.5) per language
    (curation.temperature_rates_df): keep rates realizing expected kept
    counts proportional to count^alpha — the data-mixing rule multilingual
    LMs resample with. Fully in-plan (one count agg + a broadcast min +
    one pow), so the plan composes with the stratified samplers instead
    of round-tripping a dict through the driver."""
    from blogparser_spark.dataops.curation import temperature_rates_df

    return temperature_rates_df(
        _docs(spark, sf_dir), "lang", alpha=0.5
    ).orderBy("strata")


_ZIPF_SQL = r"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), c AS (
      SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY 1
    ), top AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rank
      FROM c QUALIFY rank <= 200
    ), a AS (
      SELECT count(*)::BIGINT AS n_terms,
             sum(ln(rank::DOUBLE)) AS sx, sum(ln(cnt::DOUBLE)) AS sy,
             sum(ln(rank::DOUBLE) * ln(cnt::DOUBLE)) AS sxy,
             sum(ln(rank::DOUBLE) * ln(rank::DOUBLE)) AS sxx
      FROM top
    )
    SELECT n_terms,
      round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
        AS slope,
      round((sy - ((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx))
             * sx) / n_terms, 6) AS intercept
    FROM a
"""


@_q("zipf_token_slope", _ZIPF_SQL)
def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus token distribution
    (textstats.zipf_fit): OLS of ln(freq) on ln(rank) over the top-200
    terms — the vocabulary-distribution audit (natural text reads slope
    near -1; boilerplate flattens it). The only corpus-sized stage is the
    per-token partial count; the rank window runs over the vocabulary and
    the OLS aggregate over 200 rows."""
    from blogparser_spark.dataops.textstats import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), top_n=200)


_BACKFILL_SQL = r"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day
      FROM events
      WHERE (epoch_us(ts) // 86400000000) % 7 <> 3
    ), days AS (
      SELECT DISTINCT event_type, day FROM ev
    ), lagged AS (
      SELECT event_type, day,
             lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev
      FROM days
    )
    SELECT event_type, (prev + 1)::BIGINT AS gap_start_day,
           (day - 1)::BIGINT AS gap_end_day,
           (day - prev - 1)::BIGINT AS n_missing
    FROM lagged WHERE prev IS NOT NULL AND day > prev + 1
    ORDER BY event_type, gap_start_day
"""


@_q("backfill_missing_ranges", _BACKFILL_SQL)
def backfill_missing_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planning (timeseries.missing_daily_ranges): contiguous
    runs of absent days per event type, emitted as re-run RANGES rather
    than a dense calendar of holes. Every 7th day is deterministically
    dropped first so the planner has real gaps to find. The scan reduces
    to distinct (type, day) before the one lag window over that tiny
    list."""
    from blogparser_spark.dataops import timeseries

    ev = _events(spark, sf_dir).filter(
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 86400000000) % 7 != 3"
        )
    )
    return timeseries.missing_daily_ranges(ev, "ts", ["event_type"]).orderBy(
        "event_type", "gap_start_day"
    )


_OOV_SQL = r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), c AS (
      SELECT tok, count(*)::BIGINT AS _c FROM toks GROUP BY 1
    ), vocab AS (
      SELECT tok FROM c
      QUALIFY row_number() OVER (ORDER BY _c DESC, tok) <= 100
    )
    SELECT t.id AS doc_id, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY 1 ORDER BY 1
"""


@_q("oov_rate_docs", _OOV_SQL)
def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer/vocabulary coverage audit (textstats.oov_rate): per
    document, the fraction of token occurrences outside the corpus
    top-100 vocabulary — the signal that flags encoding damage or
    out-of-domain text, and the coverage curve vocab sizing is judged
    by. Vocabulary ranks over the per-token counts (vocab-sized) and
    broadcasts back onto the exploded occurrences; per-doc coverage is
    one partial agg."""
    from blogparser_spark.dataops.textstats import oov_rate

    return oov_rate(_docs(spark, sf_dir), vocab_size=100).orderBy("doc_id")


_DATASET_CARD_SQL = r"""
    WITH toks AS (
      SELECT doc_id, lang, n_chars,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> ''))::BIGINT AS n_tok,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
      FROM documents
    ), med AS (
      SELECT n_chars AS median_chars FROM (
        SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
               count(*) OVER () AS n
        FROM documents
      ) WHERE rn = (n + 1) // 2
    )
    SELECT count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS total_tokens,
           count(DISTINCT lang)::BIGINT AS n_langs,
           round(sum(n_tok)::DOUBLE / count(*), 6) AS mean_tokens_per_doc,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars,
           (SELECT median_chars FROM med)::BIGINT AS median_chars,
           (count(*) - count(DISTINCT h))::BIGINT AS n_exact_dups,
           round((count(*) - count(DISTINCT h))::DOUBLE / count(*), 6)
             AS exact_dup_rate
    FROM toks
"""


@_q("dataset_card", _DATASET_CARD_SQL)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset datasheet in one pass: corpus size, token mass, language
    spread, length extremes, the exact order-statistic median, and the
    whitespace-normalized exact-duplicate rate — the summary table a
    corpus release ships with (Gebru et al., 'Datasheets for Datasets').
    Everything is a partial agg over one scan except the median (an exact
    histogram median over the distinct-length domain — see below) and the
    distinct-hash count (shuffle of 32-byte hashes, the dedup_exact_stats
    shape)."""
    d = _docs(spark, sf_dir)
    toks = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: F.length(x) > 0)
    ).cast("bigint")
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    base = d.select(
        "doc_id", "lang", "n_chars", toks.alias("n_tok"), h.alias("h")
    )
    # exact histogram median: per-VALUE counts (distinct n_chars values —
    # bounded by the length domain, not the corpus), a cumulative count
    # over that value histogram, and the smallest value whose cumulative
    # count reaches the middle position. Rows never sort globally; the only
    # partition-less window runs over the value histogram.
    hist = d.groupBy("n_chars").agg(F.count("*").alias("_c"))
    tot = hist.agg(F.sum("_c").alias("_n"))
    wcum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    med = (
        hist.withColumn("_cum", F.sum("_c").over(wcum))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("_cum") >= F.expr("(_n + 1) div 2"))
        .orderBy("n_chars")
        .limit(1)
        .select(F.col("n_chars").alias("median_chars"))
    )
    agg = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.sum("n_tok").cast("double") / F.count("*"), 6
        ).alias("mean_tokens_per_doc"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
        F.round(
            (F.count("*") - F.countDistinct("h")).cast("double")
            / F.count("*"),
            6,
        ).alias("exact_dup_rate"),
    )
    return agg.crossJoin(F.broadcast(med)).select(
        "n_docs",
        "total_tokens",
        "n_langs",
        "mean_tokens_per_doc",
        "min_chars",
        "max_chars",
        F.col("median_chars").cast("bigint").alias("median_chars"),
        "n_exact_dups",
        "exact_dup_rate",
    )


# ===========================================================================
# Gopher rule bank + k-anonymity privacy audit (round 3, late batch)
# ===========================================================================

# The synthetic documents are single-line word soup, so the query decorates
# them deterministically (same convention as the HTML-payload queries):
# ' table' starts a bulleted line, 'hash' gains a '#' symbol, doc_id%3 adds
# Gopher stop words, doc_id%7 appends an ellipsis-terminated line — every
# rule in the bank has both passing and failing documents at sf0.01.
_GOPHER_SQL = r"""
    WITH p0 AS (
      SELECT doc_id,
        replace(replace(text, ' table', chr(10) || '- table'),
                'hash', '#hash') AS p1
      FROM documents
    ), pg AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 3 = 0 THEN p1 || ' of the and to' ELSE p1 END)
        || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'the end is near...'
                 ELSE '' END) AS page
      FROM p0
    ), feat AS (
      SELECT doc_id, page,
        list_filter(string_split(page, ' '), x -> x != '') AS tk,
        list_filter(string_split(page, chr(10)), x -> x != '') AS ln
      FROM pg
    ), m AS (
      SELECT doc_id,
        len(tk)::BIGINT AS n_words,
        greatest(len(tk), 1) AS n1,
        list_sum(list_transform(tk, t -> length(t)))::BIGINT AS len_sum,
        len(list_filter(tk,
          t -> length(regexp_replace(t, '[^A-Za-z]', '', 'g')) > 0)) AS n_alpha,
        len(list_intersect(list_distinct(list_transform(tk, t -> lower(t))),
          ['the','be','to','of','and','that','have','with'])) AS n_stop,
        length(page) - length(replace(page, '#', '')) AS hash_cnt,
        (length(page) - length(replace(page, '...', ''))) / 3 AS ell_cnt,
        greatest(len(ln), 1) AS nl,
        len(list_filter(ln, l -> starts_with(ltrim(l), '- ')
          OR starts_with(ltrim(l), '* ')
          OR starts_with(ltrim(l), '• '))) AS n_bullet,
        len(list_filter(ln, l -> ends_with(rtrim(l), '...')
          OR ends_with(rtrim(l), '…'))) AS n_ellipsis
      FROM feat
    )
    SELECT doc_id, n_words,
      round(len_sum / n1, 6) AS mean_word_len,
      round((hash_cnt + ell_cnt) / n1, 6) AS symbol_word_ratio,
      round(n_bullet / nl, 6) AS bullet_line_frac,
      round(n_ellipsis / nl, 6) AS ellipsis_line_frac,
      round(n_alpha / n1, 6) AS alpha_word_frac,
      n_stop::BIGINT AS n_stop_hits,
      (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
      (len_sum / n1 >= 3 AND len_sum / n1 <= 10) AS pass_mean_word_len,
      ((hash_cnt + ell_cnt) / n1 <= 0.1) AS pass_symbol_ratio,
      (n_bullet / nl <= 0.9) AS pass_bullet,
      (n_ellipsis / nl <= 0.3) AS pass_ellipsis,
      (n_alpha / n1 >= 0.8) AS pass_alpha,
      (n_stop >= 2) AS pass_stopwords,
      ((n_words >= 50 AND n_words <= 100000)
       AND (len_sum / n1 >= 3 AND len_sum / n1 <= 10)
       AND ((hash_cnt + ell_cnt) / n1 <= 0.1)
       AND (n_bullet / nl <= 0.9)
       AND (n_ellipsis / nl <= 0.3)
       AND (n_alpha / n1 >= 0.8)
       AND (n_stop >= 2)) AS gopher_pass
    FROM m ORDER BY doc_id
"""


@_q("gopher_quality_flags", _GOPHER_SQL)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher document-filter rule bank (Rae et al. 2021 Table A1;
    dataops/textstats.gopher_flags): word-count band, mean-word-length
    band, symbol-to-word ratio, bullet/ellipsis line fractions, alpha-word
    fraction, stop-word presence, and the conjunction. Pure codegen over
    one let-bound token struct and one line array — scan-speed at 100 TB,
    and a gopher_pass filter pushes into the scan. Threshold comparisons
    run on unrounded small-int ratios (bit-equal across engines); the
    oracle replays every rule in DuckDB."""
    from blogparser_spark.dataops.textstats import gopher_flags

    c = F.col("text")
    p1 = F.replace(
        F.replace(c, F.lit(" table"), F.lit("\n- table")),
        F.lit("hash"),
        F.lit("#hash"),
    )
    p2 = F.when(
        F.col("doc_id") % 3 == 0, F.concat(p1, F.lit(" of the and to"))
    ).otherwise(p1)
    page = F.concat(
        p2,
        F.when(F.col("doc_id") % 7 == 0, F.lit("\nthe end is near...")).otherwise(
            F.lit("")
        ),
    )
    d = _docs(spark, sf_dir).select("doc_id", page.alias("text"))
    return gopher_flags(d).orderBy("doc_id")


_KANON_SQL = r"""
    WITH g AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             floor(value)::BIGINT AS vb,
             count(*)::BIGINT AS n_rows,
             count(DISTINCT user_id)::BIGINT AS n_ids
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           count(*)::BIGINT AS n_groups,
           sum(CASE WHEN n_ids < 5 THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
           sum(CASE WHEN n_ids < 5 THEN n_rows ELSE 0 END)::BIGINT AS n_rows_at_risk,
           sum(n_rows)::BIGINT AS n_rows,
           min(n_ids)::BIGINT AS min_group_ids,
           round(sum(CASE WHEN n_ids < 5 THEN n_rows ELSE 0 END)
                 / greatest(sum(n_rows), 1), 6) AS risky_row_frac
    FROM g GROUP BY 1 ORDER BY 1
"""


@_q("k_anonymity_audit", _KANON_SQL)
def k_anonymity_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy gate (Sweeney 2002; dataops/profile.py): events
    grouped by the quasi-identifier tuple (event_type, day, value band),
    each group's distinct-user width checked against k=5, then rolled up
    per event_type into the audit a release gate alerts on (risky groups,
    rows exposed, minimum group width). Two stacked map-side-combinable
    aggregates; the exact distinct count is the standard two-phase expand
    keyed on the QID — output stays QID-cardinality-sized at 10^12 rows."""
    from blogparser_spark.dataops import profile

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.floor("value").cast("bigint").alias("vb"),
        "user_id",
    )
    out = profile.k_anonymity_audit(
        ev, ["event_type", "day", "vb"], "user_id", k=5, by="event_type"
    )
    return out.orderBy("event_type")


# ------------------------------------------ DSIR importance resampling ---

_DSIR_SQL = r"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, unnest(
        toks
        || (CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])
                 ELSE [] END)
      ) AS g
      FROM t
    ), bk AS (
      SELECT doc_id, lang, g,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS bucket
      FROM grams
    ), spine AS (
      SELECT unnest(range(256))::BIGINT AS bucket
    ), tcnt AS (
      SELECT bucket, count(*)::BIGINT AS c FROM bk WHERE lang = 'en' GROUP BY 1
    ), rcnt AS (
      SELECT bucket, count(*)::BIGINT AS c FROM bk GROUP BY 1
    ), dim AS (
      SELECT s.bucket, coalesce(tc.c, 0) AS tc, coalesce(rc.c, 0) AS rc
      FROM spine s LEFT JOIN tcnt tc USING (bucket)
                   LEFT JOIN rcnt rc USING (bucket)
    ), tot AS (
      SELECT sum(tc)::BIGINT AS t_tot, sum(rc)::BIGINT AS r_tot FROM dim
    ), lr AS (
      SELECT bucket,
             round((ln((tc + 1.0) / (t_tot + 256))
                    - ln((rc + 1.0) / (r_tot + 256))) * 1e6)::BIGINT AS lr_micro
      FROM dim, tot
    )
    SELECT d.doc_id,
           count(bk.g)::BIGINT AS n_grams,
           coalesce(sum(lr.lr_micro), 0)::BIGINT AS logw_micro,
           round(coalesce(sum(lr.lr_micro), 0) / 1e6, 6) AS logw
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN bk ON bk.doc_id = d.doc_id
    LEFT JOIN lr ON lr.bucket = bk.bucket
    GROUP BY d.doc_id ORDER BY d.doc_id
"""


@_q("dsir_importance_weights", _DSIR_SQL)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. NeurIPS 2023, "Data Selection for
    Language Models via Importance Resampling"; dataops/curation.py):
    hashed uni+bigram bucket distributions are fit on the TARGET domain
    (here the English slice) and the RAW corpus with add-one smoothing,
    and every document scores Σ lr(bucket) over its gram occurrences —
    the importance log-weight a resampler keeps/up-samples by. The
    per-bucket log-ratio is integer-micro quantized so the per-doc sum is
    exact (order-independent across engines/partitionings); the dim is
    256 rows and broadcast, the corpus only ever moves (bucket,
    partial-count) and (doc, partial-sum) rows. The oracle replays the
    bucket hash, smoothing, and integer sums in DuckDB."""
    from blogparser_spark.dataops import curation

    docs = _docs(spark, sf_dir)
    lr = curation.dsir_log_ratios(docs.filter(F.col("lang") == "en"), docs)
    return curation.dsir_importance(docs, lr).orderBy("doc_id")


# ===========================================================================
# Conversation-structure QA + corpus retrieval (round-3 late additions)
# ===========================================================================

_WRAPPED_T_SQL = """
    t AS (
      SELECT source AS conv_id,
        row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS turn_idx,
        ['user','assistant','system','tool'][(doc_id % 4)::INT + 1] AS role,
        ['search','browser','python','bash','none'][(doc_id % 5)::INT + 1] AS tool,
        CASE WHEN doc_id % 4 = 0 THEN '<h1>Doc ' || doc_id::VARCHAR
               || '</h1><span class="date">2023-10-20</span><div class="entry-content">'
               || text || '</div>'
             WHEN doc_id % 4 = 1 THEN '<meta property="og:title" content="Doc '
               || doc_id::VARCHAR || '"><article>' || text || '</article>'
             WHEN doc_id % 4 = 2 THEN '<article>no title ' || text || '</article>'
             ELSE text END AS text
      FROM documents
    )"""


_ROLE_MIX_SQL = """['user','assistant','system','tool'][
          (('0x' || substr(md5(conv_id || ':' || turn_idx::VARCHAR), 1, 4))::BIGINT
           % 4)::INT + 1]"""


@_q(
    "conv_role_grammar",
    f"""
    WITH {_WRAPPED_T_SQL}, m AS (
      SELECT conv_id, turn_idx, {_ROLE_MIX_SQL} AS role
      FROM t
    ), g AS (
      SELECT conv_id, turn_idx, role,
        lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
      FROM m
    )
    SELECT conv_id, count(*)::BIGINT AS n_turns,
      min_by(role, turn_idx) AS first_role,
      max_by(role, turn_idx) AS last_role,
      sum(CASE WHEN prev = role THEN 1 ELSE 0 END)::BIGINT AS n_same_role_runs,
      sum(CASE WHEN role = 'tool' AND (prev IS NULL OR prev != 'assistant')
               THEN 1 ELSE 0 END)::BIGINT AS n_orphan_tool_turns,
      (min_by(role, turn_idx) IN ('system', 'user')
       AND sum(CASE WHEN prev = role THEN 1 ELSE 0 END) = 0
       AND sum(CASE WHEN role = 'tool' AND (prev IS NULL OR prev != 'assistant')
                    THEN 1 ELSE 0 END) = 0) AS is_valid
    FROM g GROUP BY conv_id
    """,
)
def conv_role_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-sequence validation of every conversation (curation.
    conv_role_grammar): transcripts must open with system/user, never
    repeat a role back-to-back, and tool turns must directly follow the
    assistant call — the structural gate an SFT curation funnel applies
    before export. One conv-key shuffle shared by the lag window and the
    rollup. The synthetic transcript builder derives role from doc_id%4,
    which is CONSTANT within a conversation (the source stride is a
    multiple of 4) — every counter would be degenerate — so this entry
    re-keys role by an md5 mix of (conv_id, turn_idx), exercising real
    run/orphan variation; the oracle replays the same hash."""
    from blogparser_spark.dataops import curation

    return curation.conv_role_grammar(_mixed_role_transcripts(spark, sf_dir))


@_q(
    "conv_sft_stats",
    f"""
    WITH {_WRAPPED_T_SQL}
    SELECT conv_id, count(*)::BIGINT AS n_turns,
      sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT AS n_user,
      sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS n_assistant,
      sum(CASE WHEN role = 'user' THEN strlen(text) ELSE 0 END)::BIGINT AS user_bytes,
      sum(CASE WHEN role = 'assistant' THEN strlen(text) ELSE 0 END)::BIGINT
        AS assistant_bytes,
      round(sum(CASE WHEN role = 'assistant' THEN strlen(text) ELSE 0 END)::DOUBLE
            / nullif(sum(CASE WHEN role = 'user' THEN strlen(text) ELSE 0 END), 0),
            6) AS assistant_user_ratio,
      sum(CASE WHEN tool != 'none' THEN 1 ELSE 0 END)::BIGINT AS n_tool_turns
    FROM t GROUP BY conv_id
    """,
)
def conv_sft_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation instruction-tuning mix profile (curation.
    conv_sft_stats): role turn counts, byte volume per side, the
    assistant/user byte ratio SFT filters gate on, and tool-use rate.
    Pure conditional partial aggregation — one shuffle, no window."""
    from blogparser_spark.dataops import curation

    return curation.conv_sft_stats(documents_as_transcripts(spark, sf_dir))


@_q(
    "conv_budget_stats",
    f"""
    WITH {_WRAPPED_T_SQL}, c AS (
      SELECT conv_id,
        len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n,
        sum(len(list_filter(string_split(text, ' '), x -> x != '')))
          OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT conv_id, count(*)::BIGINT AS n_turns, sum(n)::BIGINT AS n_tokens,
      sum(CASE WHEN cum <= 1400 THEN 1 ELSE 0 END)::BIGINT AS n_turns_kept,
      sum(CASE WHEN cum <= 1400 THEN n ELSE 0 END)::BIGINT AS n_tokens_kept,
      (sum(CASE WHEN cum <= 1400 THEN 1 ELSE 0 END) < count(*)) AS truncated
    FROM c GROUP BY conv_id
    """,
)
def conv_budget_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget audit (curation.conv_budget_stats): per
    conversation, turns/tokens before and after a 1400-token prefix cut —
    the survival numbers checked before committing a packing budget. The
    running-total window and both aggregations share one conv-key
    shuffle; token counts are per-row F.size, no explode."""
    from blogparser_spark.dataops import curation

    return curation.conv_budget_stats(
        documents_as_transcripts(spark, sf_dir), budget_tokens=1400
    )


@_q(
    "bm25_doc_retrieval",
    """
    WITH tok AS (
      SELECT doc_id,
        unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS term
      FROM documents
    ), dl AS (
      SELECT doc_id,
        len(list_filter(string_split(lower(text), ' '), x -> x != ''))::BIGINT AS dl
      FROM documents
    ), stats AS (
      SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT t.doc_id, d.dl, term, count(*)::BIGINT AS tf
      FROM tok t JOIN dl d USING (doc_id)
      WHERE term IN ('hash', 'join', 'vector', 'stream')
      GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
    )
    SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
      sum(CAST(round(round(
        ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5)) *
        ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * (t.dl / s.avgdl))))
      , 6) * 1e6, 0) AS BIGINT))::BIGINT AS score_u
    FROM tf t JOIN dfreq f USING (term) CROSS JOIN stats s
    GROUP BY doc_id
    ORDER BY score_u DESC, doc_id
    LIMIT 10
    """,
)
def bm25_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BM25 document retrieval (lm.bm25_retrieval) for a
    fixed query-term set — the search-index primitive as one relational
    plan: per-row doc length (no explode for dl), hits filtered at the
    generator, tf/df as two partial aggs, corpus stats on a 1-row
    broadcast, TakeOrdered top-k. Per-term scores integer-micro
    quantized so the per-doc sum is exact across engines."""
    from blogparser_spark.dataops import lm

    return lm.bm25_retrieval(
        _docs(spark, sf_dir), ["hash", "join", "vector", "stream"], top_k=10
    )


def _mixed_role_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents_as_transcripts with role re-keyed by an md5 mix of
    (conv_id, turn_idx): the builder's doc_id%4 role is CONSTANT within a
    conversation (the source stride is a multiple of 4), which would make
    every role-sequence operator degenerate. The oracle-side twin is
    _ROLE_MIX_SQL."""
    roles = F.array(
        F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")
    )
    return documents_as_transcripts(spark, sf_dir).withColumn(
        "role",
        F.element_at(
            roles,
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", "conv_id", "turn_idx")), 1, 4
                    ),
                    16,
                    10,
                ).cast("long")
                % 4
                + 1
            ).cast("int"),
        ),
    )


@_q(
    "sft_pair_extraction",
    f"""
    WITH {_WRAPPED_T_SQL}, m AS (
      SELECT conv_id, turn_idx, {_ROLE_MIX_SQL} AS role,
        strlen(text) AS nb
      FROM t
    ), g AS (
      SELECT conv_id, turn_idx, role, nb,
        lead(role) OVER w AS nrole,
        lead(nb) OVER w AS next_nb
      FROM m WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    )
    SELECT conv_id, turn_idx::INT AS turn_idx,
      nb::BIGINT AS prompt_bytes, next_nb::BIGINT AS response_bytes
    FROM g WHERE role = 'user' AND nrole = 'assistant'
    """,
)
def sft_pair_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning example assembly (curation.sft_pairs): pair each
    user turn with the immediately-following assistant turn under stable
    turn ordering — the adjacency rule that turns a transcript corpus into
    (prompt, response) examples. One lead() window on the conv key; roles
    via the md5 mix (see _mixed_role_transcripts)."""
    from blogparser_spark.dataops import curation

    out = curation.sft_pairs(_mixed_role_transcripts(spark, sf_dir))
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("prompt_bytes").cast("long").alias("prompt_bytes"),
        F.col("response_bytes").cast("long").alias("response_bytes"),
    )


@_q(
    "preference_pair_mining",
    f"""
    WITH {_quality_feature_ctes("documents")}, q AS (
      SELECT d.source, doc_id, {_QUALITY_SCORE_SQL} AS quality
      FROM qf JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
    ), r AS (
      SELECT source, doc_id, quality,
        row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rh,
        row_number() OVER (PARTITION BY source ORDER BY quality ASC, doc_id) AS rl,
        count(*) OVER (PARTITION BY source) AS n
      FROM q
    )
    SELECT source, max(n)::BIGINT AS n_candidates,
      max(CASE WHEN rh = 1 THEN doc_id END) AS chosen_id,
      max(CASE WHEN rl = 1 THEN doc_id END) AS rejected_id,
      round(max(CASE WHEN rh = 1 THEN quality END)
            - max(CASE WHEN rl = 1 THEN quality END), 6) AS score_gap
    FROM r GROUP BY source
    HAVING max(n) >= 2
       AND round(max(CASE WHEN rh = 1 THEN quality END)
                 - max(CASE WHEN rl = 1 THEN quality END), 6) > 0
    """,
)
def preference_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO-style preference-pair assembly (curation.preference_pairs):
    within each source group, the highest-quality document (chosen)
    against the lowest (rejected), for groups of ≥2 with a positive gap.
    Quality is the oracle-shared composite score; both extremes come from
    one window partitioning, folded by conditional struct-max — never a
    candidate self-join."""
    from blogparser_spark.dataops import curation, textstats

    scored = textstats.with_quality(_docs(spark, sf_dir)).select(
        "source", "doc_id", "quality"
    )
    return curation.preference_pairs(scored, group_col="source")


@_q(
    "domain_cap_counts",
    """
    WITH r AS (
      SELECT source, doc_id,
        row_number() OVER (PARTITION BY source
          ORDER BY md5('domaincap:' || doc_id::VARCHAR), doc_id) AS rnk
      FROM documents
    )
    SELECT source, count(*)::BIGINT AS n_docs,
      sum(CASE WHEN rnk <= 15 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      sum(CASE WHEN rnk <= 15 THEN doc_id ELSE 0 END)::BIGINT AS kept_id_sum
    FROM r GROUP BY source
    """,
)
def domain_cap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap audit (curation.domain_cap, the C4 recipe): at most
    15 docs kept per source, selected in deterministic md5 order so any
    rerun or cluster size keeps the identical set; kept_id_sum pins the
    exact selection cross-engine. One shuffle on the domain key."""
    from blogparser_spark.dataops import curation

    capped = curation.domain_cap(_docs(spark, sf_dir), cap=15)
    kept = F.when(F.col("kept"), 1).otherwise(0)
    return capped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("doc_id")).otherwise(0))
        .cast("bigint")
        .alias("kept_id_sum"),
    )


@_q(
    "padding_efficiency_audit",
    """
    WITH t AS (
      SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> x != ''))::INT AS n_tokens
      FROM documents
    ), z AS (
      SELECT doc_id, n_tokens,
        floor(n_tokens / 32)::INT AS len_bucket,
        floor(doc_id / 100000)::INT AS shard
      FROM t
    ), w AS (
      SELECT len_bucket, shard, n_tokens,
        floor((row_number() OVER (PARTITION BY len_bucket, shard
               ORDER BY n_tokens, doc_id) - 1) / 8)::INT AS batch_id
      FROM z
    )
    SELECT len_bucket, shard, batch_id, count(*)::BIGINT AS n_rows,
      max(n_tokens)::BIGINT AS max_len, sum(n_tokens)::BIGINT AS sum_len,
      (count(*) * max(n_tokens) - sum(n_tokens))::BIGINT AS pad_tokens,
      round((count(*) * max(n_tokens) - sum(n_tokens))::DOUBLE
            / greatest(count(*) * max(n_tokens), 1), 6) AS pad_frac
    FROM w GROUP BY 1, 2, 3
    """,
)
def padding_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for length-bucketed batching (curation.
    padding_efficiency): 32-token buckets, batches of 8 in (length, id)
    order within a bounded (bucket, shard) block — per batch, the pad
    tokens the policy burns. The dataloader-tuning number."""
    from blogparser_spark.dataops import curation

    return curation.padding_efficiency(
        _docs(spark, sf_dir), batch_size=8, bucket_width=32
    )


@_q(
    "rrf_fusion_topk",
    f"""
    WITH a0 AS (
      SELECT doc_id, quality AS s FROM (
        WITH {_quality_feature_ctes("documents")}
        SELECT doc_id, {_QUALITY_SCORE_SQL} AS quality FROM qf
      )
    ), b0 AS (
      SELECT doc_id, avg_logprob AS s FROM ({_LMPPL_SQL})
    ), ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id)::INT AS rank_a
      FROM (SELECT * FROM a0 ORDER BY s DESC, doc_id LIMIT 100)
    ), rb AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id)::INT AS rank_b
      FROM (SELECT * FROM b0 ORDER BY s DESC, doc_id LIMIT 100)
    )
    SELECT doc_id, rank_a, rank_b,
      CAST(round(coalesce(round(1.0 / (60 + rank_a), 6) * 1e6, 0)
               + coalesce(round(1.0 / (60 + rank_b), 6) * 1e6, 0), 0) AS BIGINT)
        AS rrf_u
    FROM ra FULL OUTER JOIN rb USING (doc_id)
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (lm.rank_fusion_rrf; Cormack et al. SIGIR
    2009) of the two calibration-free quality signals this pipeline
    already computes — the composite heuristic score and the bigram-LM
    mean log-probability — into one shortlist without score calibration.
    Each list is cut to its top-100 via TakeOrdered before any ranking,
    so the rank windows run over bounded frames."""
    from blogparser_spark.dataops import lm, textstats

    docs = _docs(spark, sf_dir)
    a = textstats.with_quality(docs).select(
        "doc_id", F.col("quality").alias("score")
    )
    b = lm.lm_quality_scores(docs).select(
        "doc_id", F.col("avg_logprob").alias("score")
    )
    return lm.rank_fusion_rrf(a, b, n=100)


@_q(
    "contrastive_chunk_pairs",
    f"""
    WITH ch AS ({_CHUNK_SQL}), g AS (
      SELECT doc_id, chunk_idx, chunk_text,
        lead(chunk_text) OVER (PARTITION BY doc_id ORDER BY chunk_idx)
          AS next_text
      FROM ch
    )
    SELECT doc_id, chunk_idx::INT AS anchor_idx,
      strlen(chunk_text)::BIGINT AS anchor_bytes,
      strlen(next_text)::BIGINT AS positive_bytes,
      substr(md5(chunk_text || chr(31) || next_text), 1, 16) AS pair_fp
    FROM g WHERE next_text IS NOT NULL
    """,
)
def contrastive_chunk_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-chunk positive pairs for contrastive embedding training
    (curation.contrastive_chunk_pairs over the 64/16 chunker): one lead()
    window on the chunker's own doc key; the md5 pair fingerprint pins
    the exact pair text cross-engine."""
    from blogparser_spark.dataops.curation import (
        chunk_documents,
        contrastive_chunk_pairs,
    )

    ch = chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)
    out = contrastive_chunk_pairs(ch)
    return out.withColumn("anchor_idx", F.col("anchor_idx").cast("int"))


@_q(
    "matryoshka_energy_audit",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), en AS (
      SELECT vec_id, len(e)::INT AS n_dims,
        list_aggregate(list_transform(e, x -> x * x), 'sum') AS tot,
        list_aggregate(list_transform(e[1:4], x -> x * x), 'sum') AS e4,
        list_aggregate(list_transform(e[1:8], x -> x * x), 'sum') AS e8,
        list_aggregate(list_transform(e[1:16], x -> x * x), 'sum') AS e16
      FROM v
    )
    SELECT vec_id, n_dims, round(tot, 6) AS energy_total,
      round(e4 / greatest(tot, 1e-12), 6) AS energy_frac_4,
      round(e8 / greatest(tot, 1e-12), 6) AS energy_frac_8,
      round(e16 / greatest(tot, 1e-12), 6) AS energy_frac_16
    FROM en
    """,
)
def matryoshka_energy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (similarity.matryoshka_energy): per
    vector, the energy fraction captured by the 4/8/16-dim prefixes — the
    serving question 'can stored embeddings be truncated?'. Per-row
    bounded-array arithmetic, no shuffle."""
    from blogparser_spark.dataops.similarity import matryoshka_energy

    return matryoshka_energy(_emb(spark, sf_dir), dims=(4, 8, 16))


@_q(
    "int8_quant_audit",
    f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), dmax AS (
      SELECT i, max(abs(e[i])) AS am
      FROM v, unnest(range(1, 65)) AS t(i)
      GROUP BY i
    ), scl AS (
      SELECT list(greatest(am / 127, 1e-12) ORDER BY i) AS sl FROM dmax
    ), r AS (
      SELECT vec_id, e,
        list_transform(range(1, 65), i ->
          least(floor(abs(e[i]) / sl[i] + 0.5), 127)
          * sl[i] * (CASE WHEN e[i] < 0 THEN -1 ELSE 1 END)) AS rec
      FROM v CROSS JOIN scl
    )
    SELECT vec_id,
      round(list_aggregate(
        list_transform(range(1, 65), i -> abs(e[i] - rec[i])), 'max'), 6)
        AS max_abs_err,
      round(list_aggregate(
        list_transform(range(1, 65), i -> (e[i] - rec[i]) * (e[i] - rec[i])),
        'sum') / 64, 6) AS mse,
      round({_COS.format(a="e", b="rec")}, 6) AS cos_recon
    FROM r
    """,
)
def int8_quant_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding-store audit (similarity.int8_quant_audit): per-dim
    absmax symmetric quantization (the standard 4×-compression scheme for
    a served embedding corpus) scored per vector — max |error|, MSE, and
    original-vs-reconstruction cosine. One posexplode partial agg for the
    d-row scale table (d-bounded driver state); per-row bounded-array
    folds; the serving sibling of matryoshka_energy_audit."""
    from blogparser_spark.dataops.similarity import int8_quant_audit

    return int8_quant_audit(_emb(spark, sf_dir))


@_q(
    "keyword_tag_docs",
    """
    WITH occ AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x != '')) AS kw
      FROM documents
    ), m AS (
      SELECT occ.doc_id, d.tag
      FROM occ JOIN (VALUES ('hash', 'indexing'), ('join', 'relational'),
                            ('scan', 'io'), ('stream', 'streaming'),
                            ('vector', 'ann')) AS d(kw, tag)
        USING (kw)
    )
    SELECT doc_id, count(*)::BIGINT AS n_keyword_hits,
      string_agg(DISTINCT tag, ',' ORDER BY tag) AS tags
    FROM m GROUP BY doc_id
    """,
)
def keyword_tag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dictionary taxonomy tagging (textstats.keyword_tags):
    tokens mapped through a bounded (keyword → tag) dim, distinct tag
    set + hit count per document; corpus moves only matched rows."""
    from blogparser_spark.dataops.textstats import keyword_tags

    return keyword_tags(
        _docs(spark, sf_dir),
        {
            "hash": "indexing",
            "join": "relational",
            "scan": "io",
            "stream": "streaming",
            "vector": "ann",
        },
    )


@_q(
    "conv_exact_dup_groups",
    f"""
    WITH {_WRAPPED_T_SQL}, u AS (
      SELECT conv_id, turn_idx, text FROM t
      UNION ALL
      SELECT conv_id || '-dup', turn_idx, text FROM t
      WHERE ('0x' || substr(md5(conv_id), 1, 4))::BIGINT % 3 = 0
    ), fp AS (
      SELECT conv_id, count(*)::BIGINT AS n_turns,
        md5(string_agg(coalesce(text, chr(0)), chr(31) ORDER BY turn_idx))
          AS conv_fp
      FROM u GROUP BY conv_id
    )
    SELECT conv_fp, count(*)::BIGINT AS n_convs, min(conv_id) AS survivor,
      max(n_turns)::BIGINT AS n_turns
    FROM fp GROUP BY conv_fp HAVING count(*) >= 2
    """,
)
def conv_exact_dup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup (dedup.conv_exact_dup_groups):
    order-sensitive md5 fingerprint of each conversation's turn sequence,
    grouped to find whole-transcript duplicates with a deterministic
    min-id survivor. The synthetic corpus has no duplicate conversations,
    so the query unions a deterministically-selected echo (md5(conv)%3)
    to exercise real group formation; the oracle replays the same echo."""
    from blogparser_spark.dataops.dedup import conv_exact_dup_groups

    t = documents_as_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "text"
    )
    pick = (
        F.conv(F.substring(F.md5("conv_id"), 1, 4), 16, 10).cast("long") % 3
        == 0
    )
    echo = t.filter(pick).withColumn(
        "conv_id", F.concat("conv_id", F.lit("-dup"))
    )
    return conv_exact_dup_groups(t.unionByName(echo))


@_q(
    "span_corruption_plan",
    """
    WITH base AS (
      SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x != '')) >= 3
    ), pos AS (
      SELECT doc_id, n, i AS p,
        ('0x' || substr(md5('spancorrupt:' || doc_id::VARCHAR || ':'
                            || i::VARCHAR), 1, 8))::BIGINT AS h
      FROM base, unnest(range(0, n)) AS u(i)
    ), anch AS (
      SELECT doc_id, n, p, h,
        row_number() OVER (PARTITION BY doc_id ORDER BY h, p) AS rn,
        greatest(1, round(n * 0.15 / 3, 0)::BIGINT) AS n_spans
      FROM pos
    ), sel AS (
      SELECT doc_id, n, p, 2 + (h % 3) AS len FROM anch WHERE rn <= n_spans
    ), mp AS (
      SELECT DISTINCT doc_id, m.m
      FROM sel, unnest(range(p, least(p + len - 1, n - 1) + 1)) AS m(m)
    ), mc AS (
      SELECT doc_id, count(*)::BIGINT AS n_masked FROM mp GROUP BY 1
    ), sc AS (
      SELECT doc_id, max(n)::BIGINT AS n_tokens, count(*)::BIGINT AS n_spans
      FROM sel GROUP BY 1
    )
    SELECT sc.doc_id, n_tokens, n_spans, n_masked,
      round(n_masked::DOUBLE / n_tokens, 6) AS mask_frac
    FROM sc JOIN mc USING (doc_id)
    """,
)
def span_corruption_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption mask plan (curation.span_corruption_plan;
    Raffel et al. 2020 §3.1.4): 15% of tokens masked in deterministic
    spans of mean length 3, overlaps merged — the denoising-pretraining
    plan a data builder materializes before writing sentinel targets.
    Positions explode from a sequence (never the token array); anchor
    selection is one rank window on the doc key."""
    from blogparser_spark.dataops.curation import span_corruption_plan

    return span_corruption_plan(_docs(spark, sf_dir))


@_q(
    "group_advantage_scores",
    f"""
    WITH {_quality_feature_ctes("documents")}, q AS (
      SELECT d.source, doc_id, {_QUALITY_SCORE_SQL} AS quality
      FROM qf JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)
    ), g AS (
      SELECT source, doc_id, quality,
        avg(quality) OVER (PARTITION BY source) AS m,
        avg(quality * quality) OVER (PARTITION BY source) AS m2
      FROM q
    )
    SELECT source, doc_id, quality,
      round(CASE WHEN sqrt(greatest(m2 - m * m, 0.0)) > 1e-12
                 THEN (quality - m) / sqrt(greatest(m2 - m * m, 0.0))
                 ELSE 0.0 END, 6) AS advantage
    FROM g
    """,
)
def group_advantage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO group-relative advantage (curation.group_advantage): quality
    z-scored within each source's candidate group via closed-form moment
    averages — the calibration-free reward normalization RL-from-scores
    applies before policy updates."""
    from blogparser_spark.dataops import curation, textstats

    scored = textstats.with_quality(_docs(spark, sf_dir)).select(
        "source", "doc_id", "quality"
    )
    return curation.group_advantage(scored)


@_q(
    "sft_loss_mask_stats",
    f"""
    WITH {_WRAPPED_T_SQL}, m AS (
      SELECT conv_id, {_ROLE_MIX_SQL} AS role,
        len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n
      FROM t
    )
    SELECT conv_id, sum(n)::BIGINT AS n_tokens_total,
      sum(CASE WHEN role = 'assistant' THEN n ELSE 0 END)::BIGINT
        AS n_tokens_trainable,
      round(sum(CASE WHEN role = 'assistant' THEN n ELSE 0 END)::DOUBLE
            / greatest(sum(n), 1), 6) AS trainable_frac
    FROM m GROUP BY conv_id
    """,
)
def sft_loss_mask_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask accounting (curation.sft_loss_mask_stats): the
    trainable-token fraction per conversation under assistant-only loss —
    how much signal an epoch actually contains. Conditional partial agg
    on per-row token counts; roles via the md5 mix."""
    from blogparser_spark.dataops import curation

    return curation.sft_loss_mask_stats(_mixed_role_transcripts(spark, sf_dir))


@_q(
    "ul2_denoiser_mix",
    """
    WITH t AS (
      SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n,
        ('0x' || substr(md5('ul2mix:' || doc_id::VARCHAR), 1, 8))::BIGINT
          / 4294967296.0 AS u
      FROM documents
    )
    SELECT doc_id, n AS n_tokens,
      CASE WHEN u < 0.25 THEN 'R' WHEN u < 0.5 THEN 'S' ELSE 'X' END
        AS denoiser,
      CASE WHEN u < 0.25 THEN 0.15 WHEN u < 0.5 THEN 0.25 ELSE 0.5 END
        AS corruption_rate,
      (CASE WHEN u < 0.25 THEN 3 WHEN u < 0.5 THEN 0 ELSE 32 END)::INT
        AS mean_span,
      round(n * CASE WHEN u < 0.25 THEN 0.15 WHEN u < 0.5 THEN 0.25
                     ELSE 0.5 END, 0)::BIGINT AS n_targets
    FROM t
    """,
)
def ul2_denoiser_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 mixture-of-denoisers assignment (curation.denoiser_mix_plan;
    Tay et al. ICLR 2023): R/S/X regime per document by deterministic md5
    bucket against the mixture weights, with the regime's plan numbers —
    the assignment step before span_corruption_plan materializes
    positions. Pure per-row arithmetic, zero shuffles."""
    from blogparser_spark.dataops.curation import denoiser_mix_plan

    return denoiser_mix_plan(_docs(spark, sf_dir))


@_q(
    "bpe_pair_counts",
    """
    WITH w AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x != '')) AS word
      FROM documents
    ), wc AS (
      SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY 1
    ), sym AS (
      SELECT cnt, string_split(word, '') AS s FROM wc WHERE strlen(word) >= 2
    ), pairs AS (
      SELECT cnt, s[i] AS l, s[i + 1] AS r
      FROM sym, unnest(range(1, len(s))) AS t(i)
    )
    SELECT l, r, sum(cnt)::BIGINT AS weight
    FROM pairs GROUP BY l, r
    ORDER BY weight DESC, l, r LIMIT 20
    """,
)
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE pair statistics (lm.bpe_pair_counts; Sennrich
    et al. 2016): adjacent character-pair frequencies weighted by word
    count over the vocabulary dictionary — the table whose argmax is the
    first learned merge. Corpus collapses to vocab size in one partial
    agg; top-k is TakeOrdered with a deterministic tie-break."""
    from blogparser_spark.dataops.lm import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_k=20)


def _bpe_iter_sql(prev: str, this: str, it: int) -> str:
    """One BPE merge round as DuckDB CTEs replaying the incremental
    learner: symbols live in a chr(31)-delimited string where every symbol
    is wrapped '<us>sym<us>', so the greedy left-to-right merge fold is
    EXACTLY one non-overlapping replace('<us>l<us><us>r<us>' →
    '<us>lr<us>') — the scanner never re-enters replaced output, which is
    the same skip-past-the-merge the fold performs. Argmax per round is
    (weight DESC, l, r), the learner's tie-break."""
    return f"""
    sy{it} AS (
      SELECT cnt, string_split(substr(rep, 2, length(rep) - 2),
                               chr(31) || chr(31)) AS s
      FROM {prev}
    ), p{it} AS (
      SELECT s[i] AS l, s[i+1] AS r, sum(cnt)::BIGINT AS weight
      FROM sy{it}, unnest(range(1, len(s))) AS t(i)
      GROUP BY 1, 2
    ), m{it} AS MATERIALIZED (
      SELECT {it} AS merge_idx, l, r, weight FROM p{it}
      ORDER BY weight DESC, l, r LIMIT 1
    ), {this} AS MATERIALIZED (
      SELECT word, cnt,
        replace(rep, chr(31) || m.l || chr(31) || chr(31) || m.r || chr(31),
                     chr(31) || m.l || m.r || chr(31)) AS rep
      FROM {prev} CROSS JOIN m{it} m
    )"""


# shared CTE chain: word dict → wrapped-symbol strings → 4 replayed merges
_BPE_CTES = f"""
    w AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x != '')) AS word
      FROM documents
    ), wc AS (
      SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY 1
    ), s0 AS MATERIALIZED (
      SELECT word, cnt,
        chr(31) || array_to_string(string_split(word, ''),
                                   chr(31) || chr(31)) || chr(31) AS rep
      FROM wc
    ),{_bpe_iter_sql("s0", "s1", 1)},{_bpe_iter_sql("s1", "s2", 2)},{
        _bpe_iter_sql("s2", "s3", 3)},{_bpe_iter_sql("s3", "s4", 4)}
"""

_BPE_LEARN_SQL = f"""
    WITH {_BPE_CTES}
    SELECT merge_idx::INT AS merge_idx, l, r, weight FROM (
      SELECT * FROM m1 UNION ALL SELECT * FROM m2
      UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4
    )
"""

_BPE_ENCODE_SQL = f"""
    WITH {_BPE_CTES}
    SELECT word,
      array_to_string(string_split(substr(rep, 2, length(rep) - 2),
                                   chr(31) || chr(31)), '|') AS toks,
      len(string_split(substr(rep, 2, length(rep) - 2),
                       chr(31) || chr(31)))::BIGINT AS n_tokens
    FROM s4
"""


_PROBE_SQL = """
    WITH xw AS MATERIALIZED (
      SELECT doc_id, (('0x' || substr(md5(tok), 1, 8))::BIGINT % 16) AS bucket,
             count(*)::BIGINT AS cnt
      FROM (SELECT doc_id,
              unnest(list_filter(string_split(lower(text), ' '),
                                 t -> t != '')) AS tok
            FROM documents)
      GROUP BY 1, 2
      UNION ALL
      SELECT doc_id, 16 AS bucket, 1::BIGINT FROM documents
    ),
    yd AS MATERIALIZED (
      SELECT doc_id,
        (CASE WHEN text LIKE '%join%' THEN 1 ELSE 0 END)::BIGINT AS y
      FROM documents
    ),
    nn AS (SELECT sum(cnt * cnt)::BIGINT AS tr FROM xw),
    spine AS (SELECT unnest(range(0, 17))::BIGINT AS bucket),
    g1 AS (
      SELECT bucket, sum((0 - y * 1000000) * cnt)::BIGINT AS g_u
      FROM xw JOIN yd USING (doc_id) GROUP BY bucket
    ),
    w1 AS MATERIALIZED (
      SELECT s.bucket,
        (0 - floor(coalesce(g1.g_u, 0) / (1.0 * tr) + 0.5))::BIGINT AS w_u
      FROM spine s LEFT JOIN g1 USING (bucket) CROSS JOIN nn
    ),
    m2 AS (
      SELECT doc_id, sum(w1.w_u * xw.cnt)::BIGINT AS m_u
      FROM xw JOIN w1 USING (bucket) GROUP BY doc_id
    ),
    g2 AS (
      SELECT xw.bucket,
        sum((m2.m_u - yd.y * 1000000) * xw.cnt)::BIGINT AS g_u
      FROM xw JOIN m2 USING (doc_id) JOIN yd USING (doc_id)
      GROUP BY xw.bucket
    )
    SELECT w1.bucket::INT AS bucket,
      (w1.w_u - floor(coalesce(g2.g_u, 0) / (1.0 * tr) + 0.5))::BIGINT AS w_u
    FROM w1 LEFT JOIN g2 USING (bucket) CROSS JOIN nn
"""


@_q("quality_linear_probe_weights", _PROBE_SQL)
def quality_linear_probe_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality scorer (curation.linear_probe_gd): a linear
    probe over md5-hashed token-count buckets + bias, trained with 2
    fixed gradient-descent rounds against a weak label (doc mentions
    'join') — the fastText/CCNet classifier pattern as a distributed
    job. Weights live in integer micros, so margins, residuals, and
    gradients are exact integer sums (aggregation order never
    observable); the oracle replays both GD rounds as unrolled CTEs and
    matches bit-for-bit."""
    from blogparser_spark.dataops.curation import linear_probe_gd

    d = _docs(spark, sf_dir)
    return linear_probe_gd(
        d, F.col("text").contains("join"), n_buckets=16, iters=2
    )


@_q(
    "quality_probe_doc_scores",
    _PROBE_SQL.replace(
        """    SELECT w1.bucket::INT AS bucket,
      (w1.w_u - floor(coalesce(g2.g_u, 0) / (1.0 * tr) + 0.5))::BIGINT AS w_u
    FROM w1 LEFT JOIN g2 USING (bucket) CROSS JOIN nn""",
        """    , w2 AS MATERIALIZED (
      SELECT w1.bucket,
        (w1.w_u - floor(coalesce(g2.g_u, 0) / (1.0 * tr) + 0.5))::BIGINT AS w_u
      FROM w1 LEFT JOIN g2 USING (bucket) CROSS JOIN nn
    )
    SELECT xw.doc_id, sum(w2.w_u * xw.cnt)::BIGINT AS score_u,
      max(yd.y)::BIGINT AS y
    FROM xw JOIN w2 USING (bucket) JOIN yd USING (doc_id)
    GROUP BY xw.doc_id""",
    ),
)
def quality_probe_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The linear probe's SERVE path (curation.linear_probe_score): every
    document scored by the 2-round-trained weights — integer-micro margin
    per doc next to its weak label, the table a curation pipeline
    thresholds on. One broadcast join + one partial agg over the hashed
    feature table; exact bigint sums, so the oracle (training replay +
    scoring CTE) matches bit-for-bit."""
    from blogparser_spark.dataops.curation import (
        linear_probe_gd,
        linear_probe_score,
    )

    d = _docs(spark, sf_dir)
    label = F.col("text").contains("join")
    w = linear_probe_gd(d, label, n_buckets=16, iters=2)
    scores = linear_probe_score(d, w, n_buckets=16)
    return scores.join(
        d.select("doc_id", label.cast("int").cast("bigint").alias("y")),
        "doc_id",
    )


@_q("bpe_learned_merges", _BPE_LEARN_SQL)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge LEARNING with delta-maintained pair counts
    (lm.bpe_learn_merges_incremental; Sennrich et al. 2016): four merge
    rounds where each round's recount touches only words containing both
    merge symbols — retraction/insert pair deltas folded into a persistent
    pair-weight state (the apply_retractable_delta algebra) instead of an
    O(vocab) rescan per merge. The learned list is k-bounded driver state
    (the kmeans-centroid convention); the oracle replays all four rounds
    as unrolled CTEs with a delimited-string replace as the greedy merge
    fold."""
    from blogparser_spark.dataops.lm import bpe_learn_merges_incremental

    merges = bpe_learn_merges_incremental(_docs(spark, sf_dir), n_merges=4)
    return spark.createDataFrame(
        [(i + 1, l, r, w) for i, (l, r, w) in enumerate(merges)],
        "merge_idx int, l string, r string, weight bigint",
    )


@_q("bpe_encoded_dict", _BPE_ENCODE_SQL)
def bpe_encoded_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass BPE encode over the word dictionary
    (lm.bpe_encode_fast): the 4 learned merges apply in ONE Arrow-batched
    pass per word via the canonical min-rank iteration (Sennrich
    apply_bpe / GPT-2 encoder) — O(|word| · merges_present) per word
    instead of one interpreted fold pass over the dictionary PER MERGE
    (the encode-side twin of the incremental-learner fix). The oracle
    replays the same 4 merges sequentially with the delimited-string
    fold; equality here is also the min-rank ≡ sequential equivalence
    proof on a well-formed learned list, at dictionary scale."""
    from blogparser_spark.dataops.lm import (
        bpe_encode_fast,
        bpe_learn_merges_incremental,
        word_freq_dict,
    )

    docs = _docs(spark, sf_dir)
    merges = bpe_learn_merges_incremental(docs, n_merges=4)
    wd = word_freq_dict(docs)
    sym = wd.select("word", F.split("word", "").alias("s"))
    enc = bpe_encode_fast(sym, merges)
    return enc.select(
        "word",
        F.array_join("s", "|").alias("toks"),
        F.size("s").cast("bigint").alias("n_tokens"),
    )


@_q(
    "conv_packing_curve",
    f"""
    WITH {_WRAPPED_T_SQL}, c AS (
      SELECT conv_id,
        len(list_filter(string_split(text, ' '), x -> x != ''))::BIGINT AS n,
        sum(len(list_filter(string_split(text, ' '), x -> x != '')))
          OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ), per AS (
      SELECT conv_id, count(*)::BIGINT AS n_turns, sum(n)::BIGINT AS n_tokens,
        sum(CASE WHEN cum <= 500 THEN 1 ELSE 0 END)::BIGINT AS k500,
        sum(CASE WHEN cum <= 1000 THEN 1 ELSE 0 END)::BIGINT AS k1000,
        sum(CASE WHEN cum <= 2000 THEN 1 ELSE 0 END)::BIGINT AS k2000,
        sum(CASE WHEN cum <= 4000 THEN 1 ELSE 0 END)::BIGINT AS k4000,
        sum(CASE WHEN cum <= 500 THEN n ELSE 0 END)::BIGINT AS t500,
        sum(CASE WHEN cum <= 1000 THEN n ELSE 0 END)::BIGINT AS t1000,
        sum(CASE WHEN cum <= 2000 THEN n ELSE 0 END)::BIGINT AS t2000,
        sum(CASE WHEN cum <= 4000 THEN n ELSE 0 END)::BIGINT AS t4000
      FROM c GROUP BY conv_id
    )
    SELECT b.budget,
      count(*)::BIGINT AS n_convs,
      sum(CASE b.budget WHEN 500 THEN k500 WHEN 1000 THEN k1000
          WHEN 2000 THEN k2000 ELSE k4000 END)::BIGINT AS turns_kept,
      sum(n_turns)::BIGINT AS turns_total,
      sum(CASE b.budget WHEN 500 THEN t500 WHEN 1000 THEN t1000
          WHEN 2000 THEN t2000 ELSE t4000 END)::BIGINT AS tokens_kept,
      sum(n_tokens)::BIGINT AS tokens_total,
      round(sum(CASE b.budget WHEN 500 THEN t500 WHEN 1000 THEN t1000
                WHEN 2000 THEN t2000 ELSE t4000 END)::DOUBLE
            / greatest(sum(n_tokens), 1), 6) AS token_survival,
      sum(CASE WHEN (CASE b.budget WHEN 500 THEN k500 WHEN 1000 THEN k1000
                     WHEN 2000 THEN k2000 ELSE k4000 END) = n_turns
               THEN 1 ELSE 0 END)::BIGINT AS convs_fully_kept
    FROM per CROSS JOIN (VALUES (500), (1000), (2000), (4000)) AS b(budget)
    GROUP BY b.budget
    """,
)
def conv_packing_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing curve: conv_budget_stats swept over a budget
    ladder (500/1k/2k/4k tokens) and rolled up corpus-wide — token
    survival and fully-kept-conversation counts per budget, the curve an
    engineer reads to PICK the context size instead of auditing one. ONE
    running-total pass serves the whole ladder (the budgets are just
    conditional sums over the same cumulative column — never one scan per
    budget); the ladder itself rides a 4-row broadcast join."""
    from blogparser_spark.dataops.curation import _budget_running

    t = documents_as_transcripts(spark, sf_dir)
    budgets = [500, 1000, 2000, 4000]
    run = _budget_running(t, "conv_id", "turn_idx", "text")
    aggs = [
        F.count("*").alias("n_turns"),
        F.sum("n_tokens").alias("n_tokens"),
    ]
    for b in budgets:
        fits = F.col("cum_tokens") <= b
        aggs.append(F.sum(F.when(fits, 1).otherwise(0)).alias(f"k{b}"))
        aggs.append(
            F.sum(F.when(fits, F.col("n_tokens")).otherwise(0)).alias(f"t{b}")
        )
    per = run.groupBy("conv_id").agg(*aggs)
    ladder = spark.createDataFrame([(b,) for b in budgets], "budget int")
    joined = per.join(F.broadcast(ladder))
    kept_turns = F.when(F.col("budget") == 500, F.col("k500"))
    kept_toks = F.when(F.col("budget") == 500, F.col("t500"))
    for b in budgets[1:]:
        kept_turns = kept_turns.when(F.col("budget") == b, F.col(f"k{b}"))
        kept_toks = kept_toks.when(F.col("budget") == b, F.col(f"t{b}"))
    joined = joined.select(
        "budget",
        "n_turns",
        "n_tokens",
        kept_turns.alias("_kt"),
        kept_toks.alias("_tt"),
    )
    return joined.groupBy("budget").agg(
        F.count("*").cast("bigint").alias("n_convs"),
        F.sum("_kt").cast("bigint").alias("turns_kept"),
        F.sum("n_turns").cast("bigint").alias("turns_total"),
        F.sum("_tt").cast("bigint").alias("tokens_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.round(
            F.sum("_tt") / F.greatest(F.sum("n_tokens"), F.lit(1)), 6
        ).alias("token_survival"),
        F.sum(F.when(F.col("_kt") == F.col("n_turns"), 1).otherwise(0))
        .cast("bigint")
        .alias("convs_fully_kept"),
    )


@_q(
    "ivm_refresh_counts",
    """
    SELECT event_type, count(*)::BIGINT AS cnt,
      sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS vsum
    FROM events
    WHERE NOT (event_id % 7 = 0 AND event_id % 10 != 0)
    GROUP BY event_type
    """,
)
def ivm_refresh_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with retractions (aggregate.
    apply_retractable_delta): the base view is built WITHOUT the
    event_id%10==0 rows, then a CDC delta inserts them and deletes the
    event_id%7==0 rows — the refreshed state must EXACTLY equal a full
    recompute over the final row set (which is what the oracle computes
    directly). The algebra that lets a 10^12-row view absorb change
    feeds without rescanning history."""
    from blogparser_spark.operators.aggregate import (
        apply_retractable_delta,
        retractable_state,
    )

    e = _events(spark, sf_dir)
    base_rows = e.filter(F.col("event_id") % 10 != 0)
    state = retractable_state(base_rows, ["event_type"], "value")
    inserts = e.filter(F.col("event_id") % 10 == 0).withColumn(
        "op", F.lit("I")
    )
    deletes = (
        e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 10 != 0))
        .withColumn("op", F.lit("D"))
    )
    delta = inserts.unionByName(deletes)
    out = apply_retractable_delta(state, delta, ["event_type"], "value")
    # exact decimal maintenance inside; double at the comparison surface
    # (cross-engine decimal rendering differs — CLAUDE.md rule 7)
    return out.select(
        "event_type", "cnt", F.col("vsum").cast("double").alias("vsum")
    )


@_q(
    "ivm_extremum_refresh",
    """
    WITH base AS (
      SELECT event_type, value FROM events WHERE event_id % 10 != 0
    ), mx AS (
      SELECT event_type, max(value) AS m FROM base GROUP BY event_type
    ), final AS (
      SELECT b.event_type, b.value
      FROM base b JOIN mx ON b.event_type = mx.event_type
      WHERE b.value < mx.m
      UNION ALL
      SELECT event_type, value FROM events WHERE event_id % 10 = 0
    )
    SELECT event_type, round(max(value), 6) AS max_value,
           FALSE AS needs_recompute
    FROM final GROUP BY event_type
    """,
)
def ivm_extremum_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extremum maintenance under retractions (aggregate.extremum_ledger):
    the base view's per-event_type MAX rows are all DELETED by a CDC delta
    while the held-out event_id%10 rows are inserted — the ledger promotes
    the next candidate (or adopts a larger insert) and the served max must
    EXACTLY equal a full recompute over the final row set (the oracle).
    This is the standard bounded top-k candidate ledger that closes the
    min/max gap retractable_state documents: deletes of the current
    extremum never rescan history, and ledger exhaustion flags
    needs_recompute instead of silently serving a stale value (the flag is
    provably false here — k=6 candidates, one distinct value deleted)."""
    from blogparser_spark.operators.aggregate import (
        extremum_ledger,
        extremum_serve,
        refresh_extremum_ledger,
    )

    e = _events(spark, sf_dir)
    base = e.filter(F.col("event_id") % 10 != 0)
    state = extremum_ledger(base, ["event_type"], "value", k=6)
    mx = base.groupBy("event_type").agg(F.max("value").alias("_m"))
    deletes = (
        base.join(F.broadcast(mx), "event_type")
        .filter(F.col("value") == F.col("_m"))
        .drop("_m")
        .withColumn("op", F.lit("D"))
    )
    inserts = e.filter(F.col("event_id") % 10 == 0).withColumn(
        "op", F.lit("I")
    )
    refreshed = refresh_extremum_ledger(
        state, deletes.unionByName(inserts), ["event_type"], "value", k=6
    )
    out = extremum_serve(refreshed, ["event_type"], "value")
    return out.select(
        "event_type",
        F.round(F.col("extremum"), 6).alias("max_value"),
        "needs_recompute",
    )


@_q(
    "ivm_extremum_repair",
    """
    WITH base AS (
      SELECT event_type, value FROM events WHERE event_id % 10 != 0
    ), ranked AS (
      SELECT event_type, value,
        dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC)
          AS dr
      FROM base
    ), final AS (
      SELECT event_type, value FROM ranked WHERE dr > 2
    )
    SELECT event_type, round(max(value), 6) AS max_value,
           FALSE AS needs_recompute
    FROM final GROUP BY event_type
    """,
)
def ivm_extremum_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full extremum-IVM lifecycle: a k=2 ledger is EXHAUSTED by a
    CDC delta deleting every row of each key's top-2 distinct values,
    serve flags needs_recompute (no silent staleness), and
    repair_extremum_ledger rebuilds ONLY the flagged keys from the
    current base (semi-join-scoped scan) — after which the served max
    must equal a full recompute over the final row set (the oracle) with
    the flag cleared. Detect → targeted repair, never a view-wide
    recompute."""
    from blogparser_spark.operators.aggregate import (
        extremum_ledger,
        extremum_serve,
        refresh_extremum_ledger,
        repair_extremum_ledger,
    )

    e = _events(spark, sf_dir)
    base = e.filter(F.col("event_id") % 10 != 0).select("event_type", "value")
    state = extremum_ledger(base, ["event_type"], "value", k=2)
    dr = Window.partitionBy("event_type").orderBy(F.desc("value"))
    top2 = base.withColumn("_dr", F.dense_rank().over(dr)).filter(
        F.col("_dr") <= 2
    )
    deletes = top2.select("event_type", "value").withColumn("op", F.lit("D"))
    refreshed = refresh_extremum_ledger(
        state, deletes, ["event_type"], "value", k=2
    )
    final_base = base.withColumn("_dr", F.dense_rank().over(dr)).filter(
        F.col("_dr") > 2
    ).select("event_type", "value")
    repaired = repair_extremum_ledger(
        refreshed, final_base, ["event_type"], "value", k=2
    )
    out = extremum_serve(repaired, ["event_type"], "value")
    return out.select(
        "event_type",
        F.round(F.col("extremum"), 6).alias("max_value"),
        "needs_recompute",
    )


# ===========================================================================
# Snapshot-log table format (operators/tablelog.py) — time travel,
# copy-on-write deletes, pruned scans and the routed sink.
# Each query builds a throwaway table from deterministic event_id slices,
# so the oracle replays the slice arithmetic over the same base table.
# ===========================================================================


def _tablelog_tmp(prefix: str) -> str:
    import tempfile

    return tempfile.mkdtemp(prefix=prefix)


@_q(
    "tablelog_time_travel_counts",
    """
    SELECT 2 AS version, event_type, count(*)::BIGINT AS cnt
    FROM events WHERE event_id % 3 <= 1 GROUP BY event_type
    UNION ALL
    SELECT 4 AS version, event_type, count(*)::BIGINT AS cnt
    FROM events WHERE user_id % 7 <> 0 GROUP BY event_type
    """,
)
def tablelog_time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log commit replay: three appends (event_id mod-3 slices) and
    a copy-on-write delete commit, then per-type counts read at version 2
    (time travel: only the first two slices) and at the latest version
    (all three slices minus the delete of user_id % 7 == 0). The oracle
    replays the slice arithmetic directly on the base table — agreement
    proves the log replay, snapshot isolation, and the file rewrite.
    No reference analog (the Go CLI rereads raw files per run,
    sample/main.go:32-47); this is the north rule's Iceberg-table contract
    rebuilt from the public spec on plain parquet."""
    from blogparser_spark.operators import tablelog as tl

    t = _tablelog_tmp("tablelog_tt_")
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    for m in (0, 1, 2):
        tl.append(spark, t, ev.filter(F.col("event_id") % 3 == m))
    tl.delete_where(spark, t, F.col("user_id") % 7 == 0, key_cols=["event_id"])
    v2 = (
        tl.read_snapshot(spark, t, version=2)
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("version", F.lit(2))
    )
    v4 = (
        tl.read_snapshot(spark, t)
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("version", F.lit(4))
    )
    return v2.unionByName(v4).select("version", "event_type", "cnt")


@_q(
    "tablelog_pruned_scan",
    """
    SELECT event_type, count(*)::BIGINT AS cnt,
      min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    WHERE event_id BETWEEN 100 AND 200 AND user_id % 5 <> 0
    GROUP BY event_type
    """,
)
def tablelog_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file pruning composed with copy-on-write deletes:
    one append written repartitionByRange(5, event_id) so each file
    carries a tight [min,max] footer stat, a delete of user_id % 5 == 0
    (its rewrites keep the stats), then `scan_where` on event_id between
    100 and 200 — which opens only the stats-overlapping file (the skip
    count is pinned in tests/test_tablelog.py). Oracle: the plain filtered
    aggregate."""
    from blogparser_spark.operators import tablelog as tl

    t = _tablelog_tmp("tablelog_prune_")
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    tl.append(
        spark,
        t,
        ev.repartitionByRange(5, "event_id"),
        stats_cols=("event_id",),
    )
    tl.delete_where(spark, t, F.col("user_id") % 5 == 0, key_cols=["event_id"])
    got = tl.scan_where(spark, t, {"event_id": ("between", 100, 200)})
    return got.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@_q(
    "tablelog_routed_sink_counts",
    """
    WITH t AS (
      SELECT doc_id % 4 AS v,
        ['user','assistant','system','tool'][(doc_id % 4)::INT + 1] AS role,
        ['search','browser','python','bash','none'][(doc_id % 5)::INT + 1] AS tool,
        strlen(trim(regexp_replace(regexp_replace(regexp_replace(text,
          '\\r\\n?', chr(10), 'g'), '(?m)^[ \\t\\f\\v]+|[ \\t\\f\\v]+$', '', 'g'),
          '\\n{2,}', chr(10), 'g'))) AS body_bytes
      FROM documents
    ), s AS (
      SELECT role, tool,
        CASE WHEN v >= 2 THEN 'no_title'
             WHEN body_bytes >= 100 THEN 'ok'
             ELSE 'no_content' END AS parse_status
      FROM t
    )
    SELECT channel, tool_category, parse_status, count(*)::BIGINT AS n_rows
    FROM s
    JOIN (VALUES ('user','inbound'), ('assistant','outbound'),
                 ('system','control'), ('tool','machine')) AS rc(role, channel)
      USING (role)
    JOIN (VALUES ('search','retrieval'), ('browser','web'), ('python','code'),
                 ('bash','shell'), ('none','chat')) AS tc(tool, tool_category)
      USING (tool)
    GROUP BY channel, tool_category, parse_status
    """,
)
def tablelog_routed_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship chain routed onto the snapshot-log table format: the
    enriched rows fan into ONE partitioned tablelog table as two
    idempotent marker'd commits (conv-hash halves), the first commit is
    then REPLAYED with the same marker — a restarted slice — and must be a
    no-op; per-sink counts read back from the committed snapshot. The
    oracle is pipeline_sink_counts' oracle verbatim: hash-match proves the
    routed table holds exactly one copy of every routed row (exactly-once
    resume), the same per-sink routed-row sets, through the atomic-commit
    write path and the manifest-partitioned read path."""
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.parse import parse_stage
    from blogparser_spark.operators.route import route_commit_tablelog

    t = _tablelog_tmp("tablelog_route_") + "/t"
    enriched = enrich(
        parse_stage(documents_as_transcripts(spark, sf_dir)), spark
    )
    half = F.pmod(F.hash("conv_id"), F.lit(2))
    route_commit_tablelog(enriched.filter(half == 0), t, marker="slice-0")
    route_commit_tablelog(enriched.filter(half == 1), t, marker="slice-1")
    # restart replay of slice-0: the marker ledger must make this a no-op
    route_commit_tablelog(enriched.filter(half == 0), t, marker="slice-0")
    routed = tl.read_snapshot(spark, t)
    return routed.groupBy("channel", "tool_category", "parse_status").agg(
        F.count("*").cast("bigint").alias("n_rows")
    )


# ===========================================================================
# Unigram-LM tokenizer family (dataops/unigram.py — Kudo, ACL 2018). The
# oracles replay the relational Viterbi DP as unrolled CTEs: one forward
# round per position (argmin via row_number with the learner's
# (cost asc, prev asc) tie-break), one backtrace round per position.
# ===========================================================================

_UG_MAXLEN = 8  # max word length in the synthetic corpus (measured)
_UG_PIECE = 4   # max candidate-piece length


def _ug_dp_sql(it: int) -> str:
    """One forward-DP position round as CTEs (position `it` from all
    positions < it), mirroring unigram.viterbi_best's min(struct)."""
    return f"""
    ugb{it} AS MATERIALIZED (
      SELECT word, pos, cost_u, prev FROM (
        SELECT e.word, e.i AS pos, a.cost_u - e.logp_u AS cost_u, e.j AS prev,
          row_number() OVER (PARTITION BY e.word
                             ORDER BY a.cost_u - e.logp_u ASC, e.j ASC) AS rn
        FROM uged e JOIN uga{it - 1} a ON a.word = e.word AND a.pos = e.j
        WHERE e.i = {it}
      ) WHERE rn = 1
    ), uga{it} AS (
      SELECT * FROM uga{it - 1} UNION ALL SELECT * FROM ugb{it}
    )"""


def _ug_bt_sql(k: int) -> str:
    """One backtrace round: emit the last piece of the current prefix,
    then step to its predecessor position."""
    return f"""
    ugg{k} AS MATERIALIZED (
      SELECT word, cnt, pos, prev, substr(word, prev + 1, pos - prev) AS piece
      FROM ugf{k - 1} WHERE pos > 0
    ), ugf{k} AS (
      SELECT g.word, g.cnt, a.pos, a.prev
      FROM ugg{k} g JOIN uga{_UG_MAXLEN} a
        ON a.word = g.word AND a.pos = g.prev
      WHERE g.prev > 0
    )"""


# word dict → seed substring pieces → integer-micro seed scores
_UG_BASE = f"""
    ugw AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x != '')) AS word
      FROM documents
    ), ugwc AS MATERIALIZED (
      SELECT word, count(*)::BIGINT AS cnt FROM ugw GROUP BY 1
    ), ugsp AS (
      SELECT piece, sum(cnt)::BIGINT AS cnt FROM (
        SELECT substr(word, i - m + 1, m) AS piece, cnt
        FROM ugwc, unnest(range(1, length(word) + 1)) AS t(i),
             unnest(range(1, {_UG_PIECE + 1})) AS u(m)
        WHERE m <= i
      ) GROUP BY 1
    ), ugsc AS MATERIALIZED (
      SELECT piece, cnt,
        floor((ln(cnt) - ln((SELECT sum(cnt) FROM ugsp)))
              * 1000000 + 0.5)::BIGINT AS logp_u
      FROM ugsp
    )"""

# lattice edges → 8 forward rounds → 8 backtrace rounds → segmentations
_UG_DP = (
    f"""
    uged AS MATERIALIZED (
      SELECT e.word, e.j, e.i, s.logp_u FROM (
        SELECT word, i - m AS j, i, substr(word, i - m + 1, m) AS piece
        FROM ugwc, unnest(range(1, length(word) + 1)) AS t(i),
             unnest(range(1, {_UG_PIECE + 1})) AS u(m)
        WHERE m <= i AND length(word) <= {_UG_MAXLEN}
      ) e JOIN ugsc s USING (piece)
    ), uga0 AS (
      SELECT word, 0 AS pos, 0::BIGINT AS cost_u, -1 AS prev
      FROM ugwc WHERE length(word) <= {_UG_MAXLEN}
    ),"""
    + ",".join(_ug_dp_sql(i) for i in range(1, _UG_MAXLEN + 1))
    + f""",
    ugf0 AS (
      SELECT wc.word, wc.cnt, a.pos, a.prev
      FROM ugwc wc JOIN uga{_UG_MAXLEN} a
        ON a.word = wc.word AND a.pos = length(wc.word)
    ),"""
    + ",".join(_ug_bt_sql(k) for k in range(1, _UG_MAXLEN + 1))
    + """,
    uggs AS ("""
    + " UNION ALL ".join(
        f"SELECT * FROM ugg{k}" for k in range(1, _UG_MAXLEN + 1)
    )
    + f"""),
    ugseg AS MATERIALIZED (
      SELECT word, cnt, string_agg(piece, '|' ORDER BY pos) AS toks,
             count(*)::BIGINT AS n_pieces
      FROM uggs GROUP BY word, cnt
    ), ugsegc AS (
      SELECT s.word, s.cnt, s.toks, s.n_pieces, a.cost_u
      FROM ugseg s JOIN uga{_UG_MAXLEN} a
        ON a.word = s.word AND a.pos = length(s.word)
    )"""
)


def _ug_wd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blogparser_spark.dataops.lm import word_freq_dict

    return word_freq_dict(_docs(spark, sf_dir))


@_q(
    "unigram_seed_scores",
    f"""
    WITH {_UG_BASE}
    SELECT piece, cnt, logp_u FROM ugsc
    ORDER BY cnt DESC, piece ASC LIMIT 30
    """,
)
def unigram_seed_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram seed vocabulary (unigram.seed_pieces + piece_scores; Kudo
    2018 §3.2): weighted substring counts over the word dictionary with
    ln-ratio scores in integer micros; top 30 by (cnt desc, piece asc)."""
    from blogparser_spark.dataops import unigram as ug

    scores = ug.piece_scores(ug.seed_pieces(_ug_wd(spark, sf_dir), _UG_PIECE))
    return scores.orderBy(F.desc("cnt"), F.asc("piece")).limit(30)


@_q(
    "unigram_viterbi_segments",
    f"""
    WITH {_UG_BASE},{_UG_DP}
    SELECT word, cnt, toks, n_pieces, cost_u FROM ugsegc ORDER BY word
    """,
)
def unigram_viterbi_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Viterbi segmentation of the whole word dictionary under
    the seed scores (unigram.viterbi_segments): min-cost piece path per
    word, cost in exact integer micros — the oracle replays the DP with
    one unrolled CTE round per position, same tie-break."""
    from blogparser_spark.dataops import unigram as ug

    wd = _ug_wd(spark, sf_dir)
    scores = ug.piece_scores(ug.seed_pieces(wd, _UG_PIECE))
    return ug.viterbi_segments(
        wd, scores, _UG_PIECE, _UG_MAXLEN
    ).select("word", "cnt", "toks", "n_pieces", "cost_u").orderBy("word")


@_q(
    "unigram_em_scores",
    f"""
    WITH {_UG_BASE},{_UG_DP},
    uguc AS (
      SELECT piece, sum(cnt)::BIGINT AS cnt FROM uggs GROUP BY 1
    ), ugktop AS MATERIALIZED (
      SELECT piece, cnt FROM uguc ORDER BY cnt DESC, piece ASC LIMIT 16
    ), ugsx AS (
      SELECT s.piece, coalesce(u.cnt, 0)::BIGINT AS cnt
      FROM (SELECT piece FROM ugsc WHERE length(piece) = 1) s
      LEFT JOIN uguc u USING (piece)
      WHERE s.piece NOT IN (SELECT piece FROM ugktop)
    ), ugkept AS MATERIALIZED (
      SELECT * FROM ugktop UNION ALL SELECT * FROM ugsx
    )
    SELECT piece, cnt,
      floor((ln(cnt + 1) - ln((SELECT sum(cnt) + count(*) FROM ugkept)))
            * 1000000 + 0.5)::BIGINT AS logp_u
    FROM ugkept ORDER BY cnt DESC, piece ASC
    """,
)
def unigram_em_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM round (unigram.em_round): Viterbi-path piece counts,
    prune to top-16 (TakeOrdered) plus the single-character coverage set,
    add-one-smoothed re-scored vocabulary. The oracle replays the full
    E-step DP plus the prune/M-step arithmetic."""
    from blogparser_spark.dataops import unigram as ug

    wd = _ug_wd(spark, sf_dir)
    seed = ug.piece_scores(ug.seed_pieces(wd, _UG_PIECE))
    return ug.em_round(wd, seed, 16, _UG_PIECE, _UG_MAXLEN).orderBy(
        F.desc("cnt"), F.asc("piece")
    )


@_q(
    "unigram_fertility",
    f"""
    WITH {_UG_BASE},{_UG_DP}
    SELECT sum(cnt)::BIGINT AS n_words,
      sum(cnt * n_pieces)::BIGINT AS n_pieces,
      floor(sum(cnt * n_pieces)::DOUBLE / sum(cnt)::DOUBLE
            * 1000000 + 0.5)::BIGINT AS fertility_u
    FROM ugseg
    """,
)
def unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenizer-fertility audit under the seed unigram vocabulary
    (pieces per word occurrence, the lm.py BPE-fertility twin): one row,
    exact integer totals, ratio in micros."""
    from blogparser_spark.dataops import unigram as ug

    wd = _ug_wd(spark, sf_dir)
    scores = ug.piece_scores(ug.seed_pieces(wd, _UG_PIECE))
    segs = ug.viterbi_segments(wd, scores, _UG_PIECE, _UG_MAXLEN)
    return segs.agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_pieces")).cast("bigint").alias("n_pieces"),
        F.floor(
            F.sum(F.col("cnt") * F.col("n_pieces")).cast("double")
            / F.sum("cnt").cast("double")
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("fertility_u"),
    )


# ===========================================================================
# Multinomial Naive Bayes classifier family (dataops/nbayes.py)
# ===========================================================================

# token stream + fold + bucket, label spine, smoothed weights, priors —
# shared by the model and confusion oracles
_NB_BASE = """
    nbtk AS MATERIALIZED (
      SELECT doc_id AS id, lang AS label,
        (('0x' || substr(md5('nb:' || doc_id), 1, 8))::BIGINT % 5) AS fold,
        (('0x' || substr(md5(tok), 1, 8))::BIGINT % 32) AS bucket
      FROM (SELECT doc_id, lang,
              unnest(list_filter(string_split(lower(text), ' '),
                                 t -> t != '')) AS tok
            FROM documents)
    ), nblb AS (
      SELECT DISTINCT lang AS label FROM documents
    ), nbsp AS (
      SELECT label, unnest(range(0, 32))::BIGINT AS bucket FROM nblb
    ), nbc AS (
      SELECT label, bucket, count(*)::BIGINT AS cnt
      FROM nbtk WHERE fold != 0 GROUP BY 1, 2
    ), nbf AS MATERIALIZED (
      SELECT s.label, s.bucket, coalesce(c.cnt, 0)::BIGINT AS cnt
      FROM nbsp s LEFT JOIN nbc c USING (label, bucket)
    ), nbt AS (
      SELECT label, sum(cnt)::BIGINT AS ctot FROM nbf GROUP BY 1
    ), nbw AS MATERIALIZED (
      SELECT f.label, f.bucket, f.cnt,
        floor((ln(f.cnt + 1) - ln(t.ctot + 32)) * 1000000 + 0.5)::BIGINT
          AS llw_u
      FROM nbf f JOIN nbt t USING (label)
    ), nbdp AS (
      SELECT lang AS label,
        (('0x' || substr(md5('nb:' || doc_id), 1, 8))::BIGINT % 5) AS fold
      FROM documents
    ), nbdc AS (
      SELECT label, count(*)::BIGINT AS n_docs
      FROM nbdp WHERE fold != 0 GROUP BY 1
    ), nbdf AS MATERIALIZED (
      SELECT l.label, coalesce(c.n_docs, 0)::BIGINT AS n_docs
      FROM nblb l LEFT JOIN nbdc c USING (label)
    ), nbpr AS MATERIALIZED (
      SELECT label, n_docs,
        floor((ln(n_docs + 1)
               - ln((SELECT sum(n_docs) FROM nbdf)
                    + (SELECT count(*) FROM nblb)))
              * 1000000 + 0.5)::BIGINT AS prior_u
      FROM nbdf
    )"""


@_q(
    "nb_lang_model",
    f"""
    WITH {_NB_BASE}
    SELECT label, bucket, cnt, llw_u FROM nbw ORDER BY label, bucket
    """,
)
def nb_lang_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial-NB language-model weights (nbayes.nb_train; McCallum &
    Nigam 1998, the fastText-baseline classifier shape): add-one-smoothed
    per-(label, bucket) log-likelihoods in integer micros over the FULL
    label × bucket spine, trained on the md5 hash-split train folds."""
    from blogparser_spark.dataops import nbayes as nb

    weights, _ = nb.nb_train(_docs(spark, sf_dir))
    return weights.orderBy("label", "bucket")


@_q(
    "nb_lang_confusion",
    f"""
    WITH {_NB_BASE},
    nbsc AS (
      SELECT t.id, t.label, w.label AS cand, sum(w.llw_u)::BIGINT AS tok_u
      FROM nbtk t JOIN nbw w ON w.bucket = t.bucket
      WHERE t.fold = 0 GROUP BY 1, 2, 3
    ), nbsp2 AS (
      SELECT s.id, s.label, s.cand, s.tok_u + p.prior_u AS score_u
      FROM nbsc s JOIN nbpr p ON p.label = s.cand
    ), nbpred AS (
      SELECT id, label, cand AS pred FROM (
        SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY score_u DESC, cand ASC) AS rn
        FROM nbsp2
      ) WHERE rn = 1
    )
    SELECT label, pred, count(*)::BIGINT AS n_docs
    FROM nbpred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out confusion matrix of the NB language classifier
    (nbayes.nb_predict + nb_confusion): fold-0 docs scored against every
    class via one broadcast-dim join + partial agg, argmax as
    min(struct(-score, class)) — no window. Near-chance accuracy is
    EXPECTED on this corpus (text is label-independent by construction,
    the langid_confusion precedent); the graded property is that the
    distributed computation is exact."""
    from blogparser_spark.dataops import nbayes as nb

    docs = _docs(spark, sf_dir)
    weights, priors = nb.nb_train(docs)
    pred = nb.nb_predict(docs, weights, priors)
    return nb.nb_confusion(pred).orderBy("label", "pred")


@_q(
    "pq_rerank_topk",
    f"""
    WITH {_PQ_CB1},
    q AS (SELECT vec_id AS qid, sub, sv FROM sv WHERE vec_id < 5),
    lut AS (
      SELECT q.qid, c.sub, c.code, {_PQ_L2.format(a="q.sv", b="c.cw")} AS d
      FROM q JOIN cb1 c ON q.sub = c.sub
    ),
    adc AS (
      SELECT l.qid, cd.vec_id AS nid, round(sum(l.d), 6) AS adist
      FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
      WHERE cd.vec_id != l.qid
      GROUP BY l.qid, cd.vec_id
    ),
    short AS (
      SELECT qid, nid, adist FROM (
        SELECT qid, nid, adist,
          row_number() OVER (PARTITION BY qid
                             ORDER BY adist ASC, nid ASC) AS r
        FROM adc
      ) WHERE r <= 20
    ),
    ex AS (
      SELECT s.qid, s.nid, s.adist,
        round(list_dot_product(qe.v, qe.v) + list_dot_product(ne.v, ne.v)
              - 2*list_dot_product(qe.v, ne.v), 6) AS dist
      FROM short s
      JOIN e qe ON qe.vec_id = s.qid
      JOIN e ne ON ne.vec_id = s.nid
    )
    SELECT qid, rank, nid, dist, adist FROM (
      SELECT qid, nid, dist, adist,
        row_number() OVER (PARTITION BY qid
                           ORDER BY dist ASC, nid ASC) AS rank
      FROM ex
    ) WHERE rank <= 5
    """,
)
def pq_rerank_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving (similarity.pq_rerank_topk; Jégou et al. 2011
    §V / FAISS IndexRefineFlat): ADC shortlist of 4k candidates, exact
    squared-L2 re-rank of the shortlist only — one broadcast hash join
    fetches the shortlist vectors, the corpus never shuffles. The oracle
    replays both stages including the shortlist cut."""
    emb = _emb(spark, sf_dir)
    cb = similarity.pq_train(emb, m=4, ksub=16, iters=1)
    return similarity.pq_rerank_topk(
        emb, cb, n_queries=5, k=5, shortlist_mult=4
    )


@_q(
    "tablelog_bloom_point_scan",
    """
    SELECT count(*)::BIGINT AS cnt,
      min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    WHERE (event_id * 2654435761) % 1000000 = (123 * 2654435761) % 1000000
    """,
)
def tablelog_bloom_point_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest bloom-filter point lookup (tablelog append bloom_cols —
    Iceberg's parquet/puffin bloom analog): a Knuth-hash-scattered key
    makes every file's [min,max] overlap, so footer stats prune nothing —
    the per-file bloom still skips all files that definitely lack the
    probed value (skip counts pinned in tests/test_tablelog.py). The scan
    returns the exact matching rows; the oracle recomputes the filter
    directly on the events table."""
    from blogparser_spark.operators import tablelog as tl

    t = _tablelog_tmp("tablelog_bloom_") + "/t"
    ev = _events(spark, sf_dir).select(
        "event_id",
        ((F.col("event_id") * F.lit(2654435761)) % 1000000).alias("k"),
    )
    tl.append(
        spark, t, ev.repartition(8), stats_cols=("k",), bloom_cols=("k",)
    )
    got = tl.scan_where(spark, t, {"k": ("=", (123 * 2654435761) % 1000000)})
    return got.agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@_q(
    "unigram_encode_docs",
    f"""
    WITH {_UG_BASE},{_UG_DP},
    ugtok AS (
      SELECT doc_id,
        unnest(list_filter(string_split(lower(text), ' '),
                           x -> x != '')) AS word
      FROM documents
    )
    SELECT t.doc_id,
      sum(s.n_pieces)::BIGINT AS n_pieces,
      count(*)::BIGINT AS n_words,
      floor(sum(s.n_pieces)::DOUBLE / count(*)::DOUBLE
            * 1000000 + 0.5)::BIGINT AS fertility_u
    FROM ugtok t JOIN ugseg s USING (word)
    GROUP BY t.doc_id
    """,
)
def unigram_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encode under the seed unigram vocabulary: the per-word
    Viterbi segmentation (a dict-sized table) joins back BROADCAST onto
    the token stream — the corpus is touched exactly once and never
    shuffles on text; per-doc piece totals and fertility come from one
    partial agg keyed on the doc. This is the unigram twin of
    lm.bpe_encode's dictionary-join serving shape."""
    from blogparser_spark.dataops import unigram as ug

    wd = _ug_wd(spark, sf_dir)
    scores = ug.piece_scores(ug.seed_pieces(wd, _UG_PIECE))
    segs = ug.viterbi_segments(wd, scores, _UG_PIECE, _UG_MAXLEN).select(
        "word", "n_pieces"
    )
    docs = _docs(spark, sf_dir)
    from blogparser_spark.dataops.textstats import tokens as _toks

    stream = docs.select(
        "doc_id", F.explode(_toks(F.lower(F.col("text")))).alias("word")
    )
    return (
        stream.join(F.broadcast(segs), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("bigint").alias("n_pieces"),
            F.count("*").cast("bigint").alias("n_words"),
            F.floor(
                F.sum("n_pieces").cast("double")
                / F.count("*").cast("double")
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("fertility_u"),
        )
    )


@_q(
    "l_diversity_audit",
    """
    WITH g AS (
      SELECT event_type, user_id % 3 AS region,
        count(*)::BIGINT AS n_rows,
        count(DISTINCT user_id % 11)::BIGINT AS n_sensitive
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
      count(*)::BIGINT AS n_groups,
      sum(CASE WHEN n_sensitive < 5 THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
      sum(CASE WHEN n_sensitive < 5 THEN n_rows ELSE 0 END)::BIGINT AS n_rows_at_risk,
      sum(n_rows)::BIGINT AS n_rows,
      min(n_sensitive)::BIGINT AS min_diversity,
      round(sum(CASE WHEN n_sensitive < 5 THEN n_rows ELSE 0 END)
            / greatest(sum(n_rows), 1), 6) AS risky_row_frac
    FROM g GROUP BY event_type
    """,
)
def l_diversity_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity privacy gate (profile.l_diversity_audit;
    Machanavajjhala 2007) per event_type release slice: QIDs =
    (event_type, synthetic region), sensitive = a derived user attribute;
    the audit reports groups whose sensitive values are too homogeneous.
    Complements k_anonymity_audit — the two standard pre-release checks."""
    from blogparser_spark.dataops.profile import l_diversity_audit

    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("user_id") % 3).alias("region"),
        (F.col("user_id") % 11).alias("sensitive"),
    )
    return l_diversity_audit(
        ev, ["event_type", "region"], "sensitive", l_min=5, by="event_type"
    )


@_q(
    "domain_mixture_reweight",
    rf"""
    WITH {_lm_ctes(", source")},
    ds AS (
      SELECT doc_id, round(avg(lp), 6) AS avg_logprob
      FROM lp GROUP BY 1
    ), dd AS MATERIALIZED (
      SELECT t.source AS domain, ds.avg_logprob
      FROM ds JOIN (SELECT DISTINCT doc_id, source FROM t) t USING (doc_id)
    ), dom AS MATERIALIZED (
      SELECT domain, count(*)::BIGINT AS n_docs,
             round(avg(avg_logprob), 6) AS dom_logprob
      FROM dd GROUP BY 1
    ), corp AS (
      SELECT round(avg(avg_logprob), 6) AS corp_logprob FROM dd
    ), w AS MATERIALIZED (
      SELECT domain, n_docs, dom_logprob,
        round(corp_logprob - dom_logprob, 6) AS excess,
        round(exp(1 * round(corp_logprob - dom_logprob, 6)), 6) AS w_raw
      FROM dom CROSS JOIN corp
    ), wt AS (SELECT round(sum(w_raw), 6) AS w_tot FROM w)
    SELECT domain, n_docs, dom_logprob, excess,
      round(w_raw / w_tot, 6) AS weight,
      floor(1000000 * round(w_raw / w_tot, 6) + 0.5)::BIGINT AS planned_tokens
    FROM w CROSS JOIN wt
    """,
)
def domain_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored domain mixture plan (lm.domain_excess_reweight;
    Xie et al. 2023 collapsed to one deterministic pass): per-source
    excess bigram-LM difficulty vs the corpus mean becomes an
    exponential-family weight and a token allocation under a fixed
    budget. LM tables vocabulary-sized, domain rollup one partial agg,
    corpus mean and normalizer broadcast 1-row dims."""
    from blogparser_spark.dataops.lm import domain_excess_reweight

    return domain_excess_reweight(
        _docs(spark, sf_dir), eta=1, budget_tokens=1_000_000
    )


@_q(
    "tablelog_routed_conv_lookup",
    r"""
    WITH t AS (
      SELECT doc_id, source, doc_id % 4 AS v,
        ['user','assistant','system','tool'][(doc_id % 4)::INT + 1] AS role,
        row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS turn_idx,
        strlen(trim(regexp_replace(regexp_replace(regexp_replace(text,
          '\r\n?', chr(10), 'g'), '(?m)^[ \t\f\v]+|[ \t\f\v]+$', '', 'g'),
          '\n{2,}', chr(10), 'g'))) AS bb
      FROM documents
    )
    SELECT turn_idx, role,
      CASE WHEN v >= 2 THEN 'no_title'
           WHEN bb >= 100 THEN 'ok'
           ELSE 'no_content' END AS parse_status,
      CASE WHEN v < 2 THEN 'Doc ' || doc_id ELSE NULL END AS title,
      CASE WHEN v < 2 AND bb >= 100 THEN bb ELSE NULL END AS body_bytes
    FROM t WHERE source = 'src7' ORDER BY turn_idx
    """,
)
def tablelog_routed_conv_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation point-lookup against the ROUTED lakehouse table — the
    serving path of the flagship chain: enriched turns fan into the
    snapshot-log table with per-file conv_id blooms + stats
    (route_commit_tablelog stats_cols/bloom_cols), then one conversation
    is fetched back with scan_where, which consults manifests before
    opening any file. The oracle independently re-derives that conv's
    per-turn parse results (title, status, cleaned body bytes) from the
    documents table — per-turn parity through the full
    parse→enrich→route→commit→point-read loop, the north rule's per-turn
    text-equality criterion exercised at the storage boundary."""
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.parse import parse_stage
    from blogparser_spark.operators.route import route_commit_tablelog

    t = _tablelog_tmp("tablelog_convlk_") + "/t"
    enriched = enrich(
        parse_stage(documents_as_transcripts(spark, sf_dir)), spark
    )
    route_commit_tablelog(
        enriched,
        t,
        marker="conv-lookup",
        stats_cols=("conv_id",),
        bloom_cols=("conv_id",),
    )
    conv = tl.scan_where(spark, t, {"conv_id": ("=", "src7")})
    return conv.select(
        "turn_idx",
        "role",
        "parse_status",
        "title",
        F.when(
            F.col("parse_status") == "ok", F.octet_length("body")
        ).alias("body_bytes"),
    ).orderBy("turn_idx")
