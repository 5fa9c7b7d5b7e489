"""Time-series analytics over the event log: cohort retention, Markov
transition matrices, and calendar gap-fill with last-observation-carried-
forward — the product-analytics trio every log pipeline grows.

The reference has no time-series layer (its only temporal logic is date
parsing, parser/parser.go:120-140); these extend the aggregate stage the
same way sessionize/funnel did.

Scale notes (100 TB):
- cohort_retention shuffles twice on user_id (min-ts agg, then the join) —
  the same key, so AQE/co-partitioning reuses the layout; the final
  (cohort_week, offset) grid is tiny. No window sort over the raw log.
- event_transitions is ONE window sort per user (lead), then a partial
  hash agg on a |types|^2 grid. Hot users are bounded by the per-user
  event count, not the corpus.
- gap_fill_daily aggregates to per-(type, day) BEFORE building the spine,
  so the dense calendar join touches |types| x |days| rows, never the raw
  log; the spine itself is a broadcast (types x bounded day range).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by first-seen week,
    counted distinct per (cohort_week, week_offset).

    Monday-start weeks (Spark and DuckDB date_trunc('week') agree).
    """
    cohorts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("active_week")
    )
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user first-order Markov transitions: (src_type -> dst_type)
    counts and conditional probability p(dst | src).

    Ordering is (ts, event_id) so simultaneous events are deterministic.
    The terminal event of each user has no successor and is dropped.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(w).alias("dst_type"),
    ).where(F.col("dst_type").isNotNull())
    counts = pairs.groupBy("src_type", "dst_type").agg(
        F.count("*").alias("n_transitions")
    )
    total_w = Window.partitionBy("src_type")
    return counts.select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(total_w), 6
        ).alias("p_transition"),
    )


def gap_fill_daily(events: DataFrame) -> DataFrame:
    """Dense per-(event_type, day) calendar: zero-filled event counts,
    zero-filled value sums, a LOCF (last observation carried forward)
    daily-mean value, and a running cumulative count.

    The spine is sequence(min_day, max_day) exploded per event_type —
    built from two tiny aggregates, then left-joined against the already
    aggregated daily grid (never the raw log).
    """
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("value_sum"),
        F.avg("value").alias("value_avg"),
    )
    bounds = events.agg(
        F.to_date(F.min("ts")).alias("min_day"),
        F.to_date(F.max("ts")).alias("max_day"),
    )
    types = events.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("min_day", "max_day", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w_locf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = spine.join(daily, ["event_type", "day"], "left")
    return filled.select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(F.coalesce("value_sum", F.lit(0.0)), 6).alias("value_sum"),
        F.round(F.last("value_avg", ignorenulls=True).over(w_locf), 6).alias(
            "locf_value_avg"
        ),
        F.sum(F.coalesce("n_events", F.lit(0))).over(w_locf).alias("cum_events"),
    )


def interarrival_quantiles(events: DataFrame) -> DataFrame:
    """Per-event-type inter-arrival gap quantiles, computed on INTEGER
    microseconds (unix_micros) so the values are engine-exact. Gaps are
    per-user ((ts, event_id)-ordered lead), so the window partitions are
    bounded by user history; the quantile is the exact interpolated
    percentile for oracle parity — at 100 TB swap approx_percentile, same
    groupBy shape."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (
            F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    g = gaps.withColumn("gap_us", F.col("gap_us").cast("double"))
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 6).alias("p50_us"),
        F.round(F.percentile("gap_us", F.lit(0.9)), 6).alias("p90_us"),
        F.round(F.max("gap_us"), 6).alias("max_us"),
    )


def daily_volume_trend(events: DataFrame) -> DataFrame:
    """Per-event-type linear trend of daily volume: least-squares slope /
    intercept / r² of n_events over the day index.

    Computed from EXACT integer moments (Σx, Σy, Σxy, Σx², Σy² as BIGINT,
    x = days since 1970-01-01, y = daily count) rather than the built-in
    regr_slope/regr_r2 aggregates: the built-ins accumulate floating-point
    co-moments whose value depends on partition merge order, so a
    round(…, 6) could flip between runs/engines; integer sums are
    order-independent and the final division is one deterministic double
    op. Shape: one partial agg to the |types|×|days| grid, then a partial
    agg over it — no window, no shuffle beyond the two groupBys."""
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("y")
    )
    xy = daily.select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01")).cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    sums = xy.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_days").cast("double")
    cov_n2 = n * F.col("sxy") - F.col("sx") * F.col("sy")  # n² · cov
    varx_n2 = n * F.col("sxx") - F.col("sx") * F.col("sx")  # n² · var(x)
    vary_n2 = n * F.col("syy") - F.col("sy") * F.col("sy")  # n² · var(y)
    slope = cov_n2 / varx_n2
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (cov_n2 * cov_n2) / (varx_n2 * vary_n2)
    # degenerate fits: a single day (var(x)=0) has no slope; constant y
    # (var(y)=0) makes r² a 0/0 — NULL beats NaN/Infinity cross-engine
    has_x = varx_n2 > 0
    return sums.select(
        "event_type",
        "n_days",
        F.round(F.when(has_x, slope), 6).alias("slope_per_day"),
        F.round(F.when(has_x, intercept), 6).alias("intercept"),
        F.round(F.when(has_x & (vary_n2 > 0), r2), 6).alias("r2"),
    )


def event_trigram_topk(events: DataFrame, k: int = 20) -> DataFrame:
    """Sequence mining: the k most frequent per-user event-type trigrams
    (consecutive by (ts, event_id) order). One window sort per user (the
    same single shuffle every per-user sequence op here pays), partial agg
    onto a ≤|types|³ grid, then a bounded global top-k
    (TakeOrderedAndProject — no full sort). Ties at the cut break on the
    trigram string so the LIMIT is engine-deterministic."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    counts = tri.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("trigram")
    ).agg(F.count("*").alias("n_occurrences"))
    return counts.orderBy(
        F.desc("n_occurrences"), F.asc("trigram")
    ).limit(k)


def daily_anomaly_flags(events: DataFrame, z_threshold: float = 2.0) -> DataFrame:
    """Volume-anomaly days: per-(event_type, day) counts z-scored against
    the type's own mean/stddev_pop (population — engine-exact formula),
    flagged at |z| > threshold. Two passes over a |types| x |days| grid;
    the raw log is aggregated once. A constant series (stddev 0 — e.g. a
    type seen on one day) has no anomalies by definition: its z is pinned
    to 0 rather than dividing by zero (ANSI sessions throw; non-ANSI
    yields NaN, and NaN > t is TRUE in Spark — every day would flag)."""
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy("event_type")
    sd = F.stddev_pop("n_events").over(w)
    scored = daily.select(
        "event_type",
        "day",
        "n_events",
        F.when(
            sd > 0,
            F.round((F.col("n_events") - F.avg("n_events").over(w)) / sd, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("z_score"),
    )
    return scored.where(F.abs(F.col("z_score")) > z_threshold)


def decayed_engagement(
    events: DataFrame, half_life_days: float = 7.0
) -> DataFrame:
    """Per-user exponentially time-decayed engagement score: each event
    contributes value * 2^(-age_days / half_life), aged against the
    corpus-wide max timestamp (one broadcast 1-row agg, so every user is
    scored against the same reference instant).

    The decay makes recency-weighted activity a PLAIN partial-aggregatable
    sum — no window sort, no per-user sequence state: the classic trick of
    rewriting "EMA over a stream" as "sum of independently-decayed terms"
    (decayed sums per Cormode et al., forward decay). Each term is
    quantized to integer micro-units (round(term*1e6) as BIGINT) BEFORE
    the sum, so the aggregate is order-independent across partitions and
    engines — a raw double sum could flip its round(6) between runs
    (the same exact-integer-moments discipline as daily_volume_trend).

    Scale (100 TB): one scan, one broadcast scalar, one groupBy(user_id)
    partial agg. Ages are exact integer microseconds; the only float op
    per row is one pow2 + one multiply inside codegen."""
    ref = events.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("ref_us")
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    age_days = (F.col("ref_us") - us).cast("double") / F.lit(86400e6)
    term = F.col("value") * F.pow(F.lit(2.0), -age_days / F.lit(half_life_days))
    scored = events.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.round(F.col("value") * F.lit(100), 0).cast("long").alias("value_c"),
        F.round(term * F.lit(1e6), 0).cast("long").alias("term_e6"),
    )
    return scored.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value_c") / F.lit(100), 6).alias("raw_value"),
        F.round(F.sum("term_e6") / F.lit(1e6), 6).alias("decayed_value"),
    )


def attribution_credits(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Multi-touch conversion attribution: (model, touch_type, credit)
    for the three standard models — first_touch (the
    earliest touch before each conversion takes the full 1.0), last_touch
    (the latest takes it), linear (the conversion's 1.0 splits evenly over
    its touches). Conversions with no preceding touch credit the literal
    '(direct)' type. Every conversion distributes exactly 1.0 in every
    model, so per-model credit sums equal the attributed-conversion count
    (the invariant the tests pin).

    Touch window = events after the user's previous conversion up to the
    conversion itself. Group assignment is ONE cumulative-sum window over
    the (user, ts, id) sort — conversion rows close their own group
    (cum-inclusive minus self), so touches and their conversion share a
    group id without a range join. The per-group reduce (count + min/max
    struct for first/last) is a partial-aggregatable groupBy on
    (user, group); hot users are bounded by their own event counts, never
    the corpus. Linear credits are 1/n floats summed under round-6 (the
    categorical_entropy convention)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    is_conv = (F.col(type_col) == conversion_type).cast("long")
    df = events.select(user_col, ts_col, id_col, type_col).withColumn(
        "_grp", F.sum(is_conv).over(w) - is_conv
    )
    touches = df.filter(F.col(type_col) != conversion_type)
    conv_grps = df.filter(F.col(type_col) == conversion_type).select(
        user_col, "_grp"
    )
    t = touches.join(conv_grps, [user_col, "_grp"])
    g = t.groupBy(user_col, "_grp").agg(
        F.count("*").alias("n"),
        F.min(F.struct(ts_col, id_col, type_col)).alias("first"),
        F.max(F.struct(ts_col, id_col, type_col)).alias("last"),
    )
    first = g.groupBy(F.col(f"first.{type_col}").alias("touch_type")).agg(
        F.count("*").cast("double").alias("credit")
    )
    last = g.groupBy(F.col(f"last.{type_col}").alias("touch_type")).agg(
        F.count("*").cast("double").alias("credit")
    )
    linear = (
        t.join(
            g.select(user_col, "_grp", "n"), [user_col, "_grp"]
        )
        .groupBy(F.col(type_col).alias("touch_type"))
        .agg(F.round(F.sum(F.lit(1.0) / F.col("n")), 6).alias("credit"))
    )
    direct = (
        conv_grps.join(
            touches.select(user_col, "_grp").distinct(),
            [user_col, "_grp"],
            "left_anti",
        )
        .agg(F.count("*").alias("n_direct"))
        .filter(F.col("n_direct") > 0)
        .select(
            F.lit("(direct)").alias("touch_type"),
            F.col("n_direct").cast("double").alias("credit"),
        )
    )
    out = None
    for model, part in (
        ("first_touch", first.unionByName(direct)),
        ("last_touch", last.unionByName(direct)),
        ("linear", linear.unionByName(direct)),
    ):
        tagged = part.select(
            F.lit(model).alias("model"), "touch_type", "credit"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


def rfm_scores(events: DataFrame, n_bands: int = 5) -> DataFrame:
    """RFM customer scoring: per user (recency_us, frequency, monetary,
    r_score, f_score, m_score, rfm_segment) with each metric banded into
    n_bands equi-depth buckets. Higher is better on every score: the most
    recent / most frequent / highest-spend users read n_bands.

    Scale shape: the standard formulation is ntile(n) over the WHOLE user
    table — a global window, i.e. one reducer sorting every user. Here
    band boundaries come from skew.equi_depth_bounds_global over the
    per-user aggregate — the histogram + range-shard form whose only
    partition-less window runs over one row per shard, so even the
    boundary computation never funnels the user table through one
    partition (at 10^9+ users with approximate needs, swap in
    a mergeable quantile sketch) — then broadcast back as an (n_bands-1)-row
    cross join, so scoring is an embarrassingly parallel comparison
    count. Ties at a boundary band by VALUE (equal values get equal
    scores) — the honest answer for low-cardinality metrics like
    frequency, where true ntile would split equal users arbitrarily.
    Monetary is round-6 BEFORE banding so float sum order can never flip
    a boundary comparison across engines."""
    from blogparser_spark.operators.skew import equi_depth_bounds_global

    per = events.groupBy("user_id").agg(
        F.max(F.expr("unix_micros(cast(ts as timestamp))")).alias("last_us"),
        F.count("*").alias("frequency"),
        F.round(F.sum("value"), 6).alias("monetary"),
    )
    anchor = events.agg(
        F.max(F.expr("unix_micros(cast(ts as timestamp))")).alias("_a")
    )
    met = per.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        (F.col("_a") - F.col("last_us")).alias("recency_us"),
        "frequency",
        "monetary",
    )
    def band(col: str, invert: bool) -> DataFrame:
        bs = equi_depth_bounds_global(met, col, n_buckets=n_bands).select(
            F.col("boundary").alias("_b")
        )
        cnt = F.sum((F.col("_b") < F.col(col)).cast("int"))
        score = (
            F.lit(n_bands) - cnt if invert else F.lit(1) + cnt
        )
        return (
            met.select("user_id", col)
            .crossJoin(F.broadcast(bs))
            .groupBy("user_id")
            .agg(score.cast("int").alias(f"{col[0]}_score"))
        )
    out = (
        met.join(band("recency_us", invert=True), "user_id")
        .join(band("frequency", invert=False), "user_id")
        .join(band("monetary", invert=False), "user_id")
    )
    return out.withColumn(
        "rfm_segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def missing_daily_ranges(
    df: DataFrame, ts_col: str = "ts", group_cols: list[str] | None = None
) -> DataFrame:
    """Backfill planner: contiguous runs of ABSENT days between the first
    and last observed day, per group — (group..., gap_start_day,
    gap_end_day, n_missing) in epoch-day units. The question an ingest
    operator actually asks ("which date ranges do I re-run?"), answered
    as ranges rather than a dense calendar of holes.

    Shape: distinct observed days (partial-agg dedup; |days| rows per
    group, never the raw log), one lag window over that tiny day list,
    emit a row only where the jump exceeds one day. Contrast
    gap_fill_daily, which DENSIFIES values over the calendar; this emits
    only the holes, so a year with one missing week is 1 row."""
    gc = list(group_cols or [])
    day = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 86400000000")
    days = df.select(*gc, day.alias("day")).distinct()
    w = Window.partitionBy(*[F.col(c) for c in gc]).orderBy("day")
    gaps = days.withColumn("_prev", F.lag("day").over(w)).filter(
        F.col("_prev").isNotNull() & (F.col("day") > F.col("_prev") + 1)
    )
    return gaps.select(
        *gc,
        (F.col("_prev") + 1).alias("gap_start_day"),
        (F.col("day") - 1).alias("gap_end_day"),
        (F.col("day") - F.col("_prev") - 1).alias("n_missing"),
    )
