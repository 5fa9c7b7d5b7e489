"""Aggregate: per-sink counts, per-conv turn stats, summary-length histograms.

The reference's only aggregations are BM25's tf/df/avg-sentence-length
(parser/summary.go:43-85,123-127); the pipeline-level aggregates here are the
north-star trio. All are partial-aggregatable hash aggregations (map-side
combine happens automatically); the per-conv window is ordered by
(conv_id, turn_idx) for stable turn ordering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SUMMARY_HIST_BUCKET = 50


def sink_counts(df: DataFrame) -> DataFrame:
    """groupBy(sink keys).count() — exact parity with the oracle recount."""
    return (
        df.groupBy("channel", "tool_category", "parse_status")
        .agg(F.count("*").alias("n"))
    )


def conv_stats(df: DataFrame) -> DataFrame:
    """Per-conversation stats: turn counts, max turn, parse-ok ratio,
    distinct roles, wall-clock span."""
    return df.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.sum(F.when(F.col("parse_status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.countDistinct("role").alias("n_roles"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "span_seconds"
        ),
    )


def turn_features(df: DataFrame) -> DataFrame:
    """Window features over stable (conv_id, turn_idx) order: dense turn
    number, previous role, inter-turn gap seconds. The per-conv window is the
    scale-sensitive shuffle: keys are conv_id (hot convs exist), so AQE skew
    handling stays on and the window never includes the text payload."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.withColumn("turn_no", F.row_number().over(w))
        .withColumn("prev_role", F.lag("role").over(w))
        .withColumn(
            "gap_seconds",
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)),
        )
    )


def summary_hist(df: DataFrame, bucket: int = SUMMARY_HIST_BUCKET) -> DataFrame:
    """Histogram of summary lengths (chars), bucket width 50."""
    return (
        df.filter(F.col("summary").isNotNull())
        .groupBy(
            (F.floor(F.length("summary") / bucket) * bucket).alias("bucket")
        )
        .agg(F.count("*").alias("n"))
    )


def funnel_steps(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel progression: for each user, the earliest time each
    step was completed, where step i must occur STRICTLY AFTER that user's
    step i-1 completion (the sequential-pattern semantics of funnel
    analytics — a click logged before the first view does not convert).
    Returns (user, step_idx, step, step_ts); a user appears through their
    deepest reached step only.

    Shape: per step, one type-filtered min-agg over a 3-column projection
    plus one user-keyed equi-join against the previous step's (user, ts) —
    len(steps) linear passes, every agg partial/map-side combined, every
    join key the user id. No window over the full event history and no
    per-user event collection, so a hot user costs one comparison per
    event, not a sort — the 10^12-event-safe shape."""
    base = df.select(user_col, type_col, ts_col)
    prev: DataFrame | None = None
    outs = []
    for i, s in enumerate(steps):
        e = base.filter(F.col(type_col) == s)
        if prev is None:
            cur = e.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            cur = (
                e.join(
                    prev.select(user_col, F.col("_t").alias("_prev")), user_col
                )
                .filter(F.col(ts_col) > F.col("_prev"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        outs.append(
            cur.select(
                F.col(user_col),
                F.lit(i).alias("step_idx"),
                F.lit(s).alias("step"),
                F.col("_t").alias("step_ts"),
            )
        )
        prev = cur
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def funnel_counts(
    df: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(step_idx, step, n_users) rollup of funnel_steps — the per-stage
    conversion counts. Every declared step is reported, including steps no
    user reached (n_users = 0): a funnel readout with silently missing
    stages misreads as a narrower funnel, and the SQL oracle counts empty
    stages as zero rows too."""
    reached = (
        funnel_steps(df, steps, user_col, ts_col, type_col)
        .groupBy("step_idx", "step")
        .agg(F.count("*").alias("_n"))
    )
    frame = df.sparkSession.createDataFrame(
        [(i, s) for i, s in enumerate(steps)], "step_idx int, step string"
    )
    return frame.join(reached, ["step_idx", "step"], "left").select(
        "step_idx",
        "step",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_users"),
    )


def additive_state(
    df: DataFrame, key_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Mergeable additive aggregate state per key: (key_cols..., cnt,
    vsum, vmin, vmax) with the value decimal-summed (exact — float sums
    would make merge order observable). This is the 'partial aggregate as
    a table' pattern: a 10^12-row log is folded slice by slice and the
    stored state is merged, never the raw rows rescanned."""
    return df.groupBy(*key_cols).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("vsum"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def merge_additive_states(
    *states: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Fold additive states: counts and decimal sums add, min/max reduce —
    merge(state(A), state(B)) == state(A ∪ B) EXACTLY (the property the
    tests pin), so checkpoint slices and stream micro-batches roll up
    without touching raw history. avg derives at read time as
    vsum / cnt."""
    out = states[0]
    for other in states[1:]:
        out = out.unionByName(other)
    return out.groupBy(*key_cols).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").cast("decimal(18,2)").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def retractable_state(
    df: DataFrame, key_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Retraction-maintainable aggregate state per key: (cnt, vsum) only —
    the DISTRIBUTIVE aggregates deletes can decrement. min/max are
    deliberately absent: a deleted extremum cannot be repaired without
    raw history (use additive_state for insert-only feeds). Decimal sums
    so maintenance order is never observable."""
    return df.groupBy(*key_cols).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("vsum"),
    )


def extremum_ledger(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 8,
    largest: bool = True,
) -> DataFrame:
    """Retraction-capable extremum state: per key, the k most extreme
    DISTINCT values with their multiplicities — the standard candidate
    ledger that makes min/max maintainable under deletes (which
    retractable_state documents as impossible for bare aggregates). A
    delete of the current extremum promotes the next candidate; only
    when the ledger exhausts does the view need a recompute.

    Schema: (key..., value, cnt, floor). `floor` is the most extreme
    value ever DROPPED by truncation (NULL if the ledger never
    truncated). Soundness invariant served on read (extremum_serve):
    every untracked live value is bounded by `floor`, so the ledger
    extremum is trustworthy iff it is on the extreme side of floor.

    Shape: one (key, value) partial hash agg + one per-key window over
    DISTINCT values (not raw rows) — the one-time build cost; refreshes
    never rescan raw history (refresh_extremum_ledger)."""
    vorder = F.col(value_col).desc() if largest else F.col(value_col).asc()
    g = df.groupBy(*key_cols, value_col).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy(*key_cols).orderBy(vorder)
    ranked = g.withColumn("_r", F.row_number().over(w))
    fagg = F.max(value_col) if largest else F.min(value_col)
    floors = (
        ranked.filter(F.col("_r") > k)
        .groupBy(*key_cols)
        .agg(fagg.alias("floor"))
    )
    return ranked.filter(F.col("_r") <= k).drop("_r").join(
        floors, list(key_cols), "left"
    )


def refresh_extremum_ledger(
    state: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 8,
    largest: bool = True,
    op_col: str = "op",
) -> DataFrame:
    """Fold a retraction delta (op ∈ {'I','D'}) into an extremum ledger
    without touching raw history: signed per-(key, value) counts merge
    with the ledger, exact cancels vanish, deletes of UNTRACKED values
    (bounded by floor — mass the ledger consciously dropped) are
    discarded, while a negative count on the tracked side of floor stays
    visible as cnt < 0 (feed/view disagreement, the
    apply_retractable_delta convention). The merged ledger re-truncates
    to the k most extreme values and the floor advances over anything
    dropped now; a key whose ledger empties while floor says untracked
    mass may remain keeps a (value=NULL, cnt=0) marker row so the serve
    step flags it needs-recompute instead of silently serving nothing.

    Shape: one partial agg over the delta + one merge agg + one per-key
    window over ≤ k + |delta values| rows per key."""
    kc = list(key_cols)
    sign = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    dsigned = delta.groupBy(*kc, value_col).agg(
        F.sum(sign).cast("bigint").alias("cnt")
    )
    value_type = dict(state.dtypes)[value_col]
    old_floor = state.groupBy(*kc).agg(F.max("floor").alias("floor"))
    merged = (
        state.filter(F.col("cnt") != 0)  # drop empty-ledger marker rows
        .select(*kc, value_col, "cnt")
        .unionByName(dsigned)
        .groupBy(*kc, value_col)
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .join(old_floor, kc, "left")
    )
    untracked = (
        (F.col(value_col) <= F.col("floor"))
        if largest
        else (F.col(value_col) >= F.col("floor"))
    )
    merged = merged.filter(F.col("cnt") != 0).filter(
        ~((F.col("cnt") < 0) & F.coalesce(untracked, F.lit(False)))
    )
    vorder = F.col(value_col).desc() if largest else F.col(value_col).asc()
    ranked = merged.withColumn(
        "_r", F.row_number().over(Window.partitionBy(*kc).orderBy(vorder))
    )
    fagg = F.max(value_col) if largest else F.min(value_col)
    fmerge = F.greatest if largest else F.least
    dropped = (
        ranked.filter(F.col("_r") > k)
        .groupBy(*kc)
        .agg(fagg.alias("_dropped"))
    )
    kept = (
        ranked.filter(F.col("_r") <= k)
        .drop("_r", "floor")
        .join(old_floor, kc, "left")
        .join(dropped, kc, "left")
        .select(
            *kc,
            value_col,
            "cnt",
            fmerge(
                F.coalesce(F.col("floor"), F.col("_dropped")),
                F.coalesce(F.col("_dropped"), F.col("floor")),
            ).alias("floor"),
        )
    )
    exhausted = (
        old_floor.filter(F.col("floor").isNotNull())
        .join(kept.select(*kc).distinct(), kc, "left_anti")
        .select(
            *kc,
            F.lit(None).cast(value_type).alias(value_col),
            F.lit(0).cast("bigint").alias("cnt"),
            "floor",
        )
    )
    return kept.unionByName(exhausted)


def extremum_serve(
    state: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    largest: bool = True,
) -> DataFrame:
    """Read the extremum off a ledger: (key..., extremum, needs_recompute).
    needs_recompute is true when the ledger is empty but floor says
    untracked mass may remain, or when every tracked value sits on the
    wrong side of floor (inserts refilled the ledger below values that
    truncation dropped) — the two cases where serving the ledger extremum
    could be stale. Flagging instead of guessing is the contract."""
    fagg = F.max(value_col) if largest else F.min(value_col)
    g = state.groupBy(*key_cols).agg(
        fagg.alias("extremum"), F.max("floor").alias("floor")
    )
    unsound = (
        (F.col("extremum") < F.col("floor"))
        if largest
        else (F.col("extremum") > F.col("floor"))
    )
    return g.select(
        *key_cols,
        "extremum",
        (
            F.col("extremum").isNull()
            | F.coalesce(unsound, F.lit(False))
        ).alias("needs_recompute"),
    )


def repair_extremum_ledger(
    state: DataFrame,
    base: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 8,
    largest: bool = True,
) -> DataFrame:
    """Close the IVM lifecycle: rebuild the ledger ONLY for keys whose
    serve flagged needs_recompute (exhausted, or refilled on the wrong
    side of floor), from the current base relation — every healthy key's
    state passes through untouched, so the recompute cost is proportional
    to the damaged key set, not the view. The rebuilt keys get a fresh
    floor (NULL unless they re-truncate), clearing the flag.

    Shape: one anti-join to keep healthy state + one semi-join to scope
    the base scan to flagged keys before the (key, value) agg — at 100 TB
    the semi-join prunes the rebuild to the damaged keys' partitions."""
    kc = list(key_cols)
    flagged = (
        extremum_serve(state, kc, value_col, largest)
        .filter(F.col("needs_recompute"))
        .select(*kc)
    )
    healthy = state.join(flagged, kc, "left_anti")
    rebuilt = extremum_ledger(
        base.join(flagged, kc, "left_semi"), kc, value_col, k, largest
    )
    return healthy.unionByName(rebuilt)


def apply_retractable_delta(
    state: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Incremental materialized-view maintenance with retractions: delta
    rows carry op ∈ {'I', 'D'}; an insert contributes (+1, +v), a delete
    (−1, −v). The refreshed state EXACTLY equals recomputing
    retractable_state over (base ∪ inserts) − deletes — the algebra a
    10^12-row view relies on to absorb CDC feeds without rescanning
    history. Groups whose count reaches zero vanish (as a recompute would
    show); a count driven negative (delete of a row the view never held)
    surfaces as cnt < 0 rather than being silently clamped — it means the
    feed and the view disagree and must be reconciled.

    Shape: one partial agg over the delta + one merge agg keyed on the
    view key; the base state is never rescanned at raw-row granularity."""
    sign = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    dstate = delta.groupBy(*key_cols).agg(
        F.sum(sign).cast("bigint").alias("cnt"),
        F.sum(sign * F.col(value_col).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("vsum"),
    )
    return (
        state.unionByName(dstate)
        .groupBy(*key_cols)
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("vsum").cast("decimal(18,2)").alias("vsum"),
        )
        .filter(F.col("cnt") != 0)
    )
