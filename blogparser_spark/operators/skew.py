"""Explicit skew handling for hot conv_ids (SURVEY.md §7.4 risk 3).

Fixture reality: ~20% of turns live in a handful of hot conversations. Two
different stages need two different treatments:

1. The PARSE stage is per-row (order-free), so it can and should be salted:
   repartition on (conv_id, salt) spreads a hot conv across `salt_k`
   partitions. No correctness impact — no stage before the window cares
   about co-location.

2. Per-conv WINDOWS (row_number over (conv_id, turn_idx)) cannot be salted —
   a split conv would get wrong ranks. There the tools are
   repartitionByRange on (conv_id, turn_idx) (range partitioner samples the
   key distribution, so a hot conv gets a partition to itself instead of
   hash-colliding with others) plus AQE skew-join splitting for the join
   side. This is the documented tradeoff: one conv's turns must fit one
   partition's memory; with 10^6-turn hot convs and ~KB rows that is MBs —
   fine. Convs larger than memory would need a two-phase segmented window
   (segment ranks + prefix-sum merge), which no fixture requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALT_K = 16


def with_salt(df: DataFrame, salt_k: int = DEFAULT_SALT_K, turn_col: str = "turn_idx") -> DataFrame:
    """Deterministic salt derived from the turn index — stable across runs
    (no rand(); resume-safe) and uniform within a conversation."""
    return df.withColumn("salt", F.pmod(F.hash(F.col(turn_col)), F.lit(salt_k)))


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    key_col: str = "conv_id",
    salt_k: int = DEFAULT_SALT_K,
) -> DataFrame:
    """Spread hot keys over salt_k buckets for order-free stages (parse)."""
    return (
        with_salt(df, salt_k)
        .repartition(num_partitions, F.col(key_col), F.col("salt"))
        .drop("salt")
    )


def range_partition_for_windows(
    df: DataFrame, num_partitions: int, key_col: str = "conv_id"
) -> DataFrame:
    """Pre-shuffle for per-conv windows: range partitioning on the KEY
    ALONE samples the key distribution, isolating hot convs instead of
    hash-colliding them — and RangePartitioning(key) satisfies the
    window's clustering requirement, so the window reuses it (one
    exchange total, plan-asserted in test_skew). Adding the order column
    to the range keys would split keys across boundary partitions and
    force a second hash exchange."""
    return df.repartitionByRange(num_partitions, F.col(key_col))


def salted_exact_distinct(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Exact count(DISTINCT value) per key without concentrating a hot
    key's rows on one reducer: shuffle 1 keys on (key, VALUE) — the value
    itself is a perfect salt, and map-side combine dedups within each map
    partition before anything moves — then shuffle 2 reduces the
    |distinct-values| rows per key to a count. A single-stage
    count(distinct) over a hot key would put every one of its rows on one
    task; this caps per-task input at the distinct cardinality."""
    deduped = (
        df.select(*key_cols, value_col)
        # COUNT(DISTINCT value) ignores NULLs; distinct() would keep one
        # (key, NULL) row and count('*') would count it — off by one
        .where(F.col(value_col).isNotNull())
        .distinct()
    )
    return deduped.groupBy(*key_cols).agg(F.count("*").alias("n_distinct"))


def equi_depth_bounds(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Exact equi-depth bucket boundaries per group: (group_cols...,
    bucket, boundary, n_rows) where `boundary` is the value at rank
    ceil(k * n / n_buckets) for k = 1..n_buckets-1 — the exact order
    statistics a range partitioner / stratifier needs (the sampled
    approximation is what repartitionByRange does internally; this is the
    auditable exact form). Duplicate values make some boundaries equal —
    that is the correct answer for skewed data and exactly what a range
    partitioner must see to merge empty ranges.

    One window sort per group assigns ranks; group sizes come from a
    partial agg; the B-1 target ranks explode from that tiny aggregate
    and join back on (group, rank) — the raw data is sorted once and
    never joined to itself."""
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    ranked = df.select(*group_cols, value_col).withColumn(
        "_rn", F.row_number().over(w)
    )
    sizes = df.groupBy(*group_cols).agg(F.count("*").alias("_n"))
    targets = sizes.select(
        *group_cols,
        F.explode(F.sequence(F.lit(1), F.lit(n_buckets - 1))).alias("bucket"),
        F.col("_n").alias("n_rows"),
    ).withColumn(
        "_rn",
        F.ceil(F.col("bucket") * F.col("n_rows") / F.lit(n_buckets)).cast(
            "int"
        ),
    )
    return targets.join(ranked, [*group_cols, "_rn"]).select(
        *group_cols,
        "bucket",
        F.col(value_col).alias("boundary"),
        "n_rows",
    )


def equi_depth_bounds_global(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    n_shards: int = 256,
) -> DataFrame:
    """Exact UNGROUPED equi-depth boundaries with no single-reducer sort:
    (bucket, boundary, n_rows), value-identical to
    `equi_depth_bounds(df, [], value_col)` on non-null values.

    The grouped form's `row_number over Window.orderBy(value)` is a
    global-sort window — the whole frame through one partition. Here the
    rank never materializes per row:

      1. value HISTOGRAM (groupBy value — distinct-value-sized, map-side
         combined; equal values collapse, which is also why ties cost
         nothing),
      2. monotone range shard floor((v−min)·n_shards/span) from a
         broadcast (min,max) scalar — a pure function of v, so shard order
         is value order; local cumsum per shard plus broadcast per-shard
         offsets (the epoch_shuffle_rank idiom — the only partition-less
         window runs over one row per shard),
      3. the k-th boundary (rank ceil(k·n/B)) falls in exactly ONE value's
         (cum−cnt, cum] interval — a (B−1)-row broadcast non-equi join
         picks it; no stage ever holds more than one shard's distinct
         values.

    NULL values are excluded up front (the shard expression would map
    them to a NULL shard whose rows overlap shard 0's rank space and
    inflate _n) — boundaries are order statistics of the non-null
    values, the same contract as a SQL percentile."""
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_c"))
    )
    span = hist.agg(
        F.min("_v").alias("_lo"),
        F.max("_v").alias("_hi"),
        F.sum("_c").alias("_n"),
    )
    shard = F.least(
        F.greatest(
            F.floor(
                (F.col("_v") - F.col("_lo"))
                * n_shards
                / F.greatest(F.col("_hi") - F.col("_lo"), F.lit(1e-300))
            ),
            F.lit(0),
        ),
        F.lit(n_shards - 1),
    ).cast("long")
    h = hist.crossJoin(F.broadcast(span)).withColumn("_shard", shard)
    local = (
        Window.partitionBy("_shard")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    h = h.withColumn("_lcum", F.sum("_c").over(local))
    offsets = (
        h.groupBy("_shard")
        .agg(F.sum("_c").alias("_sn"))
        .withColumn(
            "_off",
            # one row per shard — tiny frame; pmod keeps the partition
            # spec non-empty (see epoch_shuffle_rank)
            F.coalesce(
                F.sum("_sn").over(
                    Window.partitionBy(F.pmod(F.col("_shard"), F.lit(1)))
                    .orderBy("_shard")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_shard", "_off")
    )
    cum = h.join(F.broadcast(offsets), "_shard").select(
        "_v", "_c", (F.col("_lcum") + F.col("_off")).alias("_cum"), "_n"
    )
    spark = df.sparkSession
    targets = (
        spark.range(1, n_buckets)
        .select(F.col("id").alias("bucket"))
        .crossJoin(F.broadcast(span.select("_n")))
        .select(
            "bucket",
            F.ceil(F.col("bucket") * F.col("_n") / F.lit(n_buckets))
            .cast("bigint")
            .alias("_r"),
        )
    )
    return (
        cum.join(
            F.broadcast(targets),
            (F.col("_cum") - F.col("_c") < F.col("_r"))
            & (F.col("_r") <= F.col("_cum")),
        )
        .select(
            "bucket",
            F.col("_v").alias("boundary"),
            F.col("_n").cast("bigint").alias("n_rows"),
        )
    )
