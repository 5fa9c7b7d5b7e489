"""Dataset diffing: validate a pipeline change by comparing its output
against the incumbent's, at corpus scale, in one pass.

The shadow-deployment question at 10^12 turns is never "are they equal"
(they won't be) but "how many rows changed, which columns, and which keys
do I sample to inspect". A driver-side collect-and-compare cannot answer
it; this operator computes the full audit in ONE co-partitioned full-outer
join + one aggregate:

  - presence:  only_left / only_right row counts (keys added/removed),
  - equality:  changed vs equal counts over the compared columns,
  - blame:     per-column null-safe mismatch counts (`diff_<col>`).

Shuffle cost is the join on the key columns — the minimum for any exact
row-level comparison; with both sides bucketed on the key
(operators/storage.py) even that Exchange disappears. Comparisons are
null-safe (`<=>`), so NULL→value and value→NULL count as changes, and all
counting is map-side combinable. The counts (diff_datasets) and the sample
keys (diff_sample_keys) share ONE join/compare builder, so their semantics
can never drift apart."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _compared(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> tuple[DataFrame, Column, dict[str, Column]]:
    """(full-outer joined frame, matched predicate, per-column null-safe
    inequality) — the single source of the diff semantics."""
    ks = list(keys)
    la = left.select(
        *ks,
        F.lit(1).alias("_in_l"),
        *[F.col(c).alias(f"_l_{c}") for c in compare_cols],
    )
    rb = right.select(
        *ks,
        F.lit(1).alias("_in_r"),
        *[F.col(c).alias(f"_r_{c}") for c in compare_cols],
    )
    j = la.join(rb, ks, "full_outer")
    matched = F.col("_in_l").isNotNull() & F.col("_in_r").isNotNull()
    col_neq = {
        c: ~F.col(f"_l_{c}").eqNullSafe(F.col(f"_r_{c}")) for c in compare_cols
    }
    return j, matched, col_neq


def _any_neq(col_neq: dict[str, Column]) -> Column:
    out = F.lit(False)
    for e in col_neq.values():
        out = out | e
    return out


def diff_datasets(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """One-row audit: n_only_left, n_only_right, n_changed, n_equal, and a
    diff_<col> mismatch count per compared column (matched rows only)."""
    j, matched, col_neq = _compared(left, right, keys, compare_cols)
    # coalesce: SUM over an empty (both-sides-empty) frame is NULL, and an
    # equality gate reading n_changed == 0 must see 0, not None
    cnt = lambda cond: F.coalesce(  # noqa: E731
        F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
    ).cast("bigint")
    return j.agg(
        cnt(F.col("_in_r").isNull()).alias("n_only_left"),
        cnt(F.col("_in_l").isNull()).alias("n_only_right"),
        cnt(matched & _any_neq(col_neq)).alias("n_changed"),
        cnt(matched & ~_any_neq(col_neq)).alias("n_equal"),
        *[
            cnt(matched & col_neq[c]).alias(f"diff_{c}")
            for c in compare_cols
        ],
    )


def diff_sample_keys(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
    n: int = 20,
) -> DataFrame:
    """The inspection companion: deterministic first-n changed/added/removed
    keys (ordered by the key columns) with a status column — what a human
    actually opens after reading the counts."""
    j, _matched, col_neq = _compared(left, right, keys, compare_cols)
    status = (
        F.when(F.col("_in_r").isNull(), F.lit("only_left"))
        .when(F.col("_in_l").isNull(), F.lit("only_right"))
        .when(_any_neq(col_neq), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*keys, "status")
        .orderBy(*keys)
        .limit(n)
    )


def content_fingerprint(
    df: DataFrame, cols: Sequence[str], n_slices: int = 16
) -> DataFrame:
    """Order-independent dataset content fingerprint per md5-derived
    slice: (slice_id, n_rows, fp_xor, fp_sum). Two datasets are
    content-equal over `cols` iff all three columns match on every slice
    — the O(slices)-size comparison that answers shadow-diff's "did
    anything change, and roughly where" BEFORE paying the full-outer-join
    diff, and a content integrity stamp a resumable job could record per
    slice in the slice commit's `record` (checkpoint.run_sliced).

    Construction: one row hash (md5 over the unit-separator-joined
    column casts, chr(31), with NULL spelled as a chr(0) sentinel so
    NULL differs from the empty string), first 13 hex chars as an exact
    52-bit int. Per slice, fp_xor = bit-XOR of the hashes (commutative /
    associative — partition order can never matter) and fp_sum = sum of
    hash mod 1e9+7, RE-MODDED after the sum (catches the even-multiplicity
    duplicate swaps XOR cancels). The sum runs over decimal(38,0): a
    bigint sum of ~1e9-sized terms wraps past 2^63 after ~9.2e9 rows —
    well inside a 10^12-row slice — silently under non-ANSI and with an
    exception under ANSI; decimal(38) is exact to ~1e29 rows and the
    final mod returns the comparison to bigint. ONE scan, one partial
    agg; both engines replay the md5 bit-for-bit."""
    sent = F.lit(chr(0))
    parts = [F.coalesce(F.col(c).cast("string"), sent) for c in cols]
    h = F.md5(F.concat_ws(chr(31), *parts))
    h52 = F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint")
    slc = F.conv(F.substring(h, 14, 4), 16, 10).cast("bigint") % n_slices
    rows = df.select(slc.alias("slice_id"), h52.alias("_h"))
    return (
        rows.groupBy("slice_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(_h)").alias("fp_xor"),
            (
                F.sum((F.col("_h") % F.lit(1000000007)).cast("decimal(38,0)"))
                % F.lit(1000000007)
            )
            .cast("bigint")
            .alias("fp_sum"),
        )
        .orderBy("slice_id")
    )
