"""Corpus-curation operators a training-data pipeline needs beyond dedup:
benchmark decontamination, deterministic stratified sampling (with
temperature-derived rates), and token-budget sequence packing.

Scale design (100 TB):
  - decontamination: the benchmark side is bounded by construction (eval
    suites are at most ~10^7 n-grams), so its distinct n-gram hashes are
    BROADCAST; the corpus side explodes to n-grams but aggregates straight
    back to one row per doc with a map-side partial agg — the only shuffle
    is the per-doc count agg keyed on doc_id.
  - stratified sampling: zero shuffles. The keep/drop decision is a pure
    per-row predicate on md5(salt, id) compared against a per-stratum hex
    threshold — deterministic (re-runs and backfills pick identical rows),
    engine-portable (the DuckDB oracle runs the same expression), and
    evaluated inside the scan stage.
  - packing: the running-total window runs per (stratum, shard) where shard
    is a bounded id-range block — state per window partition is one counter
    over a bounded row count, never a global sort. Production packers work
    the same way: locality within a shard, no cross-shard ordering claim.

All hashing is md5 hex so every operator has an exact DuckDB oracle
(same convention as dataops/dedup.py).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blogparser_spark.dataops.dedup import shingles
from blogparser_spark.dataops.textstats import tokens

DECONTAM_N = 13  # GPT-3 appendix C / Llama eval-overlap convention
SAMPLE_KEY_HEXLEN = 8  # 32 bits of the md5 — plenty for per-mille rates


# ------------------------------------------------------------ decontaminate ---


def benchmark_ngram_set(
    benchmark: DataFrame, text_col: str = "text", n: int = DECONTAM_N
) -> DataFrame:
    """Distinct md5 hashes of the benchmark's word n-grams — the (small,
    broadcastable) contamination reference set, one column `gram_hash`."""
    return (
        benchmark.select(F.explode(shingles(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gram_hash"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DECONTAM_N,
) -> DataFrame:
    """Per-doc benchmark-overlap stats: how many of the doc's word n-gram
    occurrences also appear anywhere in `benchmark`. A single shared n-gram
    marks the doc contaminated (the GPT-3 13-gram collision rule); the
    fraction is kept for threshold-based policies.

    Docs too short to form an n-gram survive with zero counts
    (explode_outer keeps the row; the NULL gram contributes nothing).
    Plan: explode → broadcast left-join on the 16-byte gram hash →
    groupBy(id) partial agg. The corpus is never shuffled on text.
    """
    bench = F.broadcast(benchmark_ngram_set(benchmark, text_col, n))
    grams = docs.select(
        F.col(id_col), F.explode_outer(shingles(F.col(text_col), n)).alias("g")
    ).withColumn("gram_hash", F.md5("g"))
    joined = grams.join(
        bench.withColumn("_hit", F.lit(1)), "gram_hash", "left"
    )
    total = F.count(F.col("g"))
    hits = F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
    return joined.groupBy(id_col).agg(
        total.alias("n_ngrams"),
        hits.alias("n_contaminated"),
        F.round(hits / F.greatest(total, F.lit(1)), 6).alias("contaminated_frac"),
        (hits >= 1).alias("contaminated"),
    )


# ------------------------------------------------------- stratified sampling ---


def rate_to_hex_threshold(rate: float) -> str:
    """Keep-rate → lowercase hex threshold for the first SAMPLE_KEY_HEXLEN
    md5 chars. A row is kept iff its hex key sorts strictly below the
    threshold, so rate>=1 maps to 'g' (every hex digit < 'g' — keep all)
    and rate<=0 to '0' (nothing sorts below '0' among 8-char keys)."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "0"
    return format(int(rate * 16**SAMPLE_KEY_HEXLEN), f"0{SAMPLE_KEY_HEXLEN}x")


def sample_key(id_col: Column, salt: str = "sample") -> Column:
    """Deterministic per-row uniform key: first 8 hex chars of
    md5('<salt>:<id>'). Same expression exists verbatim in DuckDB."""
    return F.substring(
        F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string"))),
        1,
        SAMPLE_KEY_HEXLEN,
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling: keep a row iff its
    md5 sample key sorts below the stratum's hex threshold. No shuffle, no
    RNG state — reruns, retries, and two clusters of different sizes all
    select the identical row set, which is what makes downstream exact
    dedup of a resumed sampling job unnecessary.

    `rates` maps stratum value → keep rate in [0, 1]; strata not listed get
    `default_rate`. Thresholds ride in a literal map (bounded: strata are
    enum-like), so the predicate is pure codegen in the scan stage."""
    pairs: list[Column] = []
    for k, v in sorted(rates.items()):
        pairs += [F.lit(k), F.lit(rate_to_hex_threshold(v))]
    thr = (
        # try_element_at: missing stratum → NULL → default rate, with no
        # ANSI MAP_KEY_DOES_NOT_EXIST in ANSI-on sessions
        F.coalesce(
            F.try_element_at(F.create_map(*pairs), F.col(strata_col)),
            F.lit(rate_to_hex_threshold(default_rate)),
        )
        if pairs
        else F.lit(rate_to_hex_threshold(default_rate))
    )
    return df.filter(sample_key(F.col(id_col), salt) < thr)


ES_KEY_HEXLEN = 13  # 52 bits of md5 → u ∈ (0, 1] exact in a double


def weighted_sample_key(
    id_col: Column, weight: Column, salt: str = "wsample"
) -> Column:
    """Efraimidis–Spirakis exponential key ("Weighted random sampling with
    a reservoir", IPL 2006): each row gets key = ln(u) / w with u uniform
    in (0, 1]; the global top-n by key IS a weighted sample without
    replacement (selection probability ∝ w). u derives from md5 — 13 hex
    chars = an exact 52-bit integer, (u_int + 1) / 2^52 — so the sample is
    deterministic across reruns, backfills, and engines (the DuckDB oracle
    evaluates the same expression). Rounded to 6 so both engines order by
    an identical key."""
    u_int = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string"))),
            1,
            ES_KEY_HEXLEN,
        ),
        16,
        10,
    ).cast("bigint")
    u = (u_int + F.lit(1)).cast("double") / F.lit(float(1 << 52))
    return F.round(F.log(u) / weight.cast("double"), 6)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sample of n rows without replacement: orderBy(key desc,
    id).limit(n), which Spark compiles to TakeOrderedAndProject —
    per-partition LOCAL top-n, then an n-row merge on the driver; no
    global sort shuffle, no RNG state, identical row set at any
    parallelism (the two-cluster-size reproducibility stratified_sample
    gives Bernoulli sampling, extended to weight-proportional selection).
    Rows with weight ≤ 0 are never sampled (ES is undefined there)."""
    key = weighted_sample_key(F.col(id_col), F.col(weight_col), salt)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key", key)
        .orderBy(F.desc("es_key"), F.asc(id_col))
        .limit(n)
    )


def temperature_rates(
    df: DataFrame, strata_col: str = "lang", alpha: float = 0.5
) -> dict[str, float]:
    """Per-stratum keep rates realizing multinomial temperature sampling
    (expected kept count ∝ count^alpha, the multilingual-LM resampling
    rule): rate_s = (count_s / count_min)^(alpha-1), so the smallest
    stratum keeps everything and larger strata are downsampled toward
    balance as alpha → 0; alpha = 1 keeps everything everywhere.

    Driver-side by design: the per-stratum count agg returns one row per
    stratum (bounded, enum-like), the one .collect() this module allows.
    """
    counts = {
        r["s"]: r["c"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    if not counts:
        return {}
    c_min = min(counts.values())
    return {
        s: min(1.0, math.pow(c / c_min, alpha - 1.0)) for s, c in counts.items()
    }


# ----------------------------------------------------------- sequence packing ---


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_size: int | None = None,
) -> DataFrame:
    """Assign docs to fixed-token-budget training sequences ("packs") by a
    deterministic linear scan: within each (stratum, shard) partition,
    docs are taken in id order and a doc belongs to the pack its starting
    token offset falls in (pack_id = tokens-before-it / budget). Docs
    longer than the budget own the pack at their start offset — the
    downstream writer decides whether to truncate or overflow.

    `shard_size` bounds the window partition to an id-range block of that
    width (pack ids don't chain across shards); None packs per stratum in
    one window — fine at test scale, but at 10^12 rows pass a shard width
    so no single window partition exceeds executor memory."""
    shard = (
        (F.col(id_col) / F.lit(shard_size)).cast("long")
        if shard_size
        else F.lit(0).cast("long")
    )
    out = df.select(
        F.col(id_col),
        F.col(strata_col),
        shard.alias("shard"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy(strata_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return out.select(
        id_col,
        strata_col,
        "shard",
        "n_tokens",
        F.floor(cum_before / budget).alias("pack_id"),
        (cum_before % budget).alias("pack_pos"),
    )


# -------------------------------------------------------------- epoch shuffle ---


def epoch_shuffle_key(id_col: Column, epoch: int) -> Column:
    """Deterministic per-epoch shuffle key: md5('epoch<e>:<id>'). Unique
    per id (md5 of distinct strings), reshuffled by changing the epoch —
    the training-export global shuffle without RNG state."""
    return F.md5(F.concat(F.lit(f"epoch{epoch}:"), id_col.cast("string")))


def epoch_shuffle_rank(
    df: DataFrame,
    epoch: int = 0,
    id_col: str = "doc_id",
    prefix_len: int = 2,
) -> DataFrame:
    """Global training order for an epoch WITHOUT a single-reducer sort:

      1. bucket on the first `prefix_len` hex chars of the shuffle key —
         a DETERMINISTIC range partition (bucket order is key order,
         because the bucket is a key prefix; md5 keys make buckets
         uniform). 16^prefix_len buckets: 256 at the default, raise to 5-6
         at 10^12 rows so one bucket's rows fit an executor sort,
      2. row_number per bucket (each bucket sorts locally),
      3. per-bucket row counts (one tiny row per bucket) cumsum into
         offsets, broadcast back, rank = local rank + offset.

    Unlike repartitionByRange — whose SAMPLED boundaries differ between
    independent executions, so the offsets branch and the main branch
    only agree while Spark happens to reuse the exchange — the prefix
    bucket is a pure function of the row. Both branches compute it
    independently and always agree; correctness does not depend on
    ReusedExchange surviving the plan. The result equals row_number()
    over a global ORDER BY key — the DuckDB oracle. No stage ever holds
    more than one bucket's rows.
    """
    key = epoch_shuffle_key(F.col(id_col), epoch)
    d = df.withColumn("shuffle_key", key).withColumn(
        "_bkt",
        F.conv(F.substring("shuffle_key", 1, prefix_len), 16, 10).cast("long"),
    )
    local = Window.partitionBy("_bkt").orderBy("shuffle_key")
    d = d.withColumn("_lrank", F.row_number().over(local))
    offsets = (
        d.groupBy("_bkt")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_offset",
            # one row per bucket (16^prefix_len) — the single-group cumsum
            # is over that tiny frame, never the data. pmod(_bkt, 1) is a
            # constant the optimizer can't fold away, so the partition
            # spec stays non-empty and Spark's global-window warning
            # (accurate for real data, irrelevant here) doesn't fire
            F.coalesce(
                F.sum("_n").over(
                    Window.partitionBy(F.pmod(F.col("_bkt"), F.lit(1)))
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_bkt", "_offset")
    )
    return (
        d.join(F.broadcast(offsets), "_bkt")
        .withColumn("shuffle_rank", (F.col("_lrank") + F.col("_offset")))
        .drop("_bkt", "_lrank")
    )


def quality_budget_selection(
    df: DataFrame,
    budget: int,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy corpus selection under a global token budget: take documents
    in (quality DESC, id ASC) order until the budget is exhausted — "fill a
    10B-token training budget with the best docs". Adds `tokens_before`
    (global prefix token sum over that order) and `selected`
    (tokens_before + n_tokens <= budget, 1/0).

    Like epoch_shuffle_rank, the global prefix sum runs WITHOUT a
    single-reducer sort: bucket on quantized quality
    (floor((1-q)·n_buckets) — monotone in the sort key and a pure function
    of the row, so the offsets branch and the main branch always agree
    regardless of exchange reuse), cumsum locally per bucket, then add the
    broadcast cumsum of per-bucket token totals (one tiny row per bucket).
    Raise n_buckets at 10^12 rows so one bucket's rows fit an executor
    sort. Quality is a round-6 score (textstats.with_quality), so bucket
    arithmetic is reproducible; ties after rounding break by id."""
    b = F.least(
        F.greatest(
            F.floor((F.lit(1.0) - F.col(quality_col)) * n_buckets), F.lit(0)
        ),
        F.lit(n_buckets - 1),
    ).cast("long")
    d = df.withColumn("_bkt", b)
    local = (
        Window.partitionBy("_bkt")
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "_lb", F.coalesce(F.sum(tokens_col).over(local), F.lit(0))
    )
    offsets = (
        d.groupBy("_bkt")
        .agg(F.sum(tokens_col).alias("_tn"))
        .withColumn(
            "_offset",
            # tiny frame: one row per bucket (see epoch_shuffle_rank for the
            # pmod partition-spec rationale)
            F.coalesce(
                F.sum("_tn").over(
                    Window.partitionBy(F.pmod(F.col("_bkt"), F.lit(1)))
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_bkt", "_offset")
    )
    return (
        d.join(F.broadcast(offsets), "_bkt")
        .withColumn("tokens_before", F.col("_lb") + F.col("_offset"))
        .withColumn(
            "selected",
            (F.col("tokens_before") + F.col(tokens_col) <= budget).cast("long"),
        )
        .drop("_bkt", "_lb", "_offset")
    )


# ---------------------------------------------------------- boilerplate turns ---


def boilerplate_flags(
    df: DataFrame,
    min_groups: int = 3,
    text_col: str = "text",
    group_col: str = "conv_id",
) -> DataFrame:
    """Cross-group repeated-content flags — the transcripts analog of C4's
    repeated-line filter: a turn whose NORMALIZED text occurs in >=
    min_groups distinct conversations is boilerplate (canned greetings,
    templated tool banners), not content. Appends (text_hash, n_groups,
    is_boilerplate) to every input row.

    Scale design: the decision is keyed on md5 of the normalized text —
    the shuffle carries (hash, group) pairs, map-side-distinct collapses
    each partition's repeats before the exchange, and the per-hash count
    is a partial agg. The join back to rows is hash-keyed (uniform 32-byte
    keys, no skew: a degenerate hash held by millions of rows still joins
    against ONE flag row, and AQE splits the probe side). Nothing is
    collected; no all-pairs anywhere. C4 reference: Raffel et al. 2020
    §2.2 ("three-sentence span" dedup across documents).

    The normalization is dedup._norm — the SAME key exact-dedup groups on,
    so a composition of both stages can't drift between the two.
    NULL text hashes to NULL; the left join keeps such rows (n_groups 0,
    is_boilerplate false) so the row contract holds for every input row.
    """
    from blogparser_spark.dataops.dedup import _norm

    d = df.withColumn("text_hash", F.md5(_norm(F.col(text_col))))
    counts = (
        d.select("text_hash", group_col)
        .distinct()
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_groups"))
    )
    return (
        d.join(counts, "text_hash", "left")
        .withColumn("n_groups", F.coalesce(F.col("n_groups"), F.lit(0)))
        .withColumn("is_boilerplate", F.col("n_groups") >= F.lit(min_groups))
    )


def strip_boilerplate(
    df: DataFrame,
    min_groups: int = 3,
    text_col: str = "text",
    group_col: str = "conv_id",
) -> DataFrame:
    """Rows that survive the boilerplate gate, original schema preserved."""
    flagged = boilerplate_flags(df, min_groups, text_col, group_col)
    return flagged.filter(~F.col("is_boilerplate")).select(*df.columns)


def dataset_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Leakage-free train/val/test assignment: a `split` column derived
    ONLY from md5(salt:id), so it is (a) deterministic across runs,
    engines, partitionings, and re-shuffles of the corpus, (b) disjoint
    and exhaustive by construction, and (c) stable under corpus growth —
    adding documents never moves an existing document between splits (the
    property a random split or any count-based split lacks, and the reason
    eval contamination creeps into retrained models). Pure codegen: one
    md5 + comparisons, no shuffle, filter on `split` pushes down."""
    key = sample_key(F.col(id_col), salt)
    t_val = rate_to_hex_threshold(val_frac)
    t_test = rate_to_hex_threshold(val_frac + test_frac)
    return df.withColumn(
        "split",
        F.when(key < t_val, F.lit("val"))
        .when(key < t_test, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def score_normalize(
    df: DataFrame,
    group_cols: Sequence[str],
    score_col: str,
    id_cols: Sequence[str],
) -> DataFrame:
    """Per-group score normalization — the step before mixing quality
    signals from different sources whose raw scales differ: percent_rank
    (rank-based, tie-stable: equal scores share a rank on every engine)
    and min-max scaling (NULL when the group is constant — no 0/0).

    Cost: ONE shuffle + sort per group for the rank; min/max ride the same
    window partition. percent_rank needs the group's total order, so a
    single hot group serializes onto one task — at 100 TB either
    normalize within finer strata or swap the rank for a mergeable
    quantile-sketch CDF lookup, which is two broadcast passes and no
    sort."""
    wo = Window.partitionBy(*group_cols).orderBy(score_col)
    wg = Window.partitionBy(*group_cols)
    lo, hi = F.min(score_col).over(wg), F.max(score_col).over(wg)
    span = hi - lo
    return df.select(
        *group_cols,
        *id_cols,
        F.col(score_col),
        F.round(F.percent_rank().over(wo), 6).alias("pct_rank"),
        F.round(
            F.when(span > 0, (F.col(score_col) - lo) / span.cast("double")),
            6,
        ).alias("minmax"),
    )


def stratified_fixed_k(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    k: int,
    salt: str = "fixk",
) -> DataFrame:
    """Exactly min(k, group size) rows per group, chosen by ranking md5
    hashes of the row id within the group — the balanced "k examples per
    class" sample an eval-set or curriculum builder needs, deterministic
    across reruns, backfills, and engines (vs stratified_sample's
    rate-based variant, which keeps a PROPORTION and cannot promise a
    count). Adding rows to a group can only swap members whose hash ranks
    past k; untouched groups are byte-identical — the property that makes
    incremental refreshes diffable.

    One window rank per group over the hash order; no collect, no
    per-group loop. Hot groups cost their own row count in the sort,
    never the corpus."""

    h = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-size overlapping token windows per document — the chunking
    step every RAG / context-window training pipeline runs before
    embedding or packing (pack_sequences is the inverse direction:
    many docs -> one sequence; this is one doc -> many windows).
    Output: (id_cols..., chunk_idx, start_tok, n_tokens, chunk_text)
    with stride = chunk_tokens - overlap, a short final window rather
    than dropped tail tokens, and exactly one window for docs at or
    under chunk_tokens.

    All native: the canonical textstats.tokens split (ONE tokenizer
    definition repo-wide, so chunk token counts agree with
    pack_sequences and every other token stat) -> explode of a
    computed chunk-index sequence -> slice + array_join. The explode
    fan-out inherits the scan's partitioning (CLAUDE.md rule 4) —
    repartition the input before chunking a few-file scan. Per-row cost
    is the document's own token count; nothing is quadratic in overlap
    because each window slices the one shared token array."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    base = df.select(*id_cols, toks.alias("_t")).select(
        *id_cols,
        "_t",
        F.size("_t").alias("_n"),
    )
    n_chunks = F.when(F.col("_n") <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((F.col("_n") - chunk_tokens) / F.lit(float(step))).cast("long")
        + 1
    )
    return (
        base.withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)),
        )
        .select(
            *id_cols,
            "chunk_idx",
            (F.col("chunk_idx") * step).alias("start_tok"),
            F.size(
                F.slice(F.col("_t"), F.col("chunk_idx") * step + 1, chunk_tokens)
            ).alias("n_tokens"),
            F.array_join(
                F.slice(
                    F.col("_t"), F.col("chunk_idx") * step + 1, chunk_tokens
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def round_robin_interleave(
    df: DataFrame,
    source_col: str,
    id_col: str,
    salt: str = "rr",
) -> DataFrame:
    """Deterministic source-interleaved training order: rows are shuffled
    within each source (md5 rank) and sources are consumed round-robin —
    layer r emits one row from every source that still has rows, in
    source-name order. Output adds (rank_in_source, source_idx,
    global_pos) where global_pos is the 0-based position in the
    interleaved order.

    The naive way to get global_pos is row_number() over a GLOBAL window
    ordered by (rank, source) — a single reducer sorting the corpus.
    Instead the position is computed ANALYTICALLY: with per-source sizes
    c_s (a tiny broadcast array), the row at (rank r, source s) is
    preceded by min(c_s', r-1) rows from every source s', plus one more
    for each earlier-named source that reaches layer r — exact integers,
    no global sort, every row priced independently. Writes that need the
    physical order sort by global_pos via repartitionByRange (the range
    partitioner samples; the ORDER itself is already decided here)."""
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.col(id_col),
    )
    ranked = df.withColumn("rank_in_source", F.row_number().over(w))
    sizes = (
        df.groupBy(source_col)
        .agg(F.count("*").alias("_cnt"))
        .withColumn(
            "source_idx",
            F.row_number().over(Window.orderBy(source_col)) - 1,
        )
    )
    size_arr = sizes.agg(
        F.sort_array(
            F.collect_list(F.struct("source_idx", "_cnt"))
        ).alias("_sizes")
    )
    j = ranked.join(
        F.broadcast(sizes.select(source_col, "source_idx")), source_col
    ).crossJoin(F.broadcast(size_arr))
    r = F.col("rank_in_source")
    pos = F.aggregate(
        F.col("_sizes"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.least(x["_cnt"], (r - 1).cast("long"))
        + F.when(
            (x["source_idx"] < F.col("source_idx")) & (x["_cnt"] >= r),
            F.lit(1),
        )
        .otherwise(0)
        .cast("long"),
    )
    return j.withColumn("global_pos", pos).drop("_sizes")


def temperature_rates_df(
    df: DataFrame, strata_col: str = "lang", alpha: float = 0.5
) -> DataFrame:
    """Relational twin of temperature_rates: (strata, n_rows, keep_rate,
    expected_kept) with rate_s = min(1, (count_s / count_min)^(alpha-1))
    — the multilingual-LM resampling rule (expected kept ∝ count^alpha),
    computed fully in-plan: one partial count agg, the min broadcast back
    as a one-row cross join, one pow. Use this form when the mixing plan
    feeds further relational stages (joins against stratified_sample
    keys); the dict form is for driver-side job config. Exact-int inputs
    to one pow, round-6."""
    counts = df.groupBy(F.col(strata_col).alias("strata")).agg(
        F.count("*").alias("n_rows")
    )
    cmin = counts.agg(F.min("n_rows").alias("_cmin"))
    rate = F.least(
        F.lit(1.0),
        F.pow(
            F.col("n_rows").cast("double") / F.col("_cmin"),
            F.lit(alpha - 1.0),
        ),
    )
    return counts.crossJoin(F.broadcast(cmin)).select(
        "strata",
        "n_rows",
        F.round(rate, 6).alias("keep_rate"),
        F.round(rate * F.col("n_rows"), 6).alias("expected_kept"),
    )


# ------------------------------------------------ DSIR importance weights ---

DSIR_BUCKETS = 256  # hashed n-gram feature dimension (paper uses 10k; 256
# keeps the oracle spine readable — the shape is bucket-count-invariant)


def _dsir_grams(col: Column) -> Column:
    """Unigram + bigram word features (Xie et al. 2023 §3: hashed bag of
    uni/bigrams is the DSIR feature map)."""
    return F.concat(shingles(col, 1), shingles(col, 2))


def dsir_bucket_counts(
    df: DataFrame, text_col: str = "text", n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(bucket, cnt): hashed n-gram occurrence counts — the sufficient
    statistic for a DSIR distribution. explode → codegen md5 bucket →
    map-side-combinable count: the corpus never shuffles on text, only
    (bucket, partial-count) rows move, bounded by n_buckets·partitions."""
    from blogparser_spark.dataops.common import md5_bucket

    g = df.select(F.explode(_dsir_grams(F.col(text_col))).alias("g"))
    return (
        g.select(md5_bucket(F.col("g"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-bucket importance log-ratio dimension (bucket, tc, rc, lr_micro):
    lr = ln p_target(bucket) − ln p_raw(bucket) under add-one smoothing over
    the full bucket spine (absent buckets count 0 — smoothing must see
    them). lr is quantized to integer MICRO units so downstream per-doc
    sums are exact integers — order-independent across partitionings and
    engines (the repo's forward-decay convention). The result is an
    n_buckets-row dim: always broadcastable."""
    spark = target.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    tc = spine.join(
        dsir_bucket_counts(target, text_col, n_buckets), "bucket", "left"
    ).select("bucket", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("tc"))
    rc = spine.join(
        dsir_bucket_counts(raw, text_col, n_buckets), "bucket", "left"
    ).select("bucket", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("rc"))
    j = tc.join(rc, "bucket")
    # scalar totals as a broadcast 1-row dim (not a global window: keeps the
    # plan free of single-partition WindowExec even on this 256-row frame)
    totals = j.agg(
        F.sum("tc").alias("_t_tot"), F.sum("rc").alias("_r_tot")
    )
    j = j.crossJoin(F.broadcast(totals))
    lr = F.log((F.col("tc") + 1) / (F.col("_t_tot") + n_buckets)) - F.log(
        (F.col("rc") + 1) / (F.col("_r_tot") + n_buckets)
    )
    return j.select(
        "bucket", "tc", "rc", F.round(lr * 1e6).cast("bigint").alias("lr_micro")
    )


def dsir_importance(
    docs: DataFrame,
    log_ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR importance log-weight: Σ over the doc's hashed
    n-gram occurrences of lr(bucket) — documents resembling the target
    domain score high and are kept/up-sampled by the resampling policy.
    explode → codegen bucket → BROADCAST join on the n_buckets-row dim →
    one partial agg per doc. The integer micro sum is exact; `logw` is the
    round-6 convenience view. Docs too short for any gram survive with
    n_grams=0, logw=0 (explode_outer)."""
    occ = docs.select(
        F.col(id_col), F.explode_outer(_dsir_grams(F.col(text_col))).alias("g")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long") % n_buckets,
    )
    joined = occ.join(
        F.broadcast(log_ratios.select("bucket", "lr_micro")), "bucket", "left"
    )
    return joined.groupBy(id_col).agg(
        F.count("g").alias("n_grams"),
        F.sum(F.coalesce("lr_micro", F.lit(0))).cast("bigint").alias("logw_micro"),
        F.round(
            F.sum(F.coalesce("lr_micro", F.lit(0))).cast("double") / 1e6, 6
        ).alias("logw"),
    )


# ------------------------------------------------- conversation-structure QA ---


def conv_role_grammar(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation role-sequence validation for SFT curation: agent
    transcripts must open with system/user, roles should not repeat
    back-to-back, and a tool turn is only well-formed directly after the
    assistant turn that called it. Emits per conversation
    (n_turns, first_role, last_role, n_same_role_runs,
    n_orphan_tool_turns, is_valid) so a curation funnel can drop or
    re-segment malformed conversations before training export.

    Scale: one shuffle on the conv key shared by the lag window and the
    rollup (the window's hash partitioning satisfies the groupBy — no
    second exchange); per-conv state is a handful of counters. first/last
    role via min_by/max_by on the turn index, never a global sort."""
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    role, prev = F.col(role_col), F.lag(role_col).over(w)
    t = df.select(
        conv_col,
        idx_col,
        role.alias("_role"),
        prev.alias("_prev"),
    )
    same = F.when(F.col("_prev") == F.col("_role"), 1).otherwise(0)
    orphan = F.when(
        (F.col("_role") == "tool")
        & (F.col("_prev").isNull() | (F.col("_prev") != "assistant")),
        1,
    ).otherwise(0)
    return (
        t.groupBy(conv_col)
        .agg(
            F.count("*").alias("n_turns"),
            F.min_by("_role", F.col(idx_col)).alias("first_role"),
            F.max_by("_role", F.col(idx_col)).alias("last_role"),
            F.sum(same).cast("bigint").alias("n_same_role_runs"),
            F.sum(orphan).cast("bigint").alias("n_orphan_tool_turns"),
        )
        .withColumn(
            "is_valid",
            F.col("first_role").isin("system", "user")
            & (F.col("n_same_role_runs") == 0)
            & (F.col("n_orphan_tool_turns") == 0),
        )
    )


def conv_sft_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-conversation instruction-tuning mix stats: role turn counts,
    byte volume per side, the assistant/user byte ratio SFT filters gate
    on (assistant-heavy = good demonstration data; user-heavy = the model
    would train mostly on prompts), and tool-use rate. Pure conditional
    partial aggregation — one shuffle on the conv key, no window, no UDF;
    byte lengths so the multibyte convention matches octet_length."""
    role = F.col(role_col)
    n_bytes = F.octet_length(text_col)
    ratio_den = F.sum(F.when(role == "user", n_bytes).otherwise(0))
    return df.groupBy(conv_col).agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(role == "user", 1).otherwise(0)).cast("bigint").alias("n_user"),
        F.sum(F.when(role == "assistant", 1).otherwise(0))
        .cast("bigint")
        .alias("n_assistant"),
        F.sum(F.when(role == "user", n_bytes).otherwise(0))
        .cast("bigint")
        .alias("user_bytes"),
        F.sum(F.when(role == "assistant", n_bytes).otherwise(0))
        .cast("bigint")
        .alias("assistant_bytes"),
        F.round(
            F.sum(F.when(role == "assistant", n_bytes).otherwise(0)).cast("double")
            / F.when(ratio_den > 0, ratio_den),
            6,
        ).alias("assistant_user_ratio"),
        F.sum(F.when(F.col(tool_col) != "none", 1).otherwise(0))
        .cast("bigint")
        .alias("n_tool_turns"),
    )


def _budget_running(
    df: DataFrame, conv_col: str, idx_col: str, text_col: str
) -> DataFrame:
    """Shared budget accounting: df + (n_tokens, cum_tokens) under the
    stable turn-order running total — the SINGLE definition both
    conv_budget_truncate (filters it) and conv_budget_stats (aggregates
    it) consume, so the audit numbers can never diverge from what
    truncation actually keeps."""
    w = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "n_tokens", F.size(tokens(F.col(text_col)))
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))


def conv_budget_truncate(
    df: DataFrame,
    budget_tokens: int,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-truncate each conversation to a context-window token budget:
    keep turns, in stable turn order, while the RUNNING whitespace-token
    total stays within `budget_tokens` (the standard context-packing rule —
    a turn either fits entirely or it and everything after it is dropped).
    Returns the kept turns with (n_tokens, cum_tokens) attached.

    Scale: token counts are a per-row F.size (no explode, no fan-out);
    the cumulative sum is one window over the conv key ordered by turn —
    the same single shuffle every stable-ordering stage in this pipeline
    pays; the keep decision is a pushable per-row filter on the running
    total. No global sort, no collect."""
    return _budget_running(df, conv_col, idx_col, text_col).filter(
        F.col("cum_tokens") <= budget_tokens
    )


def conv_budget_stats(
    df: DataFrame,
    budget_tokens: int,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Rollup view of conv_budget_truncate for auditing a packing budget:
    per conversation, turns/tokens before and after the prefix cut plus a
    `truncated` flag — the number a data engineer checks before committing
    a context-window size ('how much of the corpus survives at 8k?').
    Same single conv-key shuffle; the window and both aggregations share
    its partitioning. Built on the same _budget_running accounting the
    truncator filters, so the audit can never diverge from it."""
    t = _budget_running(df, conv_col, idx_col, text_col)
    in_budget = F.col("cum_tokens") <= budget_tokens
    return (
        t.groupBy(conv_col)
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(in_budget, 1).otherwise(0))
            .cast("bigint")
            .alias("n_turns_kept"),
            F.sum(F.when(in_budget, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
        .withColumn("truncated", F.col("n_turns_kept") < F.col("n_turns"))
    )


def preference_pairs(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """DPO-style preference-pair assembly: within each prompt group, pair
    the highest-scoring candidate (chosen) against the lowest (rejected),
    keeping only groups with ≥2 candidates and a strictly positive score
    gap — the standard recipe for turning a scored candidate pool into
    alignment training pairs (Rafailov et al. 2023 use human labels; a
    scored pool substitutes any preference signal).

    One shuffle on the group key: both extremes come from the same window
    partitioning (row_number under score-desc and score-asc orderings,
    deterministic id tie-break), folded to one row per group by
    conditional struct-max — never a self-join of the candidate pool."""
    w_hi = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    w_lo = Window.partitionBy(group_col).orderBy(
        F.asc(score_col), F.asc(id_col)
    )
    t = (
        df.select(group_col, id_col, score_col)
        .withColumn("_rh", F.row_number().over(w_hi))
        .withColumn("_rl", F.row_number().over(w_lo))
    )
    picked = t.groupBy(group_col).agg(
        F.count("*").alias("n_candidates"),
        F.max(
            F.when(F.col("_rh") == 1, F.struct(id_col, score_col))
        ).alias("_ch"),
        F.max(
            F.when(F.col("_rl") == 1, F.struct(id_col, score_col))
        ).alias("_rj"),
    )
    return (
        picked.filter(F.col("n_candidates") >= 2)
        .select(
            group_col,
            "n_candidates",
            F.col("_ch")[id_col].alias("chosen_id"),
            F.col("_rj")[id_col].alias("rejected_id"),
            F.round(
                F.col("_ch")[score_col] - F.col("_rj")[score_col], 6
            ).alias("score_gap"),
        )
        .filter(F.col("score_gap") > 0)
    )


def sft_pairs(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Extract (user turn → immediately-following assistant turn) training
    pairs from conversations — the instruction-tuning example assembler.
    Adjacency under stable turn ordering is the pairing rule (a user turn
    answered two turns later, or never, yields no pair). Emits one row per
    pair with prompt/response byte sizes for downstream length filters.

    One lead() window on the conv key; byte lengths are per-row; the
    role-adjacency filter collapses the corpus to |pairs| before anything
    else consumes it."""
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    t = df.select(
        conv_col,
        idx_col,
        F.col(role_col).alias("_role"),
        F.octet_length(text_col).alias("prompt_bytes"),
    ).withColumn("_nrole", F.lead("_role").over(w)).withColumn(
        "response_bytes", F.lead("prompt_bytes").over(w)
    )
    return t.filter(
        (F.col("_role") == "user") & (F.col("_nrole") == "assistant")
    ).select(conv_col, idx_col, "prompt_bytes", "response_bytes")


def domain_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "domaincap",
) -> DataFrame:
    """Per-domain document cap (the C4 recipe: bound any single domain's
    share of the corpus so boilerplate-heavy hosts can't dominate
    training): keep at most `cap` docs per domain, selected by
    deterministic md5 order — reruns, backfills, and different cluster
    sizes keep the identical row set, like stratified_sample.

    One shuffle on the domain key; the rank window's per-partition state
    is one counter. Emits the input rows + (domain_rank, kept)."""
    key = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy(key.asc(), F.col(id_col).asc())
    return df.withColumn("domain_rank", F.row_number().over(w)).withColumn(
        "kept", F.col("domain_rank") <= cap
    )


def padding_efficiency(
    df: DataFrame,
    batch_size: int,
    bucket_width: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_size: int = 100_000,
) -> DataFrame:
    """Padding-waste audit for length-bucketed batching (the inference /
    training dataloader question: how many pad tokens does a (bucket
    width, batch size) policy burn?). Sequences are grouped into
    fixed-width length buckets; within a (bucket, shard) they batch in
    (length, id) order; a batch pads every member to its own max length.
    Emits per (bucket, shard, batch): rows, max/sum length, pad tokens,
    and the padding fraction.

    Scale: the shard (a bounded id-range block, the pack_sequences
    pattern) bounds every window partition, so no (bucket) partition ever
    holds a corpus-scale sort; batching locality within a shard is what
    real dataloaders do anyway. All downstream rollups are partial
    aggs."""
    n_tok = F.size(tokens(F.col(text_col)))
    t = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        (n_tok / bucket_width).cast("int").alias("len_bucket"),
        (F.col(id_col) / shard_size).cast("int").alias("shard"),
    )
    w = Window.partitionBy("len_bucket", "shard").orderBy(
        F.asc("n_tokens"), F.asc(id_col)
    )
    b = t.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / batch_size).cast("int")
    )
    out = b.groupBy("len_bucket", "shard", "batch_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.max("n_tokens").cast("bigint").alias("max_len"),
        F.sum("n_tokens").cast("bigint").alias("sum_len"),
    )
    pad = out["n_rows"] * out["max_len"] - out["sum_len"]
    return out.select(
        "len_bucket",
        "shard",
        "batch_id",
        "n_rows",
        "max_len",
        "sum_len",
        pad.alias("pad_tokens"),
        F.round(
            pad / F.greatest(out["n_rows"] * out["max_len"], F.lit(1)), 6
        ).alias("pad_frac"),
    )


def contrastive_chunk_pairs(
    chunks: DataFrame,
    id_cols: Sequence[str] = ("doc_id",),
    idx_col: str = "chunk_idx",
    text_col: str = "chunk_text",
) -> DataFrame:
    """Adjacent-chunk positive pairs for contrastive embedding training
    (the standard self-supervised recipe: neighboring windows of the same
    document are semantically related, so (chunk_i, chunk_i+1) is a
    positive; in-batch negatives come free at training time). Consumes
    chunk_documents output. Emits one row per adjacent pair with byte
    sizes and an md5 pair fingerprint that pins the exact pair text
    cross-engine without shipping it.

    One lead() window on the doc key (the chunker's own fan-out key), a
    per-row hash, nothing corpus-quadratic."""
    w = Window.partitionBy(*id_cols).orderBy(idx_col)
    t = chunks.select(
        *id_cols, idx_col, F.col(text_col).alias("_a")
    ).withColumn("_p", F.lead("_a").over(w))
    return t.filter(F.col("_p").isNotNull()).select(
        *id_cols,
        F.col(idx_col).alias("anchor_idx"),
        F.octet_length("_a").cast("bigint").alias("anchor_bytes"),
        F.octet_length("_p").cast("bigint").alias("positive_bytes"),
        F.substring(
            F.md5(F.concat(F.col("_a"), F.lit(chr(31)), F.col("_p"))), 1, 16
        ).alias("pair_fp"),
    )


def span_corruption_plan(
    df: DataFrame,
    corruption_rate: float = 0.15,
    mean_span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "spancorrupt",
) -> DataFrame:
    """T5-style span-corruption mask plan (Raffel et al., JMLR 2020,
    §3.1.4: corrupt 15% of tokens in spans of mean length 3): for each
    document, pick span anchors deterministically (top positions by
    md5(salt:doc:pos) — the engine-portable stand-in for the sampler),
    give each span a deterministic length in {2,3,4} (mean 3), clip at
    the document end, and count the DISTINCT masked positions (overlaps
    merge, as in the reference implementation). Emits per doc
    (n_tokens, n_spans, n_masked, mask_frac) — the plan a denoising
    pretraining data builder materializes before writing sentinel-token
    targets. Docs shorter than mean_span take no mask (absent).

    Scale: positions come from exploding a SEQUENCE (never the token
    array — only counts matter here), anchor selection is one rank
    window on the doc key, span expansion fans out ≤4 rows per anchor,
    and the merge/rollup are partial aggs on (doc, pos) / doc."""
    n_tok = F.size(tokens(F.col(text_col)))
    base = df.select(F.col(id_col), n_tok.alias("n")).filter(
        F.col("n") >= mean_span
    )
    pos = base.select(
        id_col, "n", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("p")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col), F.col("p"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    n_spans = F.greatest(
        F.lit(1),
        F.round(F.col("n") * corruption_rate / mean_span, 0).cast("long"),
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("_h"), F.asc("p"))
    anchors = (
        pos.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_spans)
        # greatest(1, ·): a length-0 span would make the sequence below run
        # DESCENDING (Spark infers step -1 when start > stop), masking the
        # position BEFORE the anchor — with mean_span=1 some lengths hit 0
        .withColumn(
            "_len",
            F.greatest(F.lit(1), F.lit(mean_span - 1) + F.col("_h") % 3),
        )
    )
    masked = (
        anchors.select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("p"),
                    F.least(F.col("p") + F.col("_len") - 1, F.col("n") - 1),
                )
            ).alias("mpos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_masked"))
    )
    spans = anchors.groupBy(id_col, "n").agg(
        F.count("*").cast("bigint").alias("n_spans")
    )
    return spans.join(masked, id_col).select(
        F.col(id_col),
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_spans",
        "n_masked",
        F.round(F.col("n_masked") / F.col("n"), 6).alias("mask_frac"),
    )


def group_advantage(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Group-relative advantage (the GRPO normalization, Shao et al. 2024,
    DeepSeekMath: advantage = (score - mean(group)) / std(group)) — the
    calibration-free reward shaping RL-from-scores applies within each
    prompt's candidate group before policy updates. Zero-variance and
    singleton groups take advantage 0 (nothing to prefer).

    One shuffle on the group key; mean/std ride the same window
    partitioning as explicit moment averages (avg, avg of squares) so
    both engines run the identical closed-form arithmetic instead of
    engine-specific streaming-variance algorithms; round-6 absorbs
    partial-sum order skew."""
    wg = Window.partitionBy(group_col)
    s = F.col(score_col).cast("double")
    m = F.avg(s).over(wg)
    m2 = F.avg(s * s).over(wg)
    std = F.sqrt(F.greatest(m2 - m * m, F.lit(0.0)))
    return df.select(
        group_col,
        id_col,
        F.col(score_col),
        F.round(
            F.when(std > 1e-12, (s - m) / std).otherwise(0.0), 6
        ).alias("advantage"),
    )


def sft_loss_mask_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    trainable_roles: Sequence[str] = ("assistant",),
) -> DataFrame:
    """SFT loss-mask accounting: training computes loss only on the
    assistant's tokens (prompts are context, not targets), so the
    trainable-token fraction per conversation is the number that says how
    much signal an epoch actually contains — a corpus of long prompts
    and one-word answers trains far less than its token count suggests.
    Pure conditional partial agg on per-row token counts; one shuffle."""
    n_tok = F.size(tokens(F.col(text_col)))
    trainable = F.when(F.col(role_col).isin(*trainable_roles), n_tok).otherwise(0)
    return (
        df.groupBy(conv_col)
        .agg(
            F.sum(n_tok).cast("bigint").alias("n_tokens_total"),
            F.sum(trainable).cast("bigint").alias("n_tokens_trainable"),
        )
        .withColumn(
            "trainable_frac",
            F.round(
                F.col("n_tokens_trainable")
                / F.greatest(F.col("n_tokens_total"), F.lit(1)),
                6,
            ),
        )
    )


# UL2 mixture-of-denoisers (Tay et al. 2023): deterministic assignment of
# each document to an R / S / X denoiser with the paper's regime params.
DENOISER_MIX: tuple[tuple[str, float, int, float], ...] = (
    # (name, corruption_rate, mean_span, mixture_weight)
    ("R", 0.15, 3, 0.25),   # regular span corruption
    ("S", 0.25, 0, 0.25),   # sequential / prefix-LM: mask the SUFFIX
    ("X", 0.50, 32, 0.50),  # extreme: long spans, high rate
)


def denoiser_mix_plan(
    df: DataFrame,
    mix: tuple[tuple[str, float, int, float], ...] = DENOISER_MIX,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "ul2mix",
) -> DataFrame:
    """UL2 mixture-of-denoisers assignment (Tay et al., ICLR 2023): each
    document draws a denoiser regime — R (regular span corruption), S
    (prefix-LM: the suffix is the target), X (extreme) — by deterministic
    md5 bucket against the mixture weights, and gets its regime's plan
    numbers: masked-token estimate round(rate·n) for R/X, suffix length
    for S. The assignment step every UL2-style pretraining data builder
    runs before materializing sentinel targets (span_corruption_plan
    materializes the R/X positions; this picks who gets which regime).

    Pure per-row arithmetic: one md5, a weight-CDF CASE chain over a
    bounded literal mix, no shuffle at all."""
    n = F.size(tokens(F.col(text_col)))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / float(16**8)
    )
    total = sum(w for _, _, _, w in mix)
    den, rate, span = None, None, None
    cdf = 0.0
    for name, r, s, w in mix:
        cdf += w / total
        cond = u < cdf
        den = F.when(cond, name) if den is None else den.when(cond, name)
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
        span = F.when(cond, s) if span is None else span.when(cond, s)
    # float edge: u == 1.0 falls through → last regime
    last = mix[-1]
    den = den.otherwise(last[0])
    rate = rate.otherwise(last[1])
    span = span.otherwise(last[2])
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        den.alias("denoiser"),
        rate.alias("corruption_rate"),
        span.cast("int").alias("mean_span"),
        F.round(n * rate, 0).cast("bigint").alias("n_targets"),
    )


def linear_probe_gd(
    docs: DataFrame,
    label: Column,
    n_buckets: int = 16,
    iters: int = 2,
    lr_den: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed quality LINEAR PROBE trained by fixed-iteration
    gradient descent — the trainable sibling of the rule-based quality
    banks (the fastText/CCNet-style classifier pattern: cheap hashed
    bag-of-words features, a linear scorer, weak labels). Features are
    md5-hashed token-count buckets (+ an always-1 bias bucket), the label
    any Column predicate; the model is squared-loss linear regression,
    gradient w ← w − (1/lr_den)·Xᵀ(Xw − y).

    Cross-engine exactness (the fs_em_weights discipline, taken one step
    further — NO floating aggregation at all): weights live as integer
    MICROS, so margins m_u = Σ w_u·x (bigint), residuals r_u = m_u −
    y·1e6 (bigint), and gradients g_u = Σ r_u·x (bigint) are exact
    integer sums — aggregation order is never observable; the only float
    op is the per-bucket step floor(g_u/lr_den + 0.5), identical IEEE ops
    on identical values in both engines. Per iteration: one broadcast
    join + two keyed partial aggs over the long-form feature table;
    (n_buckets+1)-row driver state (the kmeans-centroid bound).

    Returns (bucket, w_u) for buckets 0..n_buckets (bucket n_buckets is
    the bias), after `iters` rounds from w=0. The default step is
    1/trace(XᵀX) (trace = Σ x², one exact-integer agg): trace bounds
    λ_max, so the squared-loss descent condition step < 2/λ_max holds by
    construction — no tuning, no divergence."""
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    feats = (
        docs.select(
            id_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
        )
        .groupBy(id_col, bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    bias = docs.select(
        id_col,
        F.lit(n_buckets).cast("long").alias("bucket"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    x = feats.unionByName(bias).localCheckpoint()
    if lr_den is None:
        lr_den = float(
            x.agg(F.sum(F.col("cnt") * F.col("cnt")).alias("t")).collect()[0]["t"]
        )
    yd = docs.select(
        id_col, label.cast("int").cast("bigint").alias("y")
    ).localCheckpoint()
    w = {b: 0 for b in range(n_buckets + 1)}
    for _ in range(iters):
        wdf = docs.sparkSession.createDataFrame(
            [(b, wu) for b, wu in w.items()], "bucket long, w_u long"
        )
        m = (
            x.join(F.broadcast(wdf), "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("w_u") * F.col("cnt")).alias("m_u"))
        )
        r = yd.join(m, id_col).select(
            id_col, (F.col("m_u") - F.col("y") * F.lit(1_000_000)).alias("r_u")
        )
        grad = (
            x.join(r, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("r_u") * F.col("cnt")).alias("g_u"))
            .collect()
        )
        for row in grad:
            w[int(row["bucket"])] -= math.floor(
                int(row["g_u"]) / lr_den + 0.5
            )
    return docs.sparkSession.createDataFrame(
        sorted(w.items()), "bucket int, w_u bigint"
    )


def linear_probe_score(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents with a trained linear probe: (id_col, score_u)
    where score_u = Σ w_u·x in integer micros — one broadcast join + one
    partial agg, the serve path of linear_probe_gd."""
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    feats = (
        docs.select(
            id_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
        )
        .groupBy(id_col, bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .unionByName(
            docs.select(
                id_col,
                F.lit(n_buckets).cast("long").alias("bucket"),
                F.lit(1).cast("bigint").alias("cnt"),
            )
        )
    )
    return (
        feats.join(
            F.broadcast(weights.select(F.col("bucket").cast("long"), "w_u")),
            "bucket",
        )
        .groupBy(id_col)
        .agg(F.sum(F.col("w_u") * F.col("cnt")).alias("score_u"))
    )
