"""Route: fan parsed+enriched rows out to per-sink tables.

The reference's sink is a printf per record in a CLI loop
(sample/main.go:38-46) with per-file error isolation (:35-37). Here the
error-isolation contract is the parse_status column (rows never fail the
job), and the fan-out is keyed on (channel, tool_category, parse_status).

Two sinks:
- `route_commit_tablelog` (the job's sink) commits a batch to ONE
  snapshot-log table as a few files sorted by the sink keys; each file's
  manifest entry records the sink tuples it holds with row counts, so a
  per-sink read (`read_routed_tablelog`) opens only the files holding that
  sink, and a commit costs one small write however many sinks it touches.
- `write_routed` is the plain-directory fan-out: a single-pass
  partitionBy write, one hive directory per sink, so per-sink readers get
  directory pruning. Iceberg when a catalog is configured, parquet
  otherwise (SURVEY.md §7.4 risk 4 — the sandbox has no Iceberg jars).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SINK_KEYS = ["channel", "tool_category", "parse_status"]


def with_sink_id(df: DataFrame) -> DataFrame:
    """A single string sink id (useful for metrics / observe())."""
    return df.withColumn(
        "sink_id", F.concat_ws("/", *[F.col(k) for k in SINK_KEYS])
    )


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _sink_salt(files_per_sink: int):
    """Bounded writer salt: each sink's rows land in exactly
    `files_per_sink` buckets keyed on conv_id — the ONE definition both the
    fan-out writer and the compactor cluster by, so their file layouts can
    never drift apart."""
    return F.pmod(F.hash(F.col("conv_id")), F.lit(max(files_per_sink, 1)))


def write_routed(
    df: DataFrame,
    path_or_table: str,
    mode: str = "overwrite",
    fmt: str | None = None,
    files_per_sink: int = 1,
) -> None:
    """Single-pass fan-out: partitionBy(sink keys). `fmt` forces a format;
    default picks iceberg if its runtime is on the classpath, else parquet.

    The frame is repartitioned on the sink keys (+ a bounded salt) first —
    without this, every upstream task opens a writer per sink it happens to
    hold rows for, producing tasks × sinks tiny files at scale. With it,
    each sink's rows land in `files_per_sink` salt buckets → bounded file
    counts regardless of upstream parallelism; hot sinks raise
    files_per_sink instead of skewing one writer."""
    spark = df.sparkSession
    use_iceberg = fmt == "iceberg" or (fmt is None and _iceberg_available(spark))
    # images is an internal array<struct>; sinks carry the flat record
    out = df.drop("images")
    salt = _sink_salt(files_per_sink)
    out = out.repartition(*[F.col(k) for k in SINK_KEYS], salt)
    if use_iceberg:
        writer = out.writeTo(path_or_table).using("iceberg").partitionedBy(
            *[F.col(k) for k in SINK_KEYS]
        )
        # honor `mode` — createOrReplace() on an append would silently
        # destroy every previously routed row in the table
        if mode == "append":
            if spark.catalog.tableExists(path_or_table):
                writer.append()
            else:
                writer.create()
        else:
            writer.createOrReplace()
    else:
        out.write.mode(mode).partitionBy(*SINK_KEYS).parquet(path_or_table)


def read_sink(
    spark: SparkSession,
    path_or_table: str,
    channel: str | None = None,
    tool_category: str | None = None,
    parse_status: str | None = None,
) -> DataFrame:
    """Read one sink; equality filters on partition columns prune at scan."""
    df = (
        spark.read.table(path_or_table)
        if "/" not in path_or_table
        else spark.read.parquet(path_or_table)
    )
    for k, v in (
        ("channel", channel),
        ("tool_category", tool_category),
        ("parse_status", parse_status),
    ):
        if v is not None:
            df = df.filter(F.col(k) == v)
    return df


def compact_routed_sink(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    files_per_sink: int = 1,
) -> dict:
    """Small-files compaction of a routed parquet sink: re-cluster every
    sink partition's fragments into `files_per_sink` files, preserving the
    partition layout (readers keep pruning).

    Why it exists at 10^12 turns: incremental/streaming appends write ≥1
    file per touched sink per micro-batch, so a sink accretes thousands of
    KB-sized fragments and every read pays a per-file open + footer parse.
    Compaction is ONE scan → the same bounded-salt repartition write_routed
    uses (each sink lands in exactly `files_per_sink` writer buckets) → a
    partitioned write to `dest_path`. Writing to a NEW location keeps the
    operation crash-safe on a plain filesystem — the swap (rename or
    repointing readers) is the caller's atomic step; on Iceberg the same
    maintenance is its transactional `rewrite_data_files` and this helper
    is unneeded. Returns {files_before, files_after, rows} so jobs can
    log/alert on fragmentation ratios."""
    import os

    def _nfiles(p: str) -> int:
        return sum(
            1
            for root, _, names in os.walk(p)
            for n in names
            if n.endswith(".parquet")
        )

    from pyspark.sql import Observation

    df = spark.read.parquet(src_path)
    salt = _sink_salt(files_per_sink)
    # the row count rides the write pass as an observe() metric — stats
    # cost no second scan of the corpus
    obs = Observation("compact_rows")
    out = df.observe(obs, F.count(F.lit(1)).alias("rows")).repartition(
        *[F.col(k) for k in SINK_KEYS], salt
    )
    out.write.mode("overwrite").partitionBy(*SINK_KEYS).parquet(dest_path)
    return {
        "files_before": _nfiles(src_path),
        "files_after": _nfiles(dest_path),
        "rows": int(obs.get["rows"]),
    }


def apply_retention_deletes(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    tombstones: DataFrame,
    key_col: str = "conv_id",
) -> dict:
    """Retention / right-to-be-forgotten rewrite: drop every row whose
    `key_col` appears in `tombstones` and rewrite the sink partition-
    preserving (readers keep pruning; pair with compact_routed_sink's
    swap discipline — write to a NEW location, the pointer flip is the
    caller's atomic step; on Iceberg this is a transactional DELETE and
    this helper is unneeded).

    Shape: ONE scan → LEFT ANTI broadcast join (tombstone sets are small —
    deletion requests, not data; Spark broadcasts under the threshold or
    via the explicit hint here) → partitioned write. The anti-join never
    shuffles the corpus; a 10^12-row sink pays exactly one read+write, the
    minimum possible for physical deletion on immutable files — both audit
    counts ride that pass as observe() metrics (before the join / before
    the writer), no extra scan. Returns {rows_before, rows_deleted,
    rows_after} for the audit manifest."""
    from pyspark.sql import Observation

    obs_in = Observation("retention_in")
    obs_out = Observation("retention_out")
    df = spark.read.parquet(src_path).observe(
        obs_in, F.count(F.lit(1)).alias("rows")
    )
    tomb = tombstones.select(F.col(key_col)).distinct()
    kept = df.join(F.broadcast(tomb), key_col, "left_anti").observe(
        obs_out, F.count(F.lit(1)).alias("rows")
    )
    kept.write.mode("overwrite").partitionBy(*SINK_KEYS).parquet(dest_path)
    rows_before = int(obs_in.get["rows"])
    rows_after = int(obs_out.get["rows"])
    return {
        "rows_before": rows_before,
        "rows_deleted": rows_before - rows_after,
        "rows_after": rows_after,
    }


def consistent_shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    vnodes: int = 32,
    salt: str = "ring",
) -> DataFrame:
    """Consistent-hash shard routing (Karger et al., STOC'97): each shard
    owns `vnodes` points on a 52-bit md5 ring; a key routes to the shard
    owning the first ring point at or after the key's hash (wrapping).
    The property plain `hash(key) % n` lacks: growing n_shards -> n+1
    remaps only ~1/(n+1) of keys (test-pinned), so resharding a 100-TB
    routed corpus moves one shard's worth of data, not all of it.

    Shape: the ring is n_shards x vnodes points, built in-plan from shard
    ids (no driver collect), sorted once into a one-row array and
    cross-joined broadcast onto the keys; the lookup is an aggregate over
    that small array per row (interpreted HOF — fine at <= a few hundred
    ring points; for thousands, bucket the ring by hash prefix first).
    Output adds (key_hash, shard)."""
    ring_pts = (
        df.sparkSession.range(n_shards)
        .select(
            F.col("id").cast("int").alias("shard"),
            F.explode(F.sequence(F.lit(0), F.lit(vnodes - 1))).alias("v"),
        )
        .select(
            "shard",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(":", F.lit(salt), F.col("shard"), F.col("v"))
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("pt"),
        )
    )
    ring = ring_pts.agg(
        F.sort_array(F.collect_list(F.struct("pt", "shard"))).alias("_ring")
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "#"), F.col(key_col).cast("string"))),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("key_hash")
    )
    keyed = df.withColumn("key_hash", h).crossJoin(F.broadcast(ring))
    nxt = F.filter(
        F.col("_ring"), lambda s: s["pt"] >= F.col("key_hash")
    )
    owner = F.when(F.size(nxt) > 0, F.element_at(nxt, 1)["shard"]).otherwise(
        F.element_at(F.col("_ring"), 1)["shard"]
    )
    return keyed.withColumn("shard", owner.cast("int")).drop("_ring")


# ---------------------------------------------------------------------------
# Routing onto the snapshot-log table format (operators/tablelog.py)
# ---------------------------------------------------------------------------


def route_commit_tablelog(
    df: DataFrame,
    table: str,
    marker: str,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    manifest_chunk_files: int | None = None,
) -> tuple[int | None, bool]:
    """Fan routed rows into ONE snapshot-log table keyed by the sink keys,
    as a single atomic idempotent commit — the north rule's "per-sink
    Iceberg tables, resumable from checkpoint" contract without the
    runtime jar. One commit covers every sink, so readers never observe a
    partially routed batch; the marker (slice id / batch id) makes a
    restarted job's re-submission a no-op (tablelog.append_idempotent).

    Layout: a few files per commit, sorted by the sink keys and then
    `stats_cols` (tablelog.append partition_by): a rebalance on the sink
    keys gives each sink one writer task and AQE's advisory partition size
    sets the file count, so a commit costs one small write however many
    sinks it touches. Each file's manifest entry records the sink tuples
    it holds with their row counts, and per-sink reads
    (read_routed_tablelog) open only the files holding the sink.
    `stats_cols`/`bloom_cols` forward to the manifest writer so files
    carry min/max footer stats and per-file blooms (a bloom on conv_id
    lets a conversation point lookup skip files that definitely lack the
    conv — the serving path for "fetch this conversation"). Commits adding
    many files inherit the two-level manifest layer through
    `manifest_chunk_files` (None = tablelog.MANIFEST_CHUNK_FILES).
    Returns (version, committed)."""
    from blogparser_spark.operators import tablelog as tl

    return tl.append_idempotent(
        df.sparkSession,
        table,
        df.drop("images"),
        marker=marker,
        partition_by=tuple(SINK_KEYS),
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        manifest_chunk_files=manifest_chunk_files,
    )


def read_routed_tablelog(
    spark: SparkSession,
    table: str,
    channel: str | None = None,
    tool_category: str | None = None,
    parse_status: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """Per-sink read of a tablelog-routed table: the manifest's per-file
    sink tuples prune files holding none of the sink's rows before any
    are opened; supports time travel via `version`."""
    from blogparser_spark.operators import tablelog as tl

    filters = {
        k: v
        for k, v in (
            ("channel", channel),
            ("tool_category", tool_category),
            ("parse_status", parse_status),
        )
        if v is not None
    }
    return tl.read_partition(spark, table, filters, version=version)
