"""Route: fan parsed+enriched rows out to per-sink tables.

The reference's sink is a printf per record in a CLI loop
(sample/main.go:38-46) with per-file error isolation (:35-37). Here the
error-isolation contract is the parse_status column (rows never fail the
job), and the fan-out is keyed on (channel, tool_category, parse_status).

The sink is ONE snapshot-log table (operators/tablelog.py):
`route_commit_tablelog` commits a batch as a few files sorted by the sink
keys; each file's manifest entry records the sink tuples it holds with row
counts, so a per-sink read (`read_routed_tablelog`) opens only the files
holding that sink, and a commit costs one small write however many sinks
it touches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SINK_KEYS = ["channel", "tool_category", "parse_status"]


def with_sink_id(df: DataFrame) -> DataFrame:
    """A single string sink id (useful for metrics / observe())."""
    return df.withColumn(
        "sink_id", F.concat_ws("/", *[F.col(k) for k in SINK_KEYS])
    )


def route_commit_tablelog(
    df: DataFrame,
    table: str,
    marker: str,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    replace: tuple | None = None,
    record: Callable[[], dict] | None = None,
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
    conv — the serving path for "fetch this conversation").
    `replace` makes the commit a copy-on-write replace of the rows it
    names, and `record` returns the lineage the commit stores
    (tablelog.append). Returns (version, committed)."""
    from blogparser_spark.operators import tablelog as tl

    return tl.append_idempotent(
        df.sparkSession,
        table,
        df.drop("images"),
        marker=marker,
        partition_by=tuple(SINK_KEYS),
        stats_cols=stats_cols,
        bloom_cols=bloom_cols,
        replace=replace,
        record=record,
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
