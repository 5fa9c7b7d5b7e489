"""Enrich: small constant dimensions looked up as literal maps.

The reference's only lookup-enrich is the posWeights POS→weight map
(parser/summary.go:23-30, consumed by getWordWeight summary.go:227-241);
that one stays a broadcast dim table (dim_pos_weight) for the BM25 summary
operator. The transcript dims (tool→category, role→channel) have a few
constant rows each, so enrich compiles them into the plan as
`create_map(<literal pairs>)[key]` projections: no join, no exchange and
no extra job, so the fact side never moves and the lookup fuses into the
surrounding whole-stage code.

Unknown and NULL keys land in the 'unknown' bucket (FIXTURES.md §2:
deliberately-missing keys test this path), so downstream partitioning keys
are never NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from blogparser_spark.functions import patterns as P

TOOL_CATEGORY = [
    ("search", "retrieval"),
    ("browser", "web"),
    ("python", "code"),
    ("bash", "shell"),
    ("none", "chat"),
    # 'mystery-tool' deliberately absent → 'unknown'
]

ROLE_CHANNEL = [
    ("user", "inbound"),
    ("assistant", "outbound"),
    ("system", "control"),
    ("tool", "machine"),
]


def dim_pos_weight(spark: SparkSession) -> DataFrame:
    """posWeights as a proper dim table (parser/summary.go:23-30); consumed
    by the BM25 summary operator via broadcast join."""
    rows = [(k, v) for k, v in P.POS_WEIGHTS.items()]
    return spark.createDataFrame(rows, "pos string, weight double")


def _lookup(key: str, pairs: list[tuple[str, str]]) -> Column:
    """pairs[key] with an 'unknown' default; a missing or NULL key reads
    NULL from the map with ANSI mode on or off."""
    table = F.create_map(*[F.lit(x) for pair in pairs for x in pair])
    return F.coalesce(table[F.col(key)], F.lit("unknown"))


def enrich(df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Add tool_category (from tool) and channel (from role). `spark` is
    not used; it stays in the signature for the callers that pass it."""
    return df.withColumns(
        {
            "tool_category": _lookup("tool", TOOL_CATEGORY),
            "channel": _lookup("role", ROLE_CHANNEL),
        }
    )
