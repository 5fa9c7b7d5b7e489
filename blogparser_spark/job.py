"""spark-submit entry point for the full pipeline.

    spark-submit --py-files blogparser_spark.zip blogparser_spark/job.py \
        --input /path/transcripts --output /path/out [--resume] \
        [--slices 64] [--key-col conv_id] [--salt-parts 0]

Runs the sliced, resumable parse→enrich pipeline, then the aggregate
reports over the routed output. The sink is the snapshot-log table
format: one atomic idempotent commit per slice into {output}/table,
written as a few files sorted by the sink keys then conv_id. Each file's
manifest entry records the sink tuples it holds with row counts (per-sink
reads open only those files) plus conv_id stats and blooms for
conversation lookups — the north rule's per-sink Iceberg tables. Resume
rides the commit-marker ledger alone; each slice's commit also records
the slice's lineage. On a cluster the same file is submitted unchanged;
local runs honor SPARK_GRAFT_CPUS.

Output: one JSON line per slice run (slice_id, rows_in, rows_ok,
wall_seconds, table_version, commit_summary, from run_sliced's
SliceRecords), then one JSON report line for the whole run, which also
says whether the driver JVM started from a class-data-sharing archive.
"""

from __future__ import annotations

import argparse
import json
import sys


def transform(df):
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.parse import parse_stage
    from blogparser_spark.operators.route import with_sink_id

    return with_sink_id(enrich(parse_stage(df))).drop("images")


def make_transform(salt_parts: int = 0, salt_k: int = 16):
    """Job transform with optional salted repartition before the parse UDF.
    Use when the INPUT layout clusters hot conv_ids (e.g. conv-bucketed
    slices): parse is per-row/order-free, so spreading a hot conv across
    (conv_id, salt) buckets evens executor load with no correctness impact
    (operators/skew.py). salt_parts=0 skips the extra shuffle — right when
    the scan's splits are already balanced."""

    def t(df):
        if salt_parts:
            from blogparser_spark.operators.skew import salted_repartition

            df = salted_repartition(df, salt_parts, salt_k=salt_k)
        return transform(df)

    return t


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="output base dir")
    ap.add_argument("--slices", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--key-col", default="conv_id")
    ap.add_argument(
        "--salt-parts",
        type=int,
        default=0,
        help="salted repartition width before parse (0 = off; use when the "
        "input layout clusters hot conv_ids)",
    )
    args = ap.parse_args(argv)

    from blogparser_spark import session
    from blogparser_spark.operators import aggregate as agg
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

    spark = session.get_spark(app_name="blogparser-job")
    records = run_sliced(
        spark,
        args.input,
        args.output,
        make_transform(salt_parts=args.salt_parts),
        n_slices=args.slices,
        key_col=args.key_col,
        resume=args.resume,
    )
    for m in records:
        print(
            json.dumps(
                {
                    "slice_id": m.slice_id,
                    "rows_in": m.rows_in,
                    "rows_ok": m.rows_ok,
                    "wall_seconds": round(m.wall_seconds, 3),
                    "table_version": m.table_version,
                    "commit_summary": m.commit_summary,
                }
            )
        )
    table = f"{args.output}/table"
    # the snapshot IS the run's routed row set: slice commits are atomic
    # and other generations were replaced during the run
    routed = tl.read_snapshot(spark, table)
    report = {
        "slices_run": [m.slice_id for m in records],
        "rows_in": sum(m.rows_in for m in records),
        "wall_seconds": round(sum(m.wall_seconds for m in records), 3),
        "table_version": tl.current_version(table),
        "sink_counts": {
            f"{r['channel']}/{r['tool_category']}/{r['parse_status']}": r["n"]
            for r in agg.sink_counts(routed).collect()
        },
        "n_convs": agg.conv_stats(routed).count(),
        "class_sharing": session.class_sharing(spark),
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
