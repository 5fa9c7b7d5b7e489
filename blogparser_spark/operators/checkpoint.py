"""Resumable checkpointing: per-slice commits, a marker ledger, lineage.

The north-star contract (SURVEY.md §4.3): a 10^12-turn run must survive
restarts without reprocessing finished work. There is no reference analog —
the Go CLI reprocesses everything (sample/main.go:32-47); this layer is
pipeline-level orchestration code, not a Catalyst concern.

Mechanism
---------
The input keyspace is split into RANGES of a stable partition key (hash of
conv_id mod n_slices — deterministic, data-independent). Each slice runs as
its own Spark job over a partition-pruned slice of the input and lands as
ONE atomic idempotent commit to the tablelog table at {output}/table. The
commit's marker encodes the slice, the slice's input identity and the
slicing config, so the table's commit-marker ledger is the one resume
guard: a resumed run skips exactly the slices whose current marker is
committed. The same commit carries the slice's lineage under its `record`
key (see run_sliced), atomically with the rows.

Why slice-level (not task-level): Spark already retries tasks; what Spark
does NOT give you is job-level resume after a driver loss. Slices bound the
blast radius of a restart to one slice's work.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from blogparser_spark.operators import tablelog as tl
from blogparser_spark.operators.parse import STATUSES as _OBSERVED_STATUSES
from blogparser_spark.operators.route import route_commit_tablelog


@dataclass
class SliceRecord:
    """What run_sliced did for one slice. Every field from slice_id to
    started_at is also stored in the slice's commit under `record`."""

    slice_id: int
    n_slices: int
    key_col: str
    predicate: str
    input_path: str
    input_snapshot: str
    rows_in: int
    status_counts: dict  # rows per parse_status (_status_counts)
    started_at: float
    rows_ok: int
    wall_seconds: float  # from started_at to after the commit
    table_version: int | None = None  # this slice's tablelog commit
    # the commit's summary (tablelog.commit_summary) — files/records/bytes
    # added, files/records removed and files rewritten by the replace,
    # write/manifest/rewrite/commit seconds, retries
    commit_summary: dict | None = None


SLICE_COL = "slice_bucket"


def slice_predicate(slice_id: int, n_slices: int, key_col: str = "conv_id"):
    """Deterministic, data-independent slice membership: pmod(hash(key), n).
    Every executor computes it identically; no shuffle, no state."""
    return F.pmod(F.hash(F.col(key_col)), F.lit(n_slices)) == slice_id


LAYOUT_MARKER = "_slice_layout.json"


def write_sliced_input(
    df: DataFrame, path: str, n_slices: int = 8, key_col: str = "conv_id"
) -> None:
    """Ingest-time alignment of the slice key with STORAGE partitioning:
    write the input partitioned by slice_bucket = pmod(hash(key), n). A
    slice run then filters on the partition column and the scan PRUNES to
    1/n of the files — a hash predicate over a flat layout cannot prune,
    so an N-slice run over it reads the corpus N times (at 100 TB × 64
    slices that is 6.4 PB of scan). Iceberg would express the same thing
    as a bucket(n, key) partition transform. The written slice count is
    persisted in a marker file so a later run with a DIFFERENT n_slices
    cannot silently misattribute slices (run n=8 over a written n=4
    layout would give 4 double-width slices and 4 empty ones)."""
    out = df.withColumn(SLICE_COL, F.pmod(F.hash(F.col(key_col)), F.lit(n_slices)))
    out.write.mode("overwrite").partitionBy(SLICE_COL).parquet(path)
    with open(os.path.join(path, LAYOUT_MARKER), "w") as f:
        json.dump({"n_slices": n_slices, "key_col": key_col}, f)


def _sliced_layout(path: str, n_slices: int, key_col: str) -> bool:
    """True iff `path` was written by write_sliced_input with EXACTLY this
    (n_slices, key_col). The marker is authoritative; a marker-less
    partitioned dir falls back to the hash predicate (correct, unpruned)
    rather than guessing the written layout from directory names — a
    subset check would accept a smaller written n and misreport slicing."""
    try:
        with open(os.path.join(path, LAYOUT_MARKER)) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return False
    return meta.get("n_slices") == n_slices and meta.get("key_col") == key_col


def _files_digest(root: str) -> str:
    """Digest of the sorted (relative path, size, mtime_ns) of every
    *.parquet file under `root`; a missing `root` holds no files."""
    files = []
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(d, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    return "files:" + hashlib.sha256(json.dumps(sorted(files)).encode()).hexdigest()[:16]


def input_snapshot_ids(path: str, n_slices: int, key_col: str) -> list[str]:
    """Each slice's input identity, the `snap=` of its marker: a digest of
    the files' relative paths, sizes and mtime_ns. On an input that
    write_sliced_input wrote with this (n_slices, key_col), slice s digests
    only the files under slice_bucket=s, so a change confined to one slice
    re-runs only that slice; any other input gets one digest over all its
    files. It cannot see a rewrite that keeps the file's size and forces
    its old mtime back."""
    if _sliced_layout(path, n_slices, key_col):
        return [_files_digest(os.path.join(path, f"{SLICE_COL}={s}")) for s in range(n_slices)]
    return [_files_digest(path)] * n_slices


def _status_counts(metrics: dict) -> dict:
    """Rows per observed parse_status; statuses outside the known list land
    in `other`, so the counts always sum to the row count."""
    counts = {st: int(metrics[st]) for st in _OBSERVED_STATUSES if metrics[st]}
    other = int(metrics["rows"]) - sum(counts.values())
    if other:
        counts["other"] = other
    return counts


def slice_marker(
    slice_id: int, snapshot: str, n_slices: int, key_col: str, nonce: str = ""
) -> str:
    """Idempotence marker for one slice's tablelog commit: encodes the
    input snapshot and the slicing config, so a restarted job's
    re-submission of the same work is a ledger no-op while a changed
    input (different snapshot) or re-slicing produces a fresh marker and
    re-commits. `nonce` (resume=False) forces a fresh generation."""
    base = f"slice={slice_id}|snap={snapshot}|n={n_slices}|key={key_col}"
    return f"{base}|run={nonce}" if nonce else base


def _marker_base(marker: str) -> str:
    """`marker` without its `|run=<nonce>` suffix."""
    base, sep, _ = marker.rpartition("|run=")
    return base if sep else marker


_MARKER_RE = re.compile(r"slice=(\d+)\|snap=.*\|n=(\d+)\|key=(.+)")


def _inside_slice(slice_id: int, n_slices: int, key_col: str):
    """The replace verdict for this slice under this slicing: True for a
    slice marker of this slice (any input snapshot, any nonce), whose rows
    all lie in the slice's keyspace; False for one of another slice of the
    same slicing, whose rows all lie outside it; None for any other marker
    (another slicing, or not a slice marker), whose rows may straddle it."""

    def inside(marker: str) -> bool | None:
        m = _MARKER_RE.fullmatch(_marker_base(marker))
        if m is None or (int(m[2]), m[3]) != (n_slices, key_col):
            return None
        return int(m[1]) == slice_id

    return inside


_EMPTY_RELATION_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


@contextmanager
def _observed_metrics_survive_empty_slices(spark: SparkSession):
    """Keep AQE's empty-relation propagation off while slices commit. When
    a slice holds no rows, the rule swaps the plan above its empty shuffle
    stage for an empty relation, which drops the observe() nodes with it:
    the slice's Observation never receives metrics and `.get` fails. The
    rule only fires on empty stages, so non-empty slices plan the same."""
    key = "spark.sql.adaptive.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    rules = [r for r in (prev or "").split(",") if r]
    spark.conf.set(key, ",".join(rules + [_EMPTY_RELATION_RULE]))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def run_sliced(
    spark: SparkSession,
    input_path: str,
    output_base: str,
    transform,
    n_slices: int = 8,
    key_col: str = "conv_id",
    resume: bool = True,
    table_format: str = "tablelog",
) -> list[SliceRecord]:
    """Run transform(df_slice) -> DataFrame for each incomplete slice,
    committing each to the table; returns a SliceRecord per slice run.
    `transform` must return a frame with a parse_status column (for the
    status counts). `table_format` accepts only "tablelog", the one sink.

    Input layouts: if input_path was written by write_sliced_input with a
    compatible slice count, each slice filters on the PARTITION column and
    the scan prunes to that slice's files; otherwise it falls back to the
    hash predicate over a full scan (correct, but reads the corpus once
    per slice — fine in tests, wrong at 100 TB; ingest sliced there).

    Sink: every slice routes into ONE snapshot-log table at
    {output_base}/table as an atomic idempotent commit
    (route.route_commit_tablelog — the north rule's per-sink Iceberg
    tables): a few files per slice sorted by the sink keys then conv_id,
    each recording its sink tuples with row counts (per-sink reads open
    only the files holding the sink) and conv_id footer stats + blooms for
    point lookups.

    Lineage: the slice's commit is its one durable record. Its `record`
    key holds the SliceRecord fields up to started_at, in the same atomic
    commit as the rows; the commit's `ts` marks the slice's end. Expiry
    drops old commits with their records, while the live files' markers
    still name the slice and input identity that produced them.

    Resume is ledger-only: a slice is done iff the table's marker ledger
    holds its CURRENT marker — slice_marker(s, input_snapshot_ids(...)[s],
    n_slices, key_col), with or without a resume=False run's `|run=` suffix.
    The ledger is the markers the live files carry, so it survives
    snapshot expiry and drops a marker once its rows are gone. After a
    slice's input or the slicing changes, the affected slices re-run
    rather than mixing lineages; a crashed run's re-submission is a commit
    no-op (tablelog.append_idempotent). A wiped table re-runs every slice.
    resume=False skips nothing and commits a fresh generation.

    Each slice lands as ONE copy-on-write commit that replaces its own
    keyspace under the CURRENT hash predicate (tablelog.append's
    `replace`): it adds the slice's files and removes the live files of
    this slice under this slicing (any snapshot or nonce) by metadata
    alone — no Spark job, no table read. Files that may straddle the
    keyspace (written under another slicing, or carrying no marker) are
    rewritten in the same commit keeping the rows of other slices; a
    rewrite with nothing left writes no file. Over all current slices the
    table converges to exactly the current generation, also when
    n_slices changed. A reader sees each slice wholly old or wholly new,
    never missing; a crash before a slice's commit leaves its old rows
    live and its new marker absent, so the resumed run re-runs it."""
    if table_format != "tablelog":
        raise ValueError(f"unknown table_format {table_format!r}: the sink is tablelog")
    snapshots = input_snapshot_ids(input_path, n_slices, key_col)
    table = os.path.join(output_base, "table")
    nonce = "" if resume else uuid.uuid4().hex[:8]
    committed = {_marker_base(m) for m in tl.committed_markers(table)}
    current = [slice_marker(s, snapshots[s], n_slices, key_col) for s in range(n_slices)]
    done = {s for s, m in enumerate(current) if m in committed} if resume else set()
    sliced = _sliced_layout(input_path, n_slices, key_col)
    records: list[SliceRecord] = []
    todo = [s for s in range(n_slices) if s not in done]
    # one reader for the run: each parquet() call infers the schema in a
    # Spark job of its own
    source = spark.read.parquet(input_path) if todo else None
    with _observed_metrics_survive_empty_slices(spark):
        for s in todo:
            t0 = time.time()
            if sliced:
                # partition-column filter → directory-level pruning at the scan
                src = source.filter(F.col(SLICE_COL) == s)
                predicate = f"{SLICE_COL} = {s} (partition-pruned)"
            else:
                src = source.filter(slice_predicate(s, n_slices, key_col))
                predicate = f"pmod(hash({key_col}), {n_slices}) = {s}"
            obs_in = Observation(f"in-{s}")
            obs_out = Observation(f"out-{s}")
            src = src.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
            out = transform(src)
            # per-status counts ride the SAME write job via observe() — no
            # re-read of the slice output just to recount
            status_aggs = [
                F.sum(F.when(F.col("parse_status") == st, 1).otherwise(0)).alias(st)
                for st in _OBSERVED_STATUSES
            ]
            out = out.observe(obs_out, F.count(F.lit(1)).alias("rows"), *status_aggs)
            marker = slice_marker(s, snapshots[s], n_slices, key_col, nonce)
            lineage = dict(slice_id=s, n_slices=n_slices, key_col=key_col, predicate=predicate,
                           input_path=input_path, input_snapshot=snapshots[s], started_at=t0)

            def record():  # append calls it after the write job: metrics are complete
                lineage.update(rows_in=int(obs_in.get["rows_in"]),
                               status_counts=_status_counts(obs_out.get))
                return lineage

            table_version, _ = route_commit_tablelog(
                out.withColumn("_slice", F.lit(s)).withColumn("_gen", F.lit(marker)),
                table,
                marker=marker,
                stats_cols=("conv_id",),
                bloom_cols=("conv_id",),
                replace=(
                    slice_predicate(s, n_slices, key_col),
                    _inside_slice(s, n_slices, key_col),
                ),
                record=record,
            )
            summary = tl.commit_summary(table, table_version)
            records.append(
                SliceRecord(
                    **lineage,
                    rows_ok=lineage["status_counts"].get("ok", 0),
                    wall_seconds=round(time.time() - t0, 3),
                    table_version=table_version,
                    commit_summary=summary,
                )
            )
    return records
