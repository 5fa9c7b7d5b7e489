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
commit's marker encodes the slice, input snapshot and slicing config, so
the table's commit-marker ledger is the one resume guard: a resumed run
skips exactly the slices whose current marker is committed. After each
commit a JSON manifest is written ATOMICALLY (temp file + rename) recording
lineage — slice id, predicate, input snapshot identifier, row counts
in/out, per-sink counts from df.observe() metrics, wall time, the commit's
summary. Manifests are never read to decide what to skip: a lost manifest
or a wiped table cannot make a resume disagree with the table.

Why slice-level (not task-level): Spark already retries tasks; what Spark
does NOT give you is job-level resume after a driver loss. Slices bound the
blast radius of a restart to one slice's work.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from blogparser_spark.operators import tablelog as tl
from blogparser_spark.operators.parse import STATUSES as _OBSERVED_STATUSES
from blogparser_spark.operators.route import route_commit_tablelog

MANIFEST_DIR = "_manifests"


@dataclass
class SliceManifest:
    slice_id: int
    n_slices: int
    key_col: str
    predicate: str
    input_path: str
    input_snapshot: str
    rows_in: int
    rows_ok: int
    sink_counts: dict
    started_at: float
    wall_seconds: float
    output_path: str
    table_version: int | None = None  # this slice's tablelog commit
    # the commit's summary (tablelog.commit_summary) — files/records/bytes
    # added, files/records removed and files rewritten by the replace,
    # write/manifest/rewrite/commit seconds, retries
    commit_summary: dict | None = None


def _manifest_path(base: str, slice_id: int) -> str:
    return os.path.join(base, MANIFEST_DIR, f"slice-{slice_id:05d}.json")


def write_manifest(base: str, m: SliceManifest) -> None:
    """Atomic write: tmp + rename, so a crash mid-write never yields a
    manifest that marks an incomplete slice as done."""
    path = _manifest_path(base, m.slice_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(asdict(m), f, indent=1)
    os.replace(tmp, path)


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


def input_snapshot_id(spark: SparkSession, path: str) -> str:
    """Lineage identifier for the input. Iceberg would give a snapshot id;
    for parquet dirs, the max mtime over ALL data files (recursive — the
    input may be partitioned into subdirectories) is the next best stable
    marker (changes iff the data changes)."""
    latest = None
    try:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    mt = os.path.getmtime(os.path.join(root, f))
                    latest = mt if latest is None else max(latest, mt)
    except OSError:
        return "unknown"
    return f"mtime:{int(latest)}" if latest is not None else "unknown"


def read_manifest(base: str, slice_id: int) -> dict | None:
    """A slice's lineage manifest, or None if absent/unreadable."""
    try:
        with open(_manifest_path(base, slice_id)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


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
) -> list[SliceManifest]:
    """Run transform(df_slice) -> DataFrame for each incomplete slice,
    committing each to the table + writing its manifest. `transform` must
    return a frame with a parse_status column (for the observed sink
    metrics). `table_format` accepts only "tablelog", the one sink.

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
    point lookups. The slice manifest carries the commit's summary.

    Resume is ledger-only: a slice is done iff the table's marker ledger
    holds its CURRENT marker — slice_marker(s, snapshot, n_slices,
    key_col), with or without a resume=False run's `|run=<nonce>` suffix.
    The ledger is the markers the live files carry, so it survives
    snapshot expiry and drops a marker once its rows are gone. The marker
    encodes the input snapshot and (n_slices, key_col), so after the input
    changes or the slicing changes every slice re-runs rather than mixing
    lineages; a crashed run's re-submission is a commit no-op
    (tablelog.append_idempotent). Manifests are lineage only and never
    read here: a wiped table re-runs every slice, lost manifests re-run
    none. resume=False skips nothing and commits a fresh generation.

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
    snapshot = input_snapshot_id(spark, input_path)
    table = os.path.join(output_base, "table")
    nonce = "" if resume else uuid.uuid4().hex[:8]
    committed = {_marker_base(m) for m in tl.committed_markers(table)}
    current = [slice_marker(s, snapshot, n_slices, key_col) for s in range(n_slices)]
    done = {s for s, m in enumerate(current) if m in committed} if resume else set()
    sliced = _sliced_layout(input_path, n_slices, key_col)
    manifests: list[SliceManifest] = []
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
            # per-sink counts ride the SAME write job via observe() — no
            # re-read of the slice output just to recount
            status_aggs = [
                F.sum(F.when(F.col("parse_status") == st, 1).otherwise(0)).alias(st)
                for st in _OBSERVED_STATUSES
            ]
            out = out.observe(obs_out, F.count(F.lit(1)).alias("rows"), *status_aggs)
            marker = slice_marker(s, snapshot, n_slices, key_col, nonce)
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
            )
            metrics = obs_out.get
            sink_counts = {
                st: int(metrics[st]) for st in _OBSERVED_STATUSES if metrics[st]
            }
            # statuses outside the known list must not vanish from the manifest:
            # record the residue so sink_counts always sums to the row count
            other = int(metrics["rows"]) - sum(sink_counts.values())
            if other:
                sink_counts["other"] = other
            m = SliceManifest(
                slice_id=s,
                n_slices=n_slices,
                key_col=key_col,
                predicate=predicate,
                input_path=input_path,
                input_snapshot=snapshot,
                rows_in=int(obs_in.get["rows_in"]),
                rows_ok=sink_counts.get("ok", 0),
                sink_counts=sink_counts,
                started_at=t0,
                wall_seconds=round(time.time() - t0, 3),
                output_path=table,
                table_version=table_version,
                commit_summary=tl.commit_summary(table, table_version),
            )
            write_manifest(output_base, m)
            manifests.append(m)
    return manifests
