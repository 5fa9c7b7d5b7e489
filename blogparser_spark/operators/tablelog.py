"""Snapshot-log table format: Iceberg's commit design re-expressed on plain
parquet + JSON — from scratch, no runtime jar.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime,
so this module implements the part of the table format the pipeline actually
depends on, using only the public Iceberg *design* (spec at
iceberg.apache.org/spec): an append-only log of immutable commits, each an
atomic commit-if-absent file naming the data files it adds/removes plus
per-file row counts and column min/max stats. Everything a 100-TB deployment
needs falls out of that one structure:

- **O(1) planning, no directory listing.** Readers replay the log (a few KB
  of JSON) instead of LISTing a 100-TB object-store prefix; the live file
  set IS the snapshot. Eventual-consistency of S3 listings never matters.
- **Time travel / reproducible reads**: any retained version is readable —
  a training run pins the snapshot id into its lineage manifest
  (checkpoint.SliceManifest.input_snapshot) and is re-runnable bit-for-bit.
- **Incremental computation**: `incremental_append_scan(from, to)` yields
  exactly the rows appended between two snapshots — the input contract for
  the IVM layer (operators/aggregate.apply_retractable_delta) and the
  incremental dedup probe (dedup.incremental_dedup_probe).
- **Copy-on-write row changes**: a delete, update, merge or slice
  replace rewrites only the live files holding matched rows and removes
  the originals in the same commit (Iceberg's
  `write.delete.mode=copy-on-write`, Delta Lake's `remove` actions). A
  commit only ever adds and removes data files, so a read is one scan of
  the live files with nothing to anti-join.
- **Compaction** folds small files into fresh data files as one atomic
  commit; logical rows are unchanged.
- **Snapshot expiry** bounds storage: physical files referenced only by
  expired versions are removed, with a rebase ("checkpoint") state so the
  log itself stays O(retained commits).
- **Stats pruning**: per-file min/max footer stats let `scan_between` read
  only the files whose range overlaps a predicate — partition-pruning
  semantics without a partition column (pairs with the z-order layout in
  operators/storage.write_zordered).

Concurrency is optimistic, exactly like Iceberg's commit-if-absent on the
metadata pointer: a commit is `os.link(tmp, log/v{N}.json)`, which fails if
another writer claimed version N first; appends re-validate and retry,
non-append commits surface CommitConflict to the caller.

The reference has no storage layer at all (the Go CLI rereads its input
files each run, sample/main.go:32-47); this is north-rule scope.

Layout on disk:
  <table>/data/c{version:06d}/part-*.parquet     immutable data files
  <table>/log/v{version:012d}.json               one commit per version
  <table>/log/_base_v{version:012d}.json         rebase state after expiry
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer committed the version this transaction targeted."""


class SnapshotExpired(LookupError):
    """The requested version predates the oldest retained snapshot."""


# ---------------------------------------------------------------------------
# log primitives
# ---------------------------------------------------------------------------


def _log_dir(table: str) -> str:
    return os.path.join(table, "log")


def _commit_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"v{version:012d}.json")


def _base_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"_base_v{version:012d}.json")


def list_versions(table: str) -> list[int]:
    try:
        names = os.listdir(_log_dir(table))
    except OSError:
        return []
    return sorted(
        int(n[1:13]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def current_version(table: str) -> int | None:
    vs = list_versions(table)
    return vs[-1] if vs else None


def _read_commit(table: str, version: int) -> dict:
    with open(_commit_path(table, version)) as f:
        return json.load(f)


def _write_tmp(table: str, doc: dict) -> str:
    """Write `doc` as JSON to a fresh, fsynced temp file in the log
    directory and return its path; a failed write leaves no file."""
    os.makedirs(_log_dir(table), exist_ok=True)
    tmp = os.path.join(_log_dir(table), f".tmp-{uuid.uuid4().hex}.json")
    try:
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return tmp


def _try_commit(table: str, commit: dict) -> bool:
    """Atomic commit-if-absent: write a temp file, then hard-link it to the
    versioned name. link(2) fails with EEXIST if a concurrent writer
    claimed the version — the loser re-reads the log and retries/aborts.
    This is the same primitive as Iceberg's atomic metadata swap."""
    tmp = _write_tmp(table, commit)
    try:
        os.link(tmp, _commit_path(table, commit["version"]))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


# ---------------------------------------------------------------------------
# file manifests (pyarrow footer reads — metadata only, never data)
# ---------------------------------------------------------------------------


def _json_safe(v):
    return v if isinstance(v, (int, float, str, bool)) or v is None else str(v)


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_of(dirpath: str, path: str) -> dict[str, str | None]:
    """Partition values parsed from hive-style `_p_<k>=<v>` path segments
    (hidden-partition writes partition on `_p_`-prefixed DUPLICATE columns
    so the data files keep the real columns — Iceberg keeps partition
    values in metadata for the same reason). Hive's null marker reads back
    as None."""
    from urllib.parse import unquote

    rel = os.path.relpath(os.path.dirname(path), dirpath)
    out: dict[str, str | None] = {}
    for seg in rel.split(os.sep):
        if "=" in seg and seg.startswith("_p_"):
            k, v = seg.split("=", 1)
            v = unquote(v)
            out[k[3:]] = None if v == _HIVE_NULL else v
    return out


# ---------------------------------------------------------------------------
# partition tuples (the one manifest form for partition values)
# ---------------------------------------------------------------------------
#
# Every file entry that carries partition values records them as
#   "partitions": {"keys": [k1, k2, ...], "tuples": [[[v1, v2, ...], rows], ...]}
# — the set of distinct key tuples the file holds, each with its exact row
# count. A hive-path file (hidden partition spec, add_files) holds one
# tuple; a sink-sorted file written by append(partition_by=...) holds one
# per sink it covers. Values are strings (None for null). The set is
# bounded: a file covering more than PART_TUPLES_MAX tuples records
# "tuples": None, which never prunes.

PART_TUPLES_MAX = 64


def _bounded_partitions(keys, counts: dict[tuple, int]) -> dict:
    """The manifest form for `counts` ({value tuple: rows}); past
    PART_TUPLES_MAX tuples the set is dropped (None = unknown)."""
    if len(counts) > PART_TUPLES_MAX:
        return {"keys": list(keys), "tuples": None}

    def order(item):
        return [(v is not None, v or "") for v in item[0]]

    return {
        "keys": list(keys),
        "tuples": [[list(t), n] for t, n in sorted(counts.items(), key=order)],
    }


def _data_partitions(pf, keys: tuple[str, ...]) -> dict:
    """Distinct `keys` tuples of one parquet file with their row counts,
    grouped with Arrow one record batch at a time over the key columns
    only. Stops reading once the bound is passed: the result is then the
    unknown set."""
    import pyarrow as pa

    counts: dict[tuple, int] = {}
    for batch in pf.iter_batches(columns=list(keys)):
        grouped = pa.Table.from_batches([batch]).group_by(list(keys))
        for row in grouped.aggregate([([], "count_all")]).to_pylist():
            t = tuple(None if row[k] is None else str(row[k]) for k in keys)
            counts[t] = counts.get(t, 0) + row["count_all"]
        if len(counts) > PART_TUPLES_MAX:
            break
    return _bounded_partitions(keys, counts)


def _tuple_rows(e: dict) -> list[tuple[dict, int]]:
    """An entry's partition tuples as ({key: value}, rows) pairs; [] when
    the entry has no partition values or its set was not recorded."""
    parts = e.get("partitions")
    if not parts or parts.get("tuples") is None:
        return []
    return [(dict(zip(parts["keys"], vals)), n) for vals, n in parts["tuples"]]


# ---------------------------------------------------------------------------
# hidden partitioning (Iceberg partition-spec transforms)
# ---------------------------------------------------------------------------

_SPEC_RE = re.compile(
    r"^\s*(?:(identity|days|hours|months|years)\s*\(\s*(\w+)\s*\)"
    r"|(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)"
    r"|(\w+))\s*$"
)

# lexical prefix length of the ISO-rendered timestamp per temporal transform
_TEMPORAL_PREFIX = {"years": 4, "months": 7, "days": 10, "hours": 13}


def parse_partition_spec(spec: tuple[str, ...] | list[str]) -> list[dict]:
    """Parse an Iceberg-style partition spec — `("days(ts)",
    "bucket(8, conv_id)", "truncate(4, role)", "region")` — into field
    dicts {name, source, transform, param}. This is Iceberg's HIDDEN
    partitioning (spec §Partition Transforms): the table partitions on a
    TRANSFORM of a source column, writers never materialize the partition
    column in their rows, and readers prune with plain predicates on the
    source column (scan_where projects them through the transform)."""
    fields = []
    for s in spec:
        m = _SPEC_RE.match(s)
        if not m:
            raise ValueError(f"unparseable partition-spec field: {s!r}")
        if m.group(6):  # bare column = identity
            transform, param, source = "identity", None, m.group(6)
        elif m.group(1):
            transform, param, source = m.group(1), None, m.group(2)
        else:
            transform, param, source = m.group(3), int(m.group(4)), m.group(5)
        if transform == "identity":
            name = source
        elif transform in _TEMPORAL_PREFIX:
            name = f"{source}_{transform[:-1]}"  # ts_day, ts_hour, ...
        else:
            name = f"{source}_{transform}_{param}"
        fields.append(
            {"name": name, "source": source, "transform": transform, "param": param}
        )
    return fields


def _transform_expr(field: dict, dtype: str) -> Column:
    """The Spark-side partition-value expression for one spec field. Every
    transform has an EXACT Python twin (_twin_transform) so manifest-side
    pruning can project predicate literals through the same function:

    - bucket(n): md5-hex-prefix mod n (the repo's engine-portable stand-in
      for Iceberg's murmur3 bucket — same convention as the curation
      sampling keys).
    - truncate(w): substring for strings, w*floor(v/w) for integers
      (pmod keeps negatives on the Iceberg floor semantics).
    - days/hours/months/years: LEXICAL truncation of the ISO-rendered
      value (substring of cast-to-string) — timezone-free for NTZ
      timestamps and identical in Spark, Python, and DuckDB, unlike
      epoch-day arithmetic.
    """
    col = F.col(field["source"])
    t = field["transform"]
    if t == "identity":
        return col
    if t == "bucket":
        return F.pmod(
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
                "long"
            ),
            F.lit(field["param"]),
        )
    if t == "truncate":
        if dtype == "string":
            return F.substring(col, 1, field["param"])
        return (col - F.pmod(col, F.lit(field["param"]))).cast("long")
    return F.substring(col.cast("string"), 1, _TEMPORAL_PREFIX[t])


def _twin_transform(field: dict, value) -> str:
    """Python twin of _transform_expr applied to a PREDICATE LITERAL,
    returning the hive-path string form the manifest stores. Bit-for-bit
    agreement with the Spark expression is pinned by a property test."""
    t = field["transform"]
    if t == "identity":
        return str(value)
    if t == "bucket":
        h = hashlib.md5(str(value).encode()).hexdigest()[:8]
        return str(int(h, 16) % field["param"])
    if t == "truncate":
        if isinstance(value, str):
            return value[: field["param"]]
        return str(int(value - (value % field["param"])))
    return str(value)[: _TEMPORAL_PREFIX[t]]


def _numeric(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _part_match(field: dict, part_value: str | None, pred: tuple) -> bool:
    """Can a file whose partition value for `field` is `part_value`
    contain rows matching `pred` on the SOURCE column? False only when
    the transform projection PROVES it cannot (Iceberg's inclusive
    projection): equality projects through every transform; ranges
    project through order-preserving transforms (identity, truncate,
    temporal) but never through bucket. A null value is indeterminate
    (a null transform output says nothing about the source): keep."""
    if part_value is None:
        return True
    op = pred[0]
    if op == "=":
        return part_value == _twin_transform(field, pred[1])
    lo, hi = _twin_transform(field, pred[1]), _twin_transform(field, pred[2])
    if field["transform"] == "bucket":
        return True  # hash transform is not order-preserving
    n, a, b = _numeric(part_value), _numeric(lo), _numeric(hi)
    if n is not None and a is not None and b is not None:
        return a <= n <= b
    return lo <= part_value <= hi


BLOOM_M = 2048  # smallest per-file bloom, in bits (256 bytes in the manifest)
BLOOM_M_MAX = 1 << 16  # largest (8 KiB)
BLOOM_K = 3     # hash probes per value


def _bloom_bits_for(rows: int) -> int:
    """Bloom size for a file of `rows` rows: the power of two at or above
    the row count (an upper bound on its distinct values), clamped to
    [BLOOM_M, BLOOM_M_MAX] — a few sink-sorted files per commit hold many
    keys each, and a fixed 2048-bit filter saturates past a few hundred."""
    m = BLOOM_M
    while m < min(rows, BLOOM_M_MAX):
        m *= 2
    return m


def _bloom_positions(value, m: int = BLOOM_M) -> list[int]:
    """Deterministic md5-derived bit positions for one key value — the
    same expression on write and probe, engine-neutral (str(value) keys:
    ints and strings round-trip identically through JSON). Only int and
    str keys are bloomable: a float's string form is representation-
    dependent (1 vs 1.0), and a false absence verdict would WRONGLY prune
    a file — _bloom_build skips other types so no filter exists to
    mis-answer, and _bloom_match returns keep for them."""
    s = str(value)
    return [
        int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16) % m
        for i in range(BLOOM_K)
    ]


def _bloom_build(values, m: int = BLOOM_M) -> str:
    """Hex-encoded m-bit array with every value's probes set."""
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue  # NULL never matches an '=' predicate: safe to omit
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            return ""  # unbloomable column type: record no filter at all
        for pos in _bloom_positions(v, m):
            bits[pos // 8] |= 1 << (pos % 8)
    return bits.hex()


def _bloom_match(hexbits: str | None, pred: tuple) -> bool:
    """Definite-absence check for one '=' predicate: if ANY probe bit is
    unset the file cannot contain the value. None / non-equality: keep
    (blooms answer membership only — ranges fall back to min/max)."""
    v = pred[1] if pred[0] == "=" else None
    if (
        not hexbits  # None or the empty unbloomable marker
        or pred[0] != "="
        or isinstance(v, bool)
        or not isinstance(v, (int, str))
    ):
        return True  # membership unknown: never prune blind
    bits = bytes.fromhex(hexbits)
    return all(
        bits[pos // 8] & (1 << (pos % 8))
        for pos in _bloom_positions(pred[1], len(bits) * 8)
    )


def _col_sketches(pf, col: str) -> str:
    """Writer-side bloom for one column in ONE streaming pass over the
    file's record batches (pyarrow iter_batches), with driver memory
    bounded at O(batch + bloom), never O(rows in file): the bloom folds
    bits in place. Same int/str-only key discipline as _bloom_build: an
    unbloomable value type records no filter at all for the whole file
    (''). Each batch is deduplicated first (pyarrow unique), so a value
    repeated across a conversation's turns is hashed once per batch; bloom
    bits are idempotent, so the result is identical to hashing every
    value. The bloom is sized from the footer's row count
    (_bloom_bits_for)."""
    import pyarrow.compute as pc

    m = _bloom_bits_for(pf.metadata.num_rows)
    bits = bytearray(m // 8)
    for batch in pf.iter_batches(columns=[col]):
        for v in pc.unique(batch.column(0)).to_pylist():
            if v is None:
                continue  # NULL never matches '='
            if isinstance(v, bool) or not isinstance(v, (int, str)):
                return ""
            for pos in _bloom_positions(v, m):
                bits[pos // 8] |= 1 << (pos % 8)
    return bits.hex()


def _stats_match(st: list | None, pred: tuple) -> bool:
    """Min/max footer-stats check for one predicate; None stats keep."""
    if st is None:
        return True
    try:
        if pred[0] == "=":
            return st[0] <= pred[1] <= st[1]
        return st[0] <= pred[2] and st[1] >= pred[1]
    except TypeError:
        return True  # cross-type stats (e.g. str vs int) — never prune blind


# ---------------------------------------------------------------------------
# scan planning (manifests only)
# ---------------------------------------------------------------------------
#
# A manifest entry is one flat record per data file, keyed by column name:
#   {"path", "rows", "bytes", "seq", "stats": {col: [min, max]}}
# plus, when recorded, "bloom" ({col: hex bits}), "partitions" (the tuple
# set above), "spec" (the hidden-partition spec it was written under) and
# "markers" (the resume ledger). Planning checks every live entry.


def _added_entries(table: str, commit: dict) -> list[dict]:
    """A commit's added data file entries."""
    return commit.get("added_data", [])


def _prune_reason(e: dict, predicates: dict[str, tuple]) -> str | None:
    """Why the file entry `e` holds no row matching `predicates`, or None
    when it may hold one. "partition": no recorded partition tuple passes
    every predicate projected through the entry's spec (identity on the
    partition keys when the entry has no spec); an entry without a
    recorded tuple set is kept. Then "stats": min/max rule a predicate
    out. Then "bloom": a bloom proves an '=' value absent."""
    parts = e.get("partitions") or {}
    tuples = parts.get("tuples")
    if tuples is not None:
        pos = {k: i for i, k in enumerate(parts["keys"])}
        fields = e.get("spec") or [
            {"name": k, "source": k, "transform": "identity", "param": None}
            for k in parts["keys"]
        ]
        checks = [
            (pos[f["name"]], f, pred)
            for col, pred in predicates.items()
            for f in fields
            if f["source"] == col and f["name"] in pos
        ]
        if checks and not any(
            all(_part_match(f, vals[i], pred) for i, f, pred in checks)
            for vals, _n in tuples
        ):
            return "partition"
    stats = e.get("stats", {})
    if not all(_stats_match(stats.get(c), p) for c, p in predicates.items()):
        return "stats"
    bloom = e.get("bloom", {})
    if not all(_bloom_match(bloom.get(c), p) for c, p in predicates.items()):
        return "bloom"
    return None


def plan_scan(
    table: str,
    predicates: dict[str, tuple],
    version: int | None = None,
    _state: dict | None = None,
) -> dict:
    """Plan a predicate scan from the manifests: check every live file
    entry (_prune_reason) and return the files to read with a scan report
    (Iceberg's ScanReport): {"paths", "entries", "n_files_considered",
    "n_files_skipped", "pruned_by_partition", "pruned_by_stats",
    "pruned_by_bloom", "plan_ms"}. plan_ms is this call's wall time, log
    replay included; `_state` takes a caller's already-replayed state so
    one planning call never replays the log twice."""
    t0 = time.perf_counter()
    state = _state if _state is not None else _state_at(table, version)[1]
    kept: dict[str, dict] = {}
    pruned = {"partition": 0, "stats": 0, "bloom": 0}
    for path in sorted(state["data"]):
        e = state["data"][path]
        why = _prune_reason(e, predicates)
        if why is None:
            kept[path] = e
        else:
            pruned[why] += 1
    return {
        "paths": list(kept),
        "entries": kept,
        "n_files_considered": len(state["data"]),
        "n_files_skipped": sum(pruned.values()),
        **{f"pruned_by_{k}": n for k, n in pruned.items()},
        "plan_ms": (time.perf_counter() - t0) * 1e3,
    }


def prune_files_where(
    table: str, predicates: dict[str, tuple], version: int | None = None
) -> tuple[list[str], int]:
    """Plan a predicate scan against the manifests only: live data files
    that can contain matching rows. `predicates` maps SOURCE column →
    ("=", v) or ("between", lo, hi). Each file is checked against (a) the
    partition spec it was written under, projected through its transforms
    — so partition EVOLUTION is handled per-file: a file written before a
    bucket field existed simply has no value for it and is kept — and (b)
    its min/max footer stats (plus blooms for '='). Returns
    (paths_to_read, n_files_skipped)."""
    plan = plan_scan(table, predicates, version)
    return plan["paths"], plan["n_files_skipped"]


def scan_where(
    spark: SparkSession,
    table: str,
    predicates: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Hidden-partition-pruned scan: plan with plan_scan (transform
    projection + footer stats + blooms, manifests only — no file is opened
    to decide), then read the surviving files and apply the EXACT
    predicates. At 100 TB this is the difference between a point lookup
    opening 1/n_buckets of one day's files and a full-table scan — and
    because the spec is per-file, the same call stays correct across
    partition-spec changes."""
    _, state = _state_at(table, version)
    plan = plan_scan(table, predicates, version, _state=state)
    df = _read_files(spark, plan["paths"], state["schema"])
    for col, pred in predicates.items():
        if pred[0] == "=":
            df = df.filter(F.col(col) == F.lit(pred[1]))
        else:
            df = df.filter(F.col(col).between(pred[1], pred[2]))
    return df


def _file_entries(
    dirpath: str,
    stats_cols: tuple[str, ...],
    seq: int,
    bloom_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
) -> list[dict]:
    """Manifest entries for every parquet file under dirpath: row count,
    byte size, partition tuples, and min/max per requested stats column —
    read from parquet FOOTERS and path segments (the same numbers Iceberg
    persists in its manifests). Blooms scan their column,
    and `partition_by` groups the key columns of each file into its
    tuple set (_data_partitions); without it, hive `_p_` path segments
    give the file its one tuple."""
    import pyarrow.parquet as pq

    entries = []
    for root, _dirs, files in os.walk(dirpath):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            pf = pq.ParquetFile(path)
            md = pf.metadata
            stats: dict[str, list] = {}
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for col in stats_cols:
                if col not in idx:
                    continue
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if lo is not None:
                    stats[col] = [_json_safe(lo), _json_safe(hi)]
            bloom: dict[str, str] = {}
            for col in bloom_cols:
                if col in idx:
                    hexbits = _col_sketches(pf, col)
                    if hexbits:
                        bloom[col] = hexbits
            entry = {
                "path": path,
                "rows": md.num_rows,
                "bytes": os.path.getsize(path),
                "seq": seq,
                "stats": stats,
            }
            if bloom:
                entry["bloom"] = bloom
            if partition_by:
                entry["partitions"] = _data_partitions(pf, partition_by)
            else:
                part = _partition_of(dirpath, path)
                if part:
                    entry["partitions"] = _bounded_partitions(
                        part, {tuple(part.values()): md.num_rows}
                    )
            entries.append(entry)
    return entries


def _schema_of(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


# ---------------------------------------------------------------------------
# snapshot state replay
# ---------------------------------------------------------------------------


def _state_at(table: str, version: int | None = None) -> tuple[int, dict]:
    """Replay the commits up to `version` (default: the newest). Returns
    (version, state) where state = {"data": {path: entry}, "schema": [...]}.

    The walk follows `parent` pointers back from `version` (on the linear
    log each commit's parent is the version before it) and stops early at
    any version carrying a rebase base file (the persisted state at that
    version, written by expiry wherever the chain is truncated), keeping
    replay O(retained commits)."""
    versions = list_versions(table)
    if not versions:
        raise LookupError(f"no commits in table log: {table}")
    target = versions[-1] if version is None else version
    if target not in versions:
        if target < versions[0]:
            raise SnapshotExpired(
                f"version {version} expired (oldest retained: {versions[0]})"
            )
        raise LookupError(f"unknown version {version} for table {table}")

    retained = set(versions)
    state: dict = {"data": {}, "schema": None}
    chain: list[dict] = []
    v: int | None = target
    while v is not None:
        base = _base_path(table, v)
        if os.path.exists(base):
            # the base file IS the state at v (inclusive); replay only the
            # chain commits strictly after it.
            with open(base) as f:
                snap = json.load(f)
            state = {
                "data": {e["path"]: e for e in snap["data"]},
                "schema": snap["schema"],
            }
            break
        if v not in retained:
            raise SnapshotExpired(
                f"commit v{v} on the chain of v{target} expired: {table}"
            )
        c = _read_commit(table, v)
        chain.append(c)
        v = c.get("parent")

    for c in reversed(chain):
        for e in c.get("added_data", []):
            state["data"][e["path"]] = e
        for p in c.get("removed_data", []):
            state["data"].pop(p, None)
        if c.get("schema"):
            state["schema"] = c["schema"]
    return target, state


def _chain_between(
    table: str, from_version: int, to_version: int | None
) -> tuple[int, list[dict]]:
    """The commits in (from_version, to_version], oldest first (to_version
    defaults to the newest), walked back along parent pointers. Raises
    SnapshotExpired if an in-range commit was expired, LookupError if
    from_version is not on the chain of to_version."""
    versions = set(list_versions(table))
    if not versions:
        raise LookupError(f"no commits in table log: {table}")
    if to_version is None:
        to_version = max(versions)
    out: list[dict] = []
    v: int | None = to_version
    while v is not None and v > from_version:
        if v not in versions:
            raise SnapshotExpired(
                f"chain commit v{v} in ({from_version}, {to_version}] "
                f"expired: {table}"
            )
        c = _read_commit(table, v)
        out.append(c)
        v = c.get("parent")
    if v != from_version and not (v is None and from_version <= 0):
        raise LookupError(
            f"from_version {from_version} is not an ancestor of "
            f"v{to_version}: {table}"
        )
    return to_version, list(reversed(out))


def snapshot_lineage(table: str) -> list[dict]:
    """Per-commit lineage summaries (version, operation, rows/files added
    and removed) — the table-level analog of checkpoint.SliceManifest."""
    out = []
    for v in list_versions(table):
        c = _read_commit(table, v)
        out.append(
            {
                "version": v,
                "operation": c["operation"],
                "ts": c.get("ts"),
                "rows_added": sum(e["rows"] for e in c.get("added_data", [])),
                "files_added": len(c.get("added_data", [])),
                "files_removed": len(c.get("removed_data", [])),
            }
        )
    return out


# ---------------------------------------------------------------------------
# metadata inspection tables (Iceberg's history / files / partitions tables)
# ---------------------------------------------------------------------------
#
# Iceberg exposes table internals as queryable metadata tables
# (`db.tbl.history`, `.files`, `.snapshots`, `.partitions`); these are the
# snapshot-log analogs. All three are driver-side LOG scans — cost is
# O(commits) / O(live files) manifest work, never a data-file read — turned
# into DataFrames so operators can join, filter, and aggregate table health
# (small-file counts, commit cadence) with the same
# relational vocabulary as the data itself.


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """One row per commit: lineage pointer, operation, and
    added/removed file and row tallies. The DataFrame sibling of
    snapshot_lineage (which returns driver dicts)."""
    rows = []
    for v in list_versions(table):
        c = _read_commit(table, v)
        rows.append(
            (
                v,
                c.get("parent"),
                c["operation"],
                float(c.get("ts") or 0.0),
                sum(int(e.get("rows", 0)) for e in c.get("added_data", [])),
                len(c.get("added_data", [])),
                len(c.get("removed_data", [])),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, parent int, operation string, "
        "ts double, rows_added bigint, files_added int, files_removed int",
    )


def table_files(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """One row per LIVE data file at a snapshot: sequence number, manifest
    row/byte tallies, partition tuples (the manifest's {"keys", "tuples"}
    form as JSON) and footer stats. This is the small-file health view —
    `table_files(...).groupBy(...).agg(...)` plans maintenance
    (compact_binpack targets) without opening a single data file."""
    _, state = _state_at(table, version)
    rows = [
        (
            p,
            int(e["seq"]),
            int(e.get("rows", 0)),
            int(e.get("bytes", 0)),
            json.dumps(e.get("partitions") or {}, sort_keys=True),
            json.dumps(e.get("stats") or {}, sort_keys=True, default=str),
        )
        for p, e in sorted(state["data"].items())
    ]
    return spark.createDataFrame(
        rows,
        "path string, seq int, rows bigint, bytes bigint, "
        "partition string, stats string",
    )


def table_partitions(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """One row per partition tuple of the LIVE data files at a snapshot
    (Iceberg's `partitions` metadata table): file count, exact row total
    (each file records its rows per tuple), byte total, and the
    sequence-number range — per-sink/per-day size skew and compaction debt
    read straight off the manifests, no data file opened. A file holding
    several tuples counts once under each, and its bytes are split across
    them in proportion to rows. Unpartitioned files aggregate under the
    empty partition `{}`; files whose tuple set passed the bound
    (PART_TUPLES_MAX) aggregate under a NULL partition. Partition keys are
    the file's WRITE-TIME spec names (per-file specs = partition
    evolution, so two generations show as distinct tuples)."""
    _, state = _state_at(table, version)
    agg: dict[str | None, list] = {}
    for _p, e in sorted(state["data"].items()):
        rows_total = int(e.get("rows", 0))
        if not e.get("partitions"):
            tuples = [("{}", rows_total)]
        elif e["partitions"]["tuples"] is None:
            tuples = [(None, rows_total)]
        else:
            tuples = [
                (json.dumps(part, sort_keys=True), n) for part, n in _tuple_rows(e)
            ]
        seq = int(e["seq"])
        for key, n in tuples:
            s = agg.setdefault(key, [0, 0, 0, seq, seq])
            s[0] += 1
            s[1] += n
            s[2] += int(e.get("bytes", 0)) * n // max(rows_total, 1)
            s[3] = min(s[3], seq)
            s[4] = max(s[4], seq)
    rows = [
        (k, *v) for k, v in sorted(agg.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))
    ]
    return spark.createDataFrame(
        rows,
        "partition string, n_files int, rows bigint, bytes bigint, "
        "min_seq int, max_seq int",
    )


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def _check_schema(
    existing: list[list[str]] | None, new: list[list[str]], allow_evolution: bool
) -> list[list[str]]:
    if existing is None:
        return new
    old = dict(map(tuple, existing))
    for name, typ in new:
        if name in old and old[name] != typ:
            raise ValueError(f"schema mismatch on column {name}: {old[name]} vs {typ}")
    new_names = {n for n, _ in new}
    added = [n for n, _ in new if n not in old]
    missing = [n for n in old if n not in new_names]
    if (added or missing) and not allow_evolution:
        raise ValueError(
            f"schema change requires allow_evolution=True (added={added}, "
            f"missing={missing})"
        )
    merged = [list(kv) for kv in existing]
    merged += [[n, t] for n, t in new if n not in old]
    return merged


def _write_data_files(
    df: DataFrame,
    table: str,
    version: int,
    stats_cols: tuple[str, ...],
    kind: str,
    partition_by: tuple[str, ...] = (),
    spec_fields: list[dict] | None = None,
    bloom_cols: tuple[str, ...] = (),
    timings: dict | None = None,
) -> list[dict]:
    """Write df as parquet under a fresh commit directory and build its
    manifest entries; `timings` (when given) receives write_s and
    manifest_s.

    `partition_by` writes a FEW sink-sorted files, not one hive directory
    per key tuple: a rebalance on the keys puts each tuple's rows in one
    writer task (AQE's advisory partition size sets how many, and splits
    a skewed tuple), and a local sort on (keys, stats_cols) keeps each
    tuple's rows contiguous with tight per-row-group stats. The manifest
    records each file's tuple set with row counts. A global orderBy would
    cost a range-sampling pass, which re-runs the whole upstream plan (for
    the job, the parse UDF)."""
    outdir = os.path.join(table, kind, f"c{version:06d}-{uuid.uuid4().hex[:8]}")
    if partition_by and spec_fields:
        raise ValueError("pass partition_by OR partition_spec, not both")
    t0 = time.perf_counter()
    if spec_fields:
        # hidden partitioning: the partition columns are TRANSFORMS of
        # source columns, written as duplicate `_p_` columns so data files
        # keep only real columns; values live in the manifest + path.
        dtypes = dict(df.dtypes)
        out = df
        for f in spec_fields:
            out = out.withColumn(
                f"_p_{f['name']}", _transform_expr(f, dtypes[f["source"]])
            )
        out.write.mode("error").partitionBy(
            *[f"_p_{f['name']}" for f in spec_fields]
        ).parquet(outdir)
    elif partition_by:
        df.hint("rebalance", *partition_by).sortWithinPartitions(
            *partition_by, *[c for c in stats_cols if c not in partition_by]
        ).write.mode("error").parquet(outdir)
    else:
        df.write.mode("error").parquet(outdir)
    t1 = time.perf_counter()
    entries = _file_entries(
        outdir,
        stats_cols,
        seq=version,
        bloom_cols=bloom_cols,
        partition_by=partition_by,
    )
    if spec_fields:
        # every file records the spec it was written under — partition
        # evolution is per-file, exactly Iceberg's manifest spec_id.
        for e in entries:
            e["spec"] = spec_fields
    if timings is not None:
        timings["write_s"] = t1 - t0
        timings["manifest_s"] = time.perf_counter() - t1
    return entries


def append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stats_cols: tuple[str, ...] = (),
    allow_evolution: bool = False,
    max_retries: int = 5,
    partition_by: tuple[str, ...] = (),
    marker: str | None = None,
    partition_spec: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    replace: tuple[Column, Callable[[str], bool | None]] | None = None,
) -> int:
    """Append df as a new snapshot; returns the committed version. Appends
    conflict with nothing (they only add files), so a lost commit race is
    retried against the refreshed log — Iceberg's fast-append semantics.
    `partition_by` writes a few files sorted by those keys, each
    recording its key tuples with row counts in the manifest (read back,
    pruned, via read_partition).
    `partition_spec` is the hidden-partitioning alternative — transform
    fields like ("days(ts)", "bucket(8, conv_id)") pruned via scan_where.
    `marker` stamps the new files for idempotent resume: the ledger
    (committed_markers, append_idempotent) holds a marker while a live
    file carries it.
    `bloom_cols` records a per-file membership filter per named column in
    the manifest, sized from the file's row count (_bloom_bits_for;
    Iceberg's parquet/puffin bloom analog): point
    ('=') predicates in prune_files_where then skip files with certainty of
    absence even when every file's min/max RANGE overlaps — the skipping
    lever for high-cardinality scattered keys, where clustering is not
    worth a rewrite or another column already owns the sort order.
    `allow_evolution` lets df add columns by name; files written before
    read them as NULL.
    `replace=(condition, inside)` makes the commit a copy-on-write replace
    of the live rows matching `condition` (_replace_files): the new files
    and the removal of the replaced ones land in this one commit, which
    then does not retry a lost race (its removals were planned against
    the parent it read).
    The commit records a `summary` (commit_summary) of what it added,
    removed and where its time went."""
    version = (current_version(table) or 0) + 1
    timings: dict = {}
    entries = _write_data_files(
        df,
        table,
        version,
        stats_cols,
        "data",
        partition_by,
        parse_partition_spec(partition_spec) if partition_spec else None,
        bloom_cols,
        timings=timings,
    )
    if marker is not None:
        for e in entries:
            e["markers"] = [marker]
    cur = current_version(table)
    added: list[dict] = []
    removed: list[dict] = []
    rewritten = 0
    if replace is not None and cur is not None:
        t0 = time.perf_counter()
        added, removed, rewritten = _replace_files(
            spark, table, version, _state_at(table, cur)[1], *replace
        )
        if removed:
            timings["rewrite_s"] = time.perf_counter() - t0
    summary = _change_summary(entries + added, removed or None, rewritten)
    schema_new = _schema_of(df)
    t0 = time.perf_counter()
    for attempt in range(1 if removed else max_retries):
        parent = cur if removed else current_version(table)
        version_try = (parent or 0) + 1
        pstate = _state_at(table, parent)[1] if parent is not None else None
        existing = pstate["schema"] if pstate is not None else None
        merged = _check_schema(existing, schema_new, allow_evolution)
        for e in entries + added:
            e["seq"] = version_try
        commit = {
            "version": version_try,
            "parent": parent,
            "operation": "replace" if removed else "append",
            "ts": time.time(),
            "schema": merged,
            "added_data": entries + added,
            "summary": dict(
                summary,
                **{k: round(v, 4) for k, v in timings.items()},
                commit_s=round(time.perf_counter() - t0, 4),
                commit_retries=attempt,
            ),
        }
        if removed:
            commit["removed_data"] = sorted(e["path"] for e in removed)
        if _try_commit(table, commit):
            return version_try
    raise CommitConflict(
        f"{commit['operation']} lost the commit race {attempt + 1} times: {table}"
    )


def add_files(
    spark: SparkSession,
    table: str,
    source_dir: str,
    stats_cols: tuple[str, ...] = (),
    allow_evolution: bool = False,
    max_retries: int = 5,
) -> int:
    """Import every parquet file under `source_dir` into the table BY
    REFERENCE — Iceberg's `add_files` migration procedure: manifest entries
    (row counts, byte sizes, min/max footer stats, hive partition values
    parsed from the path) are built from parquet FOOTERS only, no data is
    read or rewritten, and ONE append commit makes the whole import atomic.
    The files' schema is checked against the table schema first (same
    enforcement/evolution rule as append). A hive-layout source whose
    partition values exist ONLY in directory names is refused — the
    snapshot-log reads files individually, so path-only columns would
    silently read back as null. `_p_<k>=<v>` directories whose files also
    hold column `<k>` (the table format's own hidden-partition layout) are
    accepted: each file's path values become its one-tuple partition set
    in the manifest, so read_partition/scan_where prune the import like
    native files. Imported files become TABLE-OWNED:
    snapshot expiry deletes them once no retained snapshot references
    them, exactly as Iceberg warns for add_files. No reference analog
    (the Go CLI rereads raw files per run, sample/main.go:32-47)."""
    probe = _file_entries(os.path.abspath(source_dir), (), 0)
    if not probe:
        raise LookupError(f"no parquet files under {source_dir}")
    schema_new = _schema_of(spark.read.parquet(probe[0]["path"]))
    inferred = _schema_of(spark.read.parquet(source_dir))
    file_cols = {c for c, _ in schema_new}
    path_only = [
        n
        for n, _t in inferred
        if n not in file_cols and not (n.startswith("_p_") and n[3:] in file_cols)
    ]
    if path_only:
        raise ValueError(
            f"source {source_dir} is hive-partitioned on path-only "
            f"column(s) {path_only}; their values are not in the data "
            "files and would read back null — rewrite the source (or "
            "append it through a DataFrame) instead of importing by "
            "reference"
        )
    entries = _file_entries(os.path.abspath(source_dir), stats_cols, 0)
    for _ in range(max_retries):
        parent = current_version(table)
        version = (parent or 0) + 1
        pstate = _state_at(table, parent)[1] if parent is not None else None
        existing = pstate["schema"] if pstate is not None else None
        merged = _check_schema(existing, schema_new, allow_evolution)
        for e in entries:
            e["seq"] = version
        commit = {
            "version": version,
            "parent": parent,
            "operation": "append",
            "ts": time.time(),
            "schema": merged,
            "added_data": entries,
            "summary": _change_summary(entries),
        }
        if _try_commit(table, commit):
            return version
    raise CommitConflict(
        f"add_files lost the commit race {max_retries} times: {table}"
    )


def _marker_ledger(table: str) -> dict[str, int]:
    """marker → the oldest sequence number among the live files carrying
    it. A marker is in the ledger iff a live data file holds rows
    committed under it: an append stamps its files with its marker, a
    rewrite's outputs carry their inputs' markers except those whose rows
    it may drop, and expiry's rebase base keeps the live entries, so the
    ledger survives expiry and forgets a marker when its last file goes."""
    if current_version(table) is None:
        return {}
    out: dict[str, int] = {}
    for e in _state_at(table)[1]["data"].values():
        for m in e.get("markers", ()):
            out[m] = min(out.get(m, e["seq"]), e["seq"])
    return out


def committed_markers(table: str) -> set[str]:
    """The markers the live files carry — the resume ledger."""
    return set(_marker_ledger(table))


def commit_summary(table: str, version: int) -> dict | None:
    """What a commit added and removed and where its time went (Iceberg's
    snapshot summary); every commit this module writes records one:
    added_data_files, added_records and added_files_size from the manifest
    entries; for a commit that removes files (a delete, update, merge,
    replace, compaction, overwrite or rollback), removed_data_files,
    removed_records and rewritten_files (the removed files whose rows it
    rewrote: 0 for an overwrite or rollback), with rewrite_s (finding and
    rewriting them) where it rewrote. Appends and replaces also record
    write_s (the Spark write), manifest_s (footer reads, blooms and
    partition tuples), commit_s (log replay, schema check and any lost
    races, up to the winning commit-if-absent write) and commit_retries."""
    return _read_commit(table, version).get("summary")


def _change_summary(
    added: list[dict], removed: list[dict] | None = None, rewritten: int = 0
) -> dict:
    """Summary fields of a commit adding `added` file entries; with
    `removed`, also what it removed, `rewritten` of those files having
    been rewritten."""
    s = {
        "added_data_files": len(added),
        "added_records": sum(e["rows"] for e in added),
        "added_files_size": sum(e["bytes"] for e in added),
    }
    if removed is not None:
        s.update(
            removed_data_files=len(removed),
            removed_records=sum(e["rows"] for e in removed),
            rewritten_files=rewritten,
        )
    return s


def append_idempotent(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    marker: str,
    **kwargs,
) -> tuple[int | None, bool]:
    """Exactly-once append under restarts: if a live file already carries
    `marker`, the append is skipped (returns (the oldest such file's
    sequence number, False)); otherwise the data is committed with the
    marker and (new_version, True) is returned. The marker plays the role
    of checkpoint.SliceManifest for sink writes — a restarted job
    re-submits every slice and the ledger makes re-submission a no-op.
    Uniqueness of in-flight markers is the scheduler's contract
    (run_sliced runs each slice once); the ledger protects RESTARTS, not
    two concurrent writers racing the same marker. `kwargs` go to append
    (`replace` among them)."""
    v = _marker_ledger(table).get(marker)
    if v is not None:
        return v, False
    return append(spark, table, df, marker=marker, **kwargs), True


def _commit(table: str, parent: int | None, operation: str, **body) -> int:
    """Commit one non-append operation on top of `parent`. A lost race
    raises CommitConflict: the operation was planned against `parent`."""
    version = (parent or 0) + 1
    commit = {
        "version": version,
        "parent": parent,
        "operation": operation,
        "ts": time.time(),
        **body,
    }
    if not _try_commit(table, commit):
        raise CommitConflict(f"{operation} conflicted at version {version}: {table}")
    return version


def _live_rows(spark: SparkSession, state: dict) -> DataFrame:
    """The live rows of a state with their file identity as `_file`."""
    return _with_file(_read_files(spark, sorted(state["data"]), state["schema"]))


def _files_holding(state: dict, rows: DataFrame) -> list[dict]:
    """The live file entries holding one of `rows` (a frame over
    _live_rows) — one Spark job."""
    hit = {r._file for r in rows.select("_file").distinct().collect()}
    return [e for p, e in state["data"].items() if os.path.abspath(p) in hit]


def _layout_of(entries) -> dict:
    """_write_data_files options that keep `entries`' layout in their
    rewrite: the columns they carry min/max stats and blooms on, and their
    sink keys (partition_by files)."""
    stats, bloom, keys = set(), set(), set()
    for e in entries:
        stats |= set(e.get("stats", {}))
        bloom |= set(e.get("bloom", {}))
        parts = e.get("partitions")
        keys.add(None if not parts or e.get("spec") else tuple(parts["keys"]))
    (only,) = keys if len(keys) == 1 else (None,)
    return {
        "stats_cols": tuple(sorted(stats)),
        "bloom_cols": tuple(sorted(bloom)),
        "partition_by": only or (),
    }


def _rewrite_files(
    spark: SparkSession,
    table: str,
    version: int,
    state: dict,
    entries: list[dict],
    rows,
    keep_marker=None,
    stats_cols: tuple[str, ...] = (),
    **write,
) -> list[dict]:
    """The copy-on-write step: write rows(the live rows of `entries`) as
    new files of commit `version` and return their entries; the caller's
    commit removes the originals. The outputs keep the inputs' layout
    (_layout_of; `write` overrides it), add min/max stats on `stats_cols`
    and carry the inputs' markers that `keep_marker` accepts (default:
    all) — none at all when some input carries none, as its rows are then
    unaccounted for. Outputs without a row are deleted, so a rewrite whose
    remainder is empty writes no file."""
    if not entries:
        return []
    opts = dict(_layout_of(entries), **write)
    opts["stats_cols"] = tuple(sorted({*opts["stats_cols"], *stats_cols}))
    df = _read_files(spark, sorted(e["path"] for e in entries), state["schema"])
    out = _write_data_files(rows(df), table, version, kind="data", **opts)
    for e in out:
        if not e["rows"]:
            os.unlink(e["path"])
    out = [e for e in out if e["rows"]]
    markers = sorted({
        m for e in entries for m in e.get("markers", ())
        if keep_marker is None or keep_marker(m)
    })
    if markers and all(e.get("markers") for e in entries):
        for e in out:
            e["markers"] = markers
    return out


def _rewrite_commit(
    spark: SparkSession,
    table: str,
    cur: int | None,
    state: dict | None,
    operation: str,
    hit: list[dict],
    rows,
    added: list[dict] = (),
    schema: list[list[str]] | None = None,
    **write,
) -> int:
    """Commit `operation` as the rewrite of the live files `hit` (each
    replaced by rows(its rows); _rewrite_files takes `write`) plus the new
    files `added`, in one commit that records its summary and, when
    given, the table's new `schema`."""
    t0 = time.perf_counter()
    new = list(added) + _rewrite_files(
        spark, table, (cur or 0) + 1, state, hit, rows, **write
    )
    summary = _change_summary(new, hit, len(hit))
    summary["rewrite_s"] = round(time.perf_counter() - t0, 4)
    return _commit(
        table, cur, operation,
        added_data=new,
        removed_data=sorted(e["path"] for e in hit),
        summary=summary,
        **({"schema": schema} if schema else {}),
    )


def _replace_files(
    spark: SparkSession,
    table: str,
    version: int,
    state: dict,
    condition: Column,
    inside,
) -> tuple[list[dict], list[dict], int]:
    """Plan and write the copy-on-write replace of the live rows matching
    `condition`. `inside(marker)` says whether every row committed under
    the marker matches `condition` (True), none does (False) or it cannot
    tell (None). A live file whose markers are all inside is removed
    without being read; one with no marker or an undecided one is
    rewritten keeping the rows that miss `condition`, its outputs keeping
    only the markers that are outside; the others stay as they are.
    Returns (rewrite outputs, removed entries, files rewritten)."""
    drop, straddle = [], []
    for e in state["data"].values():
        verdicts = {inside(m) for m in e.get("markers", ())}
        if verdicts == {True}:
            drop.append(e)
        elif verdicts != {False}:
            straddle.append(e)
    keep = ~F.coalesce(condition, F.lit(False))
    added = _rewrite_files(
        spark, table, version, state, straddle, lambda df: df.filter(keep),
        keep_marker=lambda m: inside(m) is False,
    )
    return added, drop + straddle, len(straddle)


def delete_where(
    spark: SparkSession,
    table: str,
    condition,
    key_cols: list[str],
) -> int:
    """Copy-on-write delete: every live row whose `key_cols` tuple equals
    that of a row matching `condition` goes. The live files holding such
    rows are rewritten without them and removed, in one commit; every
    other file stays as it is. Finding them reads the table once; the
    rewrite reads only the files it rewrites (each matching row lies in
    one, so their keys are the table's). The rewrites keep their inputs'
    markers: a deliberate delete is not a lost slice."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot delete from empty table {table}")
    _, state = _state_at(table, cur)
    live = _live_rows(spark, state)
    keys = live.filter(condition).select(*key_cols).distinct()
    hit = _files_holding(state, live.join(keys, key_cols, "left_semi"))

    def rows(df: DataFrame) -> DataFrame:
        gone = df.filter(condition).select(*key_cols).distinct()
        return df.join(gone, key_cols, "left_anti").select(*df.columns)

    return _rewrite_commit(spark, table, cur, state, "delete", hit, rows)


def overwrite(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Replace the table's full contents atomically (removes every live
    data file, adds the new files) — readers of older snapshots are
    untouched until expiry."""
    cur = current_version(table)
    live = _state_at(table, cur)[1]["data"] if cur else {}
    entries = _write_data_files(df, table, (cur or 0) + 1, stats_cols, "data")
    return _commit(
        table, cur, "overwrite",
        schema=_schema_of(df),
        added_data=entries,
        removed_data=sorted(live),
        summary=_change_summary(entries, list(live.values())),
    )


def update_where(
    spark: SparkSession,
    table: str,
    condition,
    assignments: dict[str, Column],
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Copy-on-write row-level UPDATE (Iceberg's eager update mode): only
    the files that CONTAIN a matching live row are rewritten — matching
    rows get `assignments` applied, their non-matching neighbors are
    carried over verbatim — and every untouched file stays byte-identical
    in the new snapshot. ONE atomic commit swaps the rewritten files in,
    so readers see all-or-nothing and older snapshots time-travel
    unchanged. Cost scales with the matched FILES, not the table — pair
    the predicate with stats_cols/partitioning at write time so the match
    set is narrow. Rewritten files keep their inputs' stats, blooms and
    sink keys, plus min/max stats on `stats_cols`. No reference analog
    (the Go CLI has no storage layer, sample/main.go:32-47)."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot update empty table {table}")
    _, state = _state_at(table, cur)
    types = dict(map(tuple, state["schema"]))
    bad = set(assignments) - set(types)
    if bad:
        raise ValueError(f"assignment to unknown column(s): {sorted(bad)}")
    hit = _files_holding(state, _live_rows(spark, state).filter(condition))

    def rows(df: DataFrame) -> DataFrame:
        for col, expr in assignments.items():
            df = df.withColumn(col, F.when(condition, expr).otherwise(F.col(col)))
        return df.select(*[F.col(n).cast(t).alias(n) for n, t in types.items()])

    return _rewrite_commit(
        spark, table, cur, state, "update", hit, rows, stats_cols=stats_cols
    )


def merge_upsert(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    key_cols: list[str],
    stats_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
    partition_spec: tuple[str, ...] = (),
) -> int:
    """Atomic MERGE (upsert), copy-on-write: ONE commit adds the source's
    files and rewrites the live files holding one of the source's
    `key_cols` tuples without those rows — matched keys are replaced,
    unmatched keys insert, and a reader sees the whole upsert or none of
    it. This is Iceberg's MERGE INTO under `write.merge.mode =
    copy-on-write`."""
    cur = current_version(table)
    state = _state_at(table, cur)[1] if cur is not None else None
    merged = _check_schema(state["schema"] if state else None, _schema_of(df), False)
    source = _write_data_files(
        df,
        table,
        (cur or 0) + 1,
        stats_cols,
        "data",
        partition_by,
        parse_partition_spec(partition_spec) if partition_spec else None,
    )
    keys = df.select(*key_cols).distinct()
    hit = (
        _files_holding(state, _live_rows(spark, state).join(keys, key_cols, "left_semi"))
        if state
        else []
    )
    return _rewrite_commit(
        spark, table, cur, state, "merge", hit,
        lambda d: d.join(keys, key_cols, "left_anti").select(*d.columns),
        added=source,
        schema=merged,
    )


def rollback_to(table: str, version: int) -> int:
    """Roll the table back to an earlier snapshot as a NEW commit —
    history is preserved (Iceberg's rollback semantics): the commit
    re-points the live file set at the target version's, so the bad
    versions remain time-travelable until expiry and the rollback itself
    is one atomic log write. Re-added entries keep their sequence numbers
    and markers, so the ledger is the target version's."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot roll back empty table {table}")
    _, target = _state_at(table, version)
    _, now = _state_at(table, cur)
    added = [e for p, e in target["data"].items() if p not in now["data"]]
    removed = [e for p, e in now["data"].items() if p not in target["data"]]
    return _commit(
        table, cur, "rollback",
        restores=version,
        schema=target["schema"],
        added_data=added,
        removed_data=sorted(e["path"] for e in removed),
        summary=_change_summary(added, removed),
    )


def _compact_commit(
    spark: SparkSession,
    table: str,
    cur: int,
    state: dict,
    entries: list[dict],
    rows,
    stats_cols: tuple[str, ...],
    bloom_cols: tuple[str, ...] | None,
) -> int:
    """Rewrite the live files `entries` as rows(their rows) and commit it
    as a "compact" (_rewrite_commit, so it records its summary): the
    logical row set is unchanged, so changelog and incremental scans skip
    it. Outputs carry the inputs' markers and min/max stats, plus stats on
    `stats_cols`; bloom_cols defaults to the columns bloomed in the
    rewritten entries, so a maintenance rewrite preserves the table's
    filters unless the caller overrides (pass () to drop them)."""
    write = {} if bloom_cols is None else {"bloom_cols": bloom_cols}
    return _rewrite_commit(
        spark, table, cur, state, "compact", entries, rows,
        stats_cols=stats_cols, partition_by=(), **write,
    )


def compact(
    spark: SparkSession,
    table: str,
    n_files: int = 1,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] | None = None,
) -> int:
    """Rewrite the live row set into n_files fresh files and retire the
    old data files in one atomic commit (_compact_commit). Logical rows
    are unchanged — incremental_append_scan skips compact commits."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot compact empty table {table}")
    _, state = _state_at(table, cur)
    return _compact_commit(
        spark, table, cur, state, list(state["data"].values()),
        lambda df: df.coalesce(n_files), stats_cols, bloom_cols,
    )


def compact_binpack(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 * 1024 * 1024,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] | None = None,
) -> int | None:
    """Iceberg's binpack rewrite strategy: ONLY data files below
    target_bytes are rewritten into ~target-sized packed files; files
    already at size are untouched — the rewrite cost is bounded by the
    small-file backlog, never the table size. This is the maintenance
    loop a streaming sink needs: each micro-batch commit lands a few small
    files, and the backlog is folded periodically without rewriting the
    accumulated history. Returns the committed version, or None when
    fewer than two small files exist (nothing to pack). bloom_cols
    defaults to the columns bloomed in the small files (_compact_commit)."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot compact empty table {table}")
    _, state = _state_at(table, cur)
    small = [e for e in state["data"].values() if e["bytes"] < target_bytes]
    if len(small) < 2:
        return None
    n_files = max(1, -(-sum(e["bytes"] for e in small) // target_bytes))
    return _compact_commit(
        spark, table, cur, state, small,
        lambda df: df.coalesce(n_files), stats_cols, bloom_cols,
    )


def compact_sort(
    spark: SparkSession,
    table: str,
    sort_cols: tuple[str, ...],
    n_files: int = 4,
    stats_cols: tuple[str, ...] | None = None,
    zorder: bool = False,
    bloom_cols: tuple[str, ...] | None = None,
) -> int:
    """Iceberg's sort / z-order rewrite strategy (`rewrite_data_files
    strategy => 'sort'` resp. `sort_order => zorder(a, b)`): rewrite ALL
    live rows clustered on `sort_cols`, so every new data file covers a
    compact key range and its manifest min/max stats become
    (near-)disjoint: prune_files_where afterwards answers a point or range
    predicate on the cluster key by opening ~1 file instead of every
    file. Unlike binpack (small-file fold, cost bounded by the backlog)
    this is a FULL rewrite, cost O(table): run it when cluster-key read
    patterns justify it, not on a schedule.

    sort (default): repartitionByRange(n_files, sort_cols) +
    sortWithinPartitions — range boundaries come from Spark's sampler, so
    file CUTS may vary between runs; the committed contents and every
    subsequent scan are exact regardless (only pruning granularity
    wiggles). zorder=True takes exactly two non-negative int columns,
    Morton-interleaves them (operators/storage.zorder_key) and range-
    clusters the interleaved key: each file is then a compact box in BOTH
    dimensions, so min/max stats on the two RAW columns are tight
    simultaneously — a 2-D box predicate prunes most files, where a
    single-column sort only prunes on its leading column. Inputs must fit
    in 16 bits each (pre-bucketize skewed/wide keys).

    The commit reuses operation "compact" (_compact_commit): changelog and
    incremental scans skip it as a row-level no-op."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot rewrite empty table {table}")
    _, state = _state_at(table, cur)
    if not state["data"]:
        raise LookupError(f"no live data files to rewrite: {table}")
    if zorder and len(sort_cols) != 2:
        raise ValueError("zorder takes exactly two sort columns")

    def rows(df: DataFrame) -> DataFrame:
        if not zorder:
            return df.repartitionByRange(
                n_files, *[F.col(c) for c in sort_cols]
            ).sortWithinPartitions(*sort_cols)
        from blogparser_spark.operators.storage import zorder_key

        a, b = sort_cols
        # range-partition directly on the interleaved key: contiguous z
        # ranges per file with no bucket hashing (a hash repartition can
        # collide two z buckets into one task and widen that file's box)
        return (
            df.withColumn("_z", zorder_key(F.col(a), F.col(b)))
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )

    return _compact_commit(
        spark, table, cur, state, list(state["data"].values()), rows,
        tuple(stats_cols or sort_cols), bloom_cols,
    )


def clustering_depth(table: str, col: str) -> dict:
    """Manifests-only clustering health on `col` (the metric behind
    Delta's OPTIMIZE clustering decision): for each live data file, how
    many live files' [min,max] ranges overlap its own — 1.0 means
    disjoint ranges (a point predicate opens one file), n_files means
    fully scattered (stats prune nothing). Computed with two sorted
    arrays and binary searches per file (depth_i = n − #files entirely
    below − #files entirely above), O(n log n) in the live file count —
    driver-side metadata, no data read. Files without recorded stats on
    `col` are excluded (and reported)."""
    import bisect

    _, state = _state_at(table)
    ranges = [
        tuple(e["stats"][col])
        for e in state["data"].values()
        if col in e.get("stats", {})
    ]
    n = len(ranges)
    n_unstated = len(state["data"]) - n
    if n == 0:
        return {
            "n_files": 0,
            "n_unstated": n_unstated,
            "avg_depth": 0.0,
            "max_depth": 0,
        }
    try:
        los = sorted(lo for lo, _hi in ranges)
        his = sorted(hi for _lo, hi in ranges)
    except TypeError:
        # cross-type stats (schema type changed mid-history): report the
        # conservative worst case rather than crash the health check
        return {
            "n_files": n,
            "n_unstated": n_unstated,
            "avg_depth": float(n),
            "max_depth": n,
        }
    depths = []
    for lo, hi in ranges:
        below = bisect.bisect_left(his, lo)   # hi2 < lo: entirely below
        above = n - bisect.bisect_right(los, hi)  # lo2 > hi: entirely above
        depths.append(n - below - above)
    return {
        "n_files": n,
        "n_unstated": n_unstated,
        "avg_depth": round(sum(depths) / n, 3),
        "max_depth": max(depths),
    }


def maintenance_plan(
    spark: SparkSession,
    table: str,
    small_file_bytes: int = 32 << 20,
    small_file_backlog: int = 4,
    keep_versions: int = 16,
    cluster_col: str | None = None,
    max_avg_depth: float = 2.0,
) -> DataFrame:
    """Recommend maintenance from MANIFESTS alone (the planner half of
    Iceberg's maintenance procedures): one row per recommended action with
    its reason and the manifest numbers behind it. Emits
    `compact_binpack` when the small-file backlog passes the threshold,
    `expire_snapshots` when the retained version chain grows past
    `keep_versions`, and — when `cluster_col` names the table's
    read-pattern key — `compact_sort` when clustering_depth's average
    overlap on that column exceeds `max_avg_depth` (appends have degraded
    the layout until stats no longer prune). Planning cost is O(live files +
    commits) driver-side metadata — at corpus scale this is the health
    check a table-service cron runs per table, never a data read. An
    empty result means the table is healthy."""
    cur = current_version(table)
    if cur is None:
        return spark.createDataFrame(
            [], "action string, reason string, n int"
        )
    _, state = _state_at(table, cur)
    rows = []
    small = [
        e
        for e in state["data"].values()
        if int(e.get("bytes", 0)) < small_file_bytes
    ]
    if len(small) >= small_file_backlog:
        rows.append(
            (
                "compact_binpack",
                f"{len(small)} data files under {small_file_bytes} bytes",
                len(small),
            )
        )
    if cluster_col is not None:
        cd = clustering_depth(table, cluster_col)
        if cd["n_files"] >= 2 and cd["avg_depth"] > max_avg_depth:
            rows.append(
                (
                    "compact_sort",
                    f"avg {cd['avg_depth']} of {cd['n_files']} files overlap "
                    f"on {cluster_col} (max_avg_depth={max_avg_depth})",
                    cd["n_files"],
                )
            )
    n_versions = len(list_versions(table))
    if n_versions > keep_versions:
        rows.append(
            (
                "expire_snapshots",
                f"{n_versions} versions in the log (keep_versions="
                f"{keep_versions})",
                n_versions,
            )
        )
    return spark.createDataFrame(rows, "action string, reason string, n int")


def remove_orphans(table: str, min_age_sec: float = 0.0) -> int:
    """Iceberg's RemoveOrphanFiles maintenance action: physically delete
    parquet files under the table's data prefix that NO retained
    commit (nor the expiry rebase base) references — the residue of
    writers that wrote their files but lost the optimistic commit race or
    died before the log write. `min_age_sec` is the same age guard as
    Iceberg's default 3-day cutoff: files younger than it are skipped, so
    an IN-FLIGHT writer's not-yet-committed files are never swept."""
    referenced: set[str] = set()
    for v in list_versions(table):
        referenced |= {e["path"] for e in _read_commit(table, v).get("added_data", [])}
    # every rebase base still pins its files
    try:
        base_names = [
            n for n in os.listdir(_log_dir(table)) if n.startswith("_base_v")
        ]
    except OSError:
        base_names = []
    for n in base_names:
        with open(os.path.join(_log_dir(table), n)) as f:
            snap = json.load(f)
        for e in snap["data"]:
            referenced.add(e["path"])
    removed = 0
    now = time.time()
    for dirpath, _dirs, files in os.walk(os.path.join(table, "data")):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, name)
            if p in referenced or now - os.path.getmtime(p) < min_age_sec:
                continue
            os.unlink(p)
            removed += 1
    return removed


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def _read_files(
    spark: SparkSession, paths: list[str], schema: list[list[str]] | None
) -> DataFrame:
    """Scan parquet files under `schema` ([[name, type]], a state's
    schema), by column name: the read needs no footer, so building the
    frame runs no Spark job, and a file that lacks a column (written
    before an append added it) reads it as NULL. No paths: an empty frame
    of the schema."""
    if not paths:
        return _empty_df(spark, schema)
    return spark.read.schema(_ddl(schema)).parquet(*paths)


def _with_file(df: DataFrame) -> DataFrame:
    """Attach the normalized absolute-path file identity as `_file`.
    input_file_name() returns a URL-encoded file: URI — normalize it to
    the manifest's os-path form."""
    return df.withColumn(
        "_file",
        F.url_decode(F.regexp_replace(F.input_file_name(), "^file:/+", "/")),
    )


def _ddl(schema: list[list[str]]) -> str:
    return ", ".join(f"`{n}` {t}" for n, t in schema)


def _empty_df(spark: SparkSession, schema: list[list[str]] | None) -> DataFrame:
    return spark.createDataFrame([], _ddl(schema or [["dummy", "int"]]))


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Read the table as of `version` (default: the newest). Planning is a
    log replay — no directory listing of the data prefix."""
    _, state = _state_at(table, version)
    return _read_files(spark, sorted(state["data"]), state["schema"])


def read_partition(
    spark: SparkSession,
    table: str,
    filters: dict[str, str],
    version: int | None = None,
) -> DataFrame:
    """Partition-pruned read: open only the live files whose recorded
    partition tuples hold a tuple matching `filters` (files without a
    recorded tuple set are kept — never prune blind), then apply the exact
    filter. This is the per-sink read path of a
    routed table: it is scan_where with an equality predicate per filter,
    so files that hold none of the sink's rows are never opened."""
    return scan_where(
        spark, table, {k: ("=", v) for k, v in filters.items()}, version
    )


def incremental_append_scan(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Exactly the rows appended in (from_version, to_version]: the union
    of the append commits' added files. Compact commits are logical no-ops
    and are skipped; a commit that removes rows (overwrite, delete,
    update, merge, replace, rollback) cannot be expressed as an append
    stream, so it raises — the caller falls back to a full diff
    (operators/diff.diff_datasets), the same contract as Iceberg's
    incremental append scan."""
    to_version, chain = _chain_between(table, from_version, to_version)
    paths: list[str] = []
    for c in chain:
        op = c["operation"]
        if op == "compact":
            continue
        if op != "append":
            raise ValueError(
                f"commit v{c['version']} is {op!r}; incremental append scan "
                "only spans append/compact commits"
            )
        paths += [e["path"] for e in _added_entries(table, c)]
    # rows appended before an in-range schema change surface in the
    # TO-version's schema, same as Iceberg's incremental scan
    return _read_files(spark, sorted(paths), _state_at(table, to_version)[1]["schema"])


def changelog_scan(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level CDC between two snapshots (Iceberg's changelog scan):
    every row the table gained ('insert') or lost ('delete') in
    (from_version, to_version], stamped `_change_type` / `_commit_version`.
    An append's added files are inserts. Any commit that removes files
    (delete, update, merge, replace, overwrite, rollback) emits its net
    row diff: its added files' rows exceptAll its removed files' rows are
    inserts, the reverse are deletes, so rows a rewrite carried over
    unchanged cancel. Compactions are logical no-ops. Every row is read
    in the TO-version's schema, so the pieces align across an in-range
    append that added a column. The output feeds
    aggregate.apply_retractable_delta so a downstream view refreshes from
    the delta without ever rescanning the base table."""
    to_version, chain = _chain_between(table, from_version, to_version)
    schema = _state_at(table, to_version)[1]["schema"]
    pieces: list[DataFrame] = []
    for c in chain:
        if c["operation"] == "compact":
            continue
        added = _read_files(
            spark, sorted(e["path"] for e in _added_entries(table, c)), schema
        )
        changes = [(added, "insert")]
        if c.get("removed_data"):
            removed = _read_files(spark, sorted(c["removed_data"]), schema)
            changes = [
                (removed.exceptAll(added), "delete"),
                (added.exceptAll(removed), "insert"),
            ]
        pieces += [
            df.withColumn("_change_type", F.lit(kind)).withColumn(
                "_commit_version", F.lit(c["version"])
            )
            for df, kind in changes
        ]
    if not pieces:
        return (
            _empty_df(spark, schema)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0))
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# checkpointed incremental consumer (the table as an exactly-once source)
# ---------------------------------------------------------------------------


def consumer_offset(checkpoint_path: str) -> int:
    """The consumer's last ACKED snapshot version (0 = nothing consumed)."""
    p = os.path.join(checkpoint_path, "offset.json")
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(json.load(f)["version"])


def consume_incremental(
    spark: SparkSession,
    table: str,
    checkpoint_path: str,
    mode: str = "appends",
):
    """Consume the table incrementally with a durable offset — the
    source-side twin of the exactly-once streaming sink (Iceberg's
    streaming read + Structured Streaming's offset log, rebuilt on the
    snapshot log): each call returns `(df, from_version, to_version, ack)`
    where df is the delta in (from, to] — `mode='appends'` via the
    incremental append scan (REFUSES in-range deletes, like Iceberg's
    default streaming read), `mode='changelog'` via the CDC scan for
    consumers that fold retractions (feed operators/aggregate's
    retractable-state algebra). None df means nothing new. The offset
    advances ONLY when the caller invokes `ack()` after durably processing
    the batch (atomic tmp-file + rename): a crash before ack re-delivers
    the same delta next call, so an idempotent downstream (e.g.
    append_idempotent's marker ledger keyed on to_version) yields
    exactly-once end to end. Offsets are snapshot VERSIONS, not file
    offsets — planning is a log replay, no data listing."""
    if mode not in ("appends", "changelog"):
        raise ValueError(f"unknown consume mode {mode!r}")
    os.makedirs(checkpoint_path, exist_ok=True)
    from_v = consumer_offset(checkpoint_path)
    to_v = current_version(table)
    if to_v is None or to_v <= from_v:
        return None, from_v, from_v, lambda: from_v

    def ack() -> int:
        tmp = os.path.join(
            checkpoint_path, f".offset-{uuid.uuid4().hex[:8]}.tmp"
        )
        with open(tmp, "w") as f:
            json.dump({"version": to_v, "ts": time.time()}, f)
        os.replace(tmp, os.path.join(checkpoint_path, "offset.json"))
        return to_v

    if mode == "appends":
        df = incremental_append_scan(
            spark, table, from_version=from_v, to_version=to_v
        )
    else:
        df = changelog_scan(spark, table, from_version=from_v, to_version=to_v)
    return df, from_v, to_v, ack


def prune_files(
    table: str, col: str, lo, hi, version: int | None = None
) -> tuple[list[str], int]:
    """Manifest-stats pruning: live data files whose [min,max] for `col`
    overlaps [lo,hi]; files without stats are kept (never prune blind).
    Delegates to plan_scan, so partition-spec projection composes when
    present. Returns (paths_to_read, n_files_skipped)."""
    plan = plan_scan(table, {col: ("between", lo, hi)}, version)
    return plan["paths"], plan["n_files_skipped"]


def scan_between(
    spark: SparkSession, table: str, col: str, lo, hi, version: int | None = None
) -> DataFrame:
    """Predicate scan that opens only stats-overlapping files (plan_scan),
    then applies the exact filter and returns the live rows."""
    return scan_where(spark, table, {col: ("between", lo, hi)}, version)


# ---------------------------------------------------------------------------
# expiry
# ---------------------------------------------------------------------------


def expire_snapshots(
    table: str, keep_last: int = 2, max_age_sec: float | None = None
) -> dict:
    """Expire all but the newest `keep_last` snapshots. `max_age_sec` is the
    Iceberg `expire_snapshots(older_than)` knob: commits younger than the
    cutoff are ALSO retained regardless of keep_last, so the two compose
    exactly like Iceberg's retain-last + older-than (keep_last is the
    floor, age the ceiling). Persists a rebase state at every retained
    version whose parent was expired, so replay stays O(retained
    commits), then drops the expired log entries and physically deletes
    files referenced ONLY by expired versions. Each step leaves the table
    readable: a base is written to a temp file and renamed into place, so
    a failed write leaves none. Time travel to an expired version raises
    SnapshotExpired. Returns {files_removed, versions_removed}."""
    versions = list_versions(table)
    retained_set = set(versions[-keep_last:])
    if max_age_sec is not None:
        cutoff = time.time() - max_age_sec
        retained_set |= {
            v
            for v in versions
            if float(_read_commit(table, v).get("ts") or 0.0) >= cutoff
        }
    expired = [v for v in versions if v not in retained_set]
    if not expired:
        return {"files_removed": 0, "versions_removed": 0}
    retained = sorted(retained_set)
    # states and doomed files computed while the log is still intact
    states = {v: _state_at(table, v)[1] for v in retained}
    doomed = {
        e["path"] for v in expired for e in _added_entries(table, _read_commit(table, v))
    }.difference(*(st["data"] for st in states.values()))

    # every retained version whose parent was expired persists its state;
    # by induction every retained version then replays within
    # retained commits + one base.
    for v in retained:
        parent = _read_commit(table, v).get("parent")
        if (
            parent is not None
            and parent not in retained_set
            and not os.path.exists(_base_path(table, v))
        ):
            snap = {
                "version": v,
                "data": list(states[v]["data"].values()),
                "schema": states[v]["schema"],
            }
            os.replace(_write_tmp(table, snap), _base_path(table, v))
    for n in os.listdir(_log_dir(table)):
        if n.startswith("_base_v") and int(n[7:19]) not in retained_set:
            os.unlink(os.path.join(_log_dir(table), n))
    for v in expired:
        os.unlink(_commit_path(table, v))
    removed = 0
    for p in sorted(doomed):
        if os.path.exists(p):
            os.unlink(p)
            removed += 1
    # drop now-empty commit data dirs (best-effort tidy, not correctness)
    root = os.path.join(table, "data")
    if os.path.isdir(root):
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if os.path.isdir(full) and not any(
                f.endswith(".parquet") for f in os.listdir(full)
            ):
                shutil.rmtree(full)
    return {"files_removed": removed, "versions_removed": len(expired)}
