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
- **Time travel / reproducible reads**: any retained version is readable,
  and its commit's `record` says what input produced it (run_sliced).
- **Copy-on-write row changes**: a delete or a slice replace rewrites
  only the live files holding matched rows and removes the originals in
  the same commit (Iceberg's `write.delete.mode=copy-on-write`, Delta
  Lake's `remove` actions). A commit only ever adds and removes data
  files, so a read is one scan of the live files with nothing to
  anti-join.
- **Snapshot expiry and orphan removal** bound storage: expiry keeps the
  newest `keep_last` snapshots, removes the physical files referenced only
  by expired ones and writes a rebase ("checkpoint") state so the log
  itself stays O(retained commits); `remove_orphans` sweeps files no
  retained commit references.
- **Pruning**: `plan_scan` checks each live file's manifest entry (its
  partition tuples, min/max footer stats and blooms) against the
  predicates, and `scan_where` reads only the files that may match.

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


# ---------------------------------------------------------------------------
# partition tuples (the one manifest form for partition values)
# ---------------------------------------------------------------------------
#
# Every file entry that carries partition values records them as
#   "partitions": {"keys": [k1, k2, ...], "tuples": [[[v1, v2, ...], rows], ...]}
# — the set of distinct key tuples the file holds, each with its exact row
# count: a sink-sorted file written by append(partition_by=...) holds one
# per sink it covers. Values are strings (None for null). The set is
# bounded: a file covering more than PART_TUPLES_MAX tuples records
# "tuples": None, which never prunes.

PART_TUPLES_MAX = 64


def _data_partitions(pf, keys: tuple[str, ...]) -> dict:
    """Distinct `keys` tuples of one parquet file with their row counts,
    grouped with Arrow one record batch at a time over the key columns
    only. Stops reading once the bound is passed: the set is then dropped
    (None = unknown)."""
    import pyarrow as pa

    counts: dict[tuple, int] = {}
    for batch in pf.iter_batches(columns=list(keys)):
        grouped = pa.Table.from_batches([batch]).group_by(list(keys))
        for row in grouped.aggregate([([], "count_all")]).to_pylist():
            t = tuple(None if row[k] is None else str(row[k]) for k in keys)
            counts[t] = counts.get(t, 0) + row["count_all"]
        if len(counts) > PART_TUPLES_MAX:
            return {"keys": list(keys), "tuples": None}

    def order(item):
        return [(v is not None, v or "") for v in item[0]]

    return {
        "keys": list(keys),
        "tuples": [[list(t), n] for t, n in sorted(counts.items(), key=order)],
    }


def _numeric(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _part_match(part_value: str | None, pred: tuple) -> bool:
    """Can a file whose partition value for a key is `part_value` hold a
    row matching `pred` on that key? '=' compares as strings (the manifest
    stores str(value)); 'between' compares numerically when the value and
    both bounds are numbers, else lexically. A null value is kept."""
    if part_value is None:
        return True
    if pred[0] == "=":
        return part_value == str(pred[1])
    lo, hi = str(pred[1]), str(pred[2])
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
# set above) and "markers" (the resume ledger). Planning checks every live
# entry.


def _prune_reason(e: dict, predicates: dict[str, tuple]) -> str | None:
    """Why the file entry `e` holds no row matching `predicates`, or None
    when it may hold one. "partition": no recorded partition tuple passes
    every predicate on a partition key (_part_match); an entry without a
    recorded tuple set is kept. Then "stats": min/max rule a predicate
    out. Then "bloom": a bloom proves an '=' value absent."""
    parts = e.get("partitions") or {}
    tuples = parts.get("tuples")
    if tuples is not None:
        checks = [
            (i, predicates[k]) for i, k in enumerate(parts["keys"]) if k in predicates
        ]
        if checks and not any(
            all(_part_match(vals[i], pred) for i, pred in checks)
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


def scan_where(
    spark: SparkSession,
    table: str,
    predicates: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Pruned scan: plan with plan_scan (partition tuples + footer stats +
    blooms, manifests only — no file is opened to decide), then read the
    surviving files and apply the EXACT predicates. `predicates` maps a
    column to ("=", v) or ("between", lo, hi)."""
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
    """Manifest entries for every parquet file in dirpath: row count, byte
    size and min/max per requested stats column, read from parquet FOOTERS
    (the same numbers Iceberg persists in its manifests). Blooms scan
    their column, and `partition_by` groups the key columns of each file
    into its tuple set (_data_partitions)."""
    import pyarrow.parquet as pq

    entries = []
    for name in sorted(os.listdir(dirpath)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(dirpath, name)
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
        entries.append(entry)
    return entries


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
        _apply(state, c)
    return target, state


def _apply(state: dict, c: dict) -> None:
    """Roll `state` forward by the commit `c`."""
    for e in c.get("added_data", []):
        state["data"][e["path"]] = e
    for p in c.get("removed_data", []):
        state["data"].pop(p, None)
    if c.get("schema"):
        state["schema"] = c["schema"]


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
    partition_by: tuple[str, ...] = (),
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
    outdir = os.path.join(table, "data", f"c{version:06d}-{uuid.uuid4().hex[:8]}")
    t0 = time.perf_counter()
    if partition_by:
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
    if timings is not None:
        timings["write_s"] = t1 - t0
        timings["manifest_s"] = time.perf_counter() - t1
    return entries


APPEND_ATTEMPTS = 5  # commit attempts of a plain append before CommitConflict


def append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stats_cols: tuple[str, ...] = (),
    allow_evolution: bool = False,
    partition_by: tuple[str, ...] = (),
    marker: str | None = None,
    bloom_cols: tuple[str, ...] = (),
    replace: tuple[Column, Callable[[str], bool | None]] | None = None,
    record: Callable[[], dict] | None = None,
) -> int:
    """Append df as a new snapshot; returns the committed version. Appends
    conflict with nothing (they only add files), so a lost commit race is
    retried against the refreshed log — Iceberg's fast-append semantics.
    `partition_by` writes a few files sorted by those keys, each
    recording its key tuples with row counts in the manifest (read back,
    pruned, via read_partition).
    `marker` stamps the new files for idempotent resume: the ledger
    (committed_markers, append_idempotent) holds a marker while a live
    file carries it.
    `bloom_cols` records a per-file membership filter per named column in
    the manifest, sized from the file's row count (_bloom_bits_for;
    Iceberg's parquet/puffin bloom analog): point ('=') predicates in
    plan_scan then skip files with certainty of absence even when every
    file's min/max RANGE overlaps — the skipping lever for
    high-cardinality scattered keys, where another column already owns
    the sort order.
    `allow_evolution` lets df add columns by name; files written before
    read them as NULL.
    `replace=(condition, inside)` makes the commit a copy-on-write replace
    of the live rows matching `condition` (_replace_files): the new files
    and the removal of the replaced ones land in this one commit, which
    then does not retry a lost race (its removals were planned against
    the parent it read).
    `record` is called once, after the write job and before the first
    commit attempt; the commit stores its dict under `record`, and expiry
    drops it with the commit (the live files' markers stay).
    A plain append tries APPEND_ATTEMPTS times. The commit records a
    `summary` (commit_summary) of what it added, removed and where its
    time went."""
    version = (current_version(table) or 0) + 1
    timings: dict = {}
    entries = _write_data_files(
        df,
        table,
        version,
        stats_cols,
        partition_by,
        bloom_cols,
        timings=timings,
    )
    if marker is not None:
        for e in entries:
            e["markers"] = [marker]
    cur = current_version(table)
    state = None  # the state at `cur`, replayed once and reused
    added: list[dict] = []
    removed: list[dict] = []
    rewritten = 0
    if replace is not None and cur is not None:
        t0 = time.perf_counter()
        state = _state_at(table, cur)[1]
        added, removed, rewritten = _replace_files(
            spark, table, version, state, *replace
        )
        if removed:
            timings["rewrite_s"] = time.perf_counter() - t0
    summary = _change_summary(entries + added, removed or None, rewritten)
    extra = {"record": record()} if record is not None else {}
    schema_new = [[f.name, f.dataType.simpleString()] for f in df.schema]
    t0 = time.perf_counter()
    for attempt in range(1 if removed else APPEND_ATTEMPTS):
        parent = cur if removed else current_version(table)
        if state is None or parent != cur:  # first replay, or a lost race
            cur = parent
            state = _state_at(table, cur)[1] if cur is not None else None
        version_try = (parent or 0) + 1
        existing = state["schema"] if state is not None else None
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
            **extra,
        }
        if removed:
            commit["removed_data"] = sorted(e["path"] for e in removed)
        if _try_commit(table, commit):
            return version_try
    raise CommitConflict(
        f"{commit['operation']} lost the commit race {attempt + 1} times: {table}"
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
    entries; for a commit that removes files (a delete or a replace),
    removed_data_files, removed_records and rewritten_files (the removed
    files whose rows it rewrote: a replace removes the files its slice alone
    holds without reading them), with rewrite_s (rewriting them; for a
    replace, also replaying the log and planning). Appends and replaces also
    record write_s (the Spark write), manifest_s (footer reads, blooms and
    partition tuples), commit_s (an append's log replay, the schema check
    and any lost races, up to the winning commit-if-absent write) and
    commit_retries."""
    return _read_commit(table, version).get("summary")


def _change_summary(
    added: list[dict], removed: list[dict] | None, rewritten: int
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
    marker and (new_version, True) is returned. The marker is the resume
    guard for sink writes — a restarted job re-submits every slice and
    the ledger makes re-submission a no-op.
    Uniqueness of in-flight markers is the scheduler's contract
    (run_sliced runs each slice once); the ledger protects RESTARTS, not
    two concurrent writers racing the same marker. `kwargs` go to append
    (`replace` among them)."""
    v = _marker_ledger(table).get(marker)
    if v is not None:
        return v, False
    return append(spark, table, df, marker=marker, **kwargs), True


def _layout_of(entries) -> dict:
    """_write_data_files options that keep `entries`' layout in their
    rewrite: the columns they carry min/max stats and blooms on, and their
    sink keys (partition_by files)."""
    stats, bloom, keys = set(), set(), set()
    for e in entries:
        stats |= set(e.get("stats", {}))
        bloom |= set(e.get("bloom", {}))
        parts = e.get("partitions")
        keys.add(tuple(parts["keys"]) if parts else None)
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
) -> list[dict]:
    """The copy-on-write step: write rows(the live rows of `entries`) as new
    files of commit `version` and return their entries; the caller's commit
    removes the originals. The outputs keep the inputs' layout (_layout_of)
    and carry the inputs' markers that `keep_marker` accepts (default: all)
    — none at all when some input carries none, as its rows are then
    unaccounted for. Outputs without a row are deleted, so a rewrite whose
    remainder is empty writes no file."""
    if not entries:
        return []
    df = _read_files(spark, sorted(e["path"] for e in entries), state["schema"])
    out = _write_data_files(rows(df), table, version, **_layout_of(entries))
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
    markers: a deliberate delete is not a lost slice. The commit records
    its summary; it was planned against the version it read, so a lost
    race raises CommitConflict."""
    cur = current_version(table)
    if cur is None:
        raise LookupError(f"cannot delete from empty table {table}")
    _, state = _state_at(table, cur)
    # input_file_name() is a URL-encoded file: URI; normalize it to the
    # manifest's os-path form
    live = _read_files(spark, sorted(state["data"]), state["schema"]).withColumn(
        "_file", F.url_decode(F.regexp_replace(F.input_file_name(), "^file:/+", "/"))
    )
    keys = live.filter(condition).select(*key_cols).distinct()
    held = live.join(keys, key_cols, "left_semi").select("_file").distinct()
    hit_paths = {r._file for r in held.collect()}
    hit = [e for p, e in state["data"].items() if os.path.abspath(p) in hit_paths]

    def rows(df: DataFrame) -> DataFrame:
        gone = df.filter(condition).select(*key_cols).distinct()
        return df.join(gone, key_cols, "left_anti").select(*df.columns)

    version = cur + 1
    t0 = time.perf_counter()
    new = _rewrite_files(spark, table, version, state, hit, rows)
    summary = _change_summary(new, hit, len(hit))
    summary["rewrite_s"] = round(time.perf_counter() - t0, 4)
    commit = {
        "version": version,
        "parent": cur,
        "operation": "delete",
        "ts": time.time(),
        "added_data": new,
        "removed_data": sorted(e["path"] for e in hit),
        "summary": summary,
    }
    if not _try_commit(table, commit):
        raise CommitConflict(f"delete conflicted at version {version}: {table}")
    return version


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
    of the schema, built on the JVM (typed NULLs over an empty range) so
    that counting it starts no Python task."""
    if not paths:
        return spark.range(0).select(
            *(F.lit(None).cast(t).alias(n) for n, t in schema or [["dummy", "int"]])
        )
    return spark.read.schema(_ddl(schema)).parquet(*paths)


def _ddl(schema: list[list[str]]) -> str:
    return ", ".join(f"`{n}` {t}" for n, t in schema)


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


# ---------------------------------------------------------------------------
# expiry
# ---------------------------------------------------------------------------


def expire_snapshots(table: str, keep_last: int = 2) -> dict:
    """Expire all but the newest `keep_last` snapshots (Iceberg's
    `expire_snapshots(retain_last)`); `keep_last` below 1 would expire the
    current snapshot and raises ValueError. Persists a rebase state at every
    retained version whose parent was expired, so replay stays O(retained
    commits), then drops the expired log entries and physically deletes
    files referenced ONLY by expired versions. Each step leaves the table
    readable: a base is written to a temp file and renamed into place, so a
    failed write leaves none. Time travel to an expired version raises
    SnapshotExpired. The log is read once, plus one replay to the oldest
    retained version. Returns {files_removed, versions_removed}."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be at least 1, got {keep_last}")
    versions = list_versions(table)
    commits = {v: _read_commit(table, v) for v in versions}
    retained_set = set(versions[-keep_last:])
    expired = [v for v in versions if v not in retained_set]
    if not expired:
        return {"files_removed": 0, "versions_removed": 0}
    # Roll forward from the oldest retained version while the log is still
    # intact: each commit's parent is the version before it, except past a
    # gap an earlier expiry left, where the state is replayed (from its
    # base). Every retained version whose parent was expired persists its
    # state, so by induction every retained version then replays within
    # retained commits + one base; `live` is every path a retained state
    # holds.
    live: set[str] = set()
    state, prev = None, None
    for v in versions[versions.index(min(retained_set)):]:
        c = commits[v]
        if prev is None or c.get("parent") != prev:
            state = _state_at(table, v)[1]
        else:
            _apply(state, c)
        prev = v
        if v not in retained_set:
            continue
        live |= state["data"].keys()
        parent = c.get("parent")
        if (
            parent is not None
            and parent not in retained_set
            and not os.path.exists(_base_path(table, v))
        ):
            snap = {
                "version": v,
                "data": list(state["data"].values()),
                "schema": state["schema"],
            }
            os.replace(_write_tmp(table, snap), _base_path(table, v))
    doomed = {
        e["path"] for v in expired for e in commits[v].get("added_data", [])
    } - live
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
