"""Seeded benchmark inputs and their expected outputs.

The corpus is `transcripts(conv_id, turn_idx, role, text, tool, ts)` drawn
from the 28 markup families of ``sources/synthetic.py`` (``gen_transcripts``;
about 530 B per turn, two hot conversations holding about 17% of the turns).

It is written once per (seed, turns) to parquet files with
microsecond UTC timestamps (pyarrow's default nanosecond timestamps make
Spark 4.1 fail with PARQUET_TYPE_ILLEGAL), next to an ``expect.json`` that
holds the pure-Python oracle's answers (``pyref.parse_record`` recount, run
across a process pool because it manages about 6k rows/s per core). Both are
built outside every timed window and reused by later runs with the same key.
The pool forks: a spawn pool would also start a resource-tracker process
that outlives the run.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import random
import shutil
import uuid
from collections import Counter

SAMPLE_TURNS = 64  # turns checked one by one against the oracle
SUMMARY_BUCKET = 50  # aggregate.SUMMARY_HIST_BUCKET
_KEEP_ENTRIES = 24  # cache entries kept; older ones are removed


def gen_rows(turns: int, seed: int) -> list[tuple]:
    """About `turns` markup rows from `seed` alone (synthetic.gen_transcripts:
    ten turns per conversation, two hot conversations holding about 17%)."""
    from blogparser_spark.sources.synthetic import gen_transcripts

    return gen_transcripts(n_convs=max(turns // 10, 4), turns_per_conv=10, seed=seed)


def _oracle_chunk(texts: list[str]) -> list[tuple[str, int | None]]:
    """(parse_status, summary length) per text — a pool worker."""
    from blogparser_spark.oracle.pyref import parse_record

    out = []
    for t in texts:
        rec = parse_record(t)
        out.append((rec.parse_status, None if rec.summary is None else len(rec.summary)))
    return out


def _oracle_sample(texts: list[str]) -> list[dict]:
    from blogparser_spark.oracle.pyref import parse_record

    out = []
    for t in texts:
        rec = parse_record(t)
        out.append({"parse_status": rec.parse_status, "title": rec.title,
                    "slug": rec.slug, "summary": rec.summary})
    return out


def expected_outputs(rows: list[tuple], seed: int, workers: int) -> dict:
    """The oracle's answers for every check the benchmark makes. Called
    before the JVM starts, so forking is safe; every worker has exited on
    return."""
    from blogparser_spark.operators.enrich import ROLE_CHANNEL, TOOL_CATEGORY

    texts = [r[3] for r in rows]
    step = math.ceil(len(texts) / max(workers * 4, 1))
    chunks = [texts[i : i + step] for i in range(0, len(texts), step)]
    pool = multiprocessing.get_context("fork").Pool(workers)
    try:
        parsed = [x for part in pool.map(_oracle_chunk, chunks) for x in part]
    finally:
        pool.close()
        pool.join()
    role_map, tool_map = dict(ROLE_CHANNEL), dict(TOOL_CATEGORY)
    sinks: Counter = Counter()
    hist: Counter = Counter()
    for r, (status, slen) in zip(rows, parsed):
        sinks["/".join((role_map.get(r[2], "unknown"), tool_map.get(r[4], "unknown"), status))] += 1
        if slen is not None:
            hist[str(slen // SUMMARY_BUCKET * SUMMARY_BUCKET)] += 1
    sample_idx = sorted(random.Random(seed ^ 0x5EED).sample(range(len(rows)), min(SAMPLE_TURNS, len(rows))))
    sample = [
        dict(conv_id=rows[i][0], turn_idx=rows[i][1], **want)
        for i, want in zip(sample_idx, _oracle_sample([texts[i] for i in sample_idx]))
    ]
    return {
        "turns": len(rows),
        "sink_counts": dict(sinks),
        "conv_turns": dict(Counter(r[0] for r in rows)),
        "summary_hist": dict(hist),
        "sample": sample,
    }


def write_parquet(rows: list[tuple], path: str, files: int) -> None:
    """Write rows as `files` parquet files under directory `path`, with
    microsecond UTC timestamps so Spark reads `ts` as TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(path)
    step = math.ceil(len(rows) / files)
    for k, i in enumerate(range(0, len(rows), step)):
        cols = list(zip(*rows[i : i + step]))
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                                     schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def corpus(cache_dir: str, seed: int, turns: int, files: int, workers: int):
    """Path of the cached parquet corpus and its expected outputs, building
    both on first use of this (seed, turns, files)."""
    entry = os.path.join(cache_dir, f"markup-s{seed}-t{turns}-f{files}")
    if not os.path.exists(os.path.join(entry, "expect.json")):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{entry}.tmp-{uuid.uuid4().hex[:8]}"
        rows = gen_rows(turns, seed)
        write_parquet(rows, os.path.join(tmp, "turns"), files)
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(expected_outputs(rows, seed, workers), f)
        shutil.rmtree(entry, ignore_errors=True)
        os.rename(tmp, entry)
        _prune(cache_dir, keep=entry)
    with open(os.path.join(entry, "expect.json")) as f:
        return os.path.join(entry, "turns"), json.load(f)


def _prune(cache_dir: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(cache_dir, n) for n in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for e in entries[_KEEP_ENTRIES:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)
