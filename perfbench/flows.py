"""What each workload runs, how its outputs are checked, and the traced
sweep that separates the layers.

Every call into the program goes through its public functions
(operators/parse, enrich, route, aggregate, checkpoint, tablelog and
job.make_transform); the benchmark times them from outside.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from blogparser_spark.job import make_transform
from blogparser_spark.operators import aggregate as agg
from blogparser_spark.operators import checkpoint as ckpt
from blogparser_spark.operators import tablelog as tl
from blogparser_spark.operators.enrich import enrich
from blogparser_spark.operators.parse import extract_udf, parse_stage
from blogparser_spark.operators.route import (
    SINK_KEYS,
    read_routed_tablelog,
    route_commit_tablelog,
    with_sink_id,
)

N_SLICES = 2  # slices per job run
LOOKUPS = 8  # conversation point lookups per job run (one client)
SINK_READS = 2  # per-sink reads per job run
KERNEL_ROWS = 4_000  # rows of the corpus timed through the regex-bank kernel
BUCKET = agg.SUMMARY_HIST_BUCKET


@dataclass
class Checks:
    """Operations attempted, those that failed, and the individual values
    that disagree with the oracle (parity errors). A wrong output fails
    its operation."""

    attempted: int = 0
    failed: int = 0
    parity_errors: int = 0
    notes: list[str] = field(default_factory=list)

    def expect(self, what: str, got, want) -> None:
        self.attempted += 1
        if isinstance(want, dict):
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        else:
            bad = [] if got == want else [what]
        if bad:
            self.failed += 1
            self.parity_errors += len(bad)
            self.notes.append(f"{what}: {len(bad)} mismatch(es), e.g. {bad[:3]}")


@dataclass
class Ctx:
    spark: object
    tracer: object
    checks: Checks
    input_path: str
    expect: dict
    run_dir: str
    seed: int
    sliced_input: str | None = None

    @property
    def turns(self) -> int:
        return self.expect["turns"]


def warm_up(spark, rows: list[tuple]) -> None:
    """The set-up plan: the whole batch pipeline over a handful of in-memory
    turns, so Python workers, the UDF and code generation are live."""
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    agg.sink_counts(with_sink_id(enrich(parse_stage(df)))).collect()


def _hist_key(bucket) -> str:
    return str(int(bucket))


# ---------------------------------------------------------------- batch plan


def batch_plan(cx: Ctx) -> None:
    """One fresh read-only plan: scan → parse_stage → enrich → with_sink_id
    → an aggregate over the parse outputs (a bare count() would prune the
    UDF). Checks per-sink counts and the summary-length histogram against
    the oracle."""
    tr, spark = cx.tracer, cx.spark
    with tr.span("batch.plan"):
        with tr.span("scan.read"):
            df = spark.read.parquet(cx.input_path)
        with tr.span("parse.parse_stage"):
            df = parse_stage(df)
        with tr.span("enrich.enrich"):
            df = enrich(df)
        with tr.span("route.with_sink_id"):
            df = with_sink_id(df)
        with tr.span("aggregate.groupby"):
            out = df.groupBy(
                "sink_id", (F.floor(F.length("summary") / BUCKET) * BUCKET).alias("bucket")
            ).agg(
                F.count("*").alias("n"),
                F.sum(F.size("tags")).alias("tags"),
                F.sum(F.size("categories")).alias("cats"),
                F.count("created_at").alias("dated"),
                F.sum(F.length("first_image")).alias("img"),
            )
        with tr.span("batch.collect"):
            rows = out.collect()
    sinks: Counter = Counter()
    hist: Counter = Counter()
    for r in rows:
        sinks[r["sink_id"]] += r["n"]
        if r["bucket"] is not None:
            hist[_hist_key(r["bucket"])] += r["n"]
    cx.checks.expect("batch sink counts", dict(sinks), cx.expect["sink_counts"])
    cx.checks.expect("batch summary histogram", dict(hist), cx.expect["summary_hist"])


def _sample_keys(cx: Ctx):
    return F.broadcast(cx.spark.createDataFrame(
        [(s["conv_id"], s["turn_idx"]) for s in cx.expect["sample"]],
        "conv_id string, turn_idx int",
    ))


def check_sample(cx: Ctx, parsed) -> None:
    """The seeded sample of turns, one by one, against pyref.parse_record:
    status, title, slug and summary. `parsed` holds the sampled turns."""
    fields = ("parse_status", "title", "slug", "summary")
    got = {
        (r["conv_id"], r["turn_idx"]): {k: r[k] for k in fields}
        for r in parsed.select("conv_id", "turn_idx", *fields).collect()
    }
    want = {(s["conv_id"], s["turn_idx"]): {k: s[k] for k in fields} for s in cx.expect["sample"]}
    cx.checks.expect("sampled turns", got, want)


def check_batch_sample(cx: Ctx) -> None:
    """The sample parsed from the input: only the sampled turns reach the UDF."""
    turns = cx.spark.read.parquet(cx.input_path).join(_sample_keys(cx), ["conv_id", "turn_idx"])
    check_sample(cx, parse_stage(turns))


# ---------------------------------------------------------------- job flow


def prepare_sliced(cx: Ctx) -> None:
    """Pre-slice the input (checkpoint.write_sliced_input), as the job's
    ingest does."""
    if cx.sliced_input is None:
        cx.sliced_input = os.path.join(cx.run_dir, "sliced-input")
        ckpt.write_sliced_input(
            cx.spark.read.parquet(cx.input_path), cx.sliced_input, n_slices=N_SLICES
        )


def _serve_keys(cx: Ctx) -> tuple[list[str], list[dict]]:
    rng = random.Random(cx.seed * 7919 + 1)
    convs = sorted(cx.expect["conv_turns"])
    sinks = sorted(cx.expect["sink_counts"])
    lookups = [rng.choice(convs) for _ in range(LOOKUPS)]
    reads = [dict(zip(SINK_KEYS, rng.choice(sinks).split("/"))) for _ in range(SINK_READS)]
    return lookups, reads


def job_flow(cx: Ctx, out_dir: str) -> dict:
    """One run of the job.py flow: sliced tablelog commits, the four
    reports over the committed snapshot, a resume pass, then a closed loop
    with one client of conversation lookups and per-sink reads. Every
    output is checked; returns what the layers reported."""
    tr, spark, exp = cx.tracer, cx.spark, cx.expect
    lookups, reads = _serve_keys(cx)
    with tr.span("job.flow"):
        with tr.span("checkpoint.run_sliced"):
            manifests = ckpt.run_sliced(
                spark, cx.sliced_input, out_dir, make_transform(),
                n_slices=N_SLICES, table_format="tablelog",
            )
        table = os.path.join(out_dir, "table")
        # as in job.py, every report plans its own scan of the snapshot
        with tr.span("tablelog.read_snapshot"):
            snap = tl.read_snapshot(spark, table)
        with tr.span("aggregate.sink_counts"):
            sinks = {
                "/".join(r[k] for k in SINK_KEYS): r["n"]
                for r in agg.sink_counts(snap).collect()
            }
        with tr.span("aggregate.conv_stats"):
            convs = {r["conv_id"]: r["n_turns"] for r in agg.conv_stats(snap).collect()}
        with tr.span("aggregate.turn_features"):
            tf = agg.turn_features(snap).agg(
                F.count("*").alias("n"),
                F.max("turn_no").alias("max_turn_no"),
                F.count("prev_role").alias("with_prev"),
                F.sum("gap_seconds").alias("gaps"),
            ).first()
        with tr.span("aggregate.summary_hist"):
            hist = {_hist_key(r["bucket"]): r["n"] for r in agg.summary_hist(snap).collect()}
        r0 = time.perf_counter()
        with tr.span("checkpoint.resume"):
            reran = ckpt.run_sliced(
                spark, cx.sliced_input, out_dir, make_transform(),
                n_slices=N_SLICES, table_format="tablelog",
            )
        resume_s = time.perf_counter() - r0
        lookup_ms, lookup_n = [], []
        for cid in lookups:
            s0 = time.perf_counter()
            with tr.span("serve.lookup"):
                lookup_n.append(tl.scan_where(spark, table, {"conv_id": ("=", cid)}).count())
            lookup_ms.append((time.perf_counter() - s0) * 1e3)
        read_ms, read_n = [], []
        for filters in reads:
            s0 = time.perf_counter()
            with tr.span("serve.sink_read"):
                read_n.append(read_routed_tablelog(spark, table, **filters).count())
            read_ms.append((time.perf_counter() - s0) * 1e3)

    ck = cx.checks
    ck.expect("job rows in", sum(m.rows_in for m in manifests), exp["turns"])
    ck.expect("job sink counts", sinks, exp["sink_counts"])
    ck.expect("job conv turn counts", convs, exp["conv_turns"])
    ck.expect("job turn features",
              (tf["n"], tf["max_turn_no"], tf["with_prev"]),
              (exp["turns"], max(exp["conv_turns"].values()), exp["turns"] - len(exp["conv_turns"])))
    ck.expect("job summary histogram", hist, exp["summary_hist"])
    ck.expect("resume re-ran slices", len(reran), 0)
    for cid, n in zip(lookups, lookup_n):
        ck.expect(f"lookup {cid}", n, exp["conv_turns"][cid])
    for filters, n in zip(reads, read_n):
        key = "/".join(filters[k] for k in SINK_KEYS)
        ck.expect(f"sink read {key}", n, exp["sink_counts"][key])
    return {
        "table": table,
        "manifests": manifests,
        "resume_s": resume_s,
        "reruns": len(reran),
        "lookup_ids": lookups,
        "lookup_ms": lookup_ms,
        "sink_read_ms": read_ms,
    }


def check_job_sample(cx: Ctx, table: str) -> None:
    """The sample as committed to the job's table."""
    check_sample(cx, tl.read_snapshot(cx.spark, table).join(_sample_keys(cx), ["conv_id", "turn_idx"]))


# ---------------------------------------------------------------- traced sweep


def _dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _parse_cols() -> list:
    return [
        F.sum(F.length("title")), F.sum(F.length("body")), F.sum(F.length("summary")),
        F.sum(F.size("categories")), F.sum(F.size("tags")), F.count("created_at"),
        F.sum(F.length("first_image")), F.sum(F.size("images")),
        F.sum((F.col("parse_status") == "ok").cast("int")).alias("ok"),
    ]


def _prefix_plans(cx: Ctx):
    """Nested prefixes of the batch plan, each ending in an aggregate that
    reads every column the prefix adds: scan; +parse; +enrich; +route;
    +aggregate (the full batch plan)."""
    read = lambda: cx.spark.read.parquet(cx.input_path)  # noqa: E731
    scan_cols = [F.count("*").alias("n"), F.sum(F.length("text")), F.sum("turn_idx"),
                 F.max("ts"), F.sum(F.length("conv_id")), F.sum(F.length("role")),
                 F.sum(F.length("tool"))]
    enrich_cols = [F.sum((F.col("tool_category") == "unknown").cast("int")).alias("unk_tool"),
                   F.sum((F.col("channel") == "unknown").cast("int")).alias("unk_chan")]
    return [
        ("scan", lambda: read().agg(*scan_cols).first()),
        ("parse", lambda: parse_stage(read()).agg(*scan_cols, *_parse_cols()).first()),
        ("enrich", lambda: enrich(parse_stage(read())).agg(
            *scan_cols, *_parse_cols(), *enrich_cols).first()),
        ("route", lambda: with_sink_id(enrich(parse_stage(read()))).agg(
            *scan_cols, *_parse_cols(), *enrich_cols, F.sum(F.length("sink_id"))).first()),
        ("aggregate", lambda: batch_plan(cx)),
    ]


def layer_sweep(cx: Ctx, job: dict | None, plan_s: float | None) -> dict:
    """Per-layer numbers for the traced run. `job` is a traced job_flow
    result on this corpus and `plan_s` the median time of the full batch
    plan; the sweep measures whichever is not given. A layer's self time is
    its prefix plan's time minus the previous prefix's."""
    spark, out = cx.spark, {}
    secs, rows = {}, {}
    for name, fn in _prefix_plans(cx):
        if name == "aggregate" and plan_s is not None:
            secs[name] = plan_s
            continue
        t0 = time.perf_counter()
        rows[name] = fn()
        secs[name] = time.perf_counter() - t0
    out["scan.s"] = secs["scan"]
    out["scan.bytes"] = _dir_stats(cx.input_path, ".parquet")[1]
    out["parse.self_s"] = secs["parse"] - secs["scan"]
    out["enrich.self_s"] = secs["enrich"] - secs["parse"]
    out["route.self_s"] = secs["route"] - secs["enrich"]
    out["aggregate.self_s"] = secs["aggregate"] - secs["route"]
    out["parse.share"] = out["parse.self_s"] / secs["aggregate"]
    turns = rows["scan"]["n"]
    out["parse.rows_ok_ratio"] = rows["parse"]["ok"] / turns
    out["enrich.unknown_ratio"] = (rows["enrich"]["unk_tool"] + rows["enrich"]["unk_chan"]) / (2 * turns)
    out["route.sinks_touched"] = len(cx.expect["sink_counts"])

    # the regex-bank kernel alone: extract_udf's Python function over the
    # corpus' first KERNEL_ROWS texts, in this process
    import pyarrow.dataset as ds

    texts = ds.dataset(cx.input_path).head(KERNEL_ROWS, columns=["text"]).column("text").to_pandas()
    k = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        extract_udf.func(texts)
        k = min(k, time.perf_counter() - t0)
    out["parse.kernel_rows_per_s"] = len(texts) / k

    if job is None:
        prepare_sliced(cx)
        job = job_flow(cx, os.path.join(cx.run_dir, "sweep-job"))
    tr = cx.tracer
    for name in ("sink_counts", "conv_stats", "turn_features", "summary_hist"):
        out[f"aggregate.{name}_s"] = statistics.median(tr.durations(f"aggregate.{name}"))
    conv_turns = cx.expect["conv_turns"]
    out["aggregate.hot_conv_share"] = sum(sorted(conv_turns.values())[-2:]) / cx.turns
    slice_s = [m.wall_seconds for m in job["manifests"]]
    out["checkpoint.slice_s.p50"] = statistics.median(slice_s)
    out["checkpoint.slice_s.max"] = max(slice_s)
    out["checkpoint.resume_s"] = job["resume_s"]
    out["checkpoint.resume_reruns"] = job["reruns"]
    # where a traced job flow's time goes: the sliced commits, and the
    # one-client lookups and sink reads
    flow_s = sum(tr.durations("job.flow"))
    out["checkpoint.run_sliced_share"] = sum(tr.durations("checkpoint.run_sliced")) / flow_s
    out["serve.share"] = (sum(tr.durations("serve.lookup")) + sum(tr.durations("serve.sink_read"))) / flow_s
    table = job["table"]
    files, data_bytes = _dir_stats(os.path.join(table, "data"), ".parquet")
    out["route.files_written"] = files
    out["route.bytes_written"] = data_bytes
    out["tablelog.files_total"] = files
    out["tablelog.manifest_bytes"] = _dir_stats(os.path.join(table, "log"))[1]
    out["tablelog.bytes_stored_per_input_byte"] = _dir_stats(table)[1] / out["scan.bytes"]
    out["serve.lookup_p50_ms"] = statistics.median(job["lookup_ms"])
    out["serve.lookup_p90_ms"] = _pct(job["lookup_ms"], 0.9)
    out["serve.sink_read_p50_ms"] = statistics.median(job["sink_read_ms"])

    # lookup planning: manifest-only work, and how many opened files hold
    # the conversation at all
    ids = job["lookup_ids"]
    plan_ms, opened = [], []
    for cid in ids:
        t0 = time.perf_counter()
        plan = tl.plan_scan(table, {"conv_id": ("=", cid)})
        plan_ms.append((time.perf_counter() - t0) * 1e3)
        opened.append(len(plan["paths"]))
    holding = Counter(
        r["conv_id"]
        for r in tl.read_snapshot(spark, table)
        .filter(F.col("conv_id").isin(sorted(set(ids))))
        .select("conv_id", F.input_file_name().alias("f")).distinct().collect()
    )
    out["tablelog.plan_ms"] = statistics.median(plan_ms)
    out["tablelog.lookup_files_opened"] = statistics.median(opened)
    out["tablelog.lookup_precision"] = statistics.mean(
        holding[c] / n for c, n in zip(ids, opened) if n
    )

    # one commit of an already materialised slice
    src = spark.read.parquet(cx.sliced_input).filter(F.col(ckpt.SLICE_COL) == 0)
    mat = make_transform()(src).withColumn("_slice", F.lit(0)).withColumn("_gen", F.lit("sweep"))
    mat = mat.persist()
    mat.count()
    t0 = time.perf_counter()
    route_commit_tablelog(mat, os.path.join(cx.run_dir, "commit-table"), marker="sweep",
                          stats_cols=("conv_id",), bloom_cols=("conv_id",))
    out["tablelog.commit_s"] = time.perf_counter() - t0
    mat.unpersist()
    shutil.rmtree(os.path.join(cx.run_dir, "commit-table"), ignore_errors=True)
    return out
