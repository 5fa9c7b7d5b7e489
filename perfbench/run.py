"""Transcript-pipeline benchmark.

    python3 perfbench/run.py --workload markup_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (both over the markup corpus of
sources/synthetic.py, generated from --seed):

- markup_batch: a fresh read-only plan per repetition: scan → parse_stage
  → enrich → with_sink_id → an aggregate over the parse outputs.
- sliced_commit_serve: the job.py flow on a fresh output: sliced tablelog
  commits, the four reports, a resume pass, and a one-client closed loop
  of conversation lookups and per-sink reads.

Inputs are cached per (seed, size) under .perfbench_work/. Each run sets up
once and times it: the JVM and SparkContext launch on local[<cores>] plus a
warm-up plan through the whole batch pipeline. It then repeats the
workload's operation until --seconds have passed and reports medians; the
first three operations are warm passes, left out of the median unless there
are no others. The metrics time set-up and operations without the host's steal
(host.Stopwatch: on a shared virtual machine, other tenants take CPU time
from this one); the wall-clock figures are printed next to them.
Every output is checked against the pure-Python oracle: a wrong output
fails its operation, and the run exits 1 after printing its result.

--trace 0 prints the end-to-end metrics. --trace 1 records spans around
every public call over the window, then sweeps the layers and prints the
per-layer metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("markup_batch", "sliced_commit_serve")
# requested corpus size per workload; the hot conversations add about 20%
TURNS = {"markup_batch": 20_000, "sliced_commit_serve": 10_000}
FILES = 8  # input parquet files
WARM_OPS = 3  # leading operations left out of the median while the JIT settles
WARMUP_TURNS = 64

END_TO_END = {"turns_per_s": "turns/s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "scan.s": "s", "scan.bytes": "B",
    "parse.self_s": "s", "parse.share": "ratio", "parse.kernel_rows_per_s": "rows/s",
    "parse.rows_ok_ratio": "ratio",
    "enrich.self_s": "s", "enrich.unknown_ratio": "ratio",
    "route.self_s": "s", "route.sinks_touched": "count",
    "route.files_written": "count", "route.bytes_written": "B",
    "aggregate.self_s": "s",
    "aggregate.sink_counts_s": "s", "aggregate.conv_stats_s": "s",
    "aggregate.turn_features_s": "s", "aggregate.summary_hist_s": "s",
    "aggregate.hot_conv_share": "ratio",
    "checkpoint.slice_s.p50": "s", "checkpoint.slice_s.max": "s",
    "checkpoint.resume_s": "s", "checkpoint.resume_reruns": "count",
    "checkpoint.run_sliced_share": "ratio",
    "tablelog.commit_s": "s", "tablelog.files_total": "count", "tablelog.manifest_bytes": "B",
    "tablelog.bytes_stored_per_input_byte": "ratio",
    "tablelog.plan_ms": "ms", "tablelog.lookup_files_opened": "count",
    "tablelog.lookup_precision": "ratio",
    "serve.lookup_p50_ms": "ms", "serve.lookup_p90_ms": "ms", "serve.sink_read_p50_ms": "ms",
    "serve.share": "ratio",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "B", "spark.task_skew": "ratio",
    "trace.turns_per_s": "turns/s", "trace.overhead_ratio": "ratio",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None, help="corpus size override (smoke tests)")
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _measure(loop_seconds: float, op) -> tuple[float, float, int]:
    """Run op() until loop_seconds have passed, at least once. Returns the
    median time without steal (host.Stopwatch) and the median wall time of
    the calls after the first WARM_OPS (of the last call when there are no
    more), and the call count."""
    import host

    walls, times, t_end = [], [], time.perf_counter() + loop_seconds
    while not times or time.perf_counter() < t_end:
        sw = host.Stopwatch()
        op()
        wall, t, share = sw.stop()
        walls.append(wall)
        times.append(t)
        _log(f"operation {wall:.3f} s wall, {t:.3f} s without steal "
             f"({share:.1%} of runnable CPU time)")
    kept = slice(WARM_OPS, None) if len(times) > WARM_OPS else slice(-1, None)
    return statistics.median(times[kept]), statistics.median(walls[kept]), len(times)


def run(args) -> dict:
    import flows
    import host
    import inputs
    from spans import Tracer, span_cost

    t0 = time.perf_counter()
    path, expect = inputs.corpus(os.path.join(WORK, "cache"), args.seed,
                                 args.turns or TURNS[args.workload], FILES, host.cores())
    _log(f"inputs ready in {time.perf_counter() - t0:.2f} s")
    warm_rows = inputs.gen_rows(WARMUP_TURNS, args.seed)[:WARMUP_TURNS]
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, f"run-{run_id}")
    os.makedirs(run_dir)

    spark = None
    try:
        sw = host.Stopwatch()
        spark = host.start_session(run_dir)
        flows.warm_up(spark, warm_rows)
        setup_wall, setup_s, share = sw.stop()
        _log(f"set-up (JVM and SparkContext launch plus the warm-up plan) {setup_wall:.3f} s "
             f"wall, {setup_s:.3f} s without steal ({share:.1%} of runnable CPU time)")

        tracer = Tracer(run_id, enabled=bool(args.trace))
        cx = flows.Ctx(spark, tracer, flows.Checks(), path, expect, run_dir, args.seed)
        jobs: list[dict] = []
        if args.workload == "markup_batch":
            def op() -> None:
                flows.batch_plan(cx)
        else:
            flows.prepare_sliced(cx)

            def op() -> None:
                jobs.append(flows.job_flow(cx, os.path.join(run_dir, f"job-{len(jobs)}")))

        t_op, wall_op, n_ops = _measure(args.seconds, op)
        out = {"turns_per_s": cx.turns / t_op, "setup_s": setup_s, "operations": n_ops,
               "wall_turns_per_s": cx.turns / wall_op, "wall_setup_s": setup_wall}
        if args.trace:
            # all the tracer adds is driver-side work per span, so its
            # share of an operation is counted directly
            traced_s = len(tracer.spans) / n_ops * span_cost()
            layers = flows.layer_sweep(cx, jobs[-1] if jobs else None,
                                       plan_s=None if jobs else t_op)
            layers.update({f"spark.{k}": v for k, v in host.stage_totals(spark).items()})
            layers["trace.turns_per_s"] = out["turns_per_s"]
            layers["trace.overhead_ratio"] = t_op / (t_op - traced_s)
            out["layers"] = layers
            tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        if jobs:
            flows.check_job_sample(cx, jobs[-1]["table"])
        else:
            flows.check_batch_sample(cx)
        out["peak_rss_mb"] = host.peak_rss_mb()
        out["checks"] = cx.checks
        return out
    finally:
        if spark is not None:
            spark.stop()
        host.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "blogparser_spark")):
        _log(f"blogparser_spark/ not found next to {os.path.basename(HERE)}/; "
             "run from a checkout of the repository")
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still leaves through run()'s finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run(args)
    ck = res["checks"]
    if args.trace:
        values = res["layers"]
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"operations {res['operations']} (turns_per_s: median after the warm passes)")
    print(f"wall_turns_per_s {res['wall_turns_per_s']:.6g} turns/s (wall-clock, steal left in)")
    print(f"wall_setup_s {res['wall_setup_s']:.6g} s (wall-clock, steal left in)")
    print(f"failed_ops_ratio {ck.failed / max(ck.attempted, 1):.6g} ratio")
    print(f"parity_errors {ck.parity_errors} count")
    for note in ck.notes:
        _log(f"PARITY {note}")
    correct = ck.failed == 0 and ck.parity_errors == 0
    print(json.dumps({"correct": correct, "attempted": ck.attempted, "failed": ck.failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
