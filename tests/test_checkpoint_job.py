"""Resumable sliced execution: tablelog commits, marker-ledger resume,
lineage manifests, output parity."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F


def _write_input(spark, tmp_path):
    from blogparser_spark.sources.synthetic import transcripts_df

    p = str(tmp_path / "transcripts")
    transcripts_df(spark, n_convs=30, turns_per_conv=4).write.mode(
        "overwrite"
    ).parquet(p)
    return p


def test_sliced_run_and_resume(spark, tmp_path):
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import read_manifest, run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out")
    table = out + "/table"

    n_input = spark.read.parquet(inp).count()  # hot-conv skew ⇒ not 30×4
    ms = run_sliced(spark, inp, out, transform, n_slices=4)
    assert [m.slice_id for m in ms] == [0, 1, 2, 3]
    assert all(read_manifest(out, s) for s in range(4))
    assert sum(m.rows_in for m in ms) == n_input
    assert tl.read_snapshot(spark, table).count() == n_input

    # resume: nothing left to do
    again = run_sliced(spark, inp, out, transform, n_slices=4, resume=True)
    assert again == []

    # drop one manifest → manifests are lineage only: the ledger still
    # holds the slice's marker, so nothing re-runs and the table stays
    # complete
    v = tl.current_version(table)
    os.remove(out + "/_manifests/slice-00002.json")
    assert run_sliced(spark, inp, out, transform, n_slices=4, resume=True) == []
    assert tl.current_version(table) == v
    assert tl.read_snapshot(spark, table).count() == n_input


def test_manifest_lineage_fields(spark, tmp_path):
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out2")
    run_sliced(spark, inp, out, transform, n_slices=2)
    with open(out + "/_manifests/slice-00000.json") as f:
        m = json.load(f)
    assert m["predicate"].startswith("pmod(hash(conv_id), 2)")
    assert m["input_snapshot"].startswith("mtime:")
    assert m["rows_in"] > 0 and m["sink_counts"]
    # observed ok-count matches a recount of the slice's committed rows
    ok = (
        tl.read_snapshot(spark, m["output_path"])
        .filter((F.col("_slice") == 0) & (F.col("parse_status") == "ok"))
        .count()
    )
    assert m["rows_ok"] == ok


def test_slices_partition_all_rows_exactly_once(spark, tmp_path):
    from blogparser_spark.operators.checkpoint import slice_predicate

    inp = _write_input(spark, tmp_path)
    df = spark.read.parquet(inp)
    n = df.count()
    covered = sum(
        df.filter(slice_predicate(s, 4)).count() for s in range(4)
    )
    assert covered == n


def test_sliced_input_scan_prunes_to_own_files(spark, tmp_path):
    """Storage-aligned slicing: with write_sliced_input, a slice read scans
    ONLY the files under its own slice_bucket partition — the hash-filter
    fallback would scan everything (6.4 PB at 100 TB × 64 slices)."""
    from blogparser_spark.operators.checkpoint import SLICE_COL, write_sliced_input
    from blogparser_spark.sources.synthetic import transcripts_df

    p = str(tmp_path / "sliced_in")
    write_sliced_input(transcripts_df(spark, n_convs=30, turns_per_conv=4), p, n_slices=4)
    full = spark.read.parquet(p)
    one = full.filter(F.col(SLICE_COL) == 2)
    # the slice filter must land in the scan's PartitionFilters (directory
    # pruning), not in the data filters (per-row evaluation after reading)
    plan = one._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PartitionFilters" in plan
    scan_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert SLICE_COL in scan_line.split("PartitionFilters")[1].split("]")[0]
    # and the four partitions cover every row exactly once
    assert sum(
        full.filter(F.col(SLICE_COL) == s).count() for s in range(4)
    ) == full.count()


def test_sliced_run_reads_its_input_once(spark, tmp_path, monkeypatch):
    """run_sliced builds one reader for the run and filters it per slice
    (each DataFrameReader.parquet call infers the schema in a Spark job of
    its own), and each slice's scan still prunes to its slice_bucket
    partition."""
    from pyspark.sql.readwriter import DataFrameReader

    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import SLICE_COL, run_sliced, write_sliced_input
    from blogparser_spark.sources.synthetic import transcripts_df

    p = str(tmp_path / "sliced_in")
    write_sliced_input(transcripts_df(spark, n_convs=30, turns_per_conv=4), p, n_slices=4)
    reads, scans = [], []
    real = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        reads.extend(paths)
        return real(self, *paths, **kw)

    def traced(df):
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        scans.append(next(ln for ln in plan.splitlines() if "PartitionFilters" in ln))
        return transform(df)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    ms = run_sliced(spark, p, str(tmp_path / "out"), traced, n_slices=4)
    assert [m.slice_id for m in ms] == [0, 1, 2, 3]
    assert reads.count(p) == 1
    assert len(scans) == 4
    for ln in scans:
        assert SLICE_COL in ln.split("PartitionFilters")[1].split("]")[0]


def test_sliced_run_uses_pruned_predicate_and_matches_flat(spark, tmp_path):
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced, write_sliced_input
    from blogparser_spark.sources.synthetic import transcripts_df

    df = transcripts_df(spark, n_convs=20, turns_per_conv=3)
    p = str(tmp_path / "sliced_in2")
    write_sliced_input(df, p, n_slices=2)
    out = str(tmp_path / "sliced_out")
    ms = run_sliced(spark, p, out, transform, n_slices=2)
    assert all("partition-pruned" in m.predicate for m in ms)
    assert sum(m.rows_in for m in ms) == df.count()
    got = tl.read_snapshot(spark, out + "/table").count()
    assert got == df.count()


def test_resume_reruns_when_input_snapshot_changes(spark, tmp_path):
    """A committed marker from an OLDER input snapshot must not be trusted
    — resuming after the input changed re-runs the slice instead of
    silently mixing lineages."""
    import time as _time

    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out3")
    first = run_sliced(spark, inp, out, transform, n_slices=2)
    assert [m.slice_id for m in first] == [0, 1]
    # unchanged input → resume skips everything
    assert run_sliced(spark, inp, out, transform, n_slices=2) == []
    # rewrite the input (new mtime ⇒ new snapshot id) → all slices re-run
    _time.sleep(1.1)  # mtime granularity
    _write_input(spark, tmp_path)
    rerun = run_sliced(spark, inp, out, transform, n_slices=2)
    assert [m.slice_id for m in rerun] == [0, 1]


def test_layout_mismatch_falls_back_to_hash_predicate(spark, tmp_path):
    """A layout written with a SMALLER slice count must NOT pass the sliced
    check for a larger n (slices would silently double up / read empty);
    the marker requires an exact (n_slices, key_col) match."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import run_sliced, write_sliced_input
    from blogparser_spark.sources.synthetic import transcripts_df

    df = transcripts_df(spark, n_convs=20, turns_per_conv=3)
    p = str(tmp_path / "sliced_small")
    write_sliced_input(df, p, n_slices=4)
    out = str(tmp_path / "mismatch_out")
    ms = run_sliced(spark, p, out, transform, n_slices=8)
    # fell back to the hash predicate: correct totals, honest predicates
    assert all(m.predicate.startswith("pmod(hash(conv_id), 8)") for m in ms)
    assert sum(m.rows_in for m in ms) == df.count()
    # and the matching count still uses the pruned path
    ms4 = run_sliced(spark, p, str(tmp_path / "match_out"), transform, n_slices=4)
    assert all("partition-pruned" in m.predicate for m in ms4)


def test_unknown_status_lands_in_other_bucket(spark, tmp_path):
    """sink_counts is built from observed aggregates over the KNOWN status
    list; a transform emitting a status outside it must surface as 'other'
    so the manifest counts always sum to rows."""
    from pyspark.sql import functions as F

    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "other_out")

    def odd_transform(df):
        return transform(df).withColumn(
            "parse_status",
            F.when(F.col("turn_idx") == 0, F.lit("weird_status")).otherwise("ok"),
        )

    ms = run_sliced(spark, inp, out, odd_transform, n_slices=2)
    for m in ms:
        assert sum(m.sink_counts.values()) == m.rows_in
        assert m.sink_counts.get("other", 0) > 0 or "weird_status" not in str(m)
    assert any(m.sink_counts.get("other", 0) > 0 for m in ms)


def test_resume_reruns_when_slice_params_change(spark, tmp_path):
    """Resuming with a different n_slices (or key_col) must NOT trust old
    markers: mixing pmod-4 slice outputs with pmod-8 predicates would
    duplicate every row whose pmod8 lands in {4..7}."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_params")
    first = run_sliced(spark, inp, out, transform, n_slices=4)
    assert [m.slice_id for m in first] == [0, 1, 2, 3]
    # widened slice count → every slice re-runs (no silent subset skip)
    rerun = run_sliced(spark, inp, out, transform, n_slices=8)
    assert [m.slice_id for m in rerun] == list(range(8))
    # different key_col → same full re-run
    rerun2 = run_sliced(spark, inp, out, transform, n_slices=8, key_col="turn_idx")
    assert [m.slice_id for m in rerun2] == list(range(8))


def test_job_report_ignores_stale_slice_dirs(spark, tmp_path, capsys):
    """Re-running the job with a SMALLER --slices into the same table must
    not double-count rows the wider run committed: each 2-slice commit
    replaces the 4-slice generation's rows of its keyspace, so the report
    over the snapshot equals the first run's."""
    from blogparser_spark import job

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_stale")
    assert job.main(["--input", inp, "--output", out, "--slices", "4"]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert job.main(["--input", inp, "--output", out, "--slices", "2"]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["slices_run"] == [0, 1]
    assert r1["rows_in"] == r2["rows_in"]
    assert r1["sink_counts"] == r2["sink_counts"]
    assert r1["n_convs"] == r2["n_convs"]


def test_job_tablelog_sink_matches_parquet_and_resumes(spark, tmp_path, capsys):
    """The tablelog sink routes every slice into one snapshot-log table as
    atomic idempotent commits: sink counts match the unsliced transform of
    the input exactly, per-sink reads prune via manifests, and a --resume
    re-run is a commit no-op (marker ledger), leaving the version pinned."""
    from blogparser_spark import job
    from blogparser_spark.operators import aggregate as agg
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.route import read_routed_tablelog

    inp = _write_input(spark, tmp_path)
    out_t = str(tmp_path / "out_tl")
    assert job.main(
        ["--input", inp, "--output", out_t, "--slices", "4", "--resume"]
    ) == 0
    rt = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    flat = job.transform(spark.read.parquet(inp))
    assert rt["sink_counts"] == {
        f"{r['channel']}/{r['tool_category']}/{r['parse_status']}": r["n"]
        for r in agg.sink_counts(flat).collect()
    }
    assert rt["rows_in"] == flat.count()
    assert rt["n_convs"] == agg.conv_stats(flat).count()
    table = out_t + "/table"
    v1 = tl.current_version(table)
    assert rt["table_version"] == v1 and v1 == 4  # one commit per slice

    # per-sink read equals a filter over the full snapshot
    full = tl.read_snapshot(spark, table)
    one = read_routed_tablelog(spark, out_t + "/table", parse_status="ok")
    assert one.count() == full.filter(F.col("parse_status") == "ok").count()

    # resume: every marker already committed → zero slices, zero commits
    assert job.main(
        ["--input", inp, "--output", out_t, "--slices", "4", "--resume"]
    ) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["slices_run"] == [] and r2["rows_in"] == 0
    assert tl.current_version(table) == v1
    assert r2["sink_counts"] == rt["sink_counts"]  # served from the table

    # marker ledger is the one resume guard: lose ALL slice manifests and
    # resume still skips every slice (no duplicate commits)
    shutil.rmtree(out_t + "/_manifests")
    assert job.main(
        ["--input", inp, "--output", out_t, "--slices", "4", "--resume"]
    ) == 0
    r3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r3["slices_run"] == [] and tl.current_version(table) == v1


def test_job_prints_one_line_per_slice(spark, tmp_path, capsys):
    """The job prints one JSON line per slice (from its manifest) before
    the run report: rows in and ok, wall time, and the slice's tablelog
    commit with its summary."""
    from blogparser_spark import job, session
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_lines")
    assert job.main(["--input", inp, "--output", out, "--slices", "2"]) == 0
    *lines, report = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [x["slice_id"] for x in lines] == [0, 1]
    assert {k for x in lines for k in x} == {
        "slice_id", "rows_in", "rows_ok", "wall_seconds", "table_version", "commit_summary",
    }
    assert sum(x["rows_in"] for x in lines) == report["rows_in"] == spark.read.parquet(inp).count()
    table = tl.read_snapshot(spark, out + "/table")
    assert sum(x["rows_ok"] for x in lines) == table.filter(F.col("parse_status") == "ok").count()
    assert sorted(x["table_version"] for x in lines) == [1, 2]
    assert all(x["wall_seconds"] > 0 for x in lines)
    for x in lines:
        assert x["commit_summary"]["added_records"] == x["rows_in"]
    # the job's get_spark found the tests' JVM running: the report carries
    # what that JVM's launch did
    assert report["class_sharing"] == session.class_sharing(spark)
    assert report["class_sharing"].split()[0] in ("using", "recording", "off:")


def test_slice_manifest_carries_commit_summary(spark, tmp_path):
    """Each tablelog slice manifest carries its commit's summary: the
    files, records and bytes the commit added match the table's manifest
    entries for that version, and the phase timings are recorded. A
    resume=False re-run's replace commit also records the files and
    records it removed and that it rewrote none."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import read_manifest, run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_sum")
    ms = run_sliced(spark, inp, out, transform, n_slices=2)
    for m in ms:
        entries = tl._read_commit(out + "/table", m.table_version)["added_data"]
        s = m.commit_summary
        assert s["added_records"] == m.rows_in == sum(e["rows"] for e in entries)
        assert s["added_data_files"] == len(entries)
        assert s["added_files_size"] == sum(e["bytes"] for e in entries)
        assert s["commit_retries"] == 0
        assert all(s[k] >= 0 for k in ("write_s", "manifest_s", "commit_s"))
        assert read_manifest(out, m.slice_id)["commit_summary"] == s
        assert "removed_data_files" not in s  # a plain append
    table = out + "/table"
    prev = {m.slice_id: tl._read_commit(table, m.table_version)["added_data"] for m in ms}
    again = run_sliced(spark, inp, out, transform, n_slices=2, resume=False)
    assert [m.table_version for m in again] == [3, 4]  # one commit per slice
    for m in again:
        s = m.commit_summary
        assert tl._read_commit(table, m.table_version)["operation"] == "replace"
        assert s["removed_data_files"] == len(prev[m.slice_id])
        assert s["removed_records"] == sum(e["rows"] for e in prev[m.slice_id]) == m.rows_in
        assert s["rewritten_files"] == 0 and s["rewrite_s"] >= 0
        assert s["added_records"] == m.rows_in
        assert read_manifest(out, m.slice_id)["commit_summary"] == s


def test_tablelog_generation_replace_on_input_change_and_reslice(
    spark, tmp_path
):
    """A changed input (new snapshot) or a changed slice count re-runs into
    the SAME table without mixing generations: each slice replaces its own
    keyspace under the CURRENT hash predicate, so the table converges to
    exactly the new generation even when n_slices changed. Once a re-slice
    completes, the ledger holds only the current slicing's markers: going
    back to an earlier slicing re-runs every slice instead of trusting
    markers whose rows are gone."""
    import time as _time

    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_gen")
    table = out + "/table"
    first = run_sliced(spark, inp, out, transform, n_slices=4)
    n1 = spark.read.parquet(inp).count()
    assert sum(m.rows_in for m in first) == n1
    assert tl.read_snapshot(spark, table).count() == n1

    # rewrite the input (new snapshot) AND change the slice count: the old
    # generation's 4-slice rows must all be replaced by the 2-slice run
    _time.sleep(1.1)
    _write_input(spark, tmp_path)
    n2 = spark.read.parquet(inp).count()
    rerun = run_sliced(spark, inp, out, transform, n_slices=2)
    assert [m.slice_id for m in rerun] == [0, 1]
    snap = tl.read_snapshot(spark, table)
    assert snap.count() == n2  # no old-generation residue
    gens = [r["_gen"] for r in snap.select("_gen").distinct().collect()]
    assert len(gens) == 2 and all("|n=2|" in g for g in gens)
    assert tl.committed_markers(table) == set(gens)
    # and a resume of the new generation is a pure no-op
    assert run_sliced(spark, inp, out, transform, n_slices=2) == []

    # 2 → 4 → 2 → 4 on the same input: the second 4-slice run must not
    # trust the first one's markers, whose rows the 2-slice run replaced
    assert len(run_sliced(spark, inp, out, transform, n_slices=4)) == 4
    assert len(run_sliced(spark, inp, out, transform, n_slices=2)) == 2
    assert len(tl.committed_markers(table)) == 2
    back = run_sliced(spark, inp, out, transform, n_slices=4)
    assert [m.slice_id for m in back] == [0, 1, 2, 3]
    snap = tl.read_snapshot(spark, table)
    assert snap.count() == snap.select("conv_id", "turn_idx").distinct().count() == n2


def test_tablelog_replace_converges_after_crash_between_write_and_commit(
    spark, tmp_path, monkeypatch
):
    """A slice's replace is one commit: a crash after the slice's files
    are written but before its commit leaves the old generation live,
    readable and complete, and the new marker uncommitted. The resumed
    run re-runs every slice and converges to the full new generation."""
    import time as _time

    from blogparser_spark.job import transform
    from blogparser_spark.operators import checkpoint
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_crash")
    table = out + "/table"
    checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
    n1 = spark.read.parquet(inp).count()
    old_gens = {r["_gen"] for r in tl.read_snapshot(spark, table).select("_gen").distinct().collect()}

    _time.sleep(1.1)
    _write_input(spark, tmp_path)
    n2 = spark.read.parquet(inp).count()

    def crash(*_args, **_kwargs):
        raise RuntimeError("crashed before the commit")

    with monkeypatch.context() as m:
        m.setattr(tl, "_try_commit", crash)
        with pytest.raises(RuntimeError, match="crashed before the commit"):
            checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
    shutil.rmtree(out + "/_manifests")  # the crash also lost the manifests
    snap = tl.read_snapshot(spark, table)  # the old generation, whole
    assert snap.count() == n1
    assert {r["_gen"] for r in snap.select("_gen").distinct().collect()} == old_gens

    rerun = checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
    assert [m.slice_id for m in rerun] == [0, 1]
    snap = tl.read_snapshot(spark, table)
    assert snap.count() == n2
    gens = [r["_gen"] for r in snap.select("_gen").distinct().collect()]
    assert len(gens) == 2 and all("|n=2|" in g for g in gens)
    assert not set(gens) & old_gens


def test_crashed_fresh_run_before_its_replace_commit_keeps_the_old_generation(
    spark, tmp_path, monkeypatch
):
    """A resume=False run replaces each slice in one commit. A crash
    between the slice's file write and that commit leaves the earlier
    generation live and its markers in the ledger: the resumed run has
    nothing to re-run, and the table holds exactly the input's rows."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators import checkpoint
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_fresh_crash")
    table = out + "/table"
    checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
    n = spark.read.parquet(inp).count()
    v = tl.current_version(table)

    def crash(*_args, **_kwargs):
        raise RuntimeError("crashed before the commit")

    with monkeypatch.context() as m:
        m.setattr(tl, "_try_commit", crash)
        with pytest.raises(RuntimeError, match="crashed before the commit"):
            checkpoint.run_sliced(spark, inp, out, transform, n_slices=2, resume=False)
    assert tl.current_version(table) == v
    snap = tl.read_snapshot(spark, table)
    assert snap.count() == snap.select("conv_id", "turn_idx").distinct().count() == n

    assert checkpoint.run_sliced(spark, inp, out, transform, n_slices=2) == []
    snap = tl.read_snapshot(spark, table)
    assert snap.count() == snap.select("conv_id", "turn_idx").distinct().count() == n


def test_resume_after_expiry_reruns_nothing(spark, tmp_path):
    """The marker ledger derives from the live files, not from retained
    commits: after expiry drops the commits that carried the slices'
    markers, a resumed run still finds every slice committed, re-runs
    nothing and leaves exactly the input's rows."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_expired")
    table = out + "/table"
    run_sliced(spark, inp, out, transform, n_slices=4)
    n = spark.read.parquet(inp).count()
    assert tl.expire_snapshots(table, keep_last=2)["versions_removed"] == 2
    assert len(tl.committed_markers(table)) == 4
    assert run_sliced(spark, inp, out, transform, n_slices=4) == []
    snap = tl.read_snapshot(spark, table)
    assert snap.count() == snap.select("conv_id", "turn_idx").distinct().count() == n


def test_fresh_reruns_replace_by_metadata_and_keep_one_generation(
    spark, tmp_path, monkeypatch
):
    """Under an unchanged slicing a resume=False re-run replaces each
    slice in ONE commit that reads no table file: the slice's earlier
    files are removed by metadata alone. After three re-runs over 8
    slices the live state holds only the last generation's files, a read
    is one scan, and no delete file or deletes/ directory exists."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_reruns")
    table = out + "/table"
    n = spark.read.parquet(inp).count()
    run_sliced(spark, inp, out, transform, n_slices=8)

    def no_table_read(*_args, **_kwargs):
        raise AssertionError("a same-slicing replace read a table file")

    for _ in range(3):
        v = tl.current_version(table)
        with monkeypatch.context() as m:
            m.setattr(tl, "_read_files", no_table_read)
            ms = run_sliced(spark, inp, out, transform, n_slices=8, resume=False)
        assert [x.table_version for x in ms] == list(range(v + 1, v + 9))
    state = tl._state_at(table)[1]
    last = {x.table_version for x in ms}
    assert {e["seq"] for e in state["data"].values()} <= last
    assert {m for e in state["data"].values() for m in e["markers"]} == tl.committed_markers(table)
    assert len(tl.committed_markers(table)) == 8
    assert not os.path.exists(os.path.join(table, "deletes"))
    snap = tl.read_snapshot(spark, table)
    assert snap._jdf.queryExecution().optimizedPlan().toString().count("Relation") == 1
    assert snap.count() == snap.select("conv_id", "turn_idx").distinct().count() == n


def test_resume_after_wiped_table_rebuilds_it(spark, tmp_path, capsys):
    """Slice manifests never mark a slice done: with the table wiped and
    the manifests kept, a --resume run re-commits every slice and the
    table again holds exactly the input's rows."""
    from blogparser_spark import job
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_wiped")
    assert job.main(["--input", inp, "--output", out, "--slices", "2"]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    shutil.rmtree(out + "/table")
    assert os.listdir(out + "/_manifests")
    assert job.main(
        ["--input", inp, "--output", out, "--slices", "2", "--resume"]
    ) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["slices_run"] == [0, 1] and r2["table_version"] == 2
    assert r2["sink_counts"] == r1["sink_counts"]
    cols = ["conv_id", "turn_idx"]
    got = tl.read_snapshot(spark, out + "/table").select(cols)
    want = spark.read.parquet(inp).select(cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_resume_after_fresh_run_and_lost_manifests_reruns_nothing(
    spark, tmp_path, capsys
):
    """A resume=False run commits nonce-suffixed markers of the current
    generation; after its manifests are lost, a --resume run must still
    find every slice committed: zero re-runs, the version unchanged."""
    from blogparser_spark import job
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_nonce")
    table = out + "/table"
    assert job.main(["--input", inp, "--output", out, "--slices", "2"]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all("|run=" in m for m in tl.committed_markers(table))
    v = tl.current_version(table)
    shutil.rmtree(out + "/_manifests")
    assert job.main(
        ["--input", inp, "--output", out, "--slices", "2", "--resume"]
    ) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r2["slices_run"] == []
    assert tl.current_version(table) == v
    assert r2["sink_counts"] == r1["sink_counts"]


def test_run_sliced_accepts_only_the_tablelog_sink(spark, tmp_path):
    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import run_sliced

    with pytest.raises(ValueError, match="table_format"):
        run_sliced(spark, "unused", str(tmp_path / "o"), transform, table_format="parquet")
    assert not os.path.exists(tmp_path / "o")


def test_job_commits_empty_slices(spark, tmp_path, capsys):
    """More slices than conversations leaves slices empty; each still
    commits its marker with zero rows, and the report counts every row."""
    from blogparser_spark import job
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.sources.synthetic import transcripts_df

    inp = str(tmp_path / "three_convs")
    transcripts_df(spark, n_convs=3, turns_per_conv=3, hot_convs=0).write.parquet(inp)
    out = str(tmp_path / "out_empty")
    assert job.main(["--input", inp, "--output", out, "--slices", "8"]) == 0
    *lines, report = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [x["slice_id"] for x in lines] == list(range(8))
    assert sum(x["rows_in"] == 0 for x in lines) >= 5
    assert report["rows_in"] == 9
    assert report["table_version"] == 8 and report["n_convs"] == 3
    assert sum(report["sink_counts"].values()) == 9
    assert len(tl.committed_markers(out + "/table")) == 8
