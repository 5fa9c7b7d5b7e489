"""Resumable sliced execution: tablelog commits, marker-ledger resume,
per-slice input identity, lineage records in the slice commits, output
parity."""

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
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out")
    table = out + "/table"

    n_input = spark.read.parquet(inp).count()  # hot-conv skew ⇒ not 30×4
    ms = run_sliced(spark, inp, out, transform, n_slices=4)
    assert [m.slice_id for m in ms] == [0, 1, 2, 3]
    for m in ms:  # each slice's commit carries its record
        rec = tl._read_commit(table, m.table_version)["record"]
        assert (rec["slice_id"], rec["rows_in"]) == (m.slice_id, m.rows_in)
    assert sum(m.rows_in for m in ms) == n_input
    assert tl.read_snapshot(spark, table).count() == n_input

    # resume: nothing left to do
    v = tl.current_version(table)
    again = run_sliced(spark, inp, out, transform, n_slices=4, resume=True)
    assert again == []
    assert tl.current_version(table) == v


def test_manifest_lineage_fields(spark, tmp_path):
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out2")
    table = out + "/table"
    ms = run_sliced(spark, inp, out, transform, n_slices=2)
    m = tl._read_commit(table, ms[0].table_version)["record"]
    assert m["slice_id"] == 0
    assert m["predicate"].startswith("pmod(hash(conv_id), 2)")
    assert m["input_snapshot"].startswith("files:")
    assert m["rows_in"] > 0 and m["status_counts"]
    # observed ok-count matches a recount of the slice's committed rows
    ok = (
        tl.read_snapshot(spark, table)
        .filter((F.col("_slice") == 0) & (F.col("parse_status") == "ok"))
        .count()
    )
    assert m["status_counts"]["ok"] == ms[0].rows_ok == ok


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
    silently mixing lineages, also when the rewrite lands within the same
    second."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators.checkpoint import run_sliced

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out3")
    first = run_sliced(spark, inp, out, transform, n_slices=2)
    assert [m.slice_id for m in first] == [0, 1]
    # unchanged input → resume skips everything
    assert run_sliced(spark, inp, out, transform, n_slices=2) == []
    # rewrite the input (new files ⇒ new input identity) → all slices re-run
    _write_input(spark, tmp_path)
    rerun = run_sliced(spark, inp, out, transform, n_slices=2)
    assert [m.slice_id for m in rerun] == [0, 1]


def _parquet_files(root) -> list[str]:
    return sorted(
        os.path.join(d, n) for d, _ds, ns in os.walk(root) for n in ns if n.endswith(".parquet")
    )


def test_input_identity_is_per_slice(tmp_path):
    """Without Spark: on a write_sliced_input layout each slice's input
    identity covers only its own slice_bucket's files, and sees a deleted
    file and a rewrite that forces the old mtime back; any other input
    gives every slice one identity."""
    from blogparser_spark.operators.checkpoint import (
        LAYOUT_MARKER,
        SLICE_COL,
        input_snapshot_ids,
    )

    root = tmp_path / "sliced"
    for s in range(2):
        d = root / f"{SLICE_COL}={s}"
        d.mkdir(parents=True)
        for i in range(2):
            (d / f"part-{i}.parquet").write_bytes(b"x" * 100)
    (root / LAYOUT_MARKER).write_text(json.dumps({"n_slices": 2, "key_col": "conv_id"}))
    ids = input_snapshot_ids(str(root), 2, "conv_id")
    assert ids == input_snapshot_ids(str(root), 2, "conv_id")

    # a deleted file changes its slice's id, and only that one
    os.remove(root / f"{SLICE_COL}=0" / "part-0.parquet")
    after = input_snapshot_ids(str(root), 2, "conv_id")
    assert after[0] != ids[0] and after[1] == ids[1]

    # a shorter rewrite with the old mtime forced back changes the id
    f = root / f"{SLICE_COL}=1" / "part-1.parquet"
    st = os.stat(f)
    f.write_bytes(b"x" * 60)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_mtime_ns == st.st_mtime_ns
    again = input_snapshot_ids(str(root), 2, "conv_id")
    assert again[0] == after[0] and again[1] != after[1]

    # another slicing of the same files, or a flat input: one shared id
    assert len(set(input_snapshot_ids(str(root), 4, "conv_id"))) == 1
    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "part-0.parquet").write_bytes(b"x" * 100)
    ids = input_snapshot_ids(str(flat), 3, "conv_id")
    assert len(ids) == 3 and len(set(ids)) == 1
    (flat / "part-1.parquet").write_bytes(b"x" * 100)
    assert input_snapshot_ids(str(flat), 3, "conv_id") != ids


def test_changed_input_file_reruns_exactly_its_slice(spark, tmp_path):
    """A deleted input file, or one rewritten with fewer rows and its old
    mtime forced back, changes only its own slice's input identity: the
    resumed run re-runs exactly that slice, and the table again holds
    exactly the input's (conv_id, turn_idx) set."""
    import pyarrow.parquet as pq

    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import SLICE_COL, run_sliced, write_sliced_input
    from blogparser_spark.sources.synthetic import transcripts_df

    inp = str(tmp_path / "sliced_in")
    df = transcripts_df(spark, n_convs=40, turns_per_conv=4).repartition(3)
    write_sliced_input(df, inp, n_slices=2)
    out = str(tmp_path / "out_changed")
    table = out + "/table"
    assert [m.slice_id for m in run_sliced(spark, inp, out, transform, n_slices=2)] == [0, 1]

    def keys(frame):
        return [(r["conv_id"], r["turn_idx"]) for r in frame.select("conv_id", "turn_idx").collect()]

    def files(s):
        return _parquet_files(os.path.join(inp, f"{SLICE_COL}={s}"))

    def assert_table_is_input():
        got = keys(tl.read_snapshot(spark, table))
        assert len(got) == len(set(got))
        assert set(got) == set(keys(spark.read.parquet(inp)))

    # (a) delete slice 0's oldest file
    assert len(files(0)) > 1
    os.remove(min(files(0), key=lambda f: os.stat(f).st_mtime_ns))
    assert [m.slice_id for m in run_sliced(spark, inp, out, transform, n_slices=2)] == [0]
    assert_table_is_input()

    # (b) rewrite slice 1's largest file with half its rows, then force
    # its old mtime back
    f = max(files(1), key=lambda f: pq.read_metadata(f).num_rows)
    n = pq.read_metadata(f).num_rows
    assert n > 1
    st = os.stat(f)
    tmp = str(tmp_path / "rewrite")
    spark.read.parquet(f).limit(n // 2).coalesce(1).write.parquet(tmp)
    new = _parquet_files(tmp)[0]

    def crc(p):  # the sidecar checksum Hadoop's local file system verifies
        return os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")

    os.replace(new, f)
    os.replace(crc(new), crc(f))
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert pq.read_metadata(f).num_rows == n // 2
    assert [m.slice_id for m in run_sliced(spark, inp, out, transform, n_slices=2)] == [1]
    assert_table_is_input()


def test_slice_record_survives_a_crash_after_its_commit(spark, tmp_path, monkeypatch):
    """A slice's lineage lands in the same atomic commit as its rows. A
    crash right after the last slice's commit (commit_summary is the
    first call run_sliced makes once the commit returns) leaves every
    slice commit with its record, with exact rows in and status counts,
    and a resumed run re-runs nothing."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators import checkpoint
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_record_crash")
    table = out + "/table"
    real = tl.commit_summary
    calls = []

    def crash_after_last_commit(t, version):
        calls.append(version)
        if len(calls) == 2:
            raise RuntimeError("crashed after the commit")
        return real(t, version)

    with monkeypatch.context() as m:
        m.setattr(tl, "commit_summary", crash_after_last_commit)
        with pytest.raises(RuntimeError, match="crashed after the commit"):
            checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
    assert tl.list_versions(table) == [1, 2]
    src = spark.read.parquet(inp)
    snap = tl.read_snapshot(spark, table)
    for v in (1, 2):
        rec = tl._read_commit(table, v)["record"]
        s = rec["slice_id"]
        assert rec["rows_in"] == src.filter(checkpoint.slice_predicate(s, 2)).count()
        committed = snap.filter(F.col("_slice") == s).groupBy("parse_status").count()
        assert rec["status_counts"] == {r["parse_status"]: r["count"] for r in committed.collect()}
    assert checkpoint.run_sliced(spark, inp, out, transform, n_slices=2) == []
    assert tl.current_version(table) == 2


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
    """status_counts is built from observed aggregates over the KNOWN
    status list; a transform emitting a status outside it must surface as
    'other' so the counts always sum to rows, in the returned record and
    in the one the slice's commit stores."""
    from pyspark.sql import functions as F

    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
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
        assert sum(m.status_counts.values()) == m.rows_in
        assert m.status_counts.get("other", 0) > 0 or "weird_status" not in str(m)
        rec = tl._read_commit(out + "/table", m.table_version)["record"]
        assert rec["status_counts"] == m.status_counts
    assert any(m.status_counts.get("other", 0) > 0 for m in ms)


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


def test_job_prints_one_line_per_slice(spark, tmp_path, capsys):
    """The job prints one JSON line per slice (from its SliceRecord) before
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
    """Each SliceRecord carries its commit's summary: the files, records
    and bytes the commit added match the table's manifest entries for
    that version, and the phase timings are recorded; the commit itself
    holds the same summary next to the slice's record. A resume=False
    re-run's replace commit also records the files and records it removed
    and that it rewrote none."""
    from blogparser_spark.job import transform
    from blogparser_spark.operators import tablelog as tl
    from blogparser_spark.operators.checkpoint import run_sliced

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
        c = tl._read_commit(out + "/table", m.table_version)
        assert c["summary"] == s and c["record"]["rows_in"] == m.rows_in
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
        c = tl._read_commit(table, m.table_version)
        assert c["summary"] == s and c["record"]["rows_in"] == m.rows_in


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
    from blogparser_spark.job import transform
    from blogparser_spark.operators import checkpoint
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_crash")
    table = out + "/table"
    checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
    n1 = spark.read.parquet(inp).count()
    old_gens = {r["_gen"] for r in tl.read_snapshot(spark, table).select("_gen").distinct().collect()}

    _write_input(spark, tmp_path)
    n2 = spark.read.parquet(inp).count()

    def crash(*_args, **_kwargs):
        raise RuntimeError("crashed before the commit")

    with monkeypatch.context() as m:
        m.setattr(tl, "_try_commit", crash)
        with pytest.raises(RuntimeError, match="crashed before the commit"):
            checkpoint.run_sliced(spark, inp, out, transform, n_slices=2)
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
    """With the table wiped, a --resume run re-commits every slice and the
    table again holds exactly the input's rows."""
    from blogparser_spark import job
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_wiped")
    assert job.main(["--input", inp, "--output", out, "--slices", "2"]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    shutil.rmtree(out + "/table")
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


def test_resume_after_fresh_run_reruns_nothing(spark, tmp_path, capsys):
    """A resume=False run commits nonce-suffixed markers of the current
    generation; a --resume run must still find every slice committed:
    zero re-runs, the version unchanged."""
    from blogparser_spark import job
    from blogparser_spark.operators import tablelog as tl

    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out_nonce")
    table = out + "/table"
    assert job.main(["--input", inp, "--output", out, "--slices", "2"]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert all("|run=" in m for m in tl.committed_markers(table))
    v = tl.current_version(table)
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
