"""Snapshot-log table format (operators/tablelog.py): commit atomicity,
time travel, copy-on-write deletes and replaces, snapshot expiry, orphan
removal, and partition, stats and bloom pruning."""

from __future__ import annotations

import contextlib
import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from blogparser_spark.operators import tablelog as tl


def _batch(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("type_"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
    )


def _ids(df):
    return sorted(r.event_id for r in df.select("event_id").collect())


def test_append_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    v1 = tl.append(spark, t, _batch(spark, 0, 10))
    v2 = tl.append(spark, t, _batch(spark, 10, 25))
    assert (v1, v2) == (1, 2)
    assert _ids(tl.read_snapshot(spark, t)) == list(range(25))
    assert [tl._read_commit(t, v)["operation"] for v in (1, 2)] == ["append", "append"]
    assert [tl.commit_summary(t, v)["added_records"] for v in (1, 2)] == [10, 15]


def test_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10))
    tl.append(spark, t, _batch(spark, 10, 20))
    assert _ids(tl.read_snapshot(spark, t, version=1)) == list(range(10))
    assert _ids(tl.read_snapshot(spark, t, version=2)) == list(range(20))


def test_delete_where_rewrites_only_the_files_it_hits(spark, tmp_path):
    """A delete rewrites the live files holding a matching row without
    those rows and removes them in one commit; every other file stays
    live as it was, and no delete file is written."""
    t = str(tmp_path / "t")
    tl.append(
        spark, t, _batch(spark, 0, 10).repartitionByRange(4, "event_id"),
        stats_cols=("event_id",),
    )
    before = tl._state_at(t)[1]["data"]
    hit = {p for p, e in before.items() if e["stats"]["event_id"][0] < 5}
    v = tl.delete_where(spark, t, F.col("event_id") < 5, key_cols=["event_id"])
    assert v == 2
    assert _ids(tl.read_snapshot(spark, t)) == list(range(5, 10))
    # the deleted version is still time-travelable
    assert _ids(tl.read_snapshot(spark, t, version=1)) == list(range(10))
    c = tl._read_commit(t, v)
    assert set(c["removed_data"]) == hit and len(hit) < len(before)
    after = tl._state_at(t)[1]
    assert set(before) - hit <= set(after["data"]) and "deletes" not in after
    assert sorted(os.listdir(t)) == ["data", "log"]


def test_delete_sequence_scoping(spark, tmp_path):
    """A key re-appended AFTER the delete must survive (Iceberg v2 rule:
    equality deletes apply only to data files with an older sequence)."""
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10))
    tl.delete_where(spark, t, F.col("event_id") < 5, key_cols=["event_id"])
    tl.append(spark, t, _batch(spark, 0, 3))
    assert _ids(tl.read_snapshot(spark, t)) == [0, 1, 2] + list(range(5, 10))


def test_expire_snapshots(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10).coalesce(1))  # v1
    # v2 rewrites v1's one file without its first half: v1's file orphaned
    tl.delete_where(spark, t, F.col("event_id") < 5, key_cols=["event_id"])
    tl.append(spark, t, _batch(spark, 110, 120))  # v3
    _, s1 = tl._state_at(t, 1)
    v1_files = list(s1["data"])
    assert not set(v1_files) & set(tl._state_at(t, 2)[1]["data"])
    res = tl.expire_snapshots(t, keep_last=2)
    assert res["versions_removed"] == 1
    assert res["files_removed"] == len(v1_files)
    assert all(not os.path.exists(p) for p in v1_files)
    # retained snapshots still read correctly (v2 via rebase base, v3 live)
    assert _ids(tl.read_snapshot(spark, t, version=2)) == list(range(5, 10))
    assert _ids(tl.read_snapshot(spark, t)) == list(range(5, 10)) + list(range(110, 120))
    with pytest.raises(tl.SnapshotExpired):
        tl.read_snapshot(spark, t, version=1)


def test_schema_enforcement_and_evolution(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 5))
    bad = _batch(spark, 5, 10).withColumn("event_id", F.col("event_id").cast("string"))
    with pytest.raises(ValueError, match="schema mismatch"):
        tl.append(spark, t, bad)
    extra = _batch(spark, 5, 10).withColumn("score", F.lit(1.5))
    with pytest.raises(ValueError, match="allow_evolution"):
        tl.append(spark, t, extra)
    tl.append(spark, t, extra, allow_evolution=True)
    out = tl.read_snapshot(spark, t)
    assert "score" in out.columns
    rows = {r.event_id: r.score for r in out.collect()}
    assert rows[0] is None and rows[7] == 1.5


def test_read_frames_are_built_without_a_spark_job(spark, tmp_path):
    """read_snapshot and scan_where read data files under the state's
    schema, so building their DataFrames runs no schema-inference job (a
    mergeSchema read runs one per call, before any action), also over a
    table a delete rewrote. Counted via the status tracker over a
    dedicated job group; a file written before a column was added still
    reads it as NULL."""
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 5), stats_cols=("event_id",))
    extra = _batch(spark, 5, 10).withColumn("score", F.lit(1.5))
    tl.append(spark, t, extra, stats_cols=("event_id",), allow_evolution=True)
    tl.delete_where(spark, t, F.col("event_id") < 2, ["event_id"])
    sc = spark.sparkContext
    sc.setJobGroup("tl-build-frames", "building tablelog read frames")
    try:
        snap = tl.read_snapshot(spark, t)
        hit = tl.scan_where(spark, t, {"event_id": ("between", 3, 7)})
    finally:
        sc.setJobGroup("tl-build-frames-done", "")
    assert sc.statusTracker().getJobIdsForGroup("tl-build-frames") == []
    assert snap.columns == ["event_id", "user_id", "event_type", "score"]
    rows = {r.event_id: r.score for r in snap.collect()}
    assert sorted(rows) == [2, 3, 4, 5, 6, 7, 8, 9]
    assert rows[2] is None and rows[7] == 1.5
    assert _ids(hit) == [3, 4, 5, 6, 7]


def test_empty_scan_frame_runs_on_the_jvm(spark, tmp_path):
    """A scan that prunes every file (a lookup of an absent key) or a
    snapshot with no live file reads an empty frame of the state's schema
    built on the JVM: no LogicalRDD of Python rows in its plan, so
    counting it starts no Python task."""
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10), stats_cols=("event_id",))
    absent = {"event_id": ("=", 99)}
    assert tl.plan_scan(t, absent)["paths"] == []
    schema = tl.read_snapshot(spark, t).schema
    tl.delete_where(spark, t, F.col("event_id") >= 0, ["event_id"])
    for empty in (tl.scan_where(spark, t, absent, version=1), tl.read_snapshot(spark, t)):
        plan = empty._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "LogicalRDD" not in plan
        assert empty.schema == schema
        assert empty.count() == 0


def test_append_retries_on_commit_race(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 5))
    # simulate a concurrent writer claiming version 2
    racer = {
        "version": 2,
        "parent": 1,
        "operation": "append",
        "ts": 0.0,
        "schema": [["event_id", "bigint"], ["user_id", "bigint"], ["event_type", "string"]],
        "added_data": [],
    }
    assert tl._try_commit(t, racer)
    v = tl.append(spark, t, _batch(spark, 5, 10))
    assert v == 3  # retried past the raced version
    assert _ids(tl.read_snapshot(spark, t)) == list(range(10))


def test_replace_append_replays_the_log_once(spark, tmp_path, monkeypatch):
    """A replace commit plans its removals and checks its schema against
    one replay of the log, not one each."""
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10), marker="old")
    calls = []
    real = tl._state_at

    def counted(table, version=None):
        calls.append(version)
        return real(table, version)

    monkeypatch.setattr(tl, "_state_at", counted)
    v = tl.append(
        spark, t, _batch(spark, 20, 25), marker="new",
        replace=(F.col("event_id") < 10, lambda m: m == "old"),
    )
    monkeypatch.undo()
    assert calls == [1]
    assert tl._read_commit(t, v)["operation"] == "replace"
    assert _ids(tl.read_snapshot(spark, t)) == list(range(20, 25))


def test_non_append_commit_conflict_raises(spark, tmp_path, monkeypatch):
    """A delete that read snapshot v1 must NOT silently commit over a
    concurrent writer's v2: simulate the race by pinning the version read
    to the stale value while a racer claims the next slot."""
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 5))
    racer = {"version": 2, "parent": 1, "operation": "append", "ts": 0.0,
             "schema": None, "added_data": []}
    assert tl._try_commit(t, racer)
    monkeypatch.setattr(tl, "current_version", lambda table: 1)
    with pytest.raises(tl.CommitConflict):
        tl.delete_where(spark, t, F.col("event_id") < 2, key_cols=["event_id"])


def test_stats_pruning_scan(spark, tmp_path):
    t = str(tmp_path / "t")
    for lo in range(0, 100, 20):  # 5 appends, disjoint event_id ranges
        tl.append(
            spark,
            t,
            _batch(spark, lo, lo + 20).coalesce(1),
            stats_cols=("event_id",),
        )
    mid = {"event_id": ("between", 45, 55)}
    plan = tl.plan_scan(t, mid)
    assert plan["pruned_by_stats"] == plan["n_files_skipped"] == 4
    assert len(plan["paths"]) == 1
    plan2 = tl.plan_scan(t, {"event_id": ("between", 15, 25)})  # straddles two
    assert plan2["n_files_skipped"] == 3 and len(plan2["paths"]) == 2
    got = tl.scan_where(spark, t, mid)
    assert _ids(got) == list(range(45, 56))
    assert _opened(got) == {os.path.abspath(p) for p in plan["paths"]}
    # pruning must compose with deletes: the rewrite keeps the file's stats
    tl.delete_where(spark, t, F.col("event_id") == 50, key_cols=["event_id"])
    assert tl.plan_scan(t, mid)["n_files_skipped"] == 4
    assert _ids(tl.scan_where(spark, t, mid)) == [
        i for i in range(45, 56) if i != 50
    ]


def test_commit_file_is_valid_json_with_manifest_stats(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10).coalesce(1), stats_cols=("event_id",))
    with open(tl._commit_path(t, 1)) as f:
        c = json.load(f)
    (entry,) = c["added_data"]
    assert entry["rows"] == 10
    assert entry["stats"]["event_id"] == [0, 9]
    assert entry["seq"] == 1
    # one flat entry keyed by column name
    assert set(entry) == {"path", "rows", "bytes", "seq", "stats"}
    assert not {"fields", "last_field_id"} & set(c)


@contextlib.contextmanager
def _advisory_bytes(spark, size: str):
    """Run with a tiny AQE advisory partition size, so a partition_by
    write splits into several files."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _opened(df) -> set[str]:
    """Absolute paths of the data files a DataFrame scans."""
    from urllib.parse import unquote, urlparse

    return {unquote(urlparse(u).path) for u in df.inputFiles()}


def _tuple_rows(e: dict) -> list[tuple[dict, int]]:
    """An entry's partition tuples as ({key: value}, rows) pairs; [] when
    the entry has no partition values or its set was not recorded."""
    parts = e.get("partitions")
    if not parts or parts.get("tuples") is None:
        return []
    return [(dict(zip(parts["keys"], vals)), n) for vals, n in parts["tuples"]]


def _holding(state: dict, part: dict) -> set[str]:
    """Live files whose recorded tuples hold `part`."""
    return {
        os.path.abspath(p)
        for p, e in state["data"].items()
        if any(t == part for t, _n in _tuple_rows(e))
    }


def test_partitioned_append_manifest_and_pruned_read(spark, tmp_path):
    """partition_by writes key-sorted files, each recording the key tuples
    it holds with exact row counts; read_partition opens only the files
    whose tuples hold the requested value."""
    t = str(tmp_path / "t")
    df = spark.range(0, 600).selectExpr(
        "id AS event_id", "concat('type_', id % 12) AS event_type"
    )
    with _advisory_bytes(spark, "1k"):
        tl.append(spark, t, df, partition_by=("event_type",))
    _, state = tl._state_at(t)
    counts: dict[str, int] = {}
    for e in state["data"].values():
        for part, n in _tuple_rows(e):
            counts[part["event_type"]] = counts.get(part["event_type"], 0) + n
    assert counts == {f"type_{i}": 50 for i in range(12)}
    # data files keep the real column (no hive-stripping)
    one = tl.read_partition(spark, t, {"event_type": "type_1"})
    assert "event_type" in one.columns
    assert _ids(one) == list(range(1, 600, 12))
    # pruning: files holding no type_1 row are never opened
    matching = _holding(state, {"event_type": "type_1"})
    assert 0 < len(matching) < len(state["data"])
    assert _opened(one) == matching


def test_partition_read_composes_with_deletes(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 30), partition_by=("event_type",))
    tl.delete_where(spark, t, F.col("event_id") < 10, key_cols=["event_id"])
    one = tl.read_partition(spark, t, {"event_type": "type_1"})
    assert _ids(one) == list(range(10, 30, 3))


def test_append_idempotent_marker(spark, tmp_path):
    t = str(tmp_path / "t")
    v1, did1 = tl.append_idempotent(spark, t, _batch(spark, 0, 10), marker="slice-0")
    v2, did2 = tl.append_idempotent(spark, t, _batch(spark, 0, 10), marker="slice-0")
    assert (v1, did1) == (1, True) and (v2, did2) == (1, False)
    assert _ids(tl.read_snapshot(spark, t)) == list(range(10))
    v3, did3 = tl.append_idempotent(spark, t, _batch(spark, 10, 15), marker="slice-1")
    assert did3 and v3 == 2
    assert tl.committed_markers(t) == {"slice-0", "slice-1"}


def test_route_commit_tablelog_matches_enriched_frame(spark, parsed, tmp_path):
    """The tablelog-routed table must hold exactly the enriched frame's
    rows, per sink, with idempotent re-commit."""
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.route import (
        read_routed_tablelog,
        route_commit_tablelog,
        with_sink_id,
    )

    enriched = with_sink_id(enrich(parsed))
    t = str(tmp_path / "routed_log")
    v, did = route_commit_tablelog(enriched, t, marker="batch-0")
    assert did and v == 1
    v2, did2 = route_commit_tablelog(enriched, t, marker="batch-0")
    assert not did2 and v2 == 1  # restart re-submission is a no-op

    sink = dict(channel="inbound", tool_category="retrieval", parse_status="ok")
    a = enriched.filter(
        " AND ".join(f"{k} = '{v}'" for k, v in sink.items())
    ).select("conv_id", "turn_idx")
    b = read_routed_tablelog(spark, t, **sink).select("conv_id", "turn_idx")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # whole-table row parity too
    assert tl.read_snapshot(spark, t).count() == enriched.count()


def _sinks_df(spark, n: int = 3000):
    """30 sink tuples (id mod 5, 3, 2 are independent), ~100 rows each."""
    return spark.range(0, n).selectExpr(
        "concat('conv', id % 97) AS conv_id",
        "id AS turn_idx",
        "concat('ch', id % 5) AS channel",
        "concat('tc', id % 3) AS tool_category",
        "IF(id % 2 = 0, 'ok', 'failed') AS parse_status",
    )


def _sink_counts(df) -> dict[tuple, int]:
    return {
        (r.channel, r.tool_category, r.parse_status): r["count"]
        for r in df.groupBy("channel", "tool_category", "parse_status").count().collect()
    }


def test_route_commit_writes_fewer_files_than_sinks(spark, tmp_path):
    """A commit touching 30 sinks writes a few sink-sorted files, not one
    hive directory per sink, and the tuples recorded across its files are
    exactly the sinks with their row counts."""
    from blogparser_spark.operators.route import SINK_KEYS, route_commit_tablelog

    df = _sinks_df(spark)
    want = _sink_counts(df)
    assert len(want) >= 20
    t = str(tmp_path / "t")
    route_commit_tablelog(df, t, marker="m", stats_cols=("conv_id",))
    _, state = tl._state_at(t)
    assert len(state["data"]) < len(want)
    got: dict[tuple, int] = {}
    for e in state["data"].values():
        assert e["partitions"]["keys"] == SINK_KEYS
        for part, n in _tuple_rows(e):
            key = tuple(part[k] for k in SINK_KEYS)
            got[key] = got.get(key, 0) + n
    assert got == want
    assert not any(
        d.startswith("_p_") for _r, dirs, _f in os.walk(t) for d in dirs
    )


def test_routed_sink_read_opens_only_files_holding_the_sink(spark, tmp_path):
    """With a tiny advisory partition size forcing several files, a
    per-sink read opens exactly the files whose recorded tuples hold the
    sink and returns exactly that sink's rows."""
    from blogparser_spark.operators.route import (
        read_routed_tablelog,
        route_commit_tablelog,
    )

    df = _sinks_df(spark)
    want = _sink_counts(df)
    t = str(tmp_path / "t")
    with _advisory_bytes(spark, "2k"):
        route_commit_tablelog(df, t, marker="m")
    _, state = tl._state_at(t)
    assert len(state["data"]) > 1
    for ch, tc, ps in sorted(want)[:4]:
        got = read_routed_tablelog(
            spark, t, channel=ch, tool_category=tc, parse_status=ps
        )
        part = {"channel": ch, "tool_category": tc, "parse_status": ps}
        holding = _holding(state, part)
        assert 0 < len(holding) < len(state["data"])
        assert _opened(got) == holding
        assert got.count() == want[(ch, tc, ps)]
        assert {
            (r.channel, r.tool_category, r.parse_status) for r in got.collect()
        } == {(ch, tc, ps)}


def test_partitions_table_exact_across_multi_sink_files(spark, tmp_path):
    """The manifest entries' partition tuples give each tuple's exact row
    total when files hold many tuples, and each file's tuple rows add up
    to its row count."""
    df = _sinks_df(spark)
    want = _sink_counts(df)
    keys = ("channel", "tool_category", "parse_status")
    t = str(tmp_path / "t")
    tl.append(spark, t, df, partition_by=keys)
    entries = list(tl._state_at(t)[1]["data"].values())
    assert len(entries) < len(want)
    got: dict[tuple, int] = {}
    for e in entries:
        assert e["seq"] == 1 and sum(n for _p, n in _tuple_rows(e)) == e["rows"]
        for part, n in _tuple_rows(e):
            key = tuple(part[k] for k in keys)
            got[key] = got.get(key, 0) + n
    assert got == want


def test_file_past_tuple_bound_is_kept(spark, tmp_path):
    """A file holding more than PART_TUPLES_MAX tuples records no tuple
    set; it is never pruned and reads stay exact."""
    n_keys = tl.PART_TUPLES_MAX + 6
    t = str(tmp_path / "t")
    df = spark.range(0, n_keys * 3).selectExpr(
        "id AS v", f"concat('k', id % {n_keys}) AS key"
    )
    tl.append(spark, t, df.coalesce(1), partition_by=("key",))
    _, state = tl._state_at(t)
    (e,) = state["data"].values()
    assert e["partitions"] == {"keys": ["key"], "tuples": None}
    got = tl.read_partition(spark, t, {"key": "k7"})
    assert _opened(got) == {os.path.abspath(e["path"])}
    assert sorted(r.v for r in got.collect()) == [7, 7 + n_keys, 7 + 2 * n_keys]


def test_append_commit_summary_exact(spark, tmp_path, monkeypatch):
    """Each append records what it added (files, records, bytes), where
    its time went, and how many commit races it lost; a `record` callable
    runs once and its dict rides the winning commit."""
    t = str(tmp_path / "t")
    v = tl.append(spark, t, spark.range(0, 30).repartition(3), stats_cols=("id",))
    s = tl.commit_summary(t, v)
    on_disk = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(os.path.join(t, "data"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert (s["added_data_files"], s["added_records"]) == (3, 30)
    assert s["added_files_size"] == sum(os.path.getsize(p) for p in on_disk)
    assert s["commit_retries"] == 0
    assert all(s[k] >= 0 for k in ("write_s", "manifest_s", "commit_s"))
    lost = []
    real = tl._try_commit

    def lose_once(table, commit):
        if not lost:
            lost.append(commit["version"])
            return False
        return real(table, commit)

    monkeypatch.setattr(tl, "_try_commit", lose_once)
    records = []

    def record():
        records.append({"rows_in": 5})
        return records[-1]

    v2 = tl.append(spark, t, spark.range(30, 35).coalesce(1), record=record)
    s2 = tl.commit_summary(t, v2)
    assert (s2["added_data_files"], s2["added_records"], s2["commit_retries"]) == (1, 5, 1)
    # the record is built once, however many races the commit loses, and
    # the winning commit carries it
    assert records == [{"rows_in": 5}]
    assert tl._read_commit(t, v2)["record"] == {"rows_in": 5}
    assert "record" not in tl._read_commit(t, v)
    # a delete records what it removed and what its rewrite added
    live = tl._state_at(t)[1]["data"]
    v3 = tl.delete_where(spark, t, F.col("id") < 3, ["id"])
    s3 = tl.commit_summary(t, v3)
    c3 = tl._read_commit(t, v3)
    assert s3["removed_data_files"] == s3["rewritten_files"] == len(c3["removed_data"])
    assert s3["removed_records"] == sum(live[p]["rows"] for p in c3["removed_data"])
    assert s3["added_records"] == s3["removed_records"] - 3
    assert s3["added_data_files"] == len(c3["added_data"]) and s3["rewrite_s"] >= 0


def test_plan_scan_reports_why_files_were_pruned(spark, tmp_path):
    """plan_scan returns a scan report: the files it considered, and each
    pruned file counted under the first check that ruled it out —
    partition tuples, then min/max stats, then blooms."""
    t = str(tmp_path / "t")
    for i in range(3):  # one file per sink; k is even, s{i} holds [20i, 20i+18]
        df = spark.range(0, 10).selectExpr(f"id * 2 + {20 * i} AS k", f"'s{i}' AS sink")
        tl.append(spark, t, df, partition_by=("sink",), stats_cols=("k",), bloom_cols=("k",))
    assert len(tl._state_at(t)[1]["data"]) == 3

    def report(preds):
        p = tl.plan_scan(t, preds)
        pruned = (p["pruned_by_partition"], p["pruned_by_stats"], p["pruned_by_bloom"])
        assert p["n_files_considered"] == 3 and p["plan_ms"] >= 0
        assert p["n_files_skipped"] == sum(pruned) == 3 - len(p["paths"])
        return (*pruned, len(p["paths"]))

    assert report({"k": ("=", 21)}) == (0, 2, 1, 0)  # in s1's range, not in its bloom
    assert report({"k": ("between", 21, 25)}) == (0, 2, 0, 1)
    assert report({"sink": ("=", "s1")}) == (2, 0, 0, 1)
    assert report({"sink": ("=", "s0"), "k": ("=", 21)}) == (2, 1, 0, 0)
    assert report({}) == (0, 0, 0, 3)


def test_identity_partition_pruning_semantics(spark, tmp_path):
    """Partition tuples hold str(value): '=' matches as a string, and
    'between' compares numerically when the value and both bounds are
    numbers (9 < 10, although "9" > "10"), else lexically. A file whose
    tuple holds a NULL key is never pruned on it."""
    t = str(tmp_path / "t")
    for p in (9, 10, 11, None):  # one file per key value
        df = spark.range(0, 3).selectExpr(
            "id AS v", f"CAST({'NULL' if p is None else p} AS INT) AS p"
        )
        tl.append(spark, t, df.coalesce(1), partition_by=("p",))
    state = tl._state_at(t)[1]
    by_key = {_tuple_rows(e)[0][0]["p"]: path for path, e in state["data"].items()}
    assert set(by_key) == {"9", "10", "11", None}

    def kept(preds):
        plan = tl.plan_scan(t, preds)
        assert plan["n_files_skipped"] == plan["pruned_by_partition"]
        return {k for k, path in by_key.items() if path in plan["paths"]}

    assert kept({"p": ("between", 9, 10)}) == {"9", "10", None}
    assert kept({"p": ("between", 10, 99)}) == {"10", "11", None}
    assert kept({"p": ("=", 10)}) == kept({"p": ("=", "10")}) == {"10", None}
    assert kept({"p": ("between", "10", "10z")}) == {"10", None}  # lexical
    assert sorted(r.p for r in tl.scan_where(spark, t, {"p": ("=", 10)}).collect()) == [10] * 3


def test_failed_expiry_base_write_leaves_table_readable(spark, tmp_path, monkeypatch):
    """Expiry writes each rebase base to a temp file and renames it into
    place: a write that fails part-way leaves no base and no temp file,
    the table still reads its pre-expiry rows, and a later expiry
    completes."""
    t = str(tmp_path / "t")
    for lo in (0, 10, 20):
        tl.append(spark, t, _batch(spark, lo, lo + 10))

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj)[:40])
        raise OSError("disk full")

    monkeypatch.setattr(tl.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        tl.expire_snapshots(t, keep_last=2)
    monkeypatch.undo()
    assert _ids(tl.read_snapshot(spark, t)) == list(range(30))
    assert not os.path.exists(tl._base_path(t, 2))
    assert not [n for n in os.listdir(tl._log_dir(t)) if n.startswith(".tmp-")]
    assert tl.expire_snapshots(t, keep_last=2)["versions_removed"] == 1
    assert _ids(tl.read_snapshot(spark, t)) == list(range(30))
    assert _ids(tl.read_snapshot(spark, t, version=2)) == list(range(20))

def test_expiry_replays_the_log_once(tmp_path, monkeypatch):
    """Expiry reads each commit a bounded number of times: one pass over
    the log plus one replay to the oldest retained version, not one
    replay per retained version. A synthetic 40-commit log (entries point
    at files that do not exist; every fifth commit replaces the file
    before it) keeps its newest state and time travel across the cut."""
    t = str(tmp_path / "t")
    for v in range(1, 41):
        c = {
            "version": v,
            "parent": v - 1 or None,
            "operation": "append",
            "ts": float(v),
            "schema": [["k", "bigint"]] if v == 1 else None,
            "added_data": [
                {"path": f"/nonexistent/{v}.parquet", "rows": 1, "bytes": 1,
                 "seq": v, "stats": {}}
            ],
        }
        if v % 5 == 0:
            c["operation"], c["removed_data"] = "replace", [f"/nonexistent/{v - 1}.parquet"]
        assert tl._try_commit(t, c)
    before = {v: tl._state_at(t, v)[1] for v in (21, 30, 40)}
    reads = []
    real = tl._read_commit

    def counted(table, version):
        reads.append(version)
        return real(table, version)

    monkeypatch.setattr(tl, "_read_commit", counted)
    res = tl.expire_snapshots(t, keep_last=20)
    monkeypatch.undo()
    assert res == {"files_removed": 0, "versions_removed": 20}
    assert len(reads) <= 3 * 40
    assert tl.list_versions(t) == list(range(21, 41))
    assert os.path.exists(tl._base_path(t, 21))
    assert {v: tl._state_at(t, v)[1] for v in (21, 30, 40)} == before


def test_expiry_refuses_to_expire_the_current_snapshot(tmp_path):
    """keep_last below 1 would expire every snapshot, the current one
    included (keep_last=0 used to slice the whole log, versions[-0:], and
    expire nothing): it raises and leaves the log as it was."""
    t = str(tmp_path / "t")
    for v in range(1, 6):
        assert tl._try_commit(t, {
            "version": v, "parent": v - 1 or None, "operation": "append",
            "ts": float(v), "schema": [["k", "bigint"]] if v == 1 else None,
            "added_data": [],
        })
    for keep_last in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            tl.expire_snapshots(t, keep_last=keep_last)
        assert tl.list_versions(t) == [1, 2, 3, 4, 5]
    assert tl.expire_snapshots(t, keep_last=1)["versions_removed"] == 4
    assert tl.list_versions(t) == [5]


@settings(max_examples=40, deadline=None)
@given(
    values=st.one_of(
        st.lists(st.one_of(st.none(), st.integers(-5, 40)), max_size=120),
        st.lists(
            st.one_of(st.none(), st.text("abcd", min_size=0, max_size=3)),
            max_size=120,
        ),
    )
)
def test_col_sketches_match_whole_column_builders(values, tmp_path_factory):
    """Deduplicating each batch before hashing leaves the bloom
    bit-identical to hashing every value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    typ = pa.int64() if any(isinstance(v, int) for v in values) else pa.string()
    path = str(tmp_path_factory.mktemp("sk") / "f.parquet")
    pq.write_table(pa.table({"c": pa.array(values, type=typ)}), path, row_group_size=7)
    bits = tl._col_sketches(pq.ParquetFile(path), "c")
    assert bits == tl._bloom_build(values, tl._bloom_bits_for(len(values)))


def test_bloom_sized_by_rows(tmp_path):
    """A file's bloom grows with its row count (a few sink-sorted files
    per commit hold many conversations each), which keeps its false
    positive rate far below a fixed-size filter's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    values = [f"conv{i % 700}" for i in range(5000)]
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"c": values}), path)
    bits = tl._col_sketches(pq.ParquetFile(path), "c")
    assert len(bits) * 4 == tl._bloom_bits_for(5000) == 8192
    assert bits == tl._bloom_build(values, 8192)
    absent = [("=", f"other{i}") for i in range(1000)]
    fp_sized = sum(tl._bloom_match(bits, p) for p in absent)
    fp_fixed = sum(tl._bloom_match(tl._bloom_build(values), p) for p in absent)
    assert fp_sized < 50 < fp_fixed


def test_remove_orphans_sweeps_uncommitted_files_only(spark, tmp_path):
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10))
    # a writer that wrote files but died before the log commit
    tl._write_data_files(_batch(spark, 90, 99), t, 2, ())
    assert tl.remove_orphans(t, min_age_sec=3600) == 0  # age guard holds
    removed = tl.remove_orphans(t)
    assert removed > 0
    assert _ids(tl.read_snapshot(spark, t)) == list(range(10))
    assert tl.remove_orphans(t) == 0  # idempotent


def test_expiry_writes_base_at_every_chain_break(spark, tmp_path):
    """Expiry leaves the log replayable: a rebase base lands at the
    retained commit whose parent was expired, retained versions still
    time-travel, and the expired one raises SnapshotExpired."""
    t = str(tmp_path / "t")
    tl.append(spark, t, _batch(spark, 0, 10))  # v1
    tl.append(spark, t, _batch(spark, 10, 20))  # v2
    tl.append(spark, t, _batch(spark, 20, 30))  # v3
    res = tl.expire_snapshots(t, keep_last=2)  # retains {2, 3}
    assert res["versions_removed"] == 1  # only v1
    assert os.path.exists(tl._base_path(t, 2))  # its parent v1 expired
    assert not os.path.exists(tl._base_path(t, 3))
    assert _ids(tl.read_snapshot(spark, t)) == list(range(30))
    assert _ids(tl.read_snapshot(spark, t, version=2)) == list(range(20))
    with pytest.raises(tl.SnapshotExpired):
        tl.read_snapshot(spark, t, version=1)


def test_bloom_point_lookup_prunes_scattered_keys(spark, tmp_path):
    """Per-file manifest blooms: on a high-cardinality scattered key every
    file's [min,max] overlaps (stats prune nothing), but '=' predicates
    skip files with certainty of absence; absent keys read zero files."""
    t = str(tmp_path / "bl")
    df = spark.range(0, 400).selectExpr(
        "(id * 2654435761) % 1000000 AS k", "id AS v"
    )
    tl.append(spark, t, df.repartition(8), stats_cols=("k",), bloom_cols=("k",))
    some_k = int(df.filter("v = 123").collect()[0].k)
    plan = tl.plan_scan(t, {"k": ("=", some_k)})
    assert len(plan["paths"]) + plan["n_files_skipped"] == 8
    assert plan["pruned_by_bloom"] >= 5
    assert [r.v for r in tl.scan_where(spark, t, {"k": ("=", some_k)}).collect()] == [123]
    plan2 = tl.plan_scan(t, {"k": ("=", 999999999)})
    assert plan2["n_files_skipped"] == 8 and not plan2["paths"]
    assert tl.scan_where(spark, t, {"k": ("=", 999999999)}).count() == 0


def test_bloom_never_blocks_range_predicates_or_unbloomd_cols(spark, tmp_path):
    """Blooms answer membership only: range predicates and columns without
    a recorded bloom fall back to min/max stats (never prune blind)."""
    t = str(tmp_path / "bl2")
    tl.append(
        spark,
        t,
        spark.range(0, 50).selectExpr("id AS k", "id % 3 AS v").coalesce(2),
        stats_cols=("k",),
        bloom_cols=("k",),
    )
    got = sorted(
        r.k for r in tl.scan_where(spark, t, {"k": ("between", 10, 20)}).collect()
    )
    assert got == list(range(10, 21))
    assert tl.scan_where(spark, t, {"v": ("=", 1)}).count() == 17


def test_route_commit_records_blooms_for_conv_lookup(spark, parsed, tmp_path):
    """route_commit_tablelog forwards stats/bloom cols to the manifest
    writer; a conversation point-lookup reads back exactly that conv's
    rows and the manifest carries a bloom per sink file."""
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.route import route_commit_tablelog

    t = str(tmp_path / "rt")
    enriched = enrich(parsed, spark)
    route_commit_tablelog(
        enriched, t, marker="m0", stats_cols=("conv_id",), bloom_cols=("conv_id",)
    )
    _, state = tl._state_at(t)
    assert all("conv_id" in e.get("bloom", {}) for e in state["data"].values())
    conv = enriched.select("conv_id").first().conv_id
    got = tl.scan_where(spark, t, {"conv_id": ("=", conv)})
    exp = enriched.filter(F.col("conv_id") == conv).drop("images")
    assert got.count() == exp.count() > 0
    assert {r.turn_idx for r in got.collect()} == {
        r.turn_idx for r in exp.collect()
    }


def test_bloom_skips_unbloomable_types_never_misprunes(spark, tmp_path):
    """A float column records NO bloom (its string form is representation-
    dependent) and a type-mismatched '=' probe keeps the file — the
    filter can only ever assert definite absence for int/str keys."""
    t = str(tmp_path / "bl3")
    tl.append(
        spark,
        t,
        spark.range(0, 10).selectExpr("cast(id AS double) AS x", "id AS k"),
        bloom_cols=("x", "k"),  # no stats: isolates the bloom's verdicts
    )
    _, state = tl._state_at(t)
    for e in state["data"].values():
        assert "x" not in e.get("bloom", {})  # unbloomable: no filter recorded
        assert "k" in e.get("bloom", {})
    # float probe against the int column's bloom: membership unknown → keep
    assert tl.plan_scan(t, {"k": ("=", 3.0)})["n_files_skipped"] == 0
    # int probe: the bloom answers, and the answer is safe
    assert tl.plan_scan(t, {"k": ("=", 3)})["pruned_by_bloom"] >= 1
    assert [r.k for r in tl.scan_where(spark, t, {"k": ("=", 3)}).collect()] == [3]


def test_bloom_tolerates_nulls_and_still_skips(spark, tmp_path):
    """NULL values in a bloomed column are simply omitted (a NULL can
    never match an '=' predicate), so skipping keeps working on nullable
    keys instead of silently recording no filter."""
    t = str(tmp_path / "bl4")
    df = spark.range(0, 40).selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL ELSE (id * 2654435761) % 100000 END AS k",
        "id AS v",
    )
    tl.append(spark, t, df.repartition(4), bloom_cols=("k",))
    _, state = tl._state_at(t)
    assert all("k" in e.get("bloom", {}) for e in state["data"].values())
    some_k = int(df.filter("v = 7").collect()[0].k)
    # the filter still excludes files
    assert tl.plan_scan(t, {"k": ("=", some_k)})["pruned_by_bloom"] >= 1
    got = [r.v for r in tl.scan_where(spark, t, {"k": ("=", some_k)}).collect()]
    assert got == [7]


def test_rewrite_preserves_manifest_sketches(spark, tmp_path):
    """A copy-on-write rewrite must not silently drop the table's blooms
    or stats: the files a delete writes carry its inputs' bloom and
    min/max stats columns, built from their own rows, so the blooms prune
    a deleted key."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "keep")
    df = spark.range(0, 400).selectExpr("id AS k", "id % 7 AS v")
    tl.append(spark, t, df.repartition(4), stats_cols=("k",), bloom_cols=("k",))
    v = tl.delete_where(spark, t, F.col("v") == 0, key_cols=["k"])
    c = tl._read_commit(t, v)
    assert len(c["removed_data"]) == 4 and c["added_data"]  # every file rewritten
    for e in tl._state_at(t)[1]["data"].values():
        ks = pq.read_table(e["path"], columns=["k"]).column("k").to_pylist()
        assert e["stats"]["k"] == [min(ks), max(ks)]
        assert e["bloom"]["k"] == tl._bloom_build(ks, tl._bloom_bits_for(len(ks)))
    assert tl.plan_scan(t, {"k": ("=", 196)})["pruned_by_bloom"] >= 1  # 196 % 7 == 0
