"""End-to-end pipeline tests: enrich → route → aggregate.

Verifies the north-star contracts:
  - per-sink aggregate counts exactly equal the oracle recomputation,
  - routed-row-set equality per sink (exceptAll empty both ways),
  - unknown dim keys land in the 'unknown' null bucket,
  - summary-length histogram parity.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from blogparser_spark.operators.aggregate import (
    conv_stats,
    sink_counts,
    summary_hist,
    turn_features,
)
from blogparser_spark.operators.enrich import ROLE_CHANNEL, TOOL_CATEGORY, enrich
from blogparser_spark.operators.route import (
    read_routed_tablelog,
    route_commit_tablelog,
    with_sink_id,
)
from blogparser_spark.oracle.pyref import parse_record


@pytest.fixture(scope="module")
def enriched(parsed):
    df = enrich(parsed)
    df.cache()
    df.count()
    return df


def _oracle_rows(transcripts):
    """Oracle-side (conv_id, turn_idx, channel, tool_category, status, summary)."""
    tool_map = dict(TOOL_CATEGORY)
    role_map = dict(ROLE_CHANNEL)
    out = []
    for r in transcripts.collect():
        rec = parse_record(r["text"])
        out.append(
            (
                r["conv_id"],
                r["turn_idx"],
                role_map.get(r["role"], "unknown"),
                tool_map.get(r["tool"], "unknown"),
                rec.parse_status,
                rec.summary,
            )
        )
    return out


def test_sink_counts_match_oracle(enriched, transcripts):
    got = {
        (r["channel"], r["tool_category"], r["parse_status"]): r["n"]
        for r in sink_counts(enriched).collect()
    }
    want = Counter((c, t, s) for _, _, c, t, s, _ in _oracle_rows(transcripts))
    assert got == dict(want)


def test_null_bucket(enriched):
    n = enriched.filter(
        (F.col("tool") == "mystery-tool") & (F.col("tool_category") != "unknown")
    ).count()
    assert n == 0
    assert enriched.filter(F.col("tool_category") == "unknown").count() > 0


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_enrich_equals_dict_lookup(spark, ansi):
    """Known, unknown, NULL and case-mismatched keys read exactly like a
    dict lookup with an 'unknown' default, with ANSI mode on and off."""
    tools = [k for k, _ in TOOL_CATEGORY] + ["mystery-tool", "Python", "", None]
    roles = [k for k, _ in ROLE_CHANNEL] + ["robot", "USER", None]
    rows = [(i, t, r) for i, (t, r) in enumerate((t, r) for t in tools for r in roles)]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame(rows, "i int, tool string, role string")
        got = {r["i"]: (r["tool_category"], r["channel"]) for r in enrich(df).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    tool_map, role_map = dict(TOOL_CATEGORY), dict(ROLE_CHANNEL)
    assert got == {
        i: (tool_map.get(t, "unknown"), role_map.get(r, "unknown")) for i, t, r in rows
    }


def test_routed_row_set_equality(enriched, transcripts, tmp_path, spark):
    """Commit the fan-out to the table, read every sink back, assert the
    union equals the input row set exactly (exceptAll both directions
    empty) and a single-sink read holds exactly that sink's rows."""
    table = str(tmp_path / "routed")
    route_commit_tablelog(with_sink_id(enriched), table, marker="batch-0")
    back = read_routed_tablelog(spark, table)
    assert back.count() == transcripts.count()
    a = back.select("conv_id", "turn_idx", "text")
    b = transcripts.select("conv_id", "turn_idx", "text")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # per-sink read: exactly the enriched frame's rows of that sink
    cols = ["conv_id", "turn_idx", "channel", "parse_status"]
    one = read_routed_tablelog(
        spark, table, channel="inbound", parse_status="ok"
    ).select(cols)
    want = enriched.filter(
        (F.col("channel") == "inbound") & (F.col("parse_status") == "ok")
    ).select(cols)
    assert one.count() == want.count() > 0
    assert one.exceptAll(want).count() == 0 and want.exceptAll(one).count() == 0


def test_conv_stats(enriched, transcripts):
    got = {r["conv_id"]: (r["n_turns"], r["max_turn_idx"]) for r in conv_stats(enriched).collect()}
    want: dict[str, list[int]] = {}
    for r in transcripts.select("conv_id", "turn_idx").collect():
        cur = want.setdefault(r["conv_id"], [0, -1])
        cur[0] += 1
        cur[1] = max(cur[1], r["turn_idx"])
    assert got == {k: tuple(v) for k, v in want.items()}


def test_turn_features_stable_order(enriched):
    rows = (
        turn_features(enriched)
        .filter(F.col("conv_id") == "conv-000005")
        .orderBy("turn_idx")
        .collect()
    )
    assert [r["turn_no"] for r in rows] == list(range(1, len(rows) + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["prev_role"] == prev["role"]
        assert cur["gap_seconds"] == 30


def test_summary_hist_matches_oracle(enriched, transcripts):
    got = {r["bucket"]: r["n"] for r in summary_hist(enriched).collect()}
    want = Counter(
        (len(s) // 50) * 50 for *_, s in _oracle_rows(transcripts) if s is not None
    )
    assert got == dict(want)


def test_funnel_strict_ordering(spark):
    """A step only converts when it happens strictly after the user's
    previous step; deeper steps require the full chain."""
    import datetime as dt

    from blogparser_spark.operators.aggregate import funnel_counts, funnel_steps

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # u1 full ordered funnel
        (1, "view", ts(0)), (1, "click", ts(5)), (1, "purchase", ts(9)),
        # u2: click BEFORE first view -> click never converts; purchase ignored
        (2, "click", ts(0)), (2, "view", ts(1)), (2, "purchase", ts(2)),
        # u3: view then click, purchase before click -> stops at click
        (3, "view", ts(0)), (3, "purchase", ts(1)), (3, "click", ts(2)),
        # u4: never viewed
        (4, "click", ts(0)), (4, "purchase", ts(1)),
        # u5: click at exactly the view instant -> strict > excludes it,
        # a later click converts
        (5, "view", ts(0)), (5, "click", ts(0)), (5, "click", ts(3)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    counts = {r["step"]: r["n_users"] for r in funnel_counts(df).collect()}
    assert counts == {"view": 4, "click": 3, "purchase": 1}
    # a step NO user reaches is still reported, with an explicit zero
    zeroed = {r["step"]: r["n_users"] for r in
              funnel_counts(df, steps=("view", "click", "signup")).collect()}
    assert zeroed == {"view": 4, "click": 3, "signup": 0}
    steps = {
        (r["user_id"], r["step"]): r["step_ts"] for r in funnel_steps(df).collect()
    }
    assert steps[(5, "click")] == ts(3)  # simultaneous click excluded
    assert (2, "click") not in steps and (3, "purchase") not in steps


def test_diff_datasets_and_sample_keys(spark):
    """Null-safe diffing: value→NULL counts as changed; added/removed keys
    split into only_right/only_left; sample keys name the culprits."""
    from blogparser_spark.operators.diff import diff_datasets, diff_sample_keys

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", None), (4, "w", 4.0)],
        "id long, s string, v double",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 9.0), (3, "z", 3.0), (5, "new", 5.0)],
        "id long, s string, v double",
    )
    row = diff_datasets(a, b, keys=["id"], compare_cols=["s", "v"]).first()
    assert row["n_only_left"] == 1 and row["n_only_right"] == 1  # ids 4 / 5
    assert row["n_changed"] == 2  # id 2 (value), id 3 (NULL -> 3.0)
    assert row["n_equal"] == 1
    assert row["diff_s"] == 0 and row["diff_v"] == 2

    sample = {
        (r["id"], r["status"])
        for r in diff_sample_keys(a, b, ["id"], ["s", "v"]).collect()
    }
    assert sample == {
        (2, "changed"), (3, "changed"), (4, "only_left"), (5, "only_right")
    }


def test_additive_state_merge_equals_from_scratch(spark):
    from decimal import Decimal

    from pyspark.sql import functions as F

    from blogparser_spark.operators.aggregate import (
        additive_state,
        merge_additive_states,
    )

    df = spark.createDataFrame(
        [(f"k{i % 5}", round(0.01 * ((i * 37) % 997), 2)) for i in range(400)],
        "k string, v double",
    )
    halves = [df.filter(F.pmod(F.hash("v"), F.lit(2)) == i) for i in (0, 1)]
    merged = merge_additive_states(
        additive_state(halves[0], ["k"], "v"),
        additive_state(halves[1], ["k"], "v"),
        key_cols=["k"],
    )
    scratch = additive_state(df, ["k"], "v")
    key = lambda r: (r.k, r.cnt, r.vsum, r.vmin, r.vmax)
    assert sorted(map(key, merged.collect())) == sorted(map(key, scratch.collect()))
    # decimal sums are exact: python Decimal twin agrees to the cent
    rows = df.collect()
    want = {}
    for r in rows:
        c, s = want.get(r.k, (0, Decimal(0)))
        want[r.k] = (c + 1, s + Decimal(str(round(r.v, 2))))
    for r in scratch.collect():
        assert (r.cnt, r.vsum) == want[r.k]
