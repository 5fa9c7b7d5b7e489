"""Source-boundary error isolation: PERMISSIVE JSONL quarantine."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_jsonl_per_record_error_isolation(spark, tmp_path):
    """One corrupt line costs one routed row; clean lines parse typed; the
    full pipeline parse stage runs on the survivors unchanged."""
    from blogparser_spark.operators.parse import parse_stage
    from blogparser_spark.sources.jsonl import (
        read_transcripts_jsonl,
        route_source_errors,
    )

    lines = [
        '{"conv_id": "c1", "turn_idx": 0, "role": "user", '
        '"text": "<html><head><title>t</title></head></html>", '
        '"tool": "search", "ts": "2024-01-01T00:00:00.000Z"}',
        "this is not json at all {{{",
        '{"conv_id": "c1", "turn_idx": 1, "role": "assistant", '
        '"text": "reply", "tool": "search", "ts": "2024-01-01T00:00:30.000Z"}',
        '{"broken": tru',  # truncated mid-token
    ]
    p = tmp_path / "feed.jsonl"
    p.write_text("\n".join(lines) + "\n")

    routed = route_source_errors(read_transcripts_jsonl(spark, str(p))).cache()
    counts = {r["source_status"]: r["n"] for r in
              routed.groupBy("source_status").agg(F.count("*").alias("n")).collect()}
    assert counts == {"ok": 2, "source_error": 2}
    quarantined = {r["raw"] for r in
                   routed.filter(F.col("source_status") == "source_error").collect()}
    assert quarantined == {lines[1], lines[3]}  # raw lines preserved verbatim

    clean = routed.filter(F.col("source_status") == "ok").drop("source_status", "raw")
    parsed = parse_stage(clean)
    assert parsed.count() == 2
    ok = parsed.filter(F.col("conv_id") == "c1").orderBy("turn_idx").collect()
    assert ok[0]["turn_idx"] == 0 and ok[1]["turn_idx"] == 1
    assert ok[0]["title"] == "t"  # typed rows flow through the real parser


def test_gen_transcripts_keeps_every_turn_on_small_corpora():
    """A hot conversation never gets fewer turns than a normal one, so a
    small corpus is not truncated: 2 convs x 3 turns used to yield 0
    rows and 5 convs x 3 turns 11 rows."""
    from collections import Counter

    from blogparser_spark.sources.synthetic import gen_transcripts

    assert len(gen_transcripts(n_convs=2, turns_per_conv=3)) == 6
    rows = gen_transcripts(n_convs=5, turns_per_conv=3)
    assert len(rows) == 15
    assert sorted(Counter(r[0] for r in rows).values()) == [3] * 5
    # a corpus big enough for its hot share still skews to the hot convs
    big = Counter(r[0] for r in gen_transcripts(n_convs=40, turns_per_conv=5))
    assert big["conv-000000"] == big["conv-000001"] == 20
    assert sum(big.values()) == 38 * 5 + 2 * 20
