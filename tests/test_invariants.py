"""Cross-input invariants for the round-3 operator families, checked over
seeded randomized corpora (plain pytest loops — one Spark job per trial is
what makes hypothesis-per-example impractical here; the generator seeds are
fixed so failures replay)."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F


def _random_events(spark, seed, n=300, users=20):
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    types = ["view", "click", "purchase", "signup", "error"]
    rows = [
        (
            i,
            rng.randrange(users),
            rng.choice(types),
            t0 + dt.timedelta(seconds=rng.randrange(0, 10**6)),
            round(rng.uniform(0, 100), 2),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )


def test_funnel_counts_monotone_nonincreasing(spark):
    """Deeper funnel stages can never have MORE converters — for any input."""
    from blogparser_spark.operators.aggregate import funnel_counts

    for seed in (1, 7, 42):
        ev = _random_events(spark, seed)
        counts = {
            r["step_idx"]: r["n_users"] for r in funnel_counts(ev).collect()
        }
        assert set(counts) == {0, 1, 2}  # every declared step reported
        assert counts[0] >= counts[1] >= counts[2] >= 0, (seed, counts)


def test_diff_conservation_laws(spark):
    """With unique keys, the audit counts must tile both inputs exactly:
    left = only_left + changed + equal; right = only_right + changed +
    equal; and no per-column blame count can exceed n_changed... for any
    perturbation."""
    from blogparser_spark.operators.diff import diff_datasets

    for seed in (3, 9):
        rng = random.Random(seed)
        left = _random_events(spark, seed)
        right = (
            left.filter(F.col("event_id") % rng.randrange(2, 6) != 0)
            .withColumn(
                "value",
                F.when(
                    F.col("event_id") % rng.randrange(2, 5) == 1,
                    F.round(F.col("value") * 2 + 1, 2),
                ).otherwise(F.col("value")),
            )
        )
        r = diff_datasets(
            left, right, keys=["event_id"], compare_cols=["value", "event_type"]
        ).first()
        n_left, n_right = left.count(), right.count()
        assert r["n_only_left"] + r["n_changed"] + r["n_equal"] == n_left
        assert r["n_only_right"] + r["n_changed"] + r["n_equal"] == n_right
        assert 0 <= r["diff_value"] <= r["n_changed"]
        assert 0 <= r["diff_event_type"] <= r["n_changed"]
        assert r["diff_event_type"] == 0  # event_type never perturbed


def test_srp_collision_probability_tracks_cosine(spark):
    """Charikar's guarantee, statistically: high-cosine pairs must share
    strictly more bands than near-orthogonal pairs on random data."""
    import numpy as np

    from blogparser_spark.dataops.similarity import srp_band_values

    rng = np.random.default_rng(11)
    base = rng.normal(size=(40, 16))
    near = base + rng.normal(scale=0.05, size=base.shape)  # cos ~ 0.999
    far = rng.normal(size=base.shape)  # cos ~ 0
    rows = (
        [(i, base[i].tolist()) for i in range(40)]
        + [(100 + i, near[i].tolist()) for i in range(40)]
        + [(200 + i, far[i].tolist()) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sig = {
        (r["vec_id"], r["band_idx"]): r["band_val"]
        for r in srp_band_values(df, dim=16).collect()
    }
    near_share = sum(
        sig[(i, b)] == sig[(100 + i, b)] for i in range(40) for b in range(4)
    )
    far_share = sum(
        sig[(i, b)] == sig[(200 + i, b)] for i in range(40) for b in range(4)
    )
    assert near_share > 0.8 * 160  # near-duplicates agree on most bands
    assert far_share < 0.5 * near_share  # orthogonal pairs collide far less


def test_content_fingerprint_order_and_change_sensitivity(spark):
    import hashlib

    from blogparser_spark.operators.diff import content_fingerprint

    rows = [(i, f"text {i}", None if i % 7 == 0 else float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, t string, v double")
    fp = content_fingerprint(df, ["id", "t", "v"], n_slices=8)
    got = {r.slice_id: (r.n_rows, r.fp_xor, r.fp_sum) for r in fp.collect()}

    # python twin: identical md5 construction
    want = {}
    for i, t, v in rows:
        s = chr(31).join(
            [str(i), t, chr(0) if v is None else repr(v)]
        )
        h = hashlib.md5(s.encode()).hexdigest()
        h52 = int(h[:13], 16)
        slc = int(h[13:17], 16) % 8
        n, x, m = want.get(slc, (0, 0, 0))
        want[slc] = (n + 1, x ^ h52, m + h52 % 1000000007)
    # fp_sum re-mods after the sum (bigint-safe at any row count)
    want = {k: (n, x, m % 1000000007) for k, (n, x, m) in want.items()}
    assert got == want

    # order-independence: reversed input produces identical fingerprints
    rev = spark.createDataFrame(list(reversed(rows)), "id long, t string, v double")
    assert {
        r.slice_id: (r.n_rows, r.fp_xor, r.fp_sum)
        for r in content_fingerprint(rev, ["id", "t", "v"], 8).collect()
    } == got

    # single-row change flips exactly the affected slice(s)
    rows2 = list(rows)
    rows2[42] = (42, "text 42 CHANGED", 42.0)
    df2 = spark.createDataFrame(rows2, "id long, t string, v double")
    got2 = {
        r.slice_id: (r.n_rows, r.fp_xor, r.fp_sum)
        for r in content_fingerprint(df2, ["id", "t", "v"], 8).collect()
    }
    assert got2 != got
    assert sum(1 for k in got if got2.get(k) != got[k]) <= 2

    # NULL vs empty string are distinct contents
    a = spark.createDataFrame([(1, None)], "id long, t string")
    b = spark.createDataFrame([(1, "")], "id long, t string")
    fa = content_fingerprint(a, ["id", "t"], 1).collect()[0]
    fb = content_fingerprint(b, ["id", "t"], 1).collect()[0]
    assert (fa.fp_xor, fa.fp_sum) != (fb.fp_xor, fb.fp_sum)


def test_retractable_ivm_equals_recompute(spark):
    """apply_retractable_delta(state, delta) must equal recomputing the
    state over (base ∪ inserts) − deletes, groups reaching zero vanish,
    and phantom deletes surface as negative counts."""
    from pyspark.sql import functions as F

    from blogparser_spark.operators.aggregate import (
        apply_retractable_delta,
        retractable_state,
    )

    rows = [(i, "k%d" % (i % 3), float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, k string, value double")
    base = df.filter("id < 20")
    inserts = df.filter("id >= 20").withColumn("op", F.lit("I"))
    deletes = df.filter("id < 6").withColumn("op", F.lit("D"))
    refreshed = apply_retractable_delta(
        retractable_state(base, ["k"], "value"),
        inserts.unionByName(deletes),
        ["k"],
        "value",
    )
    want = retractable_state(df.filter("id >= 6"), ["k"], "value")
    got = {r["k"]: (r["cnt"], float(r["vsum"])) for r in refreshed.collect()}
    exp = {r["k"]: (r["cnt"], float(r["vsum"])) for r in want.collect()}
    assert got == exp

    # delete EVERYTHING in one group → the group vanishes from the view
    all_k0 = df.filter("k = 'k0'").withColumn("op", F.lit("D"))
    gone = apply_retractable_delta(
        retractable_state(df, ["k"], "value"), all_k0, ["k"], "value"
    )
    assert "k0" not in {r["k"] for r in gone.collect()}

    # phantom delete (row the view never held) → negative count, not silent
    phantom = spark.createDataFrame(
        [(99, "k9", 1.0, "D")], "id long, k string, value double, op string"
    )
    neg = apply_retractable_delta(
        retractable_state(base, ["k"], "value"), phantom, ["k"], "value"
    ).filter("k = 'k9'").collect()
    assert neg and neg[0]["cnt"] == -1


def test_extremum_ledger_refresh_and_serve(spark):
    """The top-k candidate ledger keeps max maintainable under deletes:
    delete-the-max promotes the next candidate; refresh equals recompute
    whenever the ledger is not exhausted; exhaustion and refill-below-floor
    flag needs_recompute instead of serving a stale extremum."""
    from pyspark.sql import functions as F

    from blogparser_spark.operators.aggregate import (
        extremum_ledger,
        extremum_serve,
        refresh_extremum_ledger,
    )

    rows = [(i, "k%d" % (i % 2), float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, k string, value double")
    state = extremum_ledger(df, ["k"], "value", k=4)

    # build serves the true max per key, no recompute flag
    served = {r["k"]: r for r in extremum_serve(state, ["k"], "value").collect()}
    assert served["k0"]["extremum"] == 18.0 and not served["k0"]["needs_recompute"]
    assert served["k1"]["extremum"] == 19.0

    # delete the max rows of both keys + insert a new global max for k0
    delta = spark.createDataFrame(
        [
            (18, "k0", 18.0, "D"),
            (19, "k1", 19.0, "D"),
            (100, "k0", 50.0, "I"),
        ],
        "id long, k string, value double, op string",
    )
    refreshed = refresh_extremum_ledger(state, delta, ["k"], "value", k=4)
    served = {r["k"]: r for r in extremum_serve(refreshed, ["k"], "value").collect()}
    # k0: inserted 50 wins; k1: deleted max promotes the next candidate 17
    assert served["k0"]["extremum"] == 50.0 and not served["k0"]["needs_recompute"]
    assert served["k1"]["extremum"] == 17.0 and not served["k1"]["needs_recompute"]

    # refresh == recompute over the final row set (ledger not exhausted)
    final = df.filter("id not in (18, 19)").unionByName(
        spark.createDataFrame([(100, "k0", 50.0)], "id long, k string, value double")
    )
    want = {r["k"]: r["m"] for r in final.groupBy("k").agg(F.max("value").alias("m")).collect()}
    assert {k: r["extremum"] for k, r in served.items()} == want

    # delete of an UNTRACKED value (below floor) leaves the ledger alone
    low = spark.createDataFrame(
        [(2, "k0", 2.0, "D")], "id long, k string, value double, op string"
    )
    r2 = refresh_extremum_ledger(refreshed, low, ["k"], "value", k=4)
    assert not any(r["cnt"] < 0 for r in r2.collect())

    # EXHAUSTION: wipe every tracked value of k1 (ledger holds 17,15,13,11;
    # floor = 9 says untracked mass remains) -> marker row + recompute flag
    wipe = spark.createDataFrame(
        [(0, "k1", float(v), "D") for v in (17, 15, 13, 11)],
        "id long, k string, value double, op string",
    )
    r3 = refresh_extremum_ledger(refreshed, wipe, ["k"], "value", k=4)
    served3 = {r["k"]: r for r in extremum_serve(r3, ["k"], "value").collect()}
    assert served3["k1"]["needs_recompute"] and served3["k1"]["extremum"] is None

    # REFILL BELOW FLOOR: ledger non-empty but everything sits under floor
    refill = spark.createDataFrame(
        [(0, "k1", float(v), "D") for v in (17, 15, 13, 11)]
        + [(1, "k1", 1.5, "I")],
        "id long, k string, value double, op string",
    )
    r4 = refresh_extremum_ledger(refreshed, refill, ["k"], "value", k=4)
    served4 = {r["k"]: r for r in extremum_serve(r4, ["k"], "value").collect()}
    assert served4["k1"]["needs_recompute"] and served4["k1"]["extremum"] == 1.5


def test_extremum_ledger_min_direction(spark):
    """largest=False maintains MIN with the floor acting as a ceiling."""
    from blogparser_spark.operators.aggregate import (
        extremum_ledger,
        extremum_serve,
        refresh_extremum_ledger,
    )

    df = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(10)], "id long, k string, value double"
    )
    state = extremum_ledger(df, ["k"], "value", k=3, largest=False)
    delta = df.sparkSession.createDataFrame(
        [(0, "a", 0.0, "D"), (1, "a", 1.0, "D")],
        "id long, k string, value double, op string",
    )
    refreshed = refresh_extremum_ledger(
        state, delta, ["k"], "value", k=3, largest=False
    )
    r = extremum_serve(refreshed, ["k"], "value", largest=False).collect()[0]
    assert r["extremum"] == 2.0 and not r["needs_recompute"]


def test_extremum_ledger_repair_targets_flagged_keys_only(spark):
    """repair_extremum_ledger rebuilds exactly the flagged keys from the
    base relation (semi-join-scoped), leaves healthy keys' state
    untouched, and clears needs_recompute."""
    from pyspark.sql import functions as F

    from blogparser_spark.operators.aggregate import (
        extremum_ledger,
        extremum_serve,
        refresh_extremum_ledger,
        repair_extremum_ledger,
    )

    rows = [(i, "k%d" % (i % 2), float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, k string, value double")
    state = extremum_ledger(df, ["k"], "value", k=3)
    # exhaust k1: delete its whole ledger (19, 17, 15); floor=13 remains
    wipe = spark.createDataFrame(
        [(0, "k1", float(v), "D") for v in (19, 17, 15)],
        "id long, k string, value double, op string",
    )
    refreshed = refresh_extremum_ledger(state, wipe, ["k"], "value", k=3)
    served = {r["k"]: r for r in extremum_serve(refreshed, ["k"], "value").collect()}
    assert served["k1"]["needs_recompute"] and not served["k0"]["needs_recompute"]

    # the base after the deletes actually happened
    base = df.filter("not (k = 'k1' and value in (19.0, 17.0, 15.0))")
    repaired = repair_extremum_ledger(refreshed, base, ["k"], "value", k=3)
    served2 = {r["k"]: r for r in extremum_serve(repaired, ["k"], "value").collect()}
    assert not served2["k1"]["needs_recompute"] and served2["k1"]["extremum"] == 13.0
    # healthy key's ledger rows are byte-identical to pre-repair state
    pre = sorted(map(tuple, refreshed.filter("k = 'k0'").collect()))
    post = sorted(map(tuple, repaired.filter("k = 'k0'").collect()))
    assert pre == post
    # repaired key keeps maintainability: delete new max, next promotes
    d2 = spark.createDataFrame(
        [(0, "k1", 13.0, "D")], "id long, k string, value double, op string"
    )
    r2 = refresh_extremum_ledger(repaired, d2, ["k"], "value", k=3)
    s3 = {r["k"]: r for r in extremum_serve(r2, ["k"], "value").collect()}
    assert s3["k1"]["extremum"] == 11.0 and not s3["k1"]["needs_recompute"]
