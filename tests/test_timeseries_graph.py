"""Invariant + twin tests for the time-series (cohort/transitions/gap-fill),
profile, PMI-collocation, and fuzzy-pair families. Oracle parity
runs separately via tools/check_oracle.py; these pin the math.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from blogparser_spark.dataops import dedup, textstats, timeseries


@pytest.fixture(scope="module")
def events(spark):
    rows = []
    base = datetime(2024, 1, 1)
    for uid in range(12):
        first = base + timedelta(days=uid)  # staggered cohorts
        for j in range(1 + uid % 5):
            rows.append(
                (
                    uid * 100 + j,
                    first + timedelta(days=3 * j, seconds=j),
                    uid,
                    ["view", "click", "buy"][j % 3],
                    float(j) + 0.5,
                )
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.cache()
    df.count()
    return df


def test_cohort_offset0_counts_all_cohort_users(events):
    ret = timeseries.cohort_retention(events)
    rows = {(r.cohort_week, r.week_offset): r.active_users for r in ret.collect()}
    assert all(off >= 0 for (_, off) in rows)
    # offset-0 count per cohort == users whose first week is that week
    cohorts = (
        events.groupBy("user_id")
        .agg(F.to_date(F.date_trunc("week", F.min("ts"))).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    for r in cohorts:
        assert rows[(r.w, 0)] == r["count"]


def test_transitions_probabilities_sum_to_one(events):
    tr = timeseries.event_transitions(events).collect()
    n_users_with_2 = (
        events.groupBy("user_id").count().where("count >= 2").count()
    )
    total_events = events.count()
    n_users = events.select("user_id").distinct().count()
    assert sum(r.n_transitions for r in tr) == total_events - n_users
    by_src: dict[str, float] = {}
    for r in tr:
        by_src[r.src_type] = by_src.get(r.src_type, 0.0) + r.p_transition
    for s, p in by_src.items():
        assert abs(p - 1.0) < 1e-4, (s, p)
    assert n_users_with_2 > 0  # fixture sanity


def test_gap_fill_dense_and_cumulative(events):
    filled = timeseries.gap_fill_daily(events)
    n_types = events.select("event_type").distinct().count()
    days = events.select(
        F.to_date(F.min("ts")).alias("a"), F.to_date(F.max("ts")).alias("b")
    ).collect()[0]
    n_days = (days.b - days.a).days + 1
    rows = filled.collect()
    assert len(rows) == n_types * n_days
    # total zero-filled counts reproduce the raw log
    assert sum(r.n_events for r in rows) == events.count()
    # cumulative is monotone and ends at the per-type total
    per_type = {
        r.event_type: r["count"]
        for r in events.groupBy("event_type").count().collect()
    }
    last = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        assert r.cum_events >= last.get(r.event_type, 0)
        last[r.event_type] = r.cum_events
    assert last == per_type
    # LOCF: a zero-event day carries the previous day's mean
    by_key = {(r.event_type, r.day): r for r in rows}
    carried = [
        r
        for r in rows
        if r.n_events == 0 and r.locf_value_avg is not None
    ]
    assert carried, "fixture must contain gap days after a first observation"
    for r in carried[:10]:
        prev = by_key[(r.event_type, r.day - timedelta(days=1))]
        assert r.locf_value_avg == prev.locf_value_avg


def _py_pmi(texts, min_count, top_k):
    import re
    from collections import Counter

    uni, bi = Counter(), Counter()
    for t in texts:
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    t_uni, t_bi = sum(uni.values()), sum(bi.values())
    out = []
    for (x, y), n in bi.items():
        if n < min_count:
            continue
        pmi = math.log((n / t_bi) / ((uni[x] / t_uni) * (uni[y] / t_uni)))
        out.append((f"{x} {y}", n, round(pmi, 6)))
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:top_k]


def test_pmi_matches_python_twin(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox is quick and brown",
        "a lazy dog and a quick fox met the brown fox",
        "quick brown quick brown quick brown fox fox",
    ] * 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.bigram, r.n_pair, r.pmi)
        for r in textstats.pmi_collocations(df, min_count=3, top_k=10).collect()
    ]
    assert got == _py_pmi(texts, 3, 10)


def test_fuzzy_prefix_pairs_blocked(spark):
    rows = [
        (1, "s1", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "s1", "alpha betb gamma delta epsilon zeta eta theta"),  # dist 1
        (3, "s1", "completely different words entirely here now ok"),
        (4, "s2", "alpha beta gamma delta epsilon zeta eta theta"),  # other block
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pairs = {
        (r.id_a, r.id_b): r.edit_dist
        for r in dedup.fuzzy_prefix_pairs(
            df, block_cols=("source",), prefix_len=40, max_dist=5
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    assert all(a < b for a, b in pairs)
    assert (1, 4) not in pairs  # cross-source blocked
    assert (1, 3) not in pairs  # too distant


def test_interarrival_counts_and_max(events):
    got = {r.event_type: r for r in timeseries.interarrival_quantiles(events).collect()}
    # total gaps == total events - users (each user loses one terminal)
    n = events.count() - events.select("user_id").distinct().count()
    assert sum(r.n_gaps for r in got.values()) == n
    for r in got.values():
        assert r.p50_us <= r.p90_us <= r.max_us
        assert r.p50_us > 0


def test_daily_anomaly_flags_zscore(events):
    import statistics

    flagged = timeseries.daily_anomaly_flags(events, z_threshold=0.5).collect()
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in daily:
        by_type.setdefault(r.event_type, []).append(r["count"])
    want = set()
    for t, xs in by_type.items():
        mu = statistics.fmean(xs)
        sd = statistics.pstdev(xs)
        for r in daily:
            if r.event_type == t and sd > 0 and abs((r["count"] - mu) / sd) > 0.5:
                want.add((t, r.day))
    assert {(r.event_type, r.day) for r in flagged} == want


def test_inverted_postings_twin(spark):
    from blogparser_spark.dataops import textstats as TS
    import re
    from collections import Counter, defaultdict

    texts = {
        0: "apple banana apple cherry",
        1: "banana cherry cherry date",
        2: "apple date egg banana",
        3: "egg apple banana banana",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.term: (r.df, r.total_tf, r.postings_head)
        for r in TS.inverted_postings(df, min_df=2, max_postings=2).collect()
    }
    docs_of = defaultdict(Counter)
    for i, t in texts.items():
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                docs_of[w][i] += 1
    want = {}
    for w, c in docs_of.items():
        if len(c) >= 2:
            ids = sorted(c)
            want[w] = (len(c), sum(c.values()), ",".join(map(str, ids[:2])))
    assert got == want


def test_salted_distinct_matches_count_distinct(events):
    from blogparser_spark.operators.skew import salted_exact_distinct

    got = {
        r.event_type: r.n_distinct
        for r in salted_exact_distinct(events, ["event_type"], "user_id").collect()
    }
    want = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_daily_volume_trend_least_squares_twin(events):
    got = {r.event_type: r for r in timeseries.daily_volume_trend(events).collect()}
    daily = (
        events.groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    pts: dict[str, list[tuple[int, int]]] = {}
    epoch = __import__("datetime").date(1970, 1, 1)
    for r in daily:
        pts.setdefault(r.event_type, []).append(((r.day - epoch).days, r["count"]))
    for t, xs in pts.items():
        n = len(xs)
        sx = sum(x for x, _ in xs)
        sy = sum(y for _, y in xs)
        sxy = sum(x * y for x, y in xs)
        sxx = sum(x * x for x, _ in xs)
        syy = sum(y * y for _, y in xs)
        c2 = n * sxy - sx * sy
        vx2 = n * sxx - sx * sx
        vy2 = n * syy - sy * sy
        assert got[t].n_days == n
        if vx2 == 0:  # degenerate: single day -> NULL fit
            assert got[t].slope_per_day is None
            assert got[t].intercept is None
            assert got[t].r2 is None
            continue
        assert got[t].slope_per_day == pytest.approx(c2 / vx2, abs=1.5e-6)
        assert got[t].intercept == pytest.approx(
            (sy - (c2 / vx2) * sx) / n, abs=1.5e-6
        )
        if vy2 == 0:
            assert got[t].r2 is None
        else:
            assert got[t].r2 == pytest.approx(
                (c2 * c2) / (vx2 * vy2), abs=1.5e-6
            )
            assert 0.0 <= got[t].r2 <= 1.0 + 1e-9


def test_event_trigram_counter_twin(events):
    from collections import Counter, defaultdict

    got = [
        (r.trigram, r.n_occurrences)
        for r in timeseries.event_trigram_topk(events, k=50).collect()
    ]
    seqs = defaultdict(list)
    for r in events.orderBy("user_id", "ts", "event_id").collect():
        seqs[r.user_id].append(r.event_type)
    c = Counter()
    for s in seqs.values():
        for i in range(len(s) - 2):
            c[">".join(s[i : i + 3])] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert got == want


def test_contingency_chi2_dense_twin(events):
    from collections import Counter

    from blogparser_spark.dataops.profile import contingency_chi2

    ev = events.select("event_type", F.weekday("ts").alias("wd"))
    row = contingency_chi2(ev, "event_type", "wd").collect()[0]
    obs = Counter((r.event_type, r.wd) for r in ev.collect())
    a_vals = sorted({a for a, _ in obs})
    b_vals = sorted({b for _, b in obs})
    row_t = Counter()
    col_t = Counter()
    for (a, b), o in obs.items():
        row_t[a] += o
        col_t[b] += o
    grand = sum(obs.values())
    chi2 = 0.0
    for a in a_vals:  # dense grid, zero cells included
        for b in b_vals:
            e = row_t[a] * col_t[b] / grand
            chi2 += (obs.get((a, b), 0) - e) ** 2 / e
    assert row.n_obs == grand
    assert row.dof == (len(a_vals) - 1) * (len(b_vals) - 1)
    assert row.chi2 == pytest.approx(chi2, abs=1.5e-6)


def test_categorical_entropy_math_twin(events):
    from collections import Counter

    from blogparser_spark.dataops.profile import categorical_entropy

    got = {
        r.user_id: r
        for r in categorical_entropy(events, ["user_id"], "event_type").collect()
    }
    per_user = {}
    for r in events.collect():
        per_user.setdefault(r.user_id, Counter())[r.event_type] += 1
    for uid, c in per_user.items():
        n = sum(c.values())
        h = -sum((v / n) * math.log(v / n) for v in c.values())
        assert got[uid].n_events == n
        assert got[uid].n_distinct == len(c)
        assert got[uid].entropy_nats == pytest.approx(h, abs=1.5e-6)
        assert got[uid].entropy_nats <= round(math.log(len(c)), 6) + 1e-9


def test_score_normalize_rank_and_minmax(spark):
    from blogparser_spark.dataops.curation import score_normalize

    rows = [("s1", i, float(v)) for i, v in enumerate([10, 20, 20, 40])]
    rows += [("s2", 10, 7.0)]  # single-row group: pct 0, minmax NULL
    rows += [("s3", 20, 5.0), ("s3", 21, 5.0)]  # constant group
    df = spark.createDataFrame(rows, "source string, doc_id long, score double")
    got = {
        (r.source, r.doc_id): (r.pct_rank, r.minmax)
        for r in score_normalize(df, ["source"], "score", ["doc_id"]).collect()
    }
    assert got[("s1", 0)] == (0.0, 0.0)
    assert got[("s1", 1)] == got[("s1", 2)] == (round(1 / 3, 6), round(1 / 3, 6))
    assert got[("s1", 3)] == (1.0, 1.0)
    assert got[("s2", 10)] == (0.0, None)
    assert got[("s3", 20)] == (0.0, None)


def test_decayed_engagement_math_twin(events):
    out = {r.user_id: r for r in timeseries.decayed_engagement(events).collect()}
    raw = events.select("user_id", "ts", "value").collect()
    ref_us = max(int(r.ts.timestamp() * 1_000_000) for r in raw)
    import collections

    terms = collections.defaultdict(list)
    for r in raw:
        age_d = (ref_us - int(r.ts.timestamp() * 1_000_000)) / 86400e6
        terms[r.user_id].append(round(r.value * 2.0 ** (-age_d / 7.0) * 1e6))
    for uid, ts_ in terms.items():
        got = out[uid]
        assert got.n_events == len(ts_)
        assert got.decayed_value == pytest.approx(sum(ts_) / 1e6, abs=1e-6)
        # decay only shrinks: decayed <= raw, and both non-negative here
        assert 0 <= got.decayed_value <= got.raw_value + 1e-9


def test_decayed_engagement_recency_ordering(spark):
    # same total value, different recency -> newer user scores higher
    rows = [
        (1, datetime(2024, 1, 1), 10, "view", 100.0),   # old event
        (2, datetime(2024, 1, 29), 20, "view", 100.0),  # recent event
        (3, datetime(2024, 1, 29), 99, "view", 1.0),    # sets ref_ts
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r.user_id: r.decayed_value for r in timeseries.decayed_engagement(df).collect()}
    assert out[20] > out[10]
    assert out[10] == pytest.approx(100.0 * 2 ** (-28 / 7.0), abs=1e-4)


def test_slice_column_manifest_twin(events):
    import hashlib

    from blogparser_spark.dataops.profile import slice_column_manifest

    out = slice_column_manifest(
        events, "event_id", ["user_id", "event_type"], n_slices=4
    ).collect()
    raw = events.collect()

    def slc(eid):
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16) % 4

    from collections import defaultdict

    per = defaultdict(list)
    for r in raw:
        per[slc(r.event_id)].append(r)
    got = {(r.slice_id, r.col): r for r in out}
    assert len(out) == len(per) * 2
    for s, rows in per.items():
        for c in ("user_id", "event_type"):
            g = got[(s, c)]
            assert g.n_rows == len(rows)
            vals = [getattr(r, c) for r in rows if getattr(r, c) is not None]
            assert g.min_value == str(min(vals)) and g.max_value == str(max(vals))
            assert g.n_null == len(rows) - len(vals)


def test_psi_drift_python_twin(spark):
    import random

    from blogparser_spark.dataops.profile import psi_drift

    rng = random.Random(41)
    K = 8
    # group "stable": same distribution both sides; "shifted": cur skews high
    rows = []
    for _ in range(400):
        rows.append(("stable", "ref", rng.randrange(K)))
        rows.append(("stable", "cur", rng.randrange(K)))
        rows.append(("shifted", "ref", rng.randrange(K // 2)))
        rows.append(("shifted", "cur", K // 2 + rng.randrange(K // 2)))
    df = spark.createDataFrame(rows, "g string, side string, bin long")
    got = {
        r["g"]: r.asDict()
        for r in psi_drift(
            df.filter("side = 'ref'"),
            df.filter("side = 'cur'"),
            ("g",),
            "bin",
            n_bins=K,
        ).collect()
    }

    from collections import Counter

    for g in ("stable", "shifted"):
        a = Counter(b for gg, s, b in rows if gg == g and s == "ref")
        b = Counter(bb for gg, s, bb in rows if gg == g and s == "cur")
        ta, tb = sum(a.values()), sum(b.values())
        psi = 0.0
        for i in range(K):
            p = (a.get(i, 0) + 1) / (ta + K)
            q = (b.get(i, 0) + 1) / (tb + K)
            psi += (p - q) * math.log(p / q)
        r = got[g]
        assert (r["n_ref"], r["n_cur"]) == (ta, tb)
        assert r["n_bins_hit_ref"] == len(a) and r["n_bins_hit_cur"] == len(b)
        assert r["psi"] == pytest.approx(psi, abs=1.5e-6)
    # identical-distribution group reads stable, disjoint-halves group broken
    assert got["stable"]["psi"] < 0.1 < 0.25 < got["shifted"]["psi"]


def test_psi_drift_zero_on_identical_sides(spark):
    df = spark.createDataFrame(
        [("g", i % 5) for i in range(100)], "g string, bin long"
    )
    from blogparser_spark.dataops.profile import psi_drift

    r = psi_drift(df, df, ("g",), "bin", n_bins=8).collect()[0]
    assert r["psi"] == 0.0
    assert r["n_bins_hit_ref"] == r["n_bins_hit_cur"] == 5


def test_attribution_credits_python_twin(spark):
    from collections import defaultdict

    rows = []
    eid = 0

    def ev(uid, minute, et):
        nonlocal eid
        eid += 1
        rows.append((eid, datetime(2024, 5, 1, 0, minute), uid, et, 1.0))

    # user 1: view, click -> buy ; then click -> buy (two attribution groups)
    for m, t in ((0, "view"), (1, "click"), (2, "buy"), (3, "click"), (4, "buy")):
        ev(1, m, t)
    # user 2: direct conversion (no touches), then trailing unattributed view
    ev(2, 0, "buy")
    ev(2, 1, "view")
    # user 3: touches but never converts -> contributes nothing
    ev(3, 0, "view")
    ev(3, 1, "click")
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = defaultdict(dict)
    for r in timeseries.attribution_credits(df, conversion_type="buy").collect():
        got[r.model][r.touch_type] = r.credit

    assert got["first_touch"] == {"view": 1.0, "click": 1.0, "(direct)": 1.0}
    assert got["last_touch"] == {"click": 2.0, "(direct)": 1.0}
    assert got["linear"] == {"view": 0.5, "click": 1.5, "(direct)": 1.0}
    # every model distributes exactly 1.0 per attributed conversion
    for model, credits in got.items():
        assert sum(credits.values()) == 3.0, model


def test_attribution_same_ts_ties_and_empty(spark):
    # same-timestamp events order by event_id; no conversions -> empty
    base = datetime(2024, 5, 1)
    df = spark.createDataFrame(
        [
            (1, base, 7, "view", 0.0),
            (2, base, 7, "click", 0.0),   # later id: this is the last touch
            (3, base, 7, "buy", 0.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        (r.model, r.touch_type): r.credit
        for r in timeseries.attribution_credits(df, conversion_type="buy").collect()
    }
    assert got[("first_touch", "view")] == 1.0
    assert got[("last_touch", "click")] == 1.0
    assert got[("linear", "view")] == got[("linear", "click")] == 0.5
    none = timeseries.attribution_credits(
        df.filter("event_type <> 'buy'"), conversion_type="buy"
    )
    assert none.count() == 0


def test_fd_profile_python_twin(spark):
    from collections import Counter, defaultdict

    from blogparser_spark.dataops.profile import fd_profile

    rows = [
        # a -> b holds exactly; b -> a violated by ("x": 1 and 3)
        (1, "x", "p"),
        (1, "x", "p"),
        (2, "y", "p"),
        (3, "x", "q"),
        (3, "x", "q"),
        (3, "x", "r"),
    ]
    df = spark.createDataFrame(rows, "a long, b string, c string")
    got = {
        (r.lhs_col, r.rhs_col): r.asDict()
        for r in fd_profile(df, [("a", "b"), ("b", "a"), ("a", "c")]).collect()
    }
    for lhs, rhs in (("a", "b"), ("b", "a"), ("a", "c")):
        groups = defaultdict(Counter)
        for row in rows:
            d = dict(zip("abc", row))
            groups[d[lhs]][d[rhs]] += 1
        n = len(rows)
        modal_sum = sum(c.most_common(1)[0][1] for c in groups.values())
        r = got[(lhs, rhs)]
        assert r["n_rows"] == n and r["n_groups"] == len(groups)
        assert r["n_violating_groups"] == sum(
            1 for c in groups.values() if len(c) > 1
        )
        assert r["g3_error"] == round((n - modal_sum) / n, 6)
    assert got[("a", "b")]["n_violating_groups"] == 0  # exact FD
    assert got[("a", "b")]["g3_error"] == 0.0
    assert got[("b", "a")]["n_violating_groups"] == 1
    assert got[("a", "c")]["g3_error"] == round(1 / 6, 6)  # drop one 'r' row


def test_rfm_scores_python_twin(spark):
    import math
    import random

    rng = random.Random(17)
    rows = []
    eid = 0
    for uid in range(40):
        for j in range(1 + uid % 7):
            eid += 1
            rows.append(
                (eid, datetime(2024, 6, 1) + timedelta(hours=uid * 3 + j),
                 uid, "view", round(rng.uniform(1, 50), 2))
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.user_id: r.asDict() for r in timeseries.rfm_scores(df, 5).collect()}

    # python twin
    per = {}
    for eid_, ts, uid, _, v in rows:
        us = int(ts.timestamp() * 1_000_000)
        last, n, m = per.get(uid, (0, 0, 0.0))
        per[uid] = (max(last, us), n + 1, m + v)
    anchor = max(l for l, _, _ in per.values())
    met = {
        u: (anchor - l, n, round(m, 6)) for u, (l, n, m) in per.items()
    }

    def bounds(vals):
        vs = sorted(vals)
        n = len(vs)
        return [vs[math.ceil(k * n / 5) - 1] for k in range(1, 5)]

    rb = bounds([m[0] for m in met.values()])
    fb = bounds([m[1] for m in met.values()])
    mb = bounds([m[2] for m in met.values()])
    for u, (rec, freq, mon) in met.items():
        r = 5 - sum(1 for b in rb if b < rec)
        f = 1 + sum(1 for b in fb if b < freq)
        mm = 1 + sum(1 for b in mb if b < mon)
        g = got[u]
        assert (g["recency_us"], g["frequency"], g["monetary"]) == (rec, freq, mon), u
        assert (g["r_score"], g["f_score"], g["m_score"]) == (r, f, mm), u
        assert g["rfm_segment"] == f"{r}{f}{mm}"
    # score ranges and monotone direction
    assert all(1 <= got[u]["r_score"] <= 5 for u in got)
    freshest = max(got, key=lambda u: -got[u]["recency_us"])
    stalest = max(got, key=lambda u: got[u]["recency_us"])
    assert got[freshest]["r_score"] >= got[stalest]["r_score"]


def test_ks_drift_python_twin(spark):
    import random

    from blogparser_spark.dataops.profile import ks_drift

    rng = random.Random(53)
    rows = [("g", "ref", rng.randrange(10)) for _ in range(300)] + [
        ("g", "cur", min(rng.randrange(12), 9)) for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, side string, bin long")
    r = ks_drift(
        df.filter("side='ref'"), df.filter("side='cur'"), ("g",), "bin"
    ).collect()[0]

    from collections import Counter

    a = Counter(b for _, s, b in rows if s == "ref")
    b = Counter(bb for _, s, bb in rows if s == "cur")
    ta, tb = sum(a.values()), sum(b.values())
    bins = sorted(set(a) | set(b))
    ca = cb = 0
    d = 0.0
    for bn in bins:
        ca += a.get(bn, 0)
        cb += b.get(bn, 0)
        d = max(d, abs(ca / ta - cb / tb))
    assert (r["n_ref"], r["n_cur"]) == (ta, tb)
    assert r["ks_d"] == round(d, 6)
    # identical sides -> D = 0
    z = ks_drift(df, df, ("g",), "bin").collect()[0]
    assert z["ks_d"] == 0.0
    # disjoint supports -> D = 1
    lo = spark.createDataFrame([("g", i % 3) for i in range(30)], "g string, bin long")
    hi = spark.createDataFrame([("g", 10 + i % 3) for i in range(30)], "g string, bin long")
    assert ks_drift(lo, hi, ("g",), "bin").collect()[0]["ks_d"] == 1.0


def test_zipf_fit_recovers_planted_slope(spark):
    import math
    from collections import Counter

    from blogparser_spark.dataops.textstats import zipf_fit

    # plant freq(rank r) = round(1000 / r): slope should come out near -1
    words = []
    for r in range(1, 61):
        words += [f"w{r:03d}"] * max(1, round(1000 / r))
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    row = zipf_fit(df, top_n=60).collect()[0]
    assert row.n_terms == 60
    assert -1.1 < row.slope < -0.9

    # exact twin of the OLS arithmetic
    cnt = Counter(words)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:60]
    xs = [math.log(i + 1) for i in range(60)]
    ys = [math.log(c) for _, c in top]
    n = 60.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    inter = (sy - slope * sx) / n
    import pytest as _pt

    assert row.slope == _pt.approx(slope, abs=1.5e-6)
    assert row.intercept == _pt.approx(inter, abs=1.5e-6)


def test_missing_daily_ranges_twin(spark):
    base = datetime(2024, 2, 1)
    # group A observed days 0,1,2, 6, 10,11 -> gaps [3-5], [7-9]
    # group B contiguous -> no rows
    rows = [("A", base + timedelta(days=d)) for d in (0, 1, 2, 6, 10, 11)]
    rows += [("B", base + timedelta(days=d)) for d in range(4)]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    got = sorted(
        (r.g, r.gap_start_day, r.gap_end_day, r.n_missing)
        for r in timeseries.missing_daily_ranges(df, "ts", ["g"]).collect()
    )
    d0 = int(base.timestamp() * 1_000_000) // 86_400_000_000
    assert got == [
        ("A", d0 + 3, d0 + 5, 3),
        ("A", d0 + 7, d0 + 9, 3),
    ]


def test_oov_rate_twin(spark):
    from collections import Counter

    from blogparser_spark.dataops.textstats import oov_rate

    texts = {
        1: "a a a b b c rare1",
        2: "a b c c",
        3: "rare2 rare3",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in oov_rate(df, vocab_size=3).collect()
    }
    cnt = Counter(t for s in texts.values() for t in s.split())
    vocab = {t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]}
    for d, s in texts.items():
        tk = s.split()
        oov = sum(1 for t in tk if t not in vocab)
        assert got[d] == (len(tk), oov, round(oov / len(tk), 6)), d
    assert vocab == {"a", "b", "c"}
    assert got[3] == (2, 2, 1.0)  # all-rare doc flags fully OOV


def test_daily_anomaly_constant_series_not_flagged(spark):
    # stddev 0 (a type seen on one day / constant volume) must yield no
    # anomalies — not a divide-by-zero (ANSI) or NaN>t=true flood (non-ANSI)
    from datetime import datetime

    from blogparser_spark.dataops.timeseries import daily_anomaly_flags

    rows = [(i, datetime(2024, 6, 1, 12), 1, "solo", 1.0) for i in range(5)]
    rows += [
        (100 + d * 10 + j, datetime(2024, 6, 1 + d, 12), 2, "flat", 1.0)
        for d in range(4)
        for j in range(3)  # 3 events every day — constant series
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    assert daily_anomaly_flags(df, z_threshold=2.0).count() == 0


def test_ks_drift_one_sided_group_reads_full_divergence(spark):
    # a group present in only one side is the new/dropped-segment case:
    # D must saturate to 1.0, not crash or go NaN
    from blogparser_spark.dataops.profile import ks_drift

    ref = spark.createDataFrame(
        [("g1", b) for b in (0, 1, 2)] + [("g2", b) for b in (0, 1)],
        "g string, bin int",
    )
    cur = spark.createDataFrame([("g1", b) for b in (1, 2, 3)], "g string, bin int")
    out = {r.g: r for r in ks_drift(ref, cur, ("g",), "bin").collect()}
    assert out["g2"].ks_d == 1.0 and out["g2"].n_cur == 0
    assert 0.0 < out["g1"].ks_d <= 1.0


def test_contingency_chi2_ignores_null_categories(spark):
    # complete-case chi2: NULL-category rows must not inflate the statistic
    from blogparser_spark.dataops.profile import contingency_chi2

    base = [("a", "x")] * 6 + [("a", "y")] * 4 + [("b", "x")] * 3 + [("b", "y")] * 7
    clean = spark.createDataFrame(base, "ca string, cb string")
    dirty = spark.createDataFrame(
        base + [(None, "x")] * 5 + [("a", None)] * 5, "ca string, cb string"
    )
    want = clean.select("*").collect()
    rc = contingency_chi2(clean, "ca", "cb").collect()[0]
    rd = contingency_chi2(dirty, "ca", "cb").collect()[0]
    assert rc.asDict() == rd.asDict()
    assert rd.n_obs == len(base)


def test_session_paths_cut_before_collect(spark):
    # degenerate never-idle stream: the long session must be dropped by the
    # window-count filter BEFORE any array state builds, short ones survive
    from datetime import datetime, timedelta

    from blogparser_spark import queries

    t0 = datetime(2024, 6, 1, 12)
    rows = [(i, t0 + timedelta(minutes=i), 1, f"e{i % 3}", 1.0) for i in range(40)]
    rows += [(100 + j, t0 + timedelta(minutes=j), 2, "a", 1.0) for j in range(3)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = queries.top_session_paths(spark, d).collect()
    assert [r.path for r in out] == ["a>a>a"]
    assert out[0].n_sessions == 1 and out[0].path_len == 3
