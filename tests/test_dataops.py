"""Tests for the training-data ops: dedup, similarity, textstats, lm."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 0/1: exact duplicates (modulo whitespace), 2: near-dup of 0, 3/4 distinct
        (0, "the quick brown fox jumps over the lazy dog again and again", "en", "s0"),
        (1, "the quick  brown fox jumps over the lazy dog again and again", "en", "s0"),
        (2, "the quick brown fox jumps over the lazy cat again and again", "en", "s0"),
        (3, "der schnelle braune fuchs springt über den faulen hund und mehr", "de", "s1"),
        (4, "el rápido zorro marrón salta sobre el perro perezoso y que más", "es", "s1"),
        (5, "数据 处理 平台 分析 系统 的 高速 计算 模型 和 集群", "zh", "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df.cache().count()
    return df


# ------------------------------------------------------------------ dedup ---


def test_exact_dedup(docs):
    from blogparser_spark.dataops.dedup import exact_dedup_stats, exact_dup_groups

    stats = exact_dedup_stats(docs).collect()[0]
    assert stats["n_docs"] == 6
    assert stats["n_distinct"] == 5  # 0 and 1 normalize identically
    assert stats["n_dup_rows"] == 1
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 0


def test_apply_exact_dedup(docs):
    from blogparser_spark.dataops.dedup import apply_exact_dedup

    out = apply_exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 (whitespace-dup of 0) dropped
    assert out.columns == docs.columns  # full schema preserved


def test_minhash_lsh_finds_near_dup(docs):
    from blogparser_spark.dataops.dedup import minhash_lsh_candidates, minhash_signature_df

    sig = {r["doc_id"]: [r[f"mh_{i}"] for i in range(8)] for r in
           minhash_signature_df(docs).collect()}
    assert sig[0] == sig[1]  # identical docs → identical signatures
    # near-dup (one word changed) shares most minhashes with doc 0
    shared = sum(a == b for a, b in zip(sig[0], sig[2]))
    assert shared >= 4
    buckets = minhash_lsh_candidates(docs).collect()
    pairs = {tuple(b["ids"]) for b in buckets}
    assert any({0, 1} <= set(p) for p in pairs)


def test_minhash_signature_deterministic(docs):
    from blogparser_spark.dataops.dedup import minhash_signature_df

    a = sorted(map(tuple, minhash_signature_df(docs).collect()))
    b = sorted(map(tuple, minhash_signature_df(docs).collect()))
    assert a == b
    # cross-check one permutation against a pure-python recomputation
    row = dict(zip(["doc_id"] + [f"mh_{i}" for i in range(8)], a[0]))
    text = "the quick brown fox jumps over the lazy dog again and again"
    toks = text.split()
    shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    expect = min(hashlib.md5(f"0:{s}".encode()).hexdigest() for s in shingles)
    assert row["mh_0"] == expect


def test_simhash_similar_docs_close(docs):
    from blogparser_spark.dataops.dedup import simhash_df

    sh = {r["doc_id"]: r["simhash"] for r in simhash_df(docs).collect()}
    assert sh[0] == sh[1]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard(docs):
    from blogparser_spark.dataops.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0


# ------------------------------------------------------------- similarity ---


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [round(rng.gauss(0, 1), 4) for _ in range(16)], i % 3) for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(emb):
    from blogparser_spark.dataops.similarity import brute_force_topk

    out = brute_force_topk(emb, n_queries=3, k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["nid"] != q for r in rows)


def test_ivf_subset_of_corpus(emb):
    from blogparser_spark.dataops.similarity import assign_ivf_cells, ivf_topk

    cells = assign_ivf_cells(emb, n_cells=4)
    assert cells.count() == 40
    # each centroid is in its own cell (self-similarity 1.0)
    own = {r["vec_id"]: r["cell"] for r in cells.filter(F.col("vec_id") < 4).collect()}
    assert own == {0: 0, 1: 1, 2: 2, 3: 3}
    approx = ivf_topk(emb, n_queries=2, k=3, n_cells=4)
    assert approx.count() <= 6  # cells may hold < k+1 members


def test_ivf_recall_nprobe_sweep_monotone_and_exact_at_full_probe(emb):
    """Recall must be non-decreasing in nprobe (superset of cells), reach
    1.0 when every cell is probed (nprobe = n_cells ⇒ exhaustive scan),
    and the nprobe=1 row must agree with the single-probe recall that
    ann_recall_eval computes (ivf_topk path)."""
    from blogparser_spark.dataops.similarity import (
        ivf_recall_nprobe_sweep,
        ivf_topk,
        brute_force_topk_matmul,
    )

    out = ivf_recall_nprobe_sweep(
        emb, n_queries=3, k=4, n_cells=4, nprobes=(1, 2, 4)
    ).collect()
    assert len(out) == 9
    by_q: dict[int, dict[int, float]] = {}
    for r in out:
        by_q.setdefault(r["qid"], {})[r["nprobe"]] = r["recall"]
    for q, curve in by_q.items():
        assert curve[1] <= curve[2] <= curve[4]
        assert curve[4] == 1.0  # all 4 cells probed == exhaustive

    # nprobe=1 agrees with the ivf_topk-based single-probe recall
    exact = {
        (r["qid"], r["nid"])
        for r in brute_force_topk_matmul(emb, n_queries=3, k=4).collect()
    }
    approx1 = {
        (r["qid"], r["nid"])
        for r in ivf_topk(emb, n_queries=3, k=4, n_cells=4).collect()
    }
    for q, curve in by_q.items():
        want = len({p for p in exact if p[0] == q} & approx1) / 4
        assert abs(curve[1] - want) < 1e-9


def test_brute_force_matmul_equivalence(spark):
    """The BLAS scale path must return exactly the join-based baseline's
    results (same ids, same round-6 sims, same ranks)."""
    from blogparser_spark.dataops.similarity import brute_force_topk, brute_force_topk_matmul

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, brute_force_topk(emb, 5, 4).collect()))
    b = sorted(map(tuple, brute_force_topk_matmul(emb, 5, 4).collect()))
    assert a == b


def test_embedding_near_dups(spark):
    from blogparser_spark.dataops.similarity import embedding_near_dup_pairs

    # centroids are ids 0/1; the near-dup pair 2/3 lives inside cell 0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.05, 0.0, 0.0]),
        (3, [0.98, 0.06, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs(df, threshold=0.999, n_cells=2).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(2, 3)}


def test_kmeans_refine_improves_and_handles_empty_cells(spark):
    """Lloyd rounds must not regress the mean cosine-to-centroid of the
    first-k init, must be deterministic, and a centroid that loses every
    member (vec 3 is identical to vec 0, so it assigns to the lower cid)
    keeps its previous centroid instead of crashing the round."""
    from blogparser_spark.dataops.similarity import assign_ivf_cells, kmeans_refine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    init = {r["vec_id"]: r["cell_sim"]
            for r in assign_ivf_cells(emb, n_cells=4).collect()}
    out = kmeans_refine(emb, n_cells=4, iters=2).collect()
    assert len(out) == len(init)
    mean_init = sum(init.values()) / len(init)
    mean_ref = sum(r["cell_sim"] for r in out) / len(out)
    assert mean_ref >= mean_init - 1e-9
    again = kmeans_refine(emb, n_cells=4, iters=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.7, 0.7, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.0]),  # dup of 0 → cell 3 empties in round 1
        (4, [0.9, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cells = {r["vec_id"]: r["cell"]
             for r in kmeans_refine(df, n_cells=4, iters=2).collect()}
    # round 1: the duplicate ties to the lower cid, so cell 3 loses every
    # member and must carry its previous centroid [1,0,0,0] instead of
    # crashing; round 2: cell 0's centroid has drifted toward vec 4, so the
    # carried centroid is now the strict max-cosine for vecs 0 and 3 and
    # legitimately recaptures them — the MLlib carryover semantics, not a
    # dead cell
    assert cells[0] == cells[3] == 3
    assert cells[4] == 0 and cells[1] == 1 and cells[2] == 2


# -------------------------------------------------------------- textstats ---


def test_token_stats(docs):
    from blogparser_spark.dataops.textstats import with_token_stats

    r = {x["doc_id"]: x for x in with_token_stats(docs).collect()}
    assert r[0]["n_tokens"] == 12
    assert r[0]["n_bytes"] == len(r[0]["text"].encode())
    assert r[5]["n_bytes"] > r[5]["n_chars"]  # CJK multibyte


def test_langid(docs):
    from blogparser_spark.dataops.textstats import with_langid

    pred = {r["doc_id"]: r["lang_pred"] for r in with_langid(docs).collect()}
    assert pred[0] == "en" and pred[3] == "de" and pred[4] == "es" and pred[5] == "zh"


def test_quality_and_fingerprint(docs):
    from blogparser_spark.dataops.textstats import with_fingerprint, with_quality

    q = with_quality(docs).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in q)
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(docs).collect()}
    assert fp[0] == fp[1]  # whitespace-insensitive
    assert fp[0] != fp[2]


def test_repetition_signals(spark):
    from blogparser_spark.dataops.textstats import repetition_signals

    rows = [
        (0, "a b a b a b a b"),        # one bigram everywhere
        (1, "one two three four five six seven"),  # all distinct
        (2, "word"),                    # too short for any n-gram
        (3, "x y z x y z x y z x y z"),  # repeating trigram block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert len(out) == 4  # explode_outer keeps the gramless doc
    # doc 0: bigrams = [ab, ba, ab, ba, ab, ba, ab] → top 'a b' 4/7
    assert out[0]["top_bigram_frac"] == round(4 / 7, 6)
    assert out[0]["repetitive"] is True
    # doc 1: every gram unique → dup fraction 0, top = 1/n
    assert out[1]["dup_trigram_frac"] == 0.0
    assert out[1]["repetitive"] is False
    assert out[2]["top_bigram_frac"] == 0.0 and out[2]["dup_trigram_frac"] == 0.0
    assert out[2]["repetitive"] is False
    # doc 3: 10 trigram occurrences, 3 distinct → dup 7/10
    assert out[3]["dup_trigram_frac"] == round(7 / 10, 6)
    assert out[3]["repetitive"] is True


def test_connected_components_chain(spark):
    from blogparser_spark.dataops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4)], "id_a long, id_b long"
    )
    comps = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_near_dup_clusters_end_to_end(docs, spark):
    from blogparser_spark.dataops.dedup import near_dup_clusters

    stats: dict = {}
    out = {r["doc_id"]: r for r in near_dup_clusters(docs, stats=stats).collect()}
    # docs 0/1 are exact dups → same component; survivor = min id
    assert out[0]["component"] == out[1]["component"]
    assert out[0]["keep"] is True and out[1]["keep"] is False
    # iteration accounting: tiny graph converges immediately — one
    # propagating round plus the round that observes no change
    assert 1 <= stats["iterations"] <= 3


def test_near_dup_verify_blocks_lsh_false_positives(spark):
    """ADVICE: LSH bucket collisions alone must never drop a document —
    candidate pairs go through exact Jaccard verification before
    clustering. Construct a pair below the verify threshold and force-feed
    it: the verify stage must reject it."""
    from blogparser_spark.dataops.dedup import verify_pairs_jaccard

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma unrelated words entirely different here"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "id_a long, id_b long")
    kept = {(r["id_a"], r["id_b"]) for r in
            verify_pairs_jaccard(df, pairs, threshold=0.5).collect()}
    assert (0, 1) not in kept  # J(0,1) ≈ 0.09 — LSH false positive rejected
    assert (0, 2) in kept  # J(0,2) ≈ 0.55 — real near-dup survives


def test_simhash_verify_blocks_half_band_false_positives(spark):
    """A half-band collision bounds the Hamming distance of ONE half at 0
    and says nothing about the other — the exact popcount(xor) verify must
    reject candidates whose full-signature distance exceeds the budget."""
    from blogparser_spark.dataops.dedup import (
        simhash_candidate_pairs,
        simhash_df,
        verify_pairs_hamming,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # one-token change
        (3, "totally different words about other topics entirely now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = simhash_df(df)
    sh = {r["doc_id"]: r["simhash"] for r in sig.collect()}

    cands = {(r["id_a"], r["id_b"])
             for r in simhash_candidate_pairs(df, signatures=sig).collect()}
    assert (0, 1) in cands  # identical signature collides on both halves

    # force-feed the far pair too: verify must keep only true near-dups
    pairs = spark.createDataFrame(
        sorted(cands | {(0, 3)}), "id_a long, id_b long"
    )
    kept = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in verify_pairs_hamming(pairs, sig, max_distance=3).collect()}
    assert kept[(0, 1)] == 0
    assert (0, 3) not in kept  # far doc rejected by the exact distance
    for (a, b), h in kept.items():
        assert h == bin(sh[a] ^ sh[b]).count("1") <= 3


def test_connected_components_chain_iterations(spark):
    """Min-label propagation + pointer jumping over a 5-node chain:
    converges in ~log2(diameter) propagating rounds (2 here) + 1 no-change
    round, and edges lineage is truncated (localCheckpoint) so rounds don't
    replay the pair pipeline."""
    from blogparser_spark.dataops.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    stats: dict = {}
    comps = {r["node"]: r["component"]
             for r in connected_components(pairs, stats=stats).collect()}
    assert comps == {i: 0 for i in range(5)}
    # pointer jumping: strictly fewer rounds than the diameter-bound 5
    assert stats["iterations"] == 3
def test_degenerate_corpus_bounded_buckets(spark):
    """All-identical corpus: one LSH bucket holds every doc. The bucket
    report must stay bounded (ids capped, exact n_docs), chained pairs must
    still connect everything, and clustering must keep exactly one
    survivor."""
    from blogparser_spark.dataops.dedup import (
        BUCKET_IDS_CAP,
        lsh_candidate_pairs,
        minhash_lsh_candidates,
        near_dup_clusters,
        simhash_band_candidates,
    )

    n = BUCKET_IDS_CAP + 50
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    buckets = minhash_lsh_candidates(df).collect()
    assert buckets, "identical docs must share buckets"
    for b in buckets:
        assert b["n_docs"] == n  # exact count survives the cap
        assert len(b["ids"]) == BUCKET_IDS_CAP  # bounded roster
        assert b["ids"] == sorted(b["ids"])

    for b in simhash_band_candidates(df).collect():
        assert b["n_docs"] == n
        assert len(b["ids"]) == BUCKET_IDS_CAP

    # lag-chained pairs: exactly the consecutive chain, all docs connected
    pairs = lsh_candidate_pairs(df).collect()
    assert len(pairs) == n - 1
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(i, i + 1) for i in range(n - 1)}

    clusters = near_dup_clusters(df).collect()
    assert len(clusters) == n
    assert sum(1 for r in clusters if r["keep"]) == 1
    assert all(r["component"] == 0 for r in clusters)


def test_simhash_near_dup_clusters(spark):
    """Hamming-verified pairs cluster; the far document stays out even
    though it may share a half-band; survivor = min id per component."""
    from blogparser_spark.dataops.dedup import simhash_near_dup_clusters

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "completely different text about other topics entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats: dict = {}
    out = {r["doc_id"]: r
           for r in simhash_near_dup_clusters(df, max_distance=3, stats=stats).collect()}
    assert out[0]["component"] == out[1]["component"]
    assert out[0]["keep"] is True and out[1]["keep"] is False
    assert 3 not in out  # never paired within distance 3
    assert stats["iterations"] >= 1


# --------------------------------------------------- product quantization ---


def test_pq_train_shapes_and_determinism(spark):
    from blogparser_spark.dataops.similarity import pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb1 = pq_train(emb, m=4, ksub=8, iters=1)
    cb2 = pq_train(emb, m=4, ksub=8, iters=1)
    assert cb1 == cb2  # fully deterministic: init, assignment, round-6 means
    assert len(cb1) == 4 * 8
    assert all(len(cw) == 16 for _, _, cw in cb1)  # dim 64 / m 4
    # at least one codeword moved off its init vector (the Lloyd round did work)
    init = {
        (s, int(r["vec_id"])): [float(x) for x in r["embedding"]][s * 16 : (s + 1) * 16]
        for r in emb.filter(F.col("vec_id") < 8).collect()
        for s in range(4)
    }
    assert any(cb != [round(x, 6) for x in init[(s, c)]] for s, c, cb in cb1)


def test_pq_encode_and_adc_topk_match_python_oracle(spark):
    """ADC distances recomputed purely in numpy from the SAME codebook must
    reproduce the Spark pipeline exactly (round-6 LUT terms, round-6 sums,
    ascending-distance lowest-nid order, self excluded)."""
    import numpy as np

    from blogparser_spark.dataops.similarity import (
        _pq_assign_codes,
        _pq_codebook_np,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    enc = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb).collect()}
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64).reshape(
        len(rows), 4, 16
    )
    C = _pq_codebook_np(cb)
    codes = _pq_assign_codes(C, V)
    assert all((codes[i] == enc[int(ids[i])]).all() for i in range(len(ids)))
    assert codes.max() < 8 and codes.min() >= 0

    got = pq_adc_topk(emb, cb, n_queries=3, k=4).collect()
    want = []
    for qi in range(3):
        qs = V[ids == qi][0]
        lut = np.empty((4, 8))
        for s in range(4):
            q2 = qs[s] @ qs[s]
            c2 = np.einsum("ij,ij->i", C[s], C[s])
            lut[s] = np.round(q2 + c2 - 2.0 * (C[s] @ qs[s]), 6)
        d = np.round(lut[np.arange(4)[None, :], codes].sum(axis=1), 6)
        cand = [(float(d[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != qi]
        for rank, (dist, nid) in enumerate(sorted(cand)[:4], 1):
            want.append((qi, rank, nid, dist))
    assert sorted((r["qid"], r["rank"], r["nid"], r["adist"]) for r in got) == sorted(
        want
    )


def test_pq_train_keeps_codeword_for_emptied_cell(spark):
    """A degenerate corpus (every vector identical) assigns everything to
    code 0 per subspace; codes 1..ksub-1 lose all members and must keep
    their init codewords rather than vanish or zero out."""
    from blogparser_spark.dataops.similarity import pq_train

    rows = [(i, [1.0, 2.0] * 4) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(df, m=2, ksub=4, iters=1)
    assert len(cb) == 2 * 4
    # all init vectors identical -> every codeword survives as that vector
    assert all(cw == [1.0, 2.0, 1.0, 2.0] for _, _, cw in cb)


def test_ivfpq_topk_composes_cells_and_codes(spark):
    """IVF-PQ = own-cell probe scored by ADC codes: every hit must share
    the query's coarse cell, and distances must equal the pure-numpy
    recompute of LUT sums over that cell's members."""
    import numpy as np

    from blogparser_spark.dataops.similarity import (
        _pq_assign_codes,
        _pq_codebook_np,
        assign_ivf_cells,
        ivfpq_topk,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = ivfpq_topk(emb, n_queries=3, k=4, n_cells=4, m=4, ksub=8).collect()
    cells = {
        r["vec_id"]: r["cell"] for r in assign_ivf_cells(emb, n_cells=4).collect()
    }
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64).reshape(
        len(rows), 4, 16
    )
    C = _pq_codebook_np(cb)
    codes = _pq_assign_codes(C, V)

    for r in got:
        assert cells[r["nid"]] == cells[r["qid"]]
    want = []
    for qi in range(3):
        qs = V[ids == qi][0]
        lut = np.empty((4, 8))
        for s in range(4):
            c2 = np.einsum("ij,ij->i", C[s], C[s])
            lut[s] = np.round(qs[s] @ qs[s] + c2 - 2.0 * (C[s] @ qs[s]), 6)
        d = np.round(lut[np.arange(4)[None, :], codes].sum(axis=1), 6)
        cand = [
            (float(d[i]), int(ids[i]))
            for i in range(len(ids))
            if ids[i] != qi and cells[int(ids[i])] == cells[qi]
        ]
        for rank, (dist, nid) in enumerate(sorted(cand)[:4], 1):
            want.append((qi, rank, nid, dist))
    assert sorted((r["qid"], r["rank"], r["nid"], r["adist"]) for r in got) == sorted(
        want
    )


def test_cross_doc_span_stats(spark):
    """An 8-token span shared verbatim by two docs must flag exactly those
    span positions in both docs; a doc with no shared span reports 0; a
    doc shorter than the window reports 0 spans. Within-doc repeats of a
    span that exists nowhere else must NOT count (cross-DOC duplication,
    count(distinct doc))."""
    from blogparser_spark.dataops.dedup import cross_doc_span_stats

    shared = "a b c d e f g h"
    rows = [
        (0, shared + " tail0 x0 y0"),           # 4 spans, 1 shared
        (1, "head1 " + shared + " z1"),         # 3 spans, 1 shared
        (2, "u v w p q r s t nine ten"),        # 3 spans, none shared
        (3, "too short"),                       # 0 spans
        (4, "m n o m n o m n o m n o m n o m"), # self-repeats only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in cross_doc_span_stats(df, w=8).collect()}
    assert (got[0]["n_spans"], got[0]["n_dup_spans"]) == (4, 1)
    assert (got[1]["n_spans"], got[1]["n_dup_spans"]) == (3, 1)
    assert (got[2]["n_spans"], got[2]["n_dup_spans"]) == (3, 0)
    assert (got[3]["n_spans"], got[3]["n_dup_spans"]) == (0, 0)
    assert got[3]["dup_span_frac"] == 0.0
    # doc 4: 9 spans, all period-3 repeats of each other, but no OTHER doc
    # holds them -> not cross-doc duplicated
    assert got[4]["n_spans"] == 9 and got[4]["n_dup_spans"] == 0
    assert got[0]["dup_span_frac"] == 0.25


# ---------------------------------------------------------- segment dedup ---


def test_segment_dedup_first_keeper(spark):
    from blogparser_spark.dataops.dedup import (
        segment_dedup_flags,
        segment_dedup_reassemble,
    )

    seg_a = "alpha beta gamma delta"  # 4-word segments (width=4)
    seg_b = "one two three four"
    rows = [
        (0, f"{seg_a} {seg_b}"),          # both segments first here
        (1, f"{seg_b} unique words here"),  # seg_b duplicated from doc 0
        (2, seg_a),                        # fully duplicated -> nothing kept
        (3, ""),                           # empty text -> one empty segment
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flags = {
        (r["doc_id"], r["seg"]): r["keep"]
        for r in segment_dedup_flags(df, width=4).collect()
    }
    assert flags[(0, 0)] and flags[(0, 1)]
    assert not flags[(1, 0)] and flags[(1, 1)]
    assert not flags[(2, 0)]
    assert flags[(3, 0)]  # '' first occurs at doc 3

    out = {r["doc_id"]: r for r in segment_dedup_reassemble(df, width=4).collect()}
    assert out[0]["clean_text"] == f"{seg_a} {seg_b}" and out[0]["n_kept"] == 2
    assert out[1]["clean_text"] == "unique words here" and out[1]["n_kept"] == 1
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[3]["n_segs"] == 1 and out[3]["clean_text"] == ""


def test_segment_dedup_degenerate_boilerplate(spark):
    """Every doc is the same segment: min(struct) first-keeper combines
    map-side, and exactly one global survivor remains."""
    from blogparser_spark.dataops.dedup import segment_dedup_reassemble

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit("same old boiler plate").alias("text")
    )
    out = segment_dedup_reassemble(df, width=4)
    kept = out.agg(F.sum("n_kept")).collect()[0][0]
    assert kept == 1
    first = out.filter(F.col("doc_id") == 0).collect()[0]
    assert first["clean_text"] == "same old boiler plate"


# --------------------------------------------------- bigram-LM scoring ---


def test_lm_scores_hand_example(spark):
    import math

    from blogparser_spark.dataops import lm

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lm.lm_quality_scores(df).collect()}
    # V=3; c1(a)=3, c1(b)=1; P(b|a)=(2+1)/(3+3), P(a|b)=(1+1)/(1+3), P(c|a)=(1+1)/(3+3)
    lp_ab = round(math.log(3 / 6), 6)
    lp_ba = round(math.log(2 / 4), 6)
    lp_ac = round(math.log(2 / 6), 6)
    d1_avg = round((2 * lp_ab + lp_ba) / 3, 6)
    assert got[1]["n_bigrams"] == 3
    assert got[1]["avg_logprob"] == d1_avg
    assert got[1]["ppl"] == round(math.exp(-(2 * lp_ab + lp_ba) / 3), 6)
    assert got[2]["n_bigrams"] == 1
    assert got[2]["avg_logprob"] == lp_ac
    # single-token / empty docs produce no bigrams -> absent
    df2 = spark.createDataFrame([(3, "solo"), (4, "")], "doc_id long, text string")
    assert lm.lm_quality_scores(df2).count() == 0


def test_lm_scores_unseen_bigrams_via_smoothing(spark):
    import math

    from blogparser_spark.dataops import lm
    from pyspark.sql import functions as F

    train = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    stream = lm.doc_token_stream(train)
    bg = lm.doc_bigrams(stream)
    c2, c1 = lm.bigram_lm(bg)
    vocab = stream.agg(F.countDistinct("w").cast("bigint").alias("vocab"))  # V=2
    held = spark.createDataFrame([(9, "b b z")], "doc_id long, text string")
    hbg = lm.doc_bigrams(lm.doc_token_stream(held))
    got = lm.score_with_lm(hbg, c2, c1, vocab).collect()[0]
    # (b,b): cnt2=0, c1(b)=1 -> ln(1/3); (b,z): cnt2=0, c1(b)=1 -> ln(1/3)
    lp = round(math.log(1 / 3), 6)
    assert got["n_bigrams"] == 2
    assert got["avg_logprob"] == round((lp + lp) / 2, 6)


def test_srp_signatures_shape_and_determinism(emb):
    from blogparser_spark.dataops.similarity import srp_band_values

    sig = srp_band_values(emb, dim=16).collect()
    assert len(sig) == 40 * 4  # n_bands rows per vector
    assert all(0 <= r["band_val"] < 16 for r in sig)  # 4-bit band packing
    again = srp_band_values(emb, dim=16).collect()
    assert sorted(map(tuple, sig)) == sorted(map(tuple, again))


def test_srp_similar_vectors_share_bands(spark):
    from blogparser_spark.dataops.similarity import srp_band_values

    # a near-identical pair must agree on every band; an orthogonal pair
    # is (with these hyperplanes) distinguishable on at least one band
    rows = [
        (0, [1.0, 0.2, -0.3, 0.7] * 4),
        (1, [1.001, 0.2, -0.3, 0.7] * 4),
        (2, [-1.0, 5.0, 0.3, -0.7] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sig = {(r["vec_id"], r["band_idx"]): r["band_val"]
           for r in srp_band_values(df, dim=16).collect()}
    assert all(sig[(0, b)] == sig[(1, b)] for b in range(4))
    assert any(sig[(0, b)] != sig[(2, b)] for b in range(4))


def test_srp_pairs_bounded_on_degenerate_corpus(spark):
    from blogparser_spark.dataops.similarity import (
        srp_candidate_pairs,
        srp_verified_pairs,
    )

    # every vector identical -> one bucket per band; chained pairs stay
    # linear (n-1), never the quadratic all-pairs blowup
    rows = [(i, [0.5, -0.25, 1.0, 0.125] * 4) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = srp_candidate_pairs(df).collect()
    assert len(pairs) == 29
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    verified = srp_verified_pairs(df, threshold=0.9).collect()
    assert len(verified) == 29
    assert all(r["cos_sim"] == 1.0 for r in verified)


def test_srp_verify_rejects_false_positives(spark):
    from blogparser_spark.dataops.similarity import srp_verified_pairs

    # ids 0/1 near-identical (always bucketed together, cos ~1); id 2 is a
    # decoy that may share a band by chance but can never pass the verify
    rows = [
        (0, [1.0, 0.2, -0.3, 0.7] * 4),
        (1, [1.001, 0.2, -0.3, 0.7] * 4),
        (2, [-1.0, -0.2, 0.3, -0.7] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["id_a"], r["id_b"]): r["cos_sim"]
           for r in srp_verified_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in out and out[(0, 1)] >= 0.999
    assert all(2 not in k for k in out)


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from blogparser_spark.dataops.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple apple banana"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["score"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }

    def idf(df_):
        return round(math.log(4.0 / (df_ + 1.0)) + 1.0, 6)

    # doc 0: apple tf=2 df=1 beats banana tf=1 df=2
    assert out[(0, 1)] == ("apple", 2, round(2 * idf(1), 6))
    assert out[(0, 2)] == ("banana", 1, round(1 * idf(2), 6))
    # doc 1: equal tf=1, df=2 for both -> tie broken by term asc
    assert out[(1, 1)][0] == "banana" and out[(1, 2)][0] == "cherry"
    # doc 2: cherry tf=3 dominates; durian df=1 outranks nothing else
    assert out[(2, 1)] == ("cherry", 3, round(3 * idf(2), 6))
    assert out[(2, 2)] == ("durian", 1, round(1 * idf(1), 6))


def test_srp_near_dup_clusters_end_to_end(spark):
    from blogparser_spark.dataops.similarity import srp_near_dup_clusters

    # two tight clusters + an isolated vector (never clustered)
    rows = [
        (0, [1.0, 0.2, -0.3, 0.7] * 4),
        (1, [1.001, 0.2, -0.3, 0.7] * 4),
        (2, [0.999, 0.201, -0.3, 0.7] * 4),
        (10, [-1.0, 5.0, 0.3, -0.7] * 4),
        (11, [-1.001, 5.0, 0.3, -0.7] * 4),
        (20, [0.0, 0.0, 1.0, 0.0] * 4),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["component"], r["keep"])
           for r in srp_near_dup_clusters(df, threshold=0.9).collect()}
    assert out[0] == (0, True) and out[1] == (0, False) and out[2] == (0, False)
    assert out[10] == (10, True) and out[11] == (10, False)
    assert 20 not in out  # isolated vectors never enter the edge set


def test_fk_orphans_and_null_profile(spark):
    from blogparser_spark.dataops.profile import fk_audit, null_blank_profile

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 3), (13, None)], "id long, fk long"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fk_audit([])
    audit = {
        r["relation"]: (r["n_child"], r["n_orphans"], r["orphan_frac"])
        for r in fk_audit([(child, parent, "fk", "pk", "c->p")]).collect()
    }
    # fk=3 has no parent; fk=NULL never matches a key -> both orphaned
    assert audit["c->p"] == (4, 2, 0.5)

    prof = {
        r["col"]: (r["n_rows"], r["n_null"], r["n_blank"])
        for r in null_blank_profile(
            spark.createDataFrame(
                [("a", 1.0), ("", None), (None, 3.0), ("  ", 4.0)],
                "s string, v double",
            ),
            ["s", "v"],
        ).collect()
    }
    assert prof["s"] == (4, 1, 2)  # "" and "  " are blank, None is null
    assert prof["v"] == (4, 1, 0)  # non-string: blanks always 0


def test_winnowing_guarantee_and_stop_fingerprints(spark):
    """Schleimer et al.'s core guarantee: two documents sharing a substring
    of length >= k + w - 1 MUST share a fingerprint; the df-cap drops
    corpus-wide boilerplate prints; disjoint docs share nothing."""
    from blogparser_spark.dataops.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    shared = "zqxjkvbnmwpfhdlg retcopied segment here"  # >= k+w-1 = 11 chars
    docs = spark.createDataFrame(
        [
            (0, f"alpha opening words {shared} alpha tail piece"),
            (1, f"totally different head {shared} other ending text"),
            (2, "no overlap whatsoever in this one qwertyuiop zxcvbnm"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=8, w=4)
    by_doc = {
        i: {r["fingerprint"] for r in fp.filter(F.col("doc_id") == i).collect()}
        for i in range(3)
    }
    assert by_doc[0] & by_doc[1]  # the guarantee
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])

    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(docs, min_shared=1, k=8, w=4).collect()
    }
    assert set(pairs) == {(0, 1)} and pairs[(0, 1)] >= 1

    # stop rule: a print present in EVERY doc dies at df_cap below corpus size
    many = spark.createDataFrame(
        [(i, f"unique{i}padding {shared} trailer{i}") for i in range(6)],
        "doc_id long, text string",
    )
    capped = winnow_overlap_pairs(many, min_shared=1, k=8, w=4, df_cap=3)
    shared_only = winnow_overlap_pairs(many, min_shared=1, k=8, w=4, df_cap=10)
    assert shared_only.count() == 15  # all C(6,2) pairs share the segment
    assert capped.count() < 15  # ubiquitous prints suppressed


def test_compression_ratio_matches_twin_and_orders_redundancy(spark):
    from blogparser_spark.dataops.textstats import (
        compression_ratio_py,
        with_compression_ratio,
    )

    docs = spark.createDataFrame(
        [
            (0, "spam spam " * 200),                      # highly repetitive
            (1, "The quick brown fox jumps over the lazy dog. " * 5),
            (2, "k8Jq2#xZ!mP9$vL@4sW^7nB&1cY*6hT(3gR)"),  # noise-like
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["compression_ratio"], r["text"])
           for r in with_compression_ratio(docs).collect()}
    for i, (ratio, text) in out.items():
        assert ratio == compression_ratio_py(text), i  # byte-exact twin
    assert out[0][0] < out[1][0] < out[2][0]  # redundancy ordering
    assert out[3][0] == 1.0 and out[4][0] == 1.0


def test_prefix_filter_pairs_complete_vs_brute_force(spark):
    # controlled corpus: near-dups, partial overlaps, and disjoint docs
    texts = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta zeta"),       # J=4/6 with 0
        (2, "alpha beta gamma delta epsilon"),    # J=1 with 0
        (3, "omega psi chi phi"),
        (4, "omega psi chi phi upsilon tau"),     # J=4/6 with 3
        (5, "one two three four five six"),
        (6, "seven eight nine ten"),
        (7, "alpha omega one seven unique1 unique2 unique3 unique4"),
    ]
    from blogparser_spark.dataops import dedup

    df = spark.createDataFrame(texts, "doc_id long, text string")
    t = 0.5
    got = {
        (r.id_a, r.id_b): r
        for r in dedup.prefix_filter_pairs(df, threshold=t).collect()
    }
    import itertools

    sets = {i: set(s.split()) for i, s in texts}
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            continue
        j = inter / len(sets[a] | sets[b])
        if j >= t:
            expect[(a, b)] = (inter, j)
    assert set(got) == set(expect)   # COMPLETE: prefix filter loses nothing
    for k, (inter, j) in expect.items():
        assert got[k].n_shared == inter
        assert got[k].jaccard == pytest.approx(round(j, 6))
        assert got[k].sz_a == len(sets[k[0]]) and got[k].sz_b == len(sets[k[1]])


def test_prefix_filter_pairs_brute_force_on_corpus(docs):
    from blogparser_spark.dataops import dedup

    # full brute-force twin on the real fixture corpus at a high threshold
    t = 0.7
    got = {(r.id_a, r.id_b) for r in dedup.prefix_filter_pairs(docs, threshold=t).collect()}
    rows = docs.select("doc_id", "text").collect()
    sets = {r.doc_id: {x for x in r.text.split(" ") if x} for r in rows}
    import itertools

    expect = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if sa and sb and len(sa & sb) / len(sa | sb) >= t:
            expect.add((a, b))
    assert got == expect


def test_hard_negative_topk_excludes_dups_exactly(spark):
    from blogparser_spark.dataops.similarity import (
        brute_force_topk,
        hard_negative_topk,
    )

    # 3 queries; give query 0 two near-copies (sim ~1) that must vanish
    import random

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    base[20] = [v * 1.001 for v in base[0]]   # near-copy of vec 0
    base[21] = [v * 0.999 for v in base[0]]   # near-copy of vec 0
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    hard = hard_negative_topk(df, n_queries=3, k=5, dup_threshold=0.95)
    got = {(r.qid, r.rank): (r.nid, r.sim) for r in hard.collect()}
    assert all(sim < 0.95 for _, sim in got.values())
    nids_q0 = {nid for (q, _), (nid, _) in got.items() if q == 0}
    assert not {20, 21} & nids_q0

    # exactness: equals the join-based all-pairs top-k filtered the same way
    from pyspark.sql import Window as W

    allp = brute_force_topk(df, n_queries=3, k=40)  # k >= corpus: all pairs
    want_rows = (
        allp.filter(F.col("sim") < 0.95)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
            ),
        )
        .filter(F.col("rk") <= 5)
        .collect()
    )
    want = {(r.qid, r.rk): (r.nid, r.sim) for r in want_rows}
    assert got == want


def test_round_robin_interleave_is_true_round_robin(spark):
    from blogparser_spark.dataops.curation import round_robin_interleave

    rows = [(i, ["a", "b", "c"][min(i % 5, 2)]) for i in range(37)]  # skewed
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = round_robin_interleave(df, "src", "doc_id").collect()
    assert len(out) == len(rows)
    pos = sorted(r.global_pos for r in out)
    assert pos == list(range(len(rows)))  # exact permutation, no global sort
    # global_pos order == lexicographic (rank_in_source, source) order
    by_pos = sorted(out, key=lambda r: r.global_pos)
    keys = [(r.rank_in_source, r.src) for r in by_pos]
    assert keys == sorted(keys)
    # the first layer holds one row from each source, in name order
    assert [r.src for r in by_pos[:3]] == ["a", "b", "c"]


def test_gopher_flags_rule_bank(spark):
    from blogparser_spark.dataops.textstats import gopher_flags

    good = " ".join(["alpha beta gamma delta epsilon"] * 12)  # 60 words, stopword-free
    rows = [
        # passes everything except stopwords (none of the 8 present)
        (1, good),
        # word count too low
        (2, "tiny doc with the and of that"),
        # symbol ratio: >10% '#' marks (but still >80% alpha words)
        (3, good + " " + " ".join(["#"] * 10) + " the of"),
        # alpha fraction: a third of the words carry no letter at all
        (8, good + " " + " ".join(["123"] * 30) + " the of"),
        # bullet-heavy: >90% of lines are bullets
        (4, "\n".join(["- item one two"] * 20) + "\nthe of " + good),
        # ellipsis-heavy: every other line trails off
        (5, "\n".join(["trailing words..."] * 10) + "\nthe of " + good),
        # mean word length too long (hex blobs)
        (6, " ".join(["abcdefabcdefabcdef"] * 60) + " the of"),
        # full pass: long enough, stopwords, clean lines
        (7, good + " the of and be"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_flags(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["pass_word_count"] and not out[1]["pass_stopwords"]
    assert not out[1]["gopher_pass"]
    assert not out[2]["pass_word_count"]
    assert not out[3]["pass_symbol_ratio"] and out[3]["pass_alpha"]
    assert not out[8]["pass_alpha"]
    assert not out[4]["pass_bullet"]
    assert out[4]["bullet_line_frac"] > 0.9
    assert not out[5]["pass_ellipsis"]
    assert not out[6]["pass_mean_word_len"]
    assert out[7]["gopher_pass"]
    assert out[7]["n_stop_hits"] >= 2


def test_k_anonymity_audit_counts(spark):
    from blogparser_spark.dataops.profile import k_anonymity_audit, k_anonymity_groups

    # qid (seg): A has 6 distinct users (safe at k=5), B has 2 (risky),
    # C has rows from only 1 user repeated (risky).
    rows = (
        [("A", u) for u in range(6)]
        + [("B", 100), ("B", 101), ("B", 100)]
        + [("C", 200)] * 4
    )
    df = spark.createDataFrame(rows, "seg string, user_id long")
    groups = {r["seg"]: r for r in k_anonymity_groups(df, ["seg"], "user_id").collect()}
    assert not groups["A"]["at_risk"]
    assert groups["B"]["at_risk"] and groups["B"]["n_ids"] == 2
    assert groups["C"]["at_risk"] and groups["C"]["n_rows"] == 4

    audit = k_anonymity_audit(df, ["seg"], "user_id", k=5).collect()[0]
    assert audit["n_groups"] == 3
    assert audit["n_risky_groups"] == 2
    assert audit["n_rows_at_risk"] == 7
    assert audit["n_rows"] == 13
    assert audit["min_group_ids"] == 1
    assert abs(audit["risky_row_frac"] - round(7 / 13, 6)) < 1e-9

    # global audit (no `by`) must agree with the per-slice one summed
    per = k_anonymity_audit(df, ["seg"], "user_id", k=5, by="seg").collect()
    assert sum(r["n_rows_at_risk"] for r in per) == 7


def test_k_anonymity_audit_by_outside_qids(spark):
    # a `by` slice that is NOT a quasi-identifier must work: each slice is
    # audited as its own release, QID groups do not span slices
    from blogparser_spark.dataops.profile import k_anonymity_audit

    rows = (
        [("A", "s1", u) for u in range(6)]
        + [("A", "s2", 50)] * 3          # same QID, other slice: risky there
        + [("B", "s1", 100), ("B", "s1", 101)]
    )
    df = spark.createDataFrame(rows, "seg string, src string, user_id long")
    per = {r["src"]: r for r in
           k_anonymity_audit(df, ["seg"], "user_id", k=5, by="src").collect()}
    assert per["s1"]["n_groups"] == 2
    assert per["s1"]["n_risky_groups"] == 1      # B with 2 ids
    assert per["s2"]["n_groups"] == 1
    assert per["s2"]["n_risky_groups"] == 1      # A-in-s2 has 1 id
    assert per["s2"]["n_rows_at_risk"] == 3


def test_winnowing_guarantee_randomized(spark):
    """The per-window argmin rule must honor the k+w-1 guarantee on EVERY
    input — the earlier keep-if-min-of-forward-window rule failed ~1% of
    random planted-overlap trials (a smaller hash later in the doc hid a
    true window minimum)."""
    import random as _r

    from blogparser_spark.dataops.dedup import winnow_fingerprints

    rng = _r.Random(20260819)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    rows = []
    for t in range(60):
        shared = "".join(rng.choice(alpha) for _ in range(11))  # k+w-1
        pre_a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        suf_a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        pre_b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        suf_b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        rows.append((2 * t, pre_a + shared + suf_a))
        rows.append((2 * t + 1, pre_b + shared + suf_b))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc: dict[int, set] = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    missing = [
        t
        for t in range(60)
        if not (by_doc.get(2 * t, set()) & by_doc.get(2 * t + 1, set()))
    ]
    assert missing == []


def test_conv_exact_dup_groups(spark):
    from blogparser_spark.dataops.dedup import (
        conv_exact_dup_groups,
        conv_fingerprints,
    )

    rows = [
        # c1 and c3: identical turn sequences (order-normalized) → one group
        ("c1", 0, "hello"), ("c1", 1, "world"),
        ("c3", 1, "world"), ("c3", 0, "hello"),  # shuffled input order
        # c2: same texts, DIFFERENT order → different fingerprint
        ("c2", 0, "world"), ("c2", 1, "hello"),
        # c4: unique
        ("c4", 0, "solo"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    fps = {r["conv_id"]: r["conv_fp"] for r in conv_fingerprints(df).collect()}
    assert fps["c1"] == fps["c3"]           # order-insensitive to INPUT order
    assert fps["c1"] != fps["c2"]           # sensitive to TURN order
    groups = conv_exact_dup_groups(df).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_convs"] == 2 and g["survivor"] == "c1" and g["n_turns"] == 2
    # turn-boundary aliasing: ("ab","c") must differ from ("a","bc")
    alias = spark.createDataFrame(
        [("x", 0, "ab"), ("x", 1, "c"), ("y", 0, "a"), ("y", 1, "bc")],
        "conv_id string, turn_idx int, text string",
    )
    afps = {r["conv_id"]: r["conv_fp"] for r in conv_fingerprints(alias).collect()}
    assert afps["x"] != afps["y"]


def test_conv_fingerprints_null_turn_not_dropped(spark):
    """array_join drops NULL elements AND their separators — a NULL turn
    must take the chr(0) sentinel so a conversation differing only by a
    NULL-text turn never collides with one that lacks the turn."""
    from blogparser_spark.dataops.dedup import conv_fingerprints

    rows = [
        ("a", 0, "hi"), ("a", 1, None), ("a", 2, "bye"),
        ("b", 0, "hi"), ("b", 1, "bye"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    fps = {r["conv_id"]: r["conv_fp"] for r in conv_fingerprints(df).collect()}
    assert fps["a"] != fps["b"]


def test_semantic_dedup_keep_rule(emb):
    """SemDeDup: exactly one keep per duplicate group, and it is the
    member LEAST similar to its cluster centroid (lowest cell_sim, id
    tie-break); singletons never appear (implicitly kept)."""
    from blogparser_spark.dataops.similarity import semantic_dedup

    out = semantic_dedup(emb, threshold=0.2, n_cells=4).collect()
    assert out, "fixture must produce at least one duplicate group"
    groups: dict[int, list] = {}
    for r in out:
        groups.setdefault(r["component"], []).append(r)
    all_ids = {r["vec_id"] for r in out}
    assert len(all_ids) == len(out)  # one row per member
    for comp, members in groups.items():
        assert len(members) >= 2  # singletons never pair
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1
        want = min(members, key=lambda m: (m["cell_sim"], m["vec_id"]))
        assert keeps[0]["vec_id"] == want["vec_id"]
        assert comp == min(m["vec_id"] for m in members)


def test_int8_quant_audit_bounds(emb):
    """Quantization error is bounded by half a step per dimension:
    max_abs_err <= max(scale)/2 + eps, cosine stays near 1, and a corpus
    whose values all fit the scale reconstructs within tolerance."""
    from blogparser_spark.dataops.similarity import int8_quant_audit

    rows = int8_quant_audit(emb).collect()
    assert len(rows) == 40
    # bound: per-dim |err| <= s_d/2; global bound via the largest scale
    import math

    vals = [
        x
        for r in emb.select("embedding").collect()
        for x in r["embedding"]
    ]
    absmax = max(abs(v) for v in vals)
    step = max(absmax / 127, 1e-12)
    for r in rows:
        assert r["max_abs_err"] <= step / 2 + 1e-9
        assert r["mse"] <= (step / 2) ** 2 + 1e-9
        assert r["cos_recon"] > 0.999


def test_pq_rerank_topk_subset_and_exact_when_shortlist_covers(spark):
    """Two-stage rerank: (a) results are drawn from the ADC shortlist and
    re-ordered by exact L2; (b) with a shortlist covering the whole
    corpus, the rerank equals the exact-L2 top-k computed by a numpy
    twin — the quantization error is fully undone."""
    import numpy as np

    from blogparser_spark.dataops.similarity import (
        pq_adc_topk,
        pq_rerank_topk,
        pq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    k, mult = 3, 4
    short = {
        (r.qid, r.nid)
        for r in pq_adc_topk(emb, cb, n_queries=3, k=k * mult).collect()
    }
    rr = pq_rerank_topk(emb, cb, n_queries=3, k=k, shortlist_mult=mult)
    rows = rr.collect()
    assert {(r.qid, r.nid) for r in rows} <= short
    # full-coverage shortlist == exact top-k
    n = emb.count()
    full = pq_rerank_topk(
        emb, cb, n_queries=3, k=k, shortlist_mult=(n + k - 1) // k
    ).collect()
    vecs = {
        int(r["vec_id"]): np.asarray(list(r["embedding"]), dtype=np.float64)
        for r in emb.collect()
    }
    for qid in range(3):
        d = {
            nid: round(
                float(
                    vecs[qid] @ vecs[qid]
                    + vecs[nid] @ vecs[nid]
                    - 2 * (vecs[qid] @ vecs[nid])
                ),
                6,
            )
            for nid in vecs
            if nid != qid
        }
        exp = sorted(d, key=lambda nid: (d[nid], nid))[:k]
        got = [r.nid for r in sorted(full, key=lambda r: r.rank) if r.qid == qid]
        assert got == exp, qid


def test_pq_rerank_plan_broadcasts_shortlist(spark):
    """Stage 2 must fetch shortlist vectors via broadcast hash joins (the
    corpus side never shuffles) and rank in a per-query window."""
    from blogparser_spark.dataops.similarity import pq_rerank_topk, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    plan = (
        pq_rerank_topk(emb, cb, n_queries=3, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2  # shortlist + query dims
    assert "SortMergeJoin" not in plan


def test_l_diversity_audit_counts(spark):
    """Distinct l-diversity: a homogeneous QID group flags at_risk, rows
    roll up per release slice, min_diversity reports the worst group."""
    from blogparser_spark.dataops.profile import l_diversity_audit

    rows = (
        [("a", 1, i % 5) for i in range(10)]       # diverse: 5 values
        + [("b", 1, 7)] * 6                        # homogeneous: 1 value
        + [("b", 2, i % 2) for i in range(4)]      # 2 values
    )
    df = spark.createDataFrame(rows, ["seg", "sub", "diag"])
    out = {r.seg: r for r in l_diversity_audit(
        df, ["seg", "sub"], "diag", l_min=3, by="seg").collect()}
    assert out["a"].n_risky_groups == 0 and out["a"].min_diversity == 5
    assert out["b"].n_groups == 2 and out["b"].n_risky_groups == 2
    assert out["b"].n_rows_at_risk == 10 and out["b"].min_diversity == 1
    assert abs(out["b"].risky_row_frac - 1.0) < 1e-9


def test_domain_excess_reweight_properties(spark):
    """Weights are a proper distribution, harder domains (lower mean
    logprob) weigh more, and planned tokens track the budget."""
    from blogparser_spark.dataops.lm import domain_excess_reweight

    rows = [(i, "easy", "a b a b a b") for i in range(10)] + [
        (100 + i, "hard", f"z{i} q{i} x{i} y{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.domain: r for r in domain_excess_reweight(
        df, eta=1, budget_tokens=1000).collect()}
    assert set(out) == {"easy", "hard"}
    assert abs(out["easy"].weight + out["hard"].weight - 1.0) < 2e-6
    assert out["hard"].dom_logprob < out["easy"].dom_logprob  # harder
    assert out["hard"].excess > 0 > out["easy"].excess
    assert out["hard"].weight > out["easy"].weight            # upweighted
    total = out["easy"].planned_tokens + out["hard"].planned_tokens
    assert abs(total - 1000) <= 2  # rounding slack only
