"""Physical-plan assertions — the scale contract, checked in CI:
ONE Python boundary in the parse stage, no join or exchange for the
transcript dims, broadcast (not shuffle) joins for table dims, parquet
filter pushdown, table reads that stay one scan after deletes."""

from __future__ import annotations


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_python_boundary_in_pipeline(spark, transcripts):
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.parse import parse_stage

    plan = _plan(enrich(parse_stage(transcripts)))
    assert plan.count("ArrowEvalPython") == 1, (
        "parse must cross JVM↔Python exactly once"
    )


def test_parse_stage_plan_is_one_kernel_and_no_strip_tags_chain(spark, transcripts):
    """parse_stage crosses into Python once and takes the summary, slug,
    status and cleaned lists from the kernel: no strip-tags regex is left
    in the JVM plan, where a status CASE nesting it wrote the chain out
    (and evaluated it) once per reference."""
    from blogparser_spark.operators.parse import parse_stage

    plan = _plan(parse_stage(transcripts))
    assert plan.count("ArrowEvalPython") == 1
    assert "<[^>]+>" not in plan


def test_enrich_adds_no_join_or_exchange(spark, transcripts):
    """The transcript dims are literal-map projections: the parse→enrich
    plan holds no join of any kind and no Exchange, so the fact side never
    moves (not even a broadcast of the dim side)."""
    from blogparser_spark.operators.enrich import enrich
    from blogparser_spark.operators.parse import parse_stage

    plan = _plan(enrich(parse_stage(transcripts)))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_equality_deletes_keep_the_read_plan_linear(spark, tmp_path):
    """A delete rewrites the files it hits instead of writing a delete
    file, so a table read stays ONE scan of the live files however many
    deletes landed: 8 deletes leave a plan with exactly one Relation. A
    key re-appended after its delete survives."""
    from pyspark.sql import functions as F

    from blogparser_spark.operators import tablelog as tl

    t = str(tmp_path / "t")
    tl.append(spark, t, spark.range(0, 40).selectExpr("id", "id % 10 AS k"))
    for k in range(8):
        tl.delete_where(spark, t, F.col("k") == k, ["k"])
        if k == 0:
            tl.append(spark, t, spark.range(100, 101).selectExpr("id", "0L AS k"))
    df = tl.read_snapshot(spark, t)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1
    assert sorted(r.id for r in df.collect()) == [
        i for i in range(40) if i % 10 >= 8
    ] + [100]


def test_parquet_filter_pushdown(spark, sf_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select("l_returnflag", "l_quantity")
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan reads only the 3 needed columns
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate:timestamp" in plan


def test_pos_weight_dim_broadcast(spark):
    """The POS→weight lookup-enrich (W1) must be a broadcast hash join —
    the 6-row dim never shuffles the token-grain fact side."""
    from blogparser_spark.operators.enrich import dim_pos_weight
    from blogparser_spark.operators.summary_bm25 import pos_weighted_tokens

    df = spark.createDataFrame(
        [("d", 0, "これは分散処理の基盤です")],
        "doc string, sent_idx int, sentence string",
    )
    plan = _plan(pos_weighted_tokens(df, dim_pos_weight(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_matmul_shuffles_only_local_topk(spark):
    """brute_force_topk_matmul's window input is the mapInPandas output
    (local top-k rows), never a corpus×queries join — no join operator at
    all in the plan."""
    from blogparser_spark.dataops.similarity import brute_force_topk_matmul

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(brute_force_topk_matmul(emb, 3, 3))
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_bm25_aggregates_are_partial(spark):
    """The BM25 tf aggregation must show a partial_count before the exchange
    (map-side combine) — the property that bounds the shuffle at corpus
    scale."""
    from blogparser_spark.operators.summary_bm25 import bm25_sentence_scores

    df = spark.createDataFrame(
        [("d", 0, "a b c"), ("d", 1, "b c d")],
        "doc string, sent_idx int, sentence string",
    )
    plan = _plan(bm25_sentence_scores(df))
    assert "partial_count" in plan


def test_ivf_partitioned_probe_prunes_and_matches(spark, tmp_path):
    """The IVF-at-scale layout: cell is a WRITE-time partition key; a probe
    must (a) show the cell predicate in the scan's PartitionFilters
    (directory pruning, not per-row filtering) and (b) return the same
    rows as the join-based ivf_topk for the same query."""
    from blogparser_spark.dataops.similarity import (
        ivf_probe_partitioned,
        ivf_topk,
        write_ivf_partitioned,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    layout = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, layout, n_cells=4)

    qid = 8  # a non-centroid corpus vector
    qvec = [float(x) for x in emb.filter(emb.vec_id == qid).collect()[0]["embedding"]]
    probe = ivf_probe_partitioned(
        spark, layout, qvec, k=3, nprobe=1, exclude_id=qid
    )
    plan = _plan(probe)
    scan_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "cell" in scan_line.split("PartitionFilters")[1].split("]")[0]

    got = [(r["nid"], r["sim"]) for r in probe.collect()]
    want = [
        (r["nid"], r["sim"])
        for r in ivf_topk(emb, n_queries=qid + 1, k=3, n_cells=4)
        .filter("qid = 8")
        .orderBy("rank")
        .collect()
    ]
    assert got == want


def test_ivf_refined_layout_consistent(spark, tmp_path):
    """A layout written with refine_iters>0 must store the REFINED
    centroids (the ones assignment used), partition by the refined cells,
    and keep probes self-consistent: every probed row's stored cell is the
    argmax-cosine cell under the stored centroid file."""
    from blogparser_spark.dataops.similarity import (
        ivf_probe_partitioned,
        kmeans_centroids,
        kmeans_refine,
        write_ivf_partitioned,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    layout = str(tmp_path / "ivf_refined")
    write_ivf_partitioned(emb, layout, n_cells=4, refine_iters=2)

    stored = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(f"{layout}/centroids").collect()
    }
    want_cents = dict(kmeans_centroids(emb, n_cells=4, iters=2))
    assert stored == {cid: [float(x) for x in cv] for cid, cv in want_cents.items()}

    corpus_cells = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{layout}/corpus").select("vec_id", "cell").collect()
    }
    want_cells = {r["vec_id"]: r["cell"]
                  for r in kmeans_refine(emb, n_cells=4, iters=2).collect()}
    assert corpus_cells == want_cells

    qid = 8
    qvec = [float(x) for x in emb.filter(emb.vec_id == qid).collect()[0]["embedding"]]
    probe = ivf_probe_partitioned(spark, layout, qvec, k=3, nprobe=2, exclude_id=qid)
    rows = probe.collect()
    assert 0 < len(rows) <= 3
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_pq_adc_shuffles_only_local_topk(spark):
    """pq_adc_topk scores compressed codes via LUT lookups inside
    mapInPandas and ships only local top-k rows to the global window —
    no join operator anywhere in the plan."""
    from blogparser_spark.dataops.similarity import pq_adc_topk, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = pq_train(emb, m=4, ksub=8, iters=1)
    plan = _plan(pq_adc_topk(emb, cb, 3, 3))
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_ivfpq_partitioned_probe_is_pruned_and_codegen_only(spark, tmp_path):
    """The IVF-PQ serving layout: a probe must (a) prune to the probed
    cell's partitions, (b) score codes with NO Python evaluation node —
    map-literal lookups in codegen — and (c) return the same neighbors as
    the inline ivfpq_topk for the same query under nprobe=1."""
    from blogparser_spark.dataops.similarity import (
        ivfpq_probe_partitioned,
        ivfpq_topk,
        write_ivfpq_partitioned,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lay = str(tmp_path / "ivfpq")
    write_ivfpq_partitioned(emb, lay, n_cells=4, m=4, ksub=8)

    qv = [float(x) for x in emb.filter("vec_id = 2").collect()[0]["embedding"]]
    probe = ivfpq_probe_partitioned(spark, lay, qv, k=4, exclude_id=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in plan, plan

    got = [(r["nid"], r["adist"]) for r in probe.collect()]
    inline = ivfpq_topk(emb, n_queries=3, k=4, n_cells=4, m=4, ksub=8)
    want = [
        (r["nid"], r["adist"])
        for r in inline.filter("qid = 2").orderBy("rank").collect()
    ]
    assert got == want


def test_shipping_priority_join_strategy(spark):
    """The Q3-shaped chain must broadcast the filtered dim, hash-join the
    fact-fact edge, and push both date filters into the parquet scans."""
    from blogparser_spark.queries import shipping_priority_topk

    df = shipping_priority_topk(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderdate" in s for s in pushed)
    assert any("l_shipdate" in s for s in pushed)


def test_global_topk_uses_take_ordered_not_full_sort(spark):
    """orderBy+limit must plan as TakeOrderedAndProject (each partition
    forwards only k rows) — the native bounded global top-k; a full Sort
    before the limit would shuffle the whole corpus."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from pyspark.sql import functions as F

    plan = _plan(events.orderBy(F.desc("value"), "event_id").limit(10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_salted_exact_distinct_two_stage(spark):
    """The skew-proof distinct: stage 1 keys on (key, value) — the hot
    key's rows spread over all reducers — stage 2 reduces counts. Both
    aggregates must show partial (map-side) phases."""
    from blogparser_spark.operators.skew import salted_exact_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(salted_exact_distinct(ev, ["event_type"], "user_id"))
    assert "partial_count" in plan
    assert "Window" not in plan


def test_set_overlap_sizes_broadcast(spark):
    """set_overlap_jaccard's size tables are |sets| rows — they must
    broadcast onto the intersection grid, never shuffle it."""
    from blogparser_spark.dataops.graph import set_overlap_jaccard

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(set_overlap_jaccard(ev, "event_type", "user_id"))
    assert plan.count("BroadcastHashJoin") >= 2


def test_inverted_postings_single_key_shuffle_reuse(spark):
    """inverted_postings' row_number window and final agg share the term
    key: after the per-(term, doc) agg there must be exactly ONE more
    exchange (hash on term) feeding both the window and the agg."""
    from blogparser_spark.dataops.textstats import inverted_postings

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(inverted_postings(docs, min_df=2, max_postings=5))
    # explode -> (term,id) agg -> term exchange -> window -> agg: the
    # window's term-hash exchange is the last one; the final groupBy(term)
    # reuses that partitioning (no extra exchange).
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, plan[:2000]


def test_psi_drift_plan_has_no_window(spark):
    # PSI must stay a partial-agg + broadcast shape: a Window over the raw
    # slices would serialize hot groups onto single tasks
    from pyspark.sql import functions as F

    from blogparser_spark.dataops.profile import psi_drift

    df = spark.createDataFrame(
        [("g", i % 8) for i in range(200)], "g string, bin long"
    )
    plan = _plan(psi_drift(df, df, ("g",), "bin", n_bins=8))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # totals ride back as a broadcast


def test_rfm_plan_has_no_global_sort_window(spark):
    # the whole point vs ntile(5): no Window with an empty partition spec
    # ANYWHERE — equi_depth_bounds_global keeps even the boundary
    # computation free of a single-reducer sort (its only partition-less
    # window runs over one row per range shard, spec'd via pmod)
    import re
    from datetime import datetime

    from blogparser_spark.dataops.timeseries import rfm_scores

    df = spark.createDataFrame(
        [(i, datetime(2024, 6, 1, i % 24), i % 11, "view", float(i % 7) + 0.5)
         for i in range(300)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    plan = _plan(rfm_scores(df, 5))
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        head = m.group(1).split(",")[0]
        assert " ASC" not in head and " DESC" not in head, m.group(0)
    # scoring side joins the 4-row boundary tables by broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "ntile" not in plan.lower()


def test_content_fingerprint_plan_single_partial_agg_no_join(spark):
    from blogparser_spark.operators.diff import content_fingerprint

    df = spark.createDataFrame([(i, f"t{i}") for i in range(100)], "id long, t string")
    plan = _plan(content_fingerprint(df, ["id", "t"], 8))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final of ONE agg
    assert "Exchange" in plan  # exactly the slice_id shuffle


def test_hard_negative_plan_is_join_free(spark):
    # same contract as the matmul exact-ANN plan: no join anywhere —
    # candidates flow mapInPandas -> window top-k only
    from blogparser_spark.dataops.similarity import hard_negative_topk

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(hard_negative_topk(df, n_queries=2, k=3, dup_threshold=0.9))
    assert "Join" not in plan
    assert "Window" in plan  # the k-row global merge


def test_round_robin_plan_no_global_window_over_rows(spark):
    # rank_in_source partitions by source; global_pos must come from the
    # closed form (broadcast size array), never row_number over everything
    from blogparser_spark.dataops.curation import round_robin_interleave

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(100)], "doc_id long, src string"
    )
    plan = _plan(round_robin_interleave(df, "src", "doc_id"))
    import re

    # the window that ranks the RAW rows must be partitioned by source
    # (windowspecdefinition's first argument is the partition column)
    assert re.search(r"windowspecdefinition\(src#\d+,", plan), plan[:400]
    # global_pos must come from the closed-form array aggregate over the
    # broadcast size table, never a row_number over the whole row stream:
    # every unpartitioned window in this plan consumes the tiny per-source
    # Aggregate (its rank aliases _we0), not the scan
    for m in re.finditer(
        r"windowspecdefinition\((?!src#\d+,)[^)]*\)\) AS (\w+)", plan
    ):
        assert m.group(1).startswith("_we"), m.group(0)[:120]
    assert "aggregate(" in plan  # the closed-form position expression


def test_bm25_retrieval_plan_contracts(spark):
    """BM25 retrieval: generator-level term filter, broadcast df/stats,
    TakeOrdered top-k — never a global sort or a corpus self-join."""
    from blogparser_spark.dataops.lm import bm25_retrieval

    df = spark.createDataFrame(
        [(i, "hash join scan " * 3) for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(bm25_retrieval(df, ["hash", "join"], top_k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_conv_qa_single_exchange(spark):
    """Role grammar / budget stats: the lag or running-total window and the
    rollup share ONE conv-key exchange."""
    from blogparser_spark.dataops.curation import conv_budget_stats, conv_role_grammar

    df = spark.createDataFrame(
        [("c", i, "user" if i % 2 == 0 else "assistant", "w " * 5) for i in range(8)],
        "conv_id string, turn_idx int, role string, text string",
    )
    for out in (conv_role_grammar(df), conv_budget_stats(df, budget_tokens=10)):
        plan = _plan(out)
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_domain_cap_single_exchange(spark):
    from blogparser_spark.dataops.curation import domain_cap

    df = spark.createDataFrame(
        [(f"s{i % 3}", i) for i in range(30)], "source string, doc_id long"
    )
    plan = _plan(domain_cap(df, cap=5))
    assert plan.count("Exchange hashpartitioning") == 1


def test_rrf_fusion_bounded_shortlists(spark):
    """Both rank windows must sit above TakeOrdered limits (bounded frames),
    and the fusion join of two <= n-row sides must not be a sort-merge."""
    from blogparser_spark.dataops.lm import rank_fusion_rrf

    a = spark.createDataFrame([(i, float(i)) for i in range(40)], "doc_id long, score double")
    b = spark.createDataFrame([(i, float(-i)) for i in range(40)], "doc_id long, score double")
    plan = _plan(rank_fusion_rrf(a, b, n=10))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_keyword_tags_broadcast_dim(spark):
    from blogparser_spark.dataops.textstats import keyword_tags

    df = spark.createDataFrame([(1, "hash join")], "doc_id long, text string")
    plan = _plan(keyword_tags(df, {"hash": "x"}))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_corruption_no_token_explode(spark):
    """Positions must explode from a sequence of the token COUNT — the plan
    contains generators but never shuffles exploded token text (the only
    exchanges are the doc-key window and the final partial aggs)."""
    from blogparser_spark.dataops.curation import span_corruption_plan

    df = spark.createDataFrame(
        [(1, "w " * 50)], "doc_id long, text string"
    )
    plan = _plan(span_corruption_plan(df))
    assert "Generate explode(sequence" in plan.replace("\n", " ") or "sequence(0" in plan
    assert "CartesianProduct" not in plan
    # the only join allowed is the per-doc rollup merge keyed on doc_id
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "doc_id" in line, line
