"""Physical-plan regression tests: the plans we shipped are the plans we
designed for 100 TB. These assert the load-bearing plan properties — filter
pushdown into the parquet scan, column pruning, broadcast of small join
sides, TakeOrderedAndProject for global top-k, map-side partial
aggregation — so a refactor that silently degrades a plan (e.g. a filter
that stops reaching the scan) fails CI, not the cluster."""

from __future__ import annotations

import pytest

from cehrbert_data_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_q1_filter_pushdown_and_pruning(spark, qs):
    p = plan(qs["q1_pricing_summary"](spark, SF_DIR))
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1]
    # column pruning: the 16-column lineitem scan reads only what q1 needs
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_quantity" in read_schema


def test_j1_small_dim_broadcasts(spark, qs):
    p = plan(qs["j1_equi_inner"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p


def test_o1_global_topk_avoids_total_sort(spark, qs):
    p = plan(qs["o1_global_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Sort [" not in p  # no global sort stage


def test_a1_partial_aggregation(spark, qs):
    p = plan(qs["a1_multi_agg"](spark, SF_DIR))
    # partial_ functions before the exchange = map-side combine
    assert "partial_" in p


def test_w1_single_shuffle_for_window(spark, qs):
    p = plan(qs["w1_latest_order"](spark, SF_DIR))
    # exactly one hash-partitioning exchange feeds the window
    assert p.count("hashpartitioning(") == 1


def test_dense_ids_stays_jvm_side(spark):
    # dense_ids must never route rows through Python workers or RDDs: the
    # plan is scan → broadcast-join on the tiny offset table → project.
    from pyspark.sql import functions as F

    from cehrbert_data_spark.operators.ids import dense_ids

    df = spark.range(0, 1000).select((F.col("id") % 37).alias("k"), "id")
    out = dense_ids(df, [F.col("k"), F.col("id")], out="rid")
    p = plan(out)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "BroadcastHashJoin" in p  # offsets joined broadcast, not shuffled


def test_embed_neardup_lsh_is_equi_join(spark, qs):
    # the default near-dup path must be the bucketed candidate equi-join —
    # a BroadcastNestedLoopJoin here means the O(n²) triangle leaked back in
    p = plan(qs["d_embed_neardup"](spark, SF_DIR))
    # nested loops may only be the tiny broadcast hyperplane cross-joins
    # (condition-free, 48-row build side); the candidate pair join itself
    # must be an equi-join (SMJ/SHJ) on (tbl, bucket)
    details = p.split("\n\n")
    for block in details:
        if block.startswith("(") and "BroadcastNestedLoopJoin" in block:
            assert "Join condition: None" in block, block
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    # the exactness oracle is the one allowed to nested-loop on the data
    p_exact = plan(qs["d_embed_neardup_exact"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p_exact


def test_st_asof_rank_pushdown_single_shuffle(spark, qs):
    # the as-of rank-1 must compile to WindowGroupLimit (partial top-1 per
    # group BEFORE the exchange — the window never materializes full
    # candidate lists) and exactly one hash-partitioning exchange
    p = plan(qs["st_asof_batch"](spark, SF_DIR))
    assert "WindowGroupLimit" in p
    assert p.count("hashpartitioning(") == 1


def test_mm_image_dims_no_shuffle_no_python(spark, qs):
    # header parsing is pure native projection: no exchange, no Python
    # worker, no RDD fallback — a scan plus codegen'd projects
    p = plan(qs["mm_image_dims"](spark, SF_DIR))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_w11_range_frame_single_shuffle(spark, qs):
    # the RANGE-frame trailing window must still be one hash-partitioning
    # exchange feeding one window — no extra sort/exchange from the epoch
    # ordering expression
    p = plan(qs["w11_trailing_range"](spark, SF_DIR))
    assert p.count("hashpartitioning(") == 1
    assert "BatchEvalPython" not in p


def test_whole_stage_codegen_spans(spark, qs):
    # AQE prints its pre-execution plan without codegen wrappers, so scope it
    # off to see the compiled spans the executed plan will actually have
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(qs["p_filter_project"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # expressions stay JVM-side: the filter/project/agg pipeline compiles
    # into whole-stage codegen (the '*' markers in formatted output)
    assert "* Filter" in p and "* HashAggregate" in p


def test_plan_budget_guard(spark):
    # plans.budget: the app-level plan gate must count shuffles, flag
    # single-partition windows, and pass clean pipelines
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cehrbert_data_spark.plans.budget import (
        PlanBudgetError,
        assert_plan_budget,
        count_exchanges,
    )

    df = spark.range(100).withColumn("k", F.col("id") % 5)
    agg = df.groupBy("k").count()
    assert count_exchanges(agg) >= 1
    report = assert_plan_budget(agg, "agg", max_exchanges=2)
    assert report["exchanges"] >= 1 and not report["global_window"]

    with pytest.raises(PlanBudgetError):
        assert_plan_budget(agg, "agg", max_exchanges=0)

    global_w = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    with pytest.raises(PlanBudgetError):
        assert_plan_budget(global_w, "global-window")

    partitioned = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert not assert_plan_budget(partitioned, "ok")["global_window"]

    # Regression: a 1-row scalar aggregate plans its own SinglePartition
    # exchange; combined with a partitioned window it must NOT read as a
    # global window (false-positived before the per-Window-line probe —
    # the shape of artificial-visit minting: ids floored at max(visit_id))
    from cehrbert_data_spark.operators.joins import with_scalar_max

    scalar_plus_window = with_scalar_max(partitioned, "id", "max_id")
    assert not assert_plan_budget(scalar_plus_window, "scalar+window")["global_window"]


def test_domain_mix_partitioned_window_and_broadcast_quotas(spark, qs):
    p = plan(qs["t_domain_mix"](spark, SF_DIR))
    # ranking is a domain-partitioned window, never a global one
    assert "windowspecdefinition(domain" in p
    # quota side joins back via broadcast (corpus shuffles once, for the window)
    assert "BroadcastHashJoin" in p
    # the source-weight filter reaches the parquet scan
    assert "PushedFilters" in p and "source" in p.split("PushedFilters", 1)[1]


def test_vocab_coverage_takeordered_no_global_window(spark, qs):
    p = plan(qs["t_vocab_coverage"](spark, SF_DIR))
    # global top-k via heap merge, not a full sort or a 1-partition window
    assert "TakeOrderedAndProject" in p
    assert "windowspecdefinition" not in p
    # token counting is map-side combined
    assert "partial_count" in p


def test_mmr_candidate_join_broadcasts_not_corpus(spark, qs):
    p = plan(qs["sim_mmr_rerank"](spark, SF_DIR))
    # the |Q|*pool candidate set broadcasts into the corpus-vector join
    assert "BroadcastHashJoin" in p
    # the only Python stage is the bounded-pool greedy (FlatMapGroupsInPandas);
    # no row-at-a-time Python eval anywhere
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hll_partial_agg_no_window(spark, qs):
    p = plan(qs["a12_hll_distinct"](spark, SF_DIR))
    # register build is a hash-agg with map-side combine, never a window
    assert "partial_max" in p or "partial_" in p
    assert "Window" not in p
    # the exact-count side is the broadcast side of the final join
    assert "BroadcastHashJoin" in p


def test_bloom_filter_broadcast_to_probe(spark, qs):
    p = plan(qs["a13_bloom_probe"](spark, SF_DIR))
    # the m_bits/32-row filter must broadcast; the probe side never does
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_cms_sketch_broadcast(spark, qs):
    p = plan(qs["a14_cms_freq"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_dsir_takeordered_and_broadcast_weights(spark, qs):
    p = plan(qs["t_dsir_sample"](spark, SF_DIR))
    # top-k must be TakeOrdered (no global sort), weights broadcast
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "Sort [" not in p


def test_tfidf_doc_partitioned_window(spark, qs):
    p = plan(qs["t_tfidf_topk"](spark, SF_DIR))
    # the top-k window partitions by doc_id — never a global window
    assert "Window" in p
    assert "windowspecdefinition(doc_id" in p


def test_rollup_single_expand_single_shuffle(spark, qs):
    p = plan(qs["a16_rollup"](spark, SF_DIR))
    # all grouping levels come from ONE Expand + one shuffled hash-agg,
    # not one job per level + union
    assert p.count("Expand") >= 1
    assert p.count("hashpartitioning(") == 1
    assert "partial_" in p  # map-side combine across the expanded rows


def test_pivot_no_distinct_values_job(spark, qs):
    p = plan(qs["p10_pivot"](spark, SF_DIR))
    # explicit value list: the plan pivots directly (pivotfirst), with the
    # fact-table pass partially aggregated map-side; no collect-distinct job
    assert "pivotfirst" in p
    assert "partial_" in p


def test_hist_quantile_bounded_state(spark, qs):
    p = plan(qs["a17_hist_quantile"](spark, SF_DIR))
    # raw rows collapse to (group, bin) counts BEFORE any window: the agg
    # shuffle keys on the bin expression, windows only see bin counts
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans list scans last; assert the windows partition by the
    # group key, never empty (no global window)
    assert "windowspecdefinition(event_type" in p


def test_bm25_filter_before_shuffle_and_takeordered(spark, qs):
    p = plan(qs["t_bm25_topk"](spark, SF_DIR))
    # global top-k is TakeOrdered, corpus totals broadcast as a single row
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row cross join
    # the query-term filter must run before the TF aggregation so only
    # hit tokens reach any exchange (array_contains over the explode)
    assert "array_contains" in p


def test_lm_surprisal_no_joins_single_scan(spark, qs):
    p = plan(qs["t_lm_surprisal"](spark, SF_DIR))
    # bigram AND prefix counts are windows over the SAME (doc, bigram)
    # aggregate — a corpus-sized count table must never be joined/broadcast
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoop", "CartesianProduct"):
        assert j not in p
    # formatted mode prints each node twice (tree + details): 2 == one scan
    assert p.count("Scan parquet") == 2
    assert "windowspecdefinition(bg" in p and "windowspecdefinition(w1" in p
    assert "partial_count" in p  # map-side combine before the first shuffle


def test_json_extract_single_parse_pushdown(spark, qs):
    p = plan(qs["f_json_extract"](spark, SF_DIR))
    # one typed from_json parse, no per-path get_json_object re-parses
    assert "from_json" in p
    assert "get_json_object" not in p
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "props" in read_schema and "value" not in read_schema


def test_corr_regression_single_shuffle_exact_sums(spark, qs):
    p = plan(qs["a18_corr_regr"](spark, SF_DIR))
    # six sufficient statistics = ONE map-side-combined hash agg; the
    # corr/slope/intercept math is a post-agg projection, no second pass
    assert p.count("hashpartitioning(") == 1
    assert "partial_" in p
    assert "BatchEvalPython" not in p


def test_cube_single_expand_single_shuffle(spark, qs):
    p = plan(qs["a19_cube"](spark, SF_DIR))
    # all four grouping sets from ONE Expand + one shuffled hash-agg
    assert p.count("Expand") >= 1
    assert p.count("hashpartitioning(") == 1
    assert "partial_" in p


def test_unpivot_expands_after_aggregation(spark, qs):
    p = plan(qs["p11_unpivot"](spark, SF_DIR))
    # the melt is an Expand over year-grain aggregated rows: exactly the
    # agg's one shuffle, no extra exchange for the unpivot itself
    assert "Expand" in p
    assert p.count("hashpartitioning(") == 1


def test_sliding_window_expand_then_partial_agg(spark, qs):
    p = plan(qs["w14_sliding_window"](spark, SF_DIR))
    # width/slide = 2 window assignments via Expand (never a self-join),
    # then ONE map-side-combined hash agg at window grain
    assert "Expand" in p
    assert p.count("hashpartitioning(") == 1
    assert "partial_" in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in p


def test_streaks_collapses_to_day_grain_before_window(spark, qs):
    p = plan(qs["w15_streaks"](spark, SF_DIR))
    # the FIRST aggregate keys on (user_id, day): event volume collapses
    # map-side before anything crosses a shuffle; windows see day grain
    assert "partial_" in p
    first_exchange = p.split("hashpartitioning(", 1)[1]
    keys = first_exchange.split(")")[0]
    # (user_id, <to_date(ts) grouping expression>) — two keys, day aliased
    assert keys.startswith("user_id")
    assert "_groupingexpression" in keys or "day" in keys
    assert "BatchEvalPython" not in p


def test_interval_union_one_sort_for_stacked_windows(spark, qs):
    p = plan(qs["w16_interval_union"](spark, SF_DIR))
    # run-max, lag, and the island sum share one (suppkey, start, end)
    # partitioning: a single exchange feeds the stacked Window nodes
    assert p.count("hashpartitioning(l_suppkey") <= 2  # windows + final agg
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert j not in p


def test_quality_funnel_single_shuffle_no_python(spark, qs):
    p = plan(qs["t_quality_funnel"](spark, SF_DIR))
    # the rule CASE chain is a codegen'd projection; only the verdict
    # count-agg shuffles
    assert p.count("hashpartitioning(") == 1
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_exact_median_two_pass_no_global_sort(spark, qs):
    p = plan(qs["a20_exact_median"](spark, SF_DIR))
    # two passes over the source (formatted mode prints each node twice),
    # map-side combined bin agg, per-group windows only, no full-data Sort
    # feeding a global ordering
    assert p.count("Scan parquet") == 4
    assert "partial_" in p
    assert "windowspecdefinition(event_type" in p
    # the median-bin table joins back as an equi join, never nested-loop
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_dedup_summary_digest_grain_combine(spark, qs):
    p = plan(qs["d_dedup_summary"](spark, SF_DIR))
    # copies collapse at (source, digest) map-side before the source rollup:
    # two hash partitionings, both fed by partial aggregates; no window
    assert p.count("hashpartitioning(") == 2
    assert "partial_" in p
    assert "Window" not in p


def test_pagerank_static_tree_no_python(spark, qs):
    p = plan(qs["r3_pagerank"](spark, SF_DIR))
    # fixed-iteration PageRank is a static join tree over the barriered
    # edge table: no Python eval, no nested-loop joins, map-side-combined
    # contribution aggregates every iteration
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "partial_sum" in p


def test_funnel_pushdown_and_narrowing_joins(spark, qs):
    p = plan(qs["w17_event_funnel"](spark, SF_DIR))
    # each step's event_type filter reaches the parquet scan; steps chain
    # by user-grain equi-joins, never windows or nested loops
    assert "PushedFilters" in p and "event_type" in p.split("PushedFilters", 1)[1]
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_retention_user_grain_join(spark, qs):
    p = plan(qs["a21_retention"](spark, SF_DIR))
    # first-activity is a map-side-combined user-grain agg; the triangle agg
    # is two-phase (partial count-distinct); no Python, no windows
    assert "partial_" in p
    assert "Window" not in p and "BatchEvalPython" not in p


def test_zorder_key_pure_projection(spark, qs):
    p = plan(qs["p12_zorder_key"](spark, SF_DIR))
    # the Morton key is a codegen'd bit-arithmetic projection over the scan:
    # no exchange, no Python, and the quantity filter reaches the reader
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "PushedFilters" in p and "l_quantity" in p.split("PushedFilters", 1)[1]


def test_word_entropy_no_joins_single_scan(spark, qs):
    p = plan(qs["t_word_entropy"](spark, SF_DIR))
    # same shape as lm_surprisal: one scan, one (doc, word) combine-agg,
    # one doc-partitioned window — no joins, no broadcast of anything
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoop", "CartesianProduct"):
        assert j not in p
    assert p.count("Scan parquet") == 2  # formatted prints each node twice
    assert "windowspecdefinition(doc_id" in p
    assert "partial_count" in p


def test_minhash_cap_preserves_exchange_reuse(spark):
    """The max_bucket_size cap must not break the one-subtree discipline:
    the bucket join's two sides still share the banded-signature exchange
    (ReusedExchange), with or without the cap — a cap implemented as a
    broadcast anti-join would add a second, differently-shaped exchange and
    compute the scan→shingle→signature pipeline twice."""
    from cehrbert_data_spark.operators.dedup import minhash_lsh_pairs
    from cehrbert_data_spark.sources.readers import read_table

    docs = read_table(spark, SF_DIR, "documents")
    for cap in (None, 50):
        df = minhash_lsh_pairs(docs, "doc_id", "text", max_bucket_size=cap)
        # exchange reuse materializes in the FINAL adaptive plan — execute
        # THIS DataFrame's own plan first (count() would plan a different
        # query and prove nothing)
        df.collect()
        p = plan(df)
        assert "isFinalPlan=true" in p, f"cap={cap}: plan never finalized"
        assert "ReusedExchange" in p, f"cap={cap}: signature subtree computed twice"


def test_salted_asof_single_big_shuffle_broadcast_carry(spark):
    """The salted as-of merge form's 100 TB shape: the unioned big data
    shuffles exactly ONCE (the segmented window's (key, bucket) exchange);
    the finals branch carries a PARTIAL aggregate below its own exchange
    (it moves one row per key×bucket, never full rows — Catalyst also
    prunes the window out of that branch entirely); and the per-(key,
    bucket) carry table BROADCASTS into the final join, so the windowed
    rows are never reshuffled."""
    from pyspark.sql import functions as F

    from cehrbert_data_spark.operators.joins import asof_join_union

    right = spark.range(1000).select(
        F.lit(1).alias("k"), (F.col("id") * 100).alias("rts"), F.col("id").alias("rid")
    )
    left = spark.range(10000).select(
        F.lit(1).alias("k"), (F.col("id") * 10 + 5).alias("lts"), F.col("id").alias("lid")
    )
    out = asof_join_union(
        left, right, on="k", left_ts="lts", right_ts="rts",
        tiebreak="rid", salt_bucket_seconds=86400,
    )
    p = plan(out, "simple")
    # exactly three hash exchanges: the window's (k, __b) over full rows,
    # the finals branch's (k, __b) over partially-aggregated rows, and the
    # tiny carry window's (k)
    assert p.count("Exchange hashpartitioning") == 3
    # the carry table reaches the join as a broadcast — windowed rows are
    # never reshuffled for the join
    assert "BroadcastHashJoin" in p
    # the finals branch aggregates BELOW its exchange (map-side combine):
    # a partial max over struct appears under the second (k, __b) exchange
    assert "partial_max" in p or "partial" in p.lower()
    # exactly two windows: the segmented local pass and the bucket carry
    assert p.count("Window") >= 2


def test_kmeans_assignment_is_a_pure_projection(spark):
    """The k-means Lloyd pass's 100 TB contract: assignment inlines the
    k×d centroids as literal structs and argmins with array_min — NO join,
    NO window, ZERO exchanges, one output row per corpus row. (The obvious
    broadcast-join + per-id-window formulation shuffles n×k rows on id
    per iteration — the plan this design exists to avoid.)"""
    from cehrbert_data_spark.operators.clustering import (
        _assign, _quantized, _seed_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = _quantized(emb, "vec_id", "embedding")
    p = plan(_assign(q, _seed_centroids(q, 4)))
    assert "Exchange" not in p
    assert "Join" not in p and "Window" not in p


def _relink_inputs(spark):
    """App-shaped events (one orphan per person, one linked event) and
    visits, the columns generate_training_data hands to the relink."""
    import datetime as dt

    day = dt.date(2020, 1, 1)
    at = dt.datetime(2020, 1, 1, 9)
    visits = spark.createDataFrame(
        [(10 * p, p, 9201 if p % 2 else 9202, day, at, day, at, 0, 40)
         for p in range(1, 5)],
        "visit_occurrence_id: long, person_id: long, visit_concept_id: int, "
        "visit_start_date: date, visit_start_datetime: timestamp, "
        "visit_end_date: date, visit_end_datetime: timestamp, "
        "discharged_to_concept_id: int, age: int",
    )
    events = spark.createDataFrame(
        [(vid, p, f"C{p}", d, ts, "condition_occurrence", None, None, None, None,
          vconcept, 40, p)
         for p in range(1, 5)
         for vid, d, ts, vconcept in [
             (10 * p, day, at, 9201 if p % 2 else 9202),
             (None, dt.date(2020, 6, p), dt.datetime(2020, 6, p, 10), 0),
         ]],
        "visit_occurrence_id: long, person_id: long, standard_concept_id: string, "
        "date: date, datetime: timestamp, domain: string, event_group_id: string, "
        "number_as_value: float, concept_as_value: string, unit: string, "
        "visit_concept_id: int, age: int, cohort_member_id: long",
    )
    return events, visits


@pytest.mark.parametrize("relink_form", ["agg", "window"])
def test_relink_and_clinical_no_global_window_no_python(spark, relink_form):
    # generate_training_data materializes the clinical events before
    # decorate_att, so its --plan_check no longer sees the artificial-visit
    # relink or decorate_clinical: their plan discipline is pinned here.
    from cehrbert_data_spark.omop.decorators import decorate_clinical
    from cehrbert_data_spark.omop.visits import construct_artificial_visits
    from cehrbert_data_spark.plans.budget import assert_plan_budget

    events, visits = construct_artificial_visits(
        *_relink_inputs(spark), relink_form=relink_form
    )
    clinical = decorate_clinical(events, visits)
    for label, df in [("events", events), ("visits", visits), ("clinical", clinical)]:
        report = assert_plan_budget(df, f"{relink_form}:{label}")
        assert not report["global_window"] and not report["python_row_eval"]
    # the relink really minted visits, so the plans above include minting
    assert visits.count() == 8 and clinical.count() == 8
