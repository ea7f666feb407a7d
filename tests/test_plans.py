"""Plan-quality assertions: the scale claims in SURVEY §4, checked
against the optimized plans (pushed filters, broadcast joins, no
Python in JVM-only pipelines)."""

import os

import pyarrow.parquet as pq
import pytest

from document_parsing_etl_pipeline_spark.plans.queries import QUERIES
from perfbench.tracing import plan_counts

from conftest import SF_DIR


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushes_shipdate_filter_to_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    plan = _executed(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q1_prunes_columns(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    plan = _executed(df)
    # scan must not read the unused l_orderkey/l_partkey columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" in read_schema


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_q3_no_broadcast_hint_on_scaling_tables(spark):
    # customer scales with SF: the plan must not hard-code a broadcast
    # (AQE decides from runtime stats). At test SF the size-based
    # planner still picks BroadcastHashJoin — that's fine; what's
    # banned is the *hint*.
    df = QUERIES["q3_shipping_priority"](spark, SF_DIR)
    assert "ResolvedHint" not in _analyzed(df)
    assert "BroadcastHashJoin" in _executed(df)  # size-based at test SF


def test_q5_hints_only_true_dims(spark):
    # exactly two hints: nation and the filtered region. supplier and
    # customer (SF-scaling) are left to AQE.
    df = QUERIES["q5_local_supplier"](spark, SF_DIR)
    assert _analyzed(df).count("ResolvedHint") == 2
    assert _executed(df).count("BroadcastHashJoin") >= 3  # size-based


def test_fact_queries_have_no_scaling_broadcast_hints(spark):
    # q10 keeps one hint (nation); the rest must carry none.
    expected_hints = {
        "q18_large_orders": 0,
        "q_top_customers": 0,
        "q14_promo_revenue": 0,
        "q10_returned_revenue": 1,
    }
    for name, n in expected_hints.items():
        df = QUERIES[name](spark, SF_DIR)
        assert _analyzed(df).count("ResolvedHint") == n, name


def test_new_analytics_push_filters_and_hint_only_dims(spark):
    # q8/q9: the part-type filter must reach the parquet scan, and
    # broadcast hints appear only on nation-derived dims (customer/
    # supplier/part go to AQE).
    df8 = QUERIES["q8_market_share"](spark, SF_DIR)
    assert "EqualTo(p_type,ECONOMY)" in _executed(df8)
    assert _analyzed(df8).count("ResolvedHint") == 3  # region, cust/supp nat
    df9 = QUERIES["q9_profit_by_nation_year"](spark, SF_DIR)
    assert "EqualTo(p_type,STANDARD)" in _executed(df9)
    assert _analyzed(df9).count("ResolvedHint") == 1  # nation
    for name in ("q17_small_quantity_revenue", "q19_brand_size_revenue"):
        assert _analyzed(QUERIES[name](spark, SF_DIR)).count("ResolvedHint") == 0


def test_q22_uses_anti_join_not_subquery(spark):
    plan = _executed(QUERIES["q22_idle_customers"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed date filter


def test_knn_uses_arrow_cosine_kernel(spark):
    # the similarity hot path must be the Arrow-batched pandas_udf
    # (ArrowEvalPython), not interpreted HOFs and not row-based Python
    plan = _executed(QUERIES["knn_brute_cosine"](spark, SF_DIR))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "zip_with" not in plan and "aggregate(" not in plan


def test_chunker_is_pure_jvm(spark):
    # no BatchEvalPython / ArrowEvalPython in the chunk+NER pipeline
    df = QUERIES["ner_entities"](spark, SF_DIR)
    plan = _executed(df)
    assert "EvalPython" not in plan


def test_q16_anti_join_no_hints_pushed_filters(spark):
    df = QUERIES["q16_part_supplier_variety"](spark, SF_DIR)
    plan = _executed(df)
    assert "LeftAnti" in plan                     # NOT IN as anti join
    assert "ResolvedHint" not in _analyzed(df)    # AQE picks strategies
    # brand/type filters visibly pushed to the part scan (the p_size
    # In-filter is pushed too but elided by plan-string truncation)
    assert "Not(EqualTo(p_brand,Brand#45))" in plan


def test_q21_single_agg_pass_no_expand(spark):
    # the EXISTS/NOT-EXISTS de-correlation must not pay the 3x Expand
    # of multi-DISTINCT aggregation, and only nation carries a hint
    df = QUERIES["q21_sole_blame_suppliers"](spark, SF_DIR)
    plan = _executed(df)
    assert "Expand" not in plan
    assert _analyzed(df).count("ResolvedHint") == 1  # nation only


def test_gopher_gate_is_shuffle_free_jvm(spark):
    df = QUERIES["q_gopher_filters"](spark, SF_DIR)
    plan = _executed(df)
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # pure per-row scan, no shuffle


def test_sequence_pack_uses_partition_arrow_udf(spark):
    # the next-fit recurrence runs one Arrow call per PARTITION
    # (mapInPandas over doc-partitioned sorted data), never per-group
    # dispatch and never row-based Python
    plan = _executed(QUERIES["q_sequence_pack"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_partsupp_trio_broadcasts_dims_only(spark):
    # the derived-partsupp TPC-H shapes: dims (nation/region/1-row
    # supplier count) broadcast; SF-scaling sides (supplier, part,
    # lineitem, partsupp itself) carry no hints
    for name in ("q2_min_cost_supplier", "q11_important_stock",
                 "q20_excess_stock"):
        df = QUERIES[name](spark, SF_DIR)
        assert "BroadcastHashJoin" in _executed(df) \
            or "BroadcastNestedLoopJoin" in _executed(df), name
        analyzed = _analyzed(df)
        for scaling in ("supplier", "part.parquet", "lineitem"):
            # hints are attached pre-analysis; a hint on a scaling
            # table would appear as ResolvedHint directly over its scan
            assert f"ResolvedHint (strategy=broadcast)\n+- Relation [{scaling}" \
                not in analyzed, (name, scaling)


def test_all_queries_no_rowbased_python_udf(spark):
    # row-at-a-time Python UDFs are banned in every registered query;
    # only Arrow-batched (MapInPandas) is acceptable, and only in the
    # multimodal pipeline and the block-matrix embedding kernel.
    arrow_ok = {
        "mm_image_pipeline", "mm_audio_features", "mm_video_frames",
        "q_mm_phash_dedup",  # binary pHash is Arrow-batched by design
        "dedup_embedding",
        "knn_all_topk",
        "q_sequence_pack", "q_sequence_texts",  # packing recurrence
        "q_rate_limit_audit",  # token-bucket recurrence (ratelimit.py)
    }
    for name, fn in QUERIES.items():
        plan = _executed(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        # 1-row aggregate crossJoins must plan as broadcast nested
        # loop, never a partitioned cartesian product
        assert "CartesianProduct" not in plan, name
        if name not in arrow_ok:
            assert "MapInPandas" not in plan, name


def test_range_join_plans_as_equi_join_not_nested_loop(spark):
    # the bucketed range join must compile to a bucket equi-join
    # (broadcast or shuffled hash); a BroadcastNestedLoopJoin means
    # the bucket key was lost and we're back to O(|L|*|R|) compares
    plan = _executed(QUERIES["q_range_join_events"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_latest_state_uses_partial_agg_not_window(spark):
    # struct-max aggregation: shuffle carries ~one row per key; the
    # window formulation would shuffle and sort the entire event log
    plan = _executed(QUERIES["q_cdc_latest_state"](spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_max" in plan


def test_round5_operators_broadcast_their_small_sides(spark):
    # knn_ivf_probe: the C-row centroid dim joins by broadcast; the
    # candidate pairing is a real equi join (posting-list id), never a
    # nested loop over the full table pair
    plan = _executed(QUERIES["knn_ivf_probe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # count-min: the d×w counter table and the 1-row total broadcast
    # to the top-k probes
    plan = _executed(QUERIES["q_countmin_heavy_hitters"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # bloom: the set-bits table reaches probes as a broadcast
    plan = _executed(QUERIES["q_bloom_join_audit"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # incremental dedup: the batch bucket-key set semi-join-prunes the
    # corpus bucket scan (broadcast left-semi), and there is no
    # corpus×corpus pairing path (no nested loop)
    plan = _executed(QUERIES["q_incremental_dedup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_materialize_collapses_embedding_scans(spark):
    # materialize=True localCheckpoints the scored (vec_id, centroid,
    # embedding) frame: the final plan must read the checkpoint, not
    # re-execute the centroid-scoring subtree per branch (8 parquet
    # scans without it)
    from document_parsing_etl_pipeline_spark.catalog import load_table
    from document_parsing_etl_pipeline_spark.operators.dedup import (
        semdedup_keep,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    lazy_plan = _executed(semdedup_keep(emb, materialize=False))
    mat_plan = _executed(semdedup_keep(emb, materialize=True))
    assert mat_plan.count("Scan parquet") < lazy_plan.count("Scan parquet")
    assert mat_plan.count("Scan parquet") <= 2


def test_session5_audit_queries_plan_shapes(spark):
    # table checksum: pure map-side aggregation — no hash-partitioned
    # exchange anywhere (only the 1-row final combines)
    plan = _executed(QUERIES["q_table_checksum"](spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    # benford: 9-row expected table + 9-group obs + 1-row total all
    # meet by broadcast; no sort-merge join
    plan = _executed(QUERIES["q_benford_audit"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # chi-square: marginals broadcast back onto the contingency cells
    plan = _executed(QUERIES["q_chi2_drift"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # join-cardinality estimator: the 256-row histograms must join as
    # broadcast; only the TRUE-join reference may shuffle
    plan = _executed(QUERIES["q_join_cardinality_estimate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # trend slope: exactly one aggregation cascade, no window/sort of
    # the raw event stream
    plan = _executed(QUERIES["q_trend_slope"](spark, SF_DIR))
    assert "Window" not in plan
    # span dedup: window-hash counts join back without any nested loop
    plan = _executed(QUERIES["q_span_dedup"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_session6_new_query_plan_shapes(spark):
    # exact uniform sample: per-partition top-k heaps + driver merge,
    # never a global sort of the corpus
    plan = _executed(QUERIES["q_uniform_sample_exact"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    # grouping sets: ONE Expand + one aggregation cascade — the whole
    # 4-set profile costs a single scan
    plan = _executed(QUERIES["q_grouping_sets_profile"](spark, SF_DIR))
    assert plan.count("Expand") >= 1
    assert "CartesianProduct" not in plan
    # decayed counts: no window, no sort — two aggregations and a
    # 1-row broadcast reference day
    plan = _executed(QUERIES["q_decayed_counts"](spark, SF_DIR))
    assert "Window" not in plan
    # triangle counting / setsim prefix join: equi-joins only
    for q in ("q_triangle_count", "q_setsim_prefix_join"):
        plan = _executed(QUERIES[q](spark, SF_DIR))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_zorder3_pruning_ladder(spark):
    """The 3-dim layout must (a) partition rows identically across
    layouts, (b) prune the 3-dim box better than the single-column
    layout, and (c) bound every file in ALL three dimensions (the
    pruning property the 2-dim layout cannot give for price)."""
    import collections

    from document_parsing_etl_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["q_zorder3_layout"](spark, SF_DIR).collect()
    hits = collections.Counter()
    n_rows = collections.Counter()
    for r in rows:
        n_rows[r.layout] += r.n_rows
        if r.scan_hit:
            hits[r.layout] += 1
    assert len(set(n_rows.values())) == 1  # same rows in every layout
    assert hits["zorder3"] < hits["linear"]
    # zorder3 files are boxes in price too: mean price span well under
    # the full price domain, while the linear layout's files span ~all
    spans = collections.defaultdict(list)
    for r in rows:
        spans[r.layout].append(r.max_pc - r.min_pc)
    domain = max(max(s) for s in spans.values())
    mean3 = sum(spans["zorder3"]) / len(spans["zorder3"])
    mean_lin = sum(spans["linear"]) / len(spans["linear"])
    assert mean3 < 0.8 * domain < mean_lin


def test_session7b_new_query_plan_shapes(spark):
    """Scale claims of the round-7 session-2 batches, machine-checked:
    vocab/stopword/cut relations broadcast onto streams, fact windows
    stay partitioned, and no pair join touches an unreduced fact."""
    # OOV: the vocab side joins the token stream as a broadcast
    plan = _executed(QUERIES["q_oov_rate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # NB lang: token-keyed scoring join; no cartesian product
    plan = _executed(QUERIES["q_naive_bayes_lang"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # Wasserstein: CDF windows are pair-partitioned, never global
    plan = _executed(QUERIES["q_wasserstein_1d"](spark, SF_DIR))
    assert "Window" in plan
    assert "windowspecdefinition(source_a" in plan
    # interarrival: the lag window is (user, type)-partitioned
    plan = _executed(QUERIES["q_interarrival_cv"](spark, SF_DIR))
    assert "windowspecdefinition(user_id" in plan
    # RAKE: islands windows are doc-partitioned
    plan = _executed(QUERIES["q_rake_keywords"](spark, SF_DIR))
    assert "windowspecdefinition(doc_id" in plan
    # regime runs: islands windows are (type, side)-partitioned
    plan = _executed(QUERIES["q_regime_runs"](spark, SF_DIR))
    assert "windowspecdefinition(event_type" in plan


def test_session7b_topk_cuts_use_take_ordered(spark):
    """RRF's list cuts and the derived-stopword/vocab cuts compile to
    TakeOrderedAndProject — top-k without a global sort materialized
    (the 100 TB-safe shape)."""
    for name in ("q_reciprocal_rank_fusion", "q_rake_keywords",
                 "q_oov_rate"):
        plan = _executed(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_session7d_new_query_plan_shapes(spark):
    """Scale claims of the round-7 session-4 batch, machine-checked."""
    # Hill: the top-501 compiles to TakeOrderedAndProject, never a
    # global sort of the orders table
    plan = _executed(QUERIES["q_hill_tail_index"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # item-item: per-brand counts broadcast onto the pair relation;
    # the final top-20 is TakeOrdered; no cartesian product
    plan = _executed(QUERIES["q_item_item_cosine"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # isotropy: the normalization window is vec_id-partitioned (never
    # global over the exploded components) and there is no pair join
    plan = _executed(QUERIES["q_embedding_isotropy"](spark, SF_DIR))
    assert "windowspecdefinition(vec_id" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # vocab gini: NO window over the token stream or the vocab — the
    # only sort feeds the frequency-of-frequencies cumulative
    plan = _executed(QUERIES["q_vocab_gini"](spark, SF_DIR))
    assert "windowspecdefinition(tok" not in plan
    # dup-rate-by-length: the dup-doc set broadcasts onto the corpus
    plan = _executed(QUERIES["q_dup_rate_by_length"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # linear attribution: the touch join is a user_id EQUI-join (the
    # time window is a post-join filter) — a hash/merge join keyed on
    # user_id must exist; the only BNLJs allowed are the 1-row
    # broadcast stats dims at the end
    plan = _executed(QUERIES["q_linear_attribution"](spark, SF_DIR))
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan


def test_session7e_new_query_plan_shapes(spark):
    """Round-7 session-5 batch: the Markov model relations broadcast
    onto the cell relation (never shuffle the types^3 grid), the lag
    window is user-partitioned, and the nprobe curve's candidate
    pairing has no cartesian product."""
    # r14: the ≤|types|³ triple-count relation is localCheckpointed
    # (ONE fact pass instead of six inlined scan+window subtrees), so
    # the final plan reads it as ExistingRDD; the model rollups still
    # broadcast onto it and nothing goes cartesian. The user-
    # partitioned lag window now runs once inside the checkpointed
    # build — its values stay pinned by the DuckDB oracle gate.
    plan = _executed(QUERIES["q_markov_order_test"](spark, SF_DIR))
    assert "Scan ExistingRDD" in plan
    assert "windowspecdefinition(user_id" not in plan  # not re-run
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    plan = _executed(QUERIES["q_ivf_nprobe_curve"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # round 11: the n×C scoring pass and the brute baseline are
    # localCheckpointed ONCE and the three curve points filter the
    # memoized rows — the final plan must read the checkpoint RDDs
    # (ExistingRDD), not re-run the scoring joins (no Arrow eval of
    # the cosine kernel may appear downstream of the checkpoint)
    assert "ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan


def test_session7f_new_query_plan_shapes(spark):
    """Round-7 session-6 batch: calibration keeps the NB model
    broadcast and its windows doc-partitioned; the capture-recapture
    pair sets join without a cartesian product."""
    plan = _executed(QUERIES["q_nb_calibration"](spark, SF_DIR))
    assert "windowspecdefinition(doc_id" in plan
    assert "CartesianProduct" not in plan
    plan = _executed(QUERIES["q_dedup_recall_capture"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


# Exchange reuse the shared token featurize carries (parse.doc_terms and
# the guarded KN / shingle / DSIR aggregations): (max Exchange, min
# ReusedExchange, max Scan) over the executed plan at sf0.001, measured
# on local[4] with 8 shuffle partitions (identical over repeated runs).
# Losing the null guard gives consumer branches unequal exchange
# subtrees: reuse drops and the tokenize + scan run once per branch.
_TOKEN_REUSE = {
    "q_naive_bayes_lang": (24, 6, 6),
    "q_nb_calibration": (24, 6, 6),
    "q_kneser_ney_bigram": (10, 5, 1),
    "q_bm25_scores": (10, 1, 3),
    "q_unigram_logprob": (6, 2, 1),
    "q_shingle_novelty": (3, 1, 1),
    "q_triangle_count": (7, 7, 4),
    "q_dsir_weights": (6, 2, 1),
}


@pytest.mark.parametrize("name", sorted(_TOKEN_REUSE))
def test_token_featurize_shares_one_exchange(spark, name, monkeypatch):
    """Built twice: with the schema memo emptied, the first build's
    first ``load_table`` infers and its later ones read the memoized
    schema; the second build reads every table through the memo. Both
    builds plan the same Exchange / ReusedExchange / Scan counts."""
    from document_parsing_etl_pipeline_spark import catalog

    max_ex, min_reused, max_scans = _TOKEN_REUSE[name]
    monkeypatch.setattr(catalog, "_SCHEMA", {})
    builds = []
    for _ in range(2):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        got = plan_counts(df)
        builds.append({k: got[k]
                       for k in ("exchanges", "reused_exchanges", "scans")})
    first, second = builds
    assert first["exchanges"] <= max_ex, first
    assert first["reused_exchanges"] >= min_reused, first
    assert first["scans"] <= max_scans, first
    assert second == first


@pytest.mark.parametrize(
    "sf_dir", [SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01")])
def test_token_guard_columns_never_null(sf_dir):
    """The data invariant that makes doc_terms' isNotNull guard (and
    the NB (doc_id, lang) guard) exact rather than a filter."""
    cols = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "lang"])
    assert cols.num_rows > 0
    assert {c: cols[c].null_count for c in cols.column_names} == {
        "doc_id": 0, "lang": 0}
