"""Physical-plan assertions: the properties that make these queries
survive a 100× scale-up must hold structurally, not by luck."""

from __future__ import annotations

import pytest

from redis_streams_spark.plans import (
    codegen_stage_count,
    has_broadcast_join,
    plan_str,
    pushed_filters,
    scan_read_schemas,
)
from redis_streams_spark.queries import all_queries


def _df(spark, sf_dir, name):
    return all_queries()[name].fn(spark, sf_dir)


@pytest.fixture(scope="module")
def query_df(spark, sf_dir):
    """``name -> DataFrame``, built once per module: the fleet-wide gates
    below inspect the same queries, and a frame's QueryExecution keeps
    its analyzed, optimized and physical plans once computed."""
    frames = {}

    def get(name):
        if name not in frames:
            frames[name] = _df(spark, sf_dir, name)
        return frames[name]

    return get


def test_q01_pushdown_and_pruning(spark, sf_dir):
    df = _df(spark, sf_dir, "q01_pricing_summary")
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), "date filter must reach the scan"
    schemas = scan_read_schemas(df)
    assert schemas and all("l_orderkey" not in s for s in schemas), (
        "unused columns must be pruned from the parquet read"
    )
    assert codegen_stage_count(df) > 0


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("q03_shipping_priority", "q05_local_supplier", "q14_promo_revenue"):
        assert has_broadcast_join(_df(spark, sf_dir, name)), name


def test_range_join_is_not_cartesian(spark, sf_dir):
    plan = plan_str(_df(spark, sf_dir, "q_range_join_bucketed"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildLeft, LeftOuter", ""
    ) or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle_per_side(spark, sf_dir):
    plan = plan_str(_df(spark, sf_dir, "q_asof_join"))
    assert "CartesianProduct" not in plan
    # union+window as-of: the window partitions by key, no join of the
    # big sides at all
    assert "Window" in plan


def test_minhash_no_python_udf(spark, sf_dir):
    plan = plan_str(_df(spark, sf_dir, "dedup_minhash_lsh"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "minhash must stay JVM-side"
    )


def test_text_stats_no_python_udf(spark, sf_dir):
    plan = plan_str(_df(spark, sf_dir, "text_stats"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_pairs_inverted_index(spark, sf_dir):
    """The pair join must be keyed on (bucket, gram) — an inverted-index
    equi-join — not a bucket-only join that is quadratic in bucket size."""
    plan = plan_str(_df(spark, sf_dir, "dedup_ngram_jaccard"))
    assert "CartesianProduct" not in plan
    join_lines = [
        ln for ln in plan.splitlines()
        if "join" in ln.lower() or "keys" in ln.lower()
    ]
    assert any("gram" in ln for ln in join_lines), (
        "pair join must include the gram in its equi-join keys"
    )


def test_embedding_pairs_lsh_keyed(spark, sf_dir):
    """Candidate generation must be keyed on the sign-LSH band bits,
    never label-only (quadratic per label cell).  Since the r13
    bucket-aggregation rewrite (OPTIMIZATION_r13 §18) the band-bits key
    shows up in the bucket groupBy's hashpartitioning instead of a
    self-join's equi-join keys; either satisfies the invariant."""
    plan = plan_str(_df(spark, sf_dir, "dedup_embedding_pairs"))
    assert "CartesianProduct" not in plan
    keyed_lines = [
        ln for ln in plan.splitlines()
        if "join" in ln.lower() or "keys" in ln.lower()
        or "hashpartitioning" in ln or "HashAggregate" in ln
    ]
    assert any("band_bits" in ln for ln in keyed_lines), (
        "candidate generation must be keyed on band_bits (join keys or "
        "bucket aggregation)"
    )


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set must be broadcast: the 100 TB corpus side
    is membership-tested map-side, never shuffled for the join."""
    df = _df(spark, sf_dir, "text_decontaminate")
    assert has_broadcast_join(df)
    plan = plan_str(df)
    assert "CartesianProduct" not in plan


def test_hygiene_ops_stay_jvm_side(spark, sf_dir):
    for name in ("text_pii_scrub", "text_repetition", "text_decontaminate"):
        plan = plan_str(_df(spark, sf_dir, name))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_no_inferred_generate_filter_in_scan_stage(spark, sf_dir):
    """InferFiltersFromGenerate must stay excluded (session.configure):
    it inlines the whole shingle HOF chain as an inferred filter BELOW the
    fanout repartition, serializing it into the narrow scan stage
    (measured 24s vs 1.4s on the sf0.1 band build)."""
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    assert "InferFiltersFromGenerate" in excluded
    from redis_streams_spark.operators.dedup import shingle_sets, band_rows_from_sets
    from redis_streams_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_str(band_rows_from_sets(shingle_sets(docs, 3)))
    # the scan-side filter (below the exchange) must not mention the
    # tokenizer; find the Scan block and check no filter above it inlines
    # a split() of the text column
    assert plan.find("Scan parquet") != -1
    rep_idx = plan.find("REPARTITION")
    if rep_idx == -1:
        # conditional fanout() skipped the rebalance (scan already has
        # >= core-count partitions) — no exchange to leak below
        return
    before_exchange = plan[:rep_idx]
    assert "split(lower(text" not in before_exchange, (
        "tokenizer expression leaked below the repartition (inferred "
        "Generate filter pushed into the scan stage)"
    )


def test_interval_join_equi_keyed(spark, sf_dir):
    """The stream-stream-shaped interval join must hash on user_id with
    the time range as a residual — a nested-loop/cartesian over events
    would be quadratic at scale."""
    plan = plan_str(_df(spark, sf_dir, "q_interval_join"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Queries where a nested-loop join IS the right plan: a broadcast of a
# 1-row scalar (thresholds, global aggregates) or a tiny frame (centroid
# table, stream-state rows, the exhaustive-baseline query set).
_BNLJ_OK = {
    "q11_important_stock",
    "q15_top_supplier",
    "q22_global_sales_opportunity",
    "q_eviction_plan",
    "q_monitor_status",
    "q_pending_entries",
    "q_scaler_decision",
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "sim_ivf_indexed",  # same broadcast centroid crossJoin as sim_ivf_topk
    "sim_kmeans_clusters",
    "sim_recall_report",  # crossJoin of two 1-row aggregates
    "text_tfidf",  # lazy 1-row corpus-count crossJoin (broadcast scalar)
    "q_gap_fill",  # day-spine × |types| grid build (both tiny, broadcast)
    "q_zorder_scan",  # 1-row bounds crossJoin (broadcast scalar box)
    "q_rolling_wau",  # 7-day range join against the broadcast day spine
    "q_resample_ffill",  # hour-spine × |types| grid build (both tiny)
    "q_decay_score",  # 1-row max-timestamp anchor crossJoin (broadcast scalar)
    "q_basket_rules",  # 1-row corpus-total crossJoin (broadcast scalar)
    "text_bigram_lm",  # 1-row smoothing-vocabulary crossJoin (broadcast scalar)
    "q_embed_pca_power",  # 1-row norm/sign/count crossJoins (broadcast scalars)
    "q_ab_test",  # |types|² inequality join over the 5-row moment aggregate
    "mix_importance_resample",  # 1-row LM-normalizer crossJoin (broadcast scalars)
    "q_pareto_gini",  # 1-row total-revenue crossJoin (broadcast scalar)
    "q_hll_distinct",  # 1-row exact-count crossJoin (broadcast scalar)
    "q_pagerank",  # 1-row node-count crossJoin (broadcast scalar, keeps plan lazy)
    "q_hll_merge",  # 1-row register-stat crossJoins (broadcast scalars)
    "dedup_cross_split_leakage",  # 1-row count crossJoins (broadcast scalars)
    "text_pmi_collocations",  # 1-row corpus-totals crossJoin (broadcast scalar)
    "mix_domain_targets",  # 1-row token-total crossJoin (broadcast scalar)
    "sim_dot_topk",  # same broadcast query-set inequality join as sim_bruteforce_topk
    "sim_knn_classify",  # same broadcast query-set inequality join (via brute_force_topk)
    "q_join_fanout_audit",  # 1-row total-pairs crossJoin (broadcast scalar)
    "q_decile_lift",  # 1-row decile-bounds crossJoin (broadcast scalar)
    "text_vocab_coverage",  # rank<=cutoff inequality join vs broadcast 3-row literal
    "text_unigram_lm",  # 1-row total crossJoin + top_k_by_freq threshold/triangle (broadcast)
    # -- round 10 --
    "text_bm25_topk",  # 1-row (N, avgdl) crossJoin (broadcast scalar)
    "text_bm25_indexed",  # same 1-row stats crossJoin read from the persisted index
    "sim_hybrid_lexical_rrf",  # same BM25 scalar crossJoin under the fusion
    "text_freq_spectrum",  # 1-row totals crossJoin + prefix-sum triangle (broadcast)
    "q_hits",  # 1-row L2-norm crossJoins per half-step (broadcast scalars)
    "text_source_divergence",  # |sources| x top-200 grid crossJoin (both broadcast-sized)
    "q_band_join",  # range join vs a broadcast 4-row literal band table
    "q_dau_mau",  # 1-row corpus-max-day crossJoin (broadcast scalar)
    "dedup_threshold_curve",  # verified pairs x broadcast 4-row threshold frame
    "mix_curriculum_phases",  # 1-row tertile-bounds crossJoin (broadcast scalar)
    "sim_centroid_separation",  # k x k pair join over the broadcast centroid table
    "q_survival_km",  # 1-row horizon / n-total crossJoins (broadcast scalars)
    "mix_shard_balance",  # 1-row decile-bounds crossJoin (broadcast scalar)
    "q_autocorr",  # 1-row mean/denom + 3-row lag frames (broadcast scalars)
    "q_theil_sen",  # pairwise-slope inequality join over the ≤n_days daily aggregate
    "mix_epoch_allocation",  # 1-row totals/redistribution crossJoins (broadcast scalars)
    # -- round 11 --
    "text_bm25_maxscore",  # same 1-row stats crossJoin as text_bm25_indexed
    "text_bm25_replace",  # same 1-row stats crossJoin as text_bm25_indexed
    # -- round 8 --
    "q_kmv_jaccard",  # |types|² pair build over the 5-row type frame (persisted)
    "q_bootstrap_ci",  # 1-row point-mean crossJoin (broadcast scalar)
    "text_ppl_filter_curve",  # per-doc scores x broadcast 5-row threshold frame
    "text_heaps_law",  # 1-row n_docs crossJoin (broadcast scalar)
    "sim_mmr_rerank",  # pick-frame ≠-joins over broadcast 1-row-per-query picks
    "sim_binary_hamming_recall",  # broadcast probe-set ≠-join (same as sim_bruteforce_topk)
    "q_roc_auc",  # 1-row class-totals crossJoin (broadcast scalar)
    "q_calibration_bins",  # 1-row min/max range crossJoin (broadcast scalar)
    "q_pr_curve",  # broadcast 5-row cutoff frame + 1-row positives total
    "q_zonemap_prune_audit",  # day-zones x broadcast 4-row predicate frame
    "q_psi_drift",  # 1-row day-range crossJoin (broadcast scalar)
    "dedup_tier_summary",  # 1-row tier-count crossJoins (broadcast scalars)
    "q_kendall_tau",  # pairwise concordance join over the ≤n_days daily aggregate
    "q_mann_whitney",  # 1-row (N, tie-term) totals crossJoin (broadcast scalar)
    "q_ks_test",  # 1-row source-pair + totals crossJoins (broadcast scalars)
    "q_wasserstein_1d",  # same bounded ECDF frame as q_ks_test
    "q_runs_test",  # 1-row median crossJoin (broadcast scalar)
    "sim_cos_histogram",  # pair join over the fixed 1-in-7 id sample
    "q_cohens_d",  # 1-row source-pair/moment crossJoins (broadcast scalars)
    "q_var_cvar",  # 1-row VaR percentile crossJoin (broadcast scalar)
    "q_mix_drift",  # |days| x |types| dense-grid crossJoin (tiny aggregates)
    # -- round 9 --
    "q_exact_quantiles_hist",  # histogram x broadcast 5-row threshold frame
    "q_group_exact_quantiles",  # |ps| x |sources| threshold grid (tiny crossJoin)
    "q_weighted_median_price",  # histogram x broadcast 3-row threshold frame
    "q_trimmed_winsor_mean",  # 1-row (n, k) totals crossJoin (broadcast scalar)
    "q_equi_depth_hist",  # 1-row corpus-count crossJoin (broadcast scalar)
    "q_log_loss",  # 1-row min/max range crossJoin (broadcast scalar)
    "q_brier_decomposition",  # 1-row range + overall-moment crossJoins
    "q_confusion_thresholds",  # broadcast 4-row threshold frame
    "q_score_ks_separation",  # 1-row class-totals crossJoin (broadcast scalar)
    "sim_jl_distortion",  # pair join over the fixed 1-in-7 id sample
    "q_cross_correlation",  # lag frame x broadcast daily aggregate (both tiny)
    "q_exp_fit_gof",  # 1-row (n, lambda) crossJoin (broadcast scalar)
    "sim_ndcg_mrr",  # broadcast query-set ≠-joins (via brute_force_topk/lsh_topk)
    "sim_rrf_fusion",  # same broadcast query-set ≠-joins (cosine + MIPS rankings)
    "q_benjamini_hochberg",  # 1-row global-moment crossJoin (broadcast scalar)
    "sim_sq8_rerank",  # 1-row dim-stats crossJoin + broadcast query-set ≠-join
    "sim_ann_lifecycle",  # broadcast merged-centroid crossJoin (ivf probe rank)
    # -- round 12 --
    "sim_ann_learned_lifecycle",  # same broadcast merged-centroid crossJoin
    "text_bm25_auto",  # same 1-row stats crossJoin as its two routes
    "sim_ann_filtered",  # same broadcast merged-centroid crossJoin (hof path)
    "sim_ann_ivfpq",  # same broadcast merged-centroid crossJoin (probe rank)
    "sim_ann_ivfpq_lifecycle",  # same broadcast merged-centroid crossJoin
    # -- round 13 --
    "sim_recall_compressed",  # 1-row totals crossJoin + the three paths' broadcast ≠-joins
    "rag_hybrid_indexed",  # broadcast merged-centroid crossJoin (learned-ANN side)
    "dedup_semantic",  # broadcast Lloyd-centroid crossJoins (kmeans_assign)
    "dedup_semantic_incremental",  # broadcast merged-centroid crossJoin (match probe)
    "sim_matryoshka_recall",  # broadcast query-set ≠-joins ×3 + 1-row totals crossJoin
    # (q_roc_auc/q_pr_curve/q_mann_whitney/q_ks_test/q_wasserstein_1d are
    # listed above; their r09 prefix-sum rewrite adds only the tiny
    # bucket-offset triangle join, also a broadcast BNLJ)
}
# Queries whose point is the Python execution surface.
_PYTHON_OK = {
    "q_pandas_udf_norm",
    "q_pandas_udaf",
    "q_udtf_bigrams",
    "q_cogroup_reconcile",
    "mm_decode_features",
    "sim_bruteforce_np",  # declared vectorized path: BLAS matmul in mapInPandas
    "sim_recall_report",  # audits the np path, so its plan contains MapInPandas
    "mm_jpeg_decode",  # real JPEG encode+decode in mapInPandas (the point)
    "mm_mp4_meta",  # real ISO-BMFF box write+parse in mapInPandas (the point)
    "mm_wav_meta",  # real RIFF/WAVE write+parse in mapInPandas (the point)
    # -- round 12: the Arrow/BLAS probed-cell kernel IS the point --
    "sim_ann_learned",  # vector_topk_indexed(scoring="np") per-cell matmul
    "sim_ann_learned_retrain",  # same np kernel after retrain-on-compact
    "sim_ann_ivfpq",  # vector_topk_pq(scoring="np") integer LUT-gather kernel
    # -- round 13 --
    "sim_recall_compressed",  # folds the ivfpq np kernel into its overlap join
    "rag_hybrid_indexed",  # the learned-ANN side runs the np cell kernel
    # -- round 13 optimization: bench ANN rows routed through the same
    # proven kernels (results oracle-identical; HOF twins stay covered
    # by sim_recall_report's recall==1.0 identity and operator tests) --
    "sim_bruteforce_topk",  # brute_force_topk_np BLAS matmul kernel
    "sim_ivf_topk",  # ivf_topk(scoring="np") probed-cell kernel
    "sim_knn_classify",  # brute_force_topk_np (A/B-won swap, OPTIMIZATION_r13 §11)
    "sim_ndcg_mrr",  # brute_force_topk_np baseline ranking
    "sim_rrf_fusion",  # brute_force_topk_np cosine ranking
    "sim_matryoshka_recall",  # brute_force_topk_np ×4 truncation branches
}


def test_all_query_plans_clean(query_df):
    """Fleet-wide plan gate over every registered query: no cartesian
    products anywhere, nested-loop joins only where a scalar/tiny
    broadcast makes them the right plan, Python evaluation only in the
    declared Python-surface queries.

    Known blind spot: the two dedup_clusters* queries checkpoint inside
    their iterations, so the returned plan is truncated at the checkpoint
    scan — their per-round join shapes are covered separately by
    tests/test_dedup_ops.py's union-find triangulation instead."""
    problems = []
    for name in all_queries():
        plan = plan_str(query_df(name))
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            problems.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        py_marks = [
            m
            for m in (
                "BatchEvalPython",
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "CoGroup",
            )
            if m in plan
        ]
        if py_marks and name not in _PYTHON_OK:
            problems.append(f"{name}: unexpected Python path {py_marks}")
    assert not problems, "\n".join(problems)


def test_text_chunks_single_generate_no_exchange(spark, sf_dir):
    """Chunking must run entirely in the scan-stage projection: exactly
    one Generate (the sequence explode), no Python, and — since the r09
    presentation-sort sweep — no Exchange at all (chunking is map-only)."""
    import re

    df = _df(spark, sf_dir, "text_chunks")
    plan = plan_str(df)
    # formatted plans list each node once in the tree and once in the
    # detail section — count node headers, not substrings
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    assert "Python" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_shard_manifest_single_agg_shuffle(spark, sf_dir):
    """Shard assignment itself must not shuffle; the manifest is one
    hash-agg exchange (plus the window over shard cardinality and the
    presentation sort)."""
    df = _df(spark, sf_dir, "q_shard_manifest")
    plan = plan_str(df)
    assert "Python" not in plan
    assert plan.count("hashpartitioning") <= 2  # agg + window, never more


def test_kmeans_no_sort_shuffle_argmax(spark, sf_dir):
    """The Lloyd argmax must be the max_by partial aggregation — a
    row_number window would add a per-round sort shuffle of every
    (vector, centroid) pair."""
    df = _df(spark, sf_dir, "sim_kmeans_clusters")
    plan = plan_str(df)
    assert "row_number" not in plan
    assert "max_by" in plan or "maxBy" in plan.lower()


def test_heavy_hitters_partial_agg(spark, sf_dir):
    """Key counting must partial-aggregate map-side before the exchange."""
    df = _df(spark, sf_dir, "q_heavy_hitters")
    plan = plan_str(df)
    assert "partial_count" in plan or "partial" in plan
    assert "Python" not in plan


def test_join_hints_take_effect(spark, sf_dir):
    """Each hinted branch must produce its requested physical join."""
    df = _df(spark, sf_dir, "q_join_hints")
    plan = plan_str(df)
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert node in plan, f"{node} missing — hint ignored"


# Gate membership is STRUCTURAL (r09-verdict ask #2): every registration
# declares its plan shape at the @register site (queries/base.py), and
# these gates read the registry — a new query cannot silently skip them,
# because test_every_registration_declares_a_shape fails the moment a
# registration omits the declaration (register() itself also validates
# the trait grammar).
#
# per_row — output is one row per input row (per document, customer,
# vector, chunk, or candidate pair — cardinality scales with the corpus).
# These must NOT end in a presentation sort: the driver's oracle compare
# is order-insensitive, and a rangepartitioning exchange over per-row
# output is pure cost at 100 TB (proven on dedup_minhash_lsh -36%,
# text_stats -53%, q_asof_join -28% when their sorts were stripped).


def _shaped(trait: str) -> set[str]:
    return {n for n, s in all_queries().items() if trait in s.shape}


def test_every_registration_declares_a_shape():
    """The structural guarantee behind the two gates below: a
    registration with no shape declaration never reaches them, so this
    test makes the declaration itself mandatory."""
    undeclared = sorted(n for n, s in all_queries().items() if not s.shape)
    assert not undeclared, (
        f"registrations missing shape= declaration: {undeclared} — "
        "declare per_row or bounded (plus +prefix_sum where applicable) "
        "at the @register site"
    )


def test_no_trailing_sort_on_per_row_outputs(query_df):
    """Structural form of the round-8/9 presentation-sort sweep: a
    per-row-output query must contain no global Sort at all, so a
    regression (someone re-adds `.orderBy("doc_id")` for readability)
    fails here instead of costing a range shuffle at scale."""
    from redis_streams_spark.plans import global_sorts

    problems = []
    for name in sorted(_shaped("per_row")):
        hits = global_sorts(query_df(name))
        if hits:
            problems.append(f"{name}: {hits}")
    assert not problems, "\n".join(problems)


# prefix_sum — queries built on the bucketed two-phase prefix sum
# (operators/prefix.py): their plans must contain ZERO empty-partition
# windows — stronger than the aggregate-guard below, which is necessary
# but not sufficient when the aggregate's key is a continuous column
# whose distinct cardinality grows with the corpus (round-8 verdict).
# Round 10 added the three vocabulary-rank rewrites (text_unigram_lm,
# text_vocab_coverage, text_source_divergence) — the last aggregate-guard
# loophole the r09 verdict named.


def test_prefix_sum_queries_no_global_window_at_all(query_df):
    from redis_streams_spark.plans import global_windows

    problems = []
    for name in sorted(_shaped("prefix_sum")):
        hits = global_windows(query_df(name))
        if hits:
            problems.append(f"{name}: {hits}")
    assert not problems, "\n".join(problems)


# Unpartitioned windows acceptable over NON-aggregate but structurally
# tiny inputs (each entry must say why the input is bounded).
_GLOBAL_WINDOW_OK: set[str] = set()


def test_no_unguarded_global_windows(query_df):
    """Fleet-wide: every Window with an empty partition spec must sit
    above an Aggregate (the two-phase prefix-sum pattern, where the
    window's input is already |groups|-bounded) — a global window over
    raw rows serializes the whole dataset through one task at 100 TB."""
    from redis_streams_spark.plans import unguarded_global_windows

    problems = []
    for name in all_queries():
        if name in _GLOBAL_WINDOW_OK:
            continue
        hits = unguarded_global_windows(query_df(name))
        if hits:
            problems.append(f"{name}: {hits}")
    assert not problems, "\n".join(problems)
