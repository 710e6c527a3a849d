"""Plan-quality regression tests (SURVEY.md §6): the physical plans the
judge would read must keep their scale-critical properties — pushdown
reaching the scan, pruned read schemas, broadcast dim joins, heap-based
top-N, and no accidental cartesian blowups anywhere."""

from __future__ import annotations

import pytest


def plan_str(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _queries():
    import __spark_entry__ as e

    return e.queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    q = _queries()["q1_pricing_summary"](spark, sf_dir)
    plan = plan_str(q)
    assert "PushedFilters" in plan
    # The shipdate predicate must be in the scan's pushed filters, not a
    # post-scan Filter only.
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), pushed


def test_column_pruning(spark, sf_dir):
    q = _queries()["congestion_classify"](spark, sf_dir)
    plan = plan_str(q)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("props" not in l and "event_type" not in l for l in read), read


def test_dim_joins_broadcast(spark, sf_dir):
    for key in ("q5_local_supplier", "revenue_by_nation", "q3_shipping_priority"):
        plan = plan_str(_queries()[key](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, key


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = plan_str(_queries()["top_k"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_window_partitioned_no_global_sort(spark, sf_dir):
    """sessionize/moving_avg windows are partitioned by user — the sort is
    per-partition (SortExec under a hash exchange), never a global range
    exchange."""
    for key in ("sessionize", "moving_avg"):
        plan = plan_str(_queries()[key](spark, sf_dir))
        assert "rangepartitioning" not in plan.lower().replace(" ", ""), key


# Documented exceptions:
# - ann_topk_cosine: brute-force baseline, every (probe, vector) pair by
#   design.
# - retention_filter / q22: build side is a 1-row scalar (global max ts
#   / balance stats) — a broadcast of one row, constant cost at any scale.
BNLJ_ALLOWED = {
    "ann_topk_cosine",
    "retention_filter",
    "q22_global_sales_opportunity",
    "tfidf_top_terms",  # 1-row corpus-size aggregate broadcast
    "dedup_incremental",  # 1-row ingest split-point broadcast
    "source_token_rebalance",  # 1-row total-token-budget broadcast
    "unigram_logprob_score",  # 1-row corpus-token-total broadcast
    "length_outlier_filter",  # 1-row percentile-cutoff broadcast
    "q11_important_stock",  # 1-row segment-total broadcast (inequality
    # threshold can't become an equi-join; q15's equality predicate does)
    "cusum_drift",  # 1-row fleet-mean broadcast
    "ann_range_search",  # brute-force range baseline: every (probe,
    # vector) pair by design, bounded probe side broadcast
    "bm25_scores",  # 1-row corpus-stats (n_docs, sum_dl) broadcast
    "basket_affinity",  # 1-row total-order-count broadcast
    "ccnet_perplexity_buckets",  # 1-row corpus-total broadcast
    "bloom_prefilter_report",  # 1-row stats × sizes summary joins
    "hard_negative_mining",  # cross-label mining: bounded probe side
    # broadcast, non-equi (label <>) by design like ann_topk_cosine
    "layer_reconciliation",  # 1-row retention-cutoff broadcast
    "getis_ord_hotspots",  # 1-row global (m, sv, svv) moment broadcast
    # onto the ≤400-cell table (the morans_i_grid discipline)
    "knox_spacetime",  # three 1-row pair-mass aggregates cross-joined
    # with the 1-row total (morans discipline); the pair joins
    # themselves are (cell, block)-equi
    "mwu_zone_shift",  # type×type pair construction: non-equi (<) join
    # of two DISTINCT event-type lists (bounded by type cardinality,
    # never facts); the merged-sample joins are equi on the pair key
    "join_strategy_report",  # 1-row fact-count broadcast onto the
    # ≤6-row dim summary table
    "lm_interpolation_sweep",  # 1-row (N, V) train-total broadcast
    # onto the scored pair table (the unigram_logprob discipline)
    "neyman_allocation_plan",  # 1-row allocation-total broadcast onto
    # the |sources|-bounded stratum table
    "sequence_gap_audit",  # 1-row max-id broadcast onto the bounded
    # id-block rollup (layer_reconciliation discipline)
    "benford_digit_test",  # 9-row digit-grid literal broadcast (the
    # zone × digit completion join; constant cost at any scale)
    "retention_cost_curve",  # 1-row max-day + 4-row window literal
    # broadcasts over the bounded day-partition table
    "hnsw_layer_stats",  # three 1-row x 1-row joins (layer node
    # count x edge aggregate); constant cost at any scale
    "dedup_threshold_sweep",  # 7-row threshold literal broadcast over
    # the inverted-index pair table (the k-curve shape)
    "k_anonymity_audit",  # 4-row k-threshold literal broadcast over
    # the grid-bounded class table
    "l_diversity_audit",  # 3-row l-threshold literal broadcast over
    # the same grid-bounded class table
    "t_closeness_audit",  # 1-row total broadcast + 3-row t-threshold
    # literal over the same grid-bounded class table
    "rfm_segments",  # 1-row corpus max-order-date broadcast
    "ann_recall_report",  # exact-recall ground truth: bounded probe
    # side broadcast, non-equi (vec_id <>) by design like ann_topk_cosine
    "source_divergence_chi2",  # 1-row corpus-token-total broadcast
    "km_survival",  # 1-row corpus-end scalar + 1-row factor-array
    # broadcast over the duration-bucket-bounded step table
    "ann_graph_search",  # bounded probe-side fan-out + 1-row entry
    # broadcast (the ann_topk_cosine pattern over the k-bounded graph)
    "dsir_importance_weights",  # 1-row corpus/target token-total broadcast
    "embedding_bq_hamming",  # bounded probe side broadcast, non-equi
    # (vec_id <>) by design like ann_topk_cosine
    "mrl_truncation_qc",  # bounded probe side broadcast, non-equi
    # (vec_id <>) by design like ann_topk_cosine
    "ks_length_drift",  # |langs|-row dim broadcast cross join building
    # the dense ECDF value grid (bounded by the language count)
    "pmi_collocations",  # 1-row pair-total broadcast
    "stupid_backoff_score",  # 1-row train-token-total broadcast
    "kneser_ney_score",  # 1-row continuation-total (Ncc) broadcast
    "naive_bayes_langid",  # |langs|-row model cross joins + 1-row
    # vocab-size/train-total broadcasts (bounded lang enum)
    "ab_test_report",  # 1-row-per-arm final cross join (2 rows total)
    "decision_stump_train",  # 1-row class-totals broadcast over the
    # cents-histogram-bounded candidate table
    "retrieval_metrics_report",  # bounded probe side broadcast,
    # non-equi (vec_id <>) by design like ann_topk_cosine
    "conformal_anomaly_rate",  # 1-row calibration-size + threshold
    # broadcasts (global-aggregate roots)
    "heaps_law_fit",  # 1-row corpus-totals broadcast
    "rrf_hybrid_fusion",  # 1-row query-vector + inherited bm25
    # corpus-stats broadcasts (global-aggregate roots)
    "city_snapshot",  # 1-row city-wide max-ts broadcast (freshness
    # anchor joined to every leg and the final projection)
    "graph_degree_assortativity",  # 1-row node-count broadcast onto
    # the 1-row moment aggregate (global-aggregate roots both sides)
    "morans_i_grid",  # 1-row cell-total broadcast onto the
    # grid-bounded cell table + 1-row pair/variance aggregates
    "local_morans_hotspots",  # same 1-row total + 1-row variance-sum
    # broadcasts over the grid-bounded cell table
    "eps_elbow_report",  # 1-row chord-endpoints/totals broadcasts
    # (global-aggregate roots) over the bounded k-distance histogram
    "perplexity_threshold_sweep",  # 1-row corpus-token-total broadcast
    # (the unigram_logprob_score class) feeding the integer keep test
    "vocab_size_curve",  # 1-row (total, |vocab|) broadcast onto the
    # |grid|-row size literal table
    "did_zone_report",  # 1-row global time-midpoint broadcast (the
    # retention_filter class)
    "grouped_kfold_assign",  # 1-row corpus-token-total broadcast onto
    # the K-row fold table
    "ivf_shard_plan",  # 1-row vector-total broadcast onto the S-row
    # shard table
    "embedding_threshold_sweep",  # 1-row corpus-vector-total broadcast
    # onto the |grid|-row sweep table
    "first_exceedance_report",  # 1-row sensor-count broadcast onto the
    # |grid|-row threshold table
    "classifier_calibration_report",  # 1-row corpus-totals broadcast
    # onto the <=10-row confidence-bin table
    "temperature_sampling_plan",  # 1-row (corpus, max) token-total
    # broadcast onto the |sources|-bounded stratum table
}


# Unpartitioned-window allowlist: keys whose plans contain a Window
# with NO partition spec — legal ONLY because the window's input is a
# BOUNDED table (a value-domain histogram, a score/bucket grid, a
# capped top-N list, or file/partition metadata), never
# row-proportional data. Every entry carries the bound. Any new
# unpartitioned window must either partition, switch to the
# histogram/two-level-prefix idioms, or be justified here.
UNPARTITIONED_WINDOW_ALLOWED = {
    "bpe_merge_counts": "pair-rank window over the vocab²-bounded merge table",
    "cluster_label_nmi": "contingency table bounded by |clusters|×|labels|",
    "compaction_plan": "file-metadata table (|files|, not rows)",
    "conformal_anomaly_rate": "histogram walls + cumulative over the "
    "bounded quantized-score grid",
    "decision_stump_train": "cumulative over the cents-histogram table",
    "eps_elbow_report": "cumulative over the bounded distinct-d2 k-distance histogram",
    "dedup_cluster_modularity": "cluster-bounded degree/edge tables",
    "density_heatmap": "cumulative over the bounded spatial grid",
    "funnel_conversion_report": "|steps|-row funnel table",
    "hbos_outlier_scores": "histogram walls over vb/hour/type tables "
    "(value-domain bounded)",
    "heaps_law_fit": "exclusive prefix over the doc_id>>20 bucket table",
    "ingest_novelty_timeline": "exclusive prefix over the batch>>12 "
    "superbucket table (|batches|/4096 rows, heaps_law discipline)",
    "watermark_whatif_curve": "exclusive prefix-max over the "
    "arrival_seq>>20 superbucket table (|events|/2^20 rows, "
    "heaps_law discipline)",
    "kruskal_zone_test": "global rank over the type×calendar-hour "
    "rollup (bounded by zone count × hours, never facts)",
    "hilbert_prune_report": "file/partition metadata table",
    "km_survival": "cumulative over the duration-bucket step table",
    "length_outlier_filter": "cumulative over the token-count histogram",
    "minhash_estimate_audit": "signature-grid-bounded estimate table",
    "partition_skew_report": "partition metadata table",
    "rfm_segments": "exclusive prefix over metric-value/cents>>16 "
    "bucket histograms",
    "rrf_hybrid_fusion": "rank windows over RRF_DEPTH-capped (<=1000-row) "
    "leg lists and their <=2000-row fusion",
    "seq_len_histogram": "cumulative over the length histogram",
    "text_embedding_agreement": "rank-grid-bounded agreement table",
    "ivf_shard_plan": "snake-rank window over the |labels|-bounded cell "
    "table (zipf_fit class)",
    "vocab_size_curve": "rank/cumulative window over the vocab-bounded "
    "term table (zipf_fit class)",
    "zipf_fit": "rank window over the vocab-bounded term table",
    "zone_hod_mi": "zone x 24-hour grid table",
    "roc_auc_report": "cumulative/total windows over the 1e-4-score-"
    "grid threshold table (<=10001 rows, the conformal_anomaly_rate "
    "class)",
}


# Float-sum lint allowlist (VERDICT r10 item 2): keys allowed to carry
# a Sum/Average aggregate over a raw DOUBLE/FLOAT input. Double
# summation is partial-aggregation-order-dependent (Spark's partials
# vs DuckDB's sequential scan disagree in the last ulp, which flips a
# pround at a .xxxx5 boundary — the markov_entropy_rate r10 driver-gate
# red). The house rule: quantize each term once to an integer grid
# (2^20, or unit grid for O(n²)-sized terms) and SUM INTEGERS — or sum
# in DECIMAL. Integer-typed, decimal-typed, and quantized-grid sums
# never trigger this lint (their input type isn't double); any new
# double-sum must be quantized or justified here with its bound.
FLOATSUM_ALLOWED: dict[str, str] = {
    "frames_features": "rows-only key by documented design (cv2-gated "
    "decode, no DuckDB oracle) — the Average(mean_intensity) rollup is "
    "never value-hashed, so last-ulp aggregation order cannot flake a "
    "gate; every oracle-paired key stays lint-clean",
}


def _double_sum_hits(df) -> list[str]:
    """Describe Sum/Average aggregates over DOUBLE/FLOAT inputs in the
    optimized logical plan (Aggregate and Window nodes both)."""
    from tools.floatsum_scan import double_sum_hits

    return double_sum_hits(df)


def test_floatsum_lint_catches_planted_violation(spark):
    """The lint must go red on an unquantized double sum (and stay
    quiet on integer / decimal / quantized-grid sums)."""
    from pyspark.sql import functions as F

    base = spark.range(10).select(
        F.col("id"), (F.col("id") * 0.1).alias("x")
    )
    bad = base.groupBy((F.col("id") % 2).alias("g")).agg(F.sum("x").alias("s"))
    assert _double_sum_hits(bad), "planted raw-double Sum not caught"
    bad_avg = base.groupBy((F.col("id") % 2).alias("g")).agg(
        F.avg("x").alias("m")
    )
    assert _double_sum_hits(bad_avg), "planted raw-double Average not caught"
    ok = base.groupBy((F.col("id") % 2).alias("g")).agg(
        F.sum(
            F.floor(F.col("x") * 1048576.0 + 0.5).cast("long")
        ).alias("sq"),
        F.sum(F.col("x").cast("decimal(18,2)")).alias("sd"),
        F.sum("id").alias("si"),
    )
    assert not _double_sum_hits(ok), "quantized/decimal/integer sum flagged"


# Single-partition-exchange allowlist (VERDICT r8 item 8): keys whose
# physical plans contain an `Exchange SinglePartition` whose CHILD is
# data-proportional-looking. Auto-allowed without listing: an aggregate
# child with an EMPTY grouping (emits <= 1 row per input partition —
# the partial/merge half of any global aggregate) and LocalLimit. The
# remaining legal case is the same one the unpartitioned-window
# allowlist documents — the exchange feeds a rank/prefix window over a
# BOUNDED table (histogram / grid / capped list / file metadata) — so
# those keys are allowed with the SAME per-key bound justification;
# anything new must partition, switch idioms, or be justified in
# SINGLE_PARTITION_EXTRA with its input bound.
_VOCAB_BOUND = (
    "one vocabulary-kernel group over the distinct-word table, 31 rows"
    " from the generator's fixed word list at every scale factor"
)
SINGLE_PARTITION_EXTRA: dict[str, str] = {
    "dbscan_grid": "one component-kernel group over the dense-cell table,"
    " at most (10000/DBSCAN_CELL)² = 400 cells",
    "bpe_train_merges": _VOCAB_BOUND,
    "bpe_encode_fertility": _VOCAB_BOUND,
    "wordpiece_train_merges": _VOCAB_BOUND,
    "ulm_train_vocab": _VOCAB_BOUND,
    "ulm_encode_fertility": _VOCAB_BOUND,
}


def _single_partition_exchanges(df) -> list[str]:
    """Describe ShuffleExchange(SinglePartition) nodes whose child is
    not auto-bounded (walks the AQE initial physical plan — sparkPlan()
    predates EnsureRequirements and has no exchanges at all)."""
    ep = df._jdf.queryExecution().executedPlan()
    if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        ep = ep.initialPlan()
    out = []
    stack = [ep]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "ShuffleExchangeExec"
            and "SinglePartition" in node.outputPartitioning().toString()
        ):
            child = node.child()
            cname = child.getClass().getSimpleName()
            cstr = child.simpleString(200)
            empty_group_agg = "Aggregate" in cname and (
                "keys=[]" in cstr or "key=[]" in cstr
            )
            if not (empty_group_agg or cname == "LocalLimitExec"):
                out.append(f"{cname}: {cstr[:160]}")
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out


def _unpartitioned_windows(df) -> int:
    """Count logical Window nodes with an empty partition spec."""
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            n += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return n


@pytest.mark.parametrize("key", sorted(_queries()))
def test_no_cartesian_blowup_or_global_window(key, spark, sf_dir):
    df = _queries()[key](spark, sf_dir)
    plan = plan_str(df)
    assert "CartesianProduct" not in plan, key
    if key not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, key
    if key not in UNPARTITIONED_WINDOW_ALLOWED:
        n = _unpartitioned_windows(df)
        assert n == 0, (
            f"{key}: {n} unpartitioned Window node(s) — single-partition "
            "scale-killer unless the input is bounded; partition it, use "
            "the histogram/two-level-prefix idioms, or justify in "
            "UNPARTITIONED_WINDOW_ALLOWED"
        )
    if key not in UNPARTITIONED_WINDOW_ALLOWED and key not in SINGLE_PARTITION_EXTRA:
        hits = _single_partition_exchanges(df)
        assert not hits, (
            f"{key}: Exchange SinglePartition over a non-bounded child — "
            "a coalesce(1)/global-sort class regression; partition it or "
            f"justify the bound in SINGLE_PARTITION_EXTRA: {hits}"
        )
    if key not in FLOATSUM_ALLOWED:
        fs = _double_sum_hits(df)
        assert not fs, (
            f"{key}: Sum/Average over a raw DOUBLE input — aggregation-"
            "order-dependent float sum (the markov_entropy_rate driver-"
            "gate flake class); quantize each term to an integer grid "
            "and sum integers, sum in DECIMAL, or justify the bound in "
            f"FLOATSUM_ALLOWED: {fs}"
        )
