#!/usr/bin/env python
"""Scale soak: replicate the sf0.1 documents/embeddings tables N times
(shifted ids, deterministic word-level perturbation so replicas are
near- but not exact dups) and time the scale-critical operators at 1x
vs Nx. Linear-ish growth here is the empirical check behind PLANS.md's
"would this hold at 10x?" claims.

Usage: python scripts/scale_soak.py [N]   (default 10)
Writes the scaled tables under .scratch/soak_sfN/ (gitignored).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.session import get_spark
from spark_kafka_airflow_pipeline_spark.operators import (
    base,
    corpusops,
    dedup,
    evalops,
    events,
    graphops,
    lakeops,
    multimodal,
    relational_extra,
    scaleops,
    similarity,
    textops,
    warehouse,
)

BASE = "/root/testdata/sf0.1"
REPO = Path(__file__).resolve().parent.parent


def build(spark, n: int, out: Path) -> None:
    d = spark.read.parquet(f"{BASE}/documents.parquet")
    total = d.count()
    copies = []
    for i in range(n):
        c = (d.withColumn("doc_id", F.col("doc_id") + F.lit(i * total))
             .withColumn(
                 "text",
                 # replica i>0: prepend a replica marker token so copies
                 # are near-dups (high Jaccard) rather than exact dups
                 F.when(F.lit(i == 0), F.col("text"))
                 .otherwise(F.concat(F.lit(f"replica{i} "), F.col("text")))))
        copies.append(c)
    alld = copies[0]
    for c in copies[1:]:
        alld = alld.unionByName(c)
    alld.repartition(32).write.mode("overwrite") \
        .parquet(str(out / "documents.parquet"))

    e = spark.read.parquet(f"{BASE}/embeddings.parquet")
    etotal = e.count()
    ecopies = [e.withColumn("vec_id", F.col("vec_id") + F.lit(i * etotal))
               for i in range(n)]
    alle = ecopies[0]
    for c in ecopies[1:]:
        alle = alle.unionByName(c)
    alle.repartition(32).write.mode("overwrite") \
        .parquet(str(out / "embeddings.parquet"))


def build_relational(spark, n: int, out: Path) -> None:
    """Replicate lineitem/orders with shifted keys so graph/warehouse
    operators can be soaked too. Replicas keep the same suppliers
    (l_suppkey unchanged): order volume grows n-x while the supplier
    node set stays fixed — the realistic growth mode for a
    co-occurrence graph (more evidence, same entities)."""
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    omax = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    copies = [li.withColumn("l_orderkey",
                            F.col("l_orderkey") + F.lit(i * omax))
              for i in range(n)]
    allli = copies[0]
    for c in copies[1:]:
        allli = allli.unionByName(c)
    allli.repartition(32).write.mode("overwrite") \
        .parquet(str(out / "lineitem.parquet"))

    o = spark.read.parquet(f"{BASE}/orders.parquet")
    ocopies = [o.withColumn("o_orderkey",
                            F.col("o_orderkey") + F.lit(i * omax))
               for i in range(n)]
    allo = ocopies[0]
    for c in ocopies[1:]:
        allo = allo.unionByName(c)
    allo.repartition(32).write.mode("overwrite") \
        .parquet(str(out / "orders.parquet"))


def build_dims(spark, n: int, out: Path) -> None:
    """Customer replicated with shifted keys (replica 0 = originals, so
    orders' foreign keys stay resolvable); nation/region/supplier
    copied verbatim — fixed-size dims by design, the realistic growth
    mode (more customers and facts, same reference data)."""
    c = spark.read.parquet(f"{BASE}/customer.parquet")
    cmax = c.agg(F.max("c_custkey")).collect()[0][0] + 1
    copies = [c.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * cmax))
              for i in range(n)]
    allc = copies[0]
    for cc in copies[1:]:
        allc = allc.unionByName(cc)
    allc.repartition(8).write.mode("overwrite") \
        .parquet(str(out / "customer.parquet"))
    for tname in ("nation", "region", "supplier"):
        (spark.read.parquet(f"{BASE}/{tname}.parquet")
         .write.mode("overwrite").parquet(str(out / f"{tname}.parquet")))
    # part scales with SF in TPC-H — replicate with shifted keys (the
    # per-brand regression / skyline ops soak on it)
    p = spark.read.parquet(f"{BASE}/part.parquet")
    pmax = p.agg(F.max("p_partkey")).collect()[0][0] + 1
    pcopies = [p.withColumn("p_partkey", F.col("p_partkey") + F.lit(i * pmax))
               for i in range(n)]
    allp = pcopies[0]
    for pc in pcopies[1:]:
        allp = allp.unionByName(pc)
    allp.repartition(8).write.mode("overwrite") \
        .parquet(str(out / "part.parquet"))


OPS = {
    "dedup_exact": dedup.dedup_exact,
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "ngram_jaccard_dups": dedup.ngram_jaccard_dups,
    "simhash_near_dups": dedup.simhash_near_dups,
    "incremental_dedup_minhash": dedup.incremental_dedup_minhash,
    "cross_doc_span_dups": textops.cross_doc_span_dups,
    "kmeans_clusters": similarity.kmeans_clusters,
    "pq_ann_topk": similarity.pq_ann_topk,
    "dedup_clusters": dedup.dedup_clusters,
    # round-5 document/embedding operators
    "hard_negative_mining": similarity.hard_negative_mining,
    "tokenizer_vocab_coverage": textops.tokenizer_vocab_coverage,
    "weighted_mixture_sample": textops.weighted_mixture_sample,
    "quality_percentile_filter": textops.quality_percentile_filter,
    "length_bucket_packing": textops.length_bucket_packing,
    # late round-5 additions
    "gopher_quality_rules": textops.gopher_quality_rules,
    "split_leakage_audit": dedup.split_leakage_audit,
    "pagerank_supplier_rank": graphops.pagerank_supplier_rank,
    "triangle_count_suppliers": graphops.triangle_count_suppliers,
    "snapshot_diff_cdc": warehouse.snapshot_diff_cdc,
    "table_profile": warehouse.table_profile,
    "token_lift_pairs": textops.token_lift_pairs,
    # round-6 additions
    "winnow_fingerprints": textops.winnow_fingerprints,
    "winnow_overlap": textops.winnow_overlap,
    "longest_shared_spans": textops.longest_shared_spans,
    "embedding_dup_clusters": similarity.embedding_dup_clusters,
    # late round-6 corpusops additions
    "span_dedup_removal": corpusops.span_dedup_removal,
    "prefix_edit_near_dups": corpusops.prefix_edit_near_dups,
    "inverted_index_postings": corpusops.inverted_index_postings,
    "unigram_entropy_scores": corpusops.unigram_entropy_scores,
    "misra_gries_topk": corpusops.misra_gries_topk,
    "embedding_principal_component": corpusops.embedding_principal_component,
    "zipf_fit_by_source": corpusops.zipf_fit_by_source,
    "source_overlap_matrix": corpusops.source_overlap_matrix,
    "bpe_merge_apply": corpusops.bpe_merge_apply,
    "cdc_chunking": corpusops.cdc_chunking,
    "minhash_estimate_error": dedup.minhash_estimate_error,
    # round-6-final cohort (VERDICT r6 ask #5) + round-7 ranking helper
    "embedding_dim_variance": similarity.embedding_dim_variance,
    "integrity_audit": warehouse.integrity_audit,
    "benford_price_audit": warehouse.benford_price_audit,
    "customer_rfm_segments": relational_extra.customer_rfm_segments,
    "revenue_percent_of_parent": relational_extra.revenue_percent_of_parent,
    "customer_global_rank": scaleops.customer_global_rank,
    # round-7 additions
    "customer_pareto_abc": scaleops.customer_pareto_abc,
    "orders_equidepth_bins": scaleops.orders_equidepth_bins,
    "kmv_distinct_rollup": scaleops.kmv_distinct_rollup,
    "kmv_source_overlap": corpusops.kmv_source_overlap,
    "rendezvous_shard_plan": corpusops.rendezvous_shard_plan,
    "cross_lang_fingerprint_spread": corpusops.cross_lang_fingerprint_spread,
    "weighted_sample_aes": textops.weighted_sample_aes,
    "bootstrap_mean_ci": relational_extra.bootstrap_mean_ci,
    "order_fulfillment_backlog": relational_extra.order_fulfillment_backlog,
    "orders_seasonality_index": relational_extra.orders_seasonality_index,
    "supplier_bfs_hops": graphops.supplier_bfs_hops,
    "frequent_part_pairs": relational_extra.frequent_part_pairs,
    "cms_heavy_hitters": corpusops.cms_heavy_hitters,
    "stratified_sample_neyman": textops.stratified_sample_neyman,
    # late round-7 additions
    "flesch_reading_ease": textops.flesch_reading_ease,
    "containment_md5_pairs": dedup.containment_md5_pairs,
    "minmax_skipping_audit": scaleops.minmax_skipping_audit,
    "boilerplate_line_share": textops.boilerplate_line_share,
    "link_prediction_jaccard": graphops.link_prediction_jaccard,
    "sparse_cosine_pairs": textops.sparse_cosine_pairs,
    "golden_record_merge": dedup.golden_record_merge,
    "incremental_ivf_assign": similarity.incremental_ivf_assign,
    # final late-r7 cohort (VERDICT r7 ask #4 — completes the r7 surface)
    "multimodal_phash": multimodal.multimodal_phash,
    "k_anonymity_audit": textops.k_anonymity_audit,
    "weighted_median_price": scaleops.weighted_median_price,
    "sequence_gap_audit": scaleops.sequence_gap_audit,
    "target_encode_loo": events.target_encode_loo,
    "cv_fold_balance": textops.cv_fold_balance,
    "holt_forecast_monthly": relational_extra.holt_forecast_monthly,
    "freshness_sla_audit": events.freshness_sla_audit,
    "systematic_sample_every_k": scaleops.systematic_sample_every_k,
    # round-8 additions
    "benchmark_decontamination": corpusops.benchmark_decontamination,
    "ngram_novelty_score": corpusops.ngram_novelty_score,
    "unigram_lm_quality": textops.unigram_lm_quality,
    "selfjoin_cardinality_planner": scaleops.selfjoin_cardinality_planner,
    "brand_price_size_regression":
        relational_extra.brand_price_size_regression,
    "pareto_frontier_parts": relational_extra.pareto_frontier_parts,
    "orders_peak_concurrency": relational_extra.orders_peak_concurrency,
    # late round-8 evalops family (orders/customer-based; the global
    # ranking/prefix-sum primitives are the scale-critical parts)
    "woe_iv_segment_priority": evalops.woe_iv_segment_priority,
    "score_auc_acctbal": evalops.score_auc_acctbal,
    "gini_lorenz_customers": evalops.gini_lorenz_customers,
    "acf_daily_revenue": evalops.acf_daily_revenue,
    "kaplan_meier_reorder": evalops.kaplan_meier_reorder,
    "score_lift_gain_deciles": evalops.score_lift_gain_deciles,
    "score_calibration_bins": evalops.score_calibration_bins,
    "source_js_divergence": evalops.source_js_divergence,
    "nation_revenue_hhi": evalops.nation_revenue_hhi,
    "threshold_sweep_pr_f1": evalops.threshold_sweep_pr_f1,
    "segment_priority_mutual_info": evalops.segment_priority_mutual_info,
    "classifier_agreement_kappa": evalops.classifier_agreement_kappa,
    "isotonic_calibration_bins": evalops.isotonic_calibration_bins,
    # late round-8 lakeops (physical-design planners)
    "compaction_bin_plan": lakeops.compaction_bin_plan,
    "zorder_clustering_audit": lakeops.zorder_clustering_audit,
    "bloom_filter_fpr_planner": lakeops.bloom_filter_fpr_planner,
    "feature_hashing_collision_audit":
        lakeops.feature_hashing_collision_audit,
    "label_propagation_communities":
        graphops.label_propagation_communities,
    "l_diversity_audit": textops.l_diversity_audit,
    "ndcg_retrieval_eval": evalops.ndcg_retrieval_eval,
    "walk_forward_cv_splits": evalops.walk_forward_cv_splits,
    "recursive_cte_reach_curve": graphops.recursive_cte_reach_curve,
    "multimodal_shard_plan": multimodal.multimodal_shard_plan,
    "blocking_quality_report": dedup.blocking_quality_report,
    "forecast_pinball_eval": evalops.forecast_pinball_eval,
    "fellegi_sunter_weights": dedup.fellegi_sunter_weights,
    "partition_retention_plan": lakeops.partition_retention_plan,
    "price_volume_mix_decomposition":
        evalops.price_volume_mix_decomposition,
    "order_price_qq_drift": evalops.order_price_qq_drift,
    # round-9 additions (metadata_privacy_report is NOT here: it runs
    # on pure pipeline-config JSON, no data-sized input to soak)
    "nelson_aalen_hazard": evalops.nelson_aalen_hazard,
    "price_emd_drift": evalops.price_emd_drift,
    "mann_kendall_trend": evalops.mann_kendall_trend,
    "ab_power_planner": evalops.ab_power_planner,
    "orders_column_profile": lakeops.orders_column_profile,
    "functional_dependency_audit": lakeops.functional_dependency_audit,
    "skew_salt_planner": scaleops.skew_salt_planner,
    "association_rules_lift": relational_extra.association_rules_lift,
    # r10: the r9 verdict's watch item — slowest oracled query; its
    # banded+pre-filtered topology should hold the pair-family curve
    "ngram_jaccard_md5_pairs": dedup.ngram_jaccard_md5_pairs,
    "minhash_md5_pairs": dedup.minhash_md5_pairs,
    # r17: third member of the iterative cluster family — soaked so its
    # fixpoint iteration telemetry (below) has a row next to
    # dedup_clusters / embedding_dup_clusters
    "dedup_clusters_md5": dedup.dedup_clusters_md5,
}

# The iterative min-label cluster family: after each timed draw the
# operator records its round count in base.FIXPOINT_ITERS[name]; the
# soak row carries it so a convergence regression (more rounds at Nx)
# is distinguishable from host noise (same rounds, slower wall-clock)
# — r16 verdict ask #2. Cross-member caveat: dedup_clusters reports
# its FIXED design constant (propagation rounds only, no zero-change
# confirming round), while the fixpoint twins report executed rounds
# INCLUDING the confirm — equivalent physical work reads one higher
# on a fixpoint member. Fixpoint rows also carry converged_{n}x
# (base.FIXPOINT_CONVERGED) so a max_rounds truncation can't read as
# a quiet convergence.
FIXPOINT_FAMILY = ("dedup_clusters", "dedup_clusters_md5",
                   "embedding_dup_clusters")

#: Ops whose r17 localCheckpoint barriers hold corpus-scaling frames in
#: executor storage (r17 verdict ask #7): the soak records, for their
#: Nx draw, the cumulative task spill DELTA across the run and the
#: block-manager storage still held right after it (before the
#: inter-op clearCache), so "the gram-stream checkpoint fits without
#: spilling at 20x" is a recorded number instead of byte-math.
SPILL_GRADE = ("longest_shared_spans", "blocking_quality_report")


def _rest_json(spark, path: str):
    """Fetch a Spark UI REST endpoint for the running app (local mode:
    always reachable at uiWebUrl). Returns parsed JSON or None."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}",
                                    timeout=10) as fh:
            return json.loads(fh.read().decode())
    except Exception:  # noqa: BLE001 — metrics are best-effort telemetry
        return None


def _spill_bytes(spark) -> int | None:
    """Cumulative memory+disk bytes spilled across the completed stages
    the UI still retains (sample before/after an op and diff).

    Caveat: the UI keeps only ``spark.ui.retainedStages`` (default 1000)
    completed stages, so on a long soak earlier stages can be evicted
    between the two samples. The difference then undercounts and can
    even go negative; callers clamp it at 0."""
    stages = _rest_json(spark, "/stages?status=complete")
    if stages is None:
        return None
    return sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
               for s in stages)


def _storage_bytes(spark) -> tuple[int, int] | None:
    """(memoryUsed, diskUsed) currently held by the block manager —
    localCheckpoint blocks live here."""
    execs = _rest_json(spark, "/executors")
    if execs is None:
        return None
    return (sum(e.get("memoryUsed", 0) for e in execs),
            sum(e.get("diskUsed", 0) for e in execs))


def build_events(spark, n: int, out: Path) -> None:
    """Replicate events with shifted ids (same users/types: event
    volume grows, key cardinality stays — the realistic growth mode
    for windows and transition counts)."""
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    emax = ev.agg(F.max("event_id")).collect()[0][0] + 1
    copies = [ev.withColumn("event_id", F.col("event_id") + F.lit(i * emax))
              for i in range(n)]
    alle = copies[0]
    for c in copies[1:]:
        alle = alle.unionByName(c)
    alle.repartition(32).write.mode("overwrite") \
        .parquet(str(out / "events.parquet"))


EVENT_OPS = {
    "events_drift_chi2": events.events_drift_chi2,
    "event_transition_matrix": events.event_transition_matrix,
    "events_anomaly_mad": events.events_anomaly_mad,
    "events_rolling_median": events.events_rolling_median,
    # round-6-final cohort (VERDICT r6 ask #5)
    "events_drift_psi": events.events_drift_psi,
    "bot_rate_flags": events.bot_rate_flags,
    # round-7 additions
    "dau_wau_stickiness": events.dau_wau_stickiness,
    "attribution_last_touch": events.attribution_last_touch,
    "theil_sen_trend": events.theil_sen_trend,
    "scd2_point_in_time_join": warehouse.scd2_point_in_time_join,
    "value_drift_continuous": events.value_drift_continuous,
    "decayed_type_popularity": events.decayed_type_popularity,
    "funnel_time_to_convert": events.funnel_time_to_convert,
    "cohort_ltv_curve": events.cohort_ltv_curve,
    "event_cooccurrence_pmi": events.event_cooccurrence_pmi,
    "ab_test_welch": events.ab_test_welch,
    "events_cusum_changepoint": events.events_cusum_changepoint,
    "session_dwell_bounce": events.session_dwell_bounce,
    "seasonal_adjusted_anomalies": events.seasonal_adjusted_anomalies,
    "watermark_delay_planner": events.watermark_delay_planner,
    # late round-8 evalops (events-based)
    "daily_burstiness_fano": evalops.daily_burstiness_fano,
    "purchase_view_ccf": evalops.purchase_view_ccf,
    "attribution_position_based": events.attribution_position_based,
    "interarrival_dispersion": evalops.interarrival_dispersion,
    "path_conditional_entropy": evalops.path_conditional_entropy,
    # round-8 additions
    "retention_triangle": events.retention_triangle,
}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])  # optional op-name filter for quiet reruns
    out = REPO / ".scratch" / f"soak_sf{n}"
    spark = get_spark(app_name="scale-soak")
    if not (out / "documents.parquet").exists():
        build(spark, n, out)
    if not (out / "lineitem.parquet").exists():
        build_relational(spark, n, out)
    if not (out / "events.parquet").exists():
        build_events(spark, n, out)
    if not (out / "part.parquet").exists():
        build_dims(spark, n, out)

    result: dict[str, dict[str, float]] = {}
    for name, fn in {**OPS, **EVENT_OPS}.items():
        if only and name not in only:
            continue
        fn(spark, BASE).count()  # warm codegen on the small scale
        t = time.perf_counter()
        rows_1x = fn(spark, BASE).count()
        t_1x = time.perf_counter() - t
        iters_1x = base.FIXPOINT_ITERS.get(name)
        spill_before = _spill_bytes(spark) if name in SPILL_GRADE else None
        t = time.perf_counter()
        rows_nx = fn(spark, str(out)).count()
        t_nx = time.perf_counter() - t
        iters_nx = base.FIXPOINT_ITERS.get(name)
        if name in SPILL_GRADE:
            spill_after = _spill_bytes(spark)
            storage = _storage_bytes(spark)
        result[name] = {"t_1x": round(t_1x, 2), f"t_{n}x": round(t_nx, 2),
                        "ratio": round(t_nx / t_1x, 1),
                        "rows_1x": rows_1x, f"rows_{n}x": rows_nx}
        note = ""
        if name in SPILL_GRADE:
            if spill_before is not None and spill_after is not None:
                spill = max(0, spill_after - spill_before)
                result[name][f"spill_bytes_{n}x"] = spill
                note += f" spill {spill}B"
            if storage is not None:
                result[name][f"storage_mem_bytes_{n}x"] = storage[0]
                result[name][f"storage_disk_bytes_{n}x"] = storage[1]
                note += (f" storage mem {storage[0] >> 20}MiB"
                         f" disk {storage[1] >> 20}MiB")
        if name in FIXPOINT_FAMILY:
            result[name]["iters_1x"] = iters_1x
            result[name][f"iters_{n}x"] = iters_nx
            note = f" iters {iters_1x}->{iters_nx}"
            conv = base.FIXPOINT_CONVERGED.get(name)
            if conv is not None:
                result[name][f"converged_{n}x"] = conv
                if not conv:
                    note += " UNCONVERGED"
        print(f"# {name}: 1x {t_1x:.2f}s -> {n}x {t_nx:.2f}s "
              f"(x{t_nx / t_1x:.1f}){note}", file=sys.stderr)
        # Drop every cached block between OPS (r16): a handful of
        # operators pin frames by documented design (the
        # _global_two_phase exchange materialization is data-sized;
        # the unigram-LM memo is doc-sized) and a sequenced Nx map
        # accumulates them until the shared 8g JVM OOMs — observed at
        # 20x after 108 ops, on an op whose own isolated draw is a
        # quiet x2.8. Clearing only BETWEEN ops keeps each op's
        # warm->1x->Nx internal memoization (and so the r13-r15 band
        # comparability) intact while making op N's timing independent
        # of op N-1's leftovers.
        spark.catalog.clearCache()
    print(json.dumps({"n": n, "ops": result}))
    spark.stop()


if __name__ == "__main__":
    main()
