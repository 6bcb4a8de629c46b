"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + count-style action).
A warmup query first absorbs JVM/codegen startup so per-query numbers
measure the plan, not the JIT.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from hadoop_app_spark import get_spark
from hadoop_app_spark.queries import REGISTRY

# headline set: every operator family, weighted toward the shuffle-heavy ones
BENCH_QUERIES = [
    "max_per_group",
    "inner_equi_join",
    "broadcast_dim_join",
    "topk_per_group",
    "recommend_flagship",
    "pricing_summary",
    "count_distinct",
    "grouping_analytics",
    "cross_range_joins",
    "asof_join_latest_click",
    "window_analytics",
    "global_topn",
    "json_functions",
    "text_metrics",
    "exact_dedup_simhash",
    "minhash_signatures",
    "minhash_dedup",
    "cosine_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "embedding_near_dup",
    "multimodal_meta",
    "image_features",
    "frame_sample",
    "tumbling_window",
    "sessionize",
    # r3 curation additions
    "repetition_ngrams",
    "decontamination",
    "domain_filter_caps",
    # r4 curation additions
    "duplicate_passages",
    "url_canonical_dedup",
    "quantile_profile",
    "shard_packing",
    "compression_quality",
    "cluster_canonical",
    # r4 retrieval + hamming-banding additions
    "simhash_band_neardup",
    "bm25_retrieval",
    "inverted_index",
    "lm_perplexity",
    "mixture_rebalance",
    "funnel_conversion",
    "cohort_retention",
    # r4 extraction + winnowing + semantic-dedup + trained-gate additions
    "html_extract",
    "winnow_neardup",
    "semdedup",
    "quality_classifier",
    # r5 additions: trained-centroid BLAS SemDeDup, packing layout, BPE,
    # chunking/FIM training layouts, normalized dedup, source overlap
    "semdedup_fast",
    "sequence_packing",
    "bpe_token_count",
    # r6 additions: mergeable quantile sketch, unigram tokenizer
    # trainer + encode, RRF hybrid retrieval
    "quantile_sketch",
    "unigram_token_count",
    "wordpiece_token_count",
    "hybrid_retrieval",
    "dsir_select",
    "stream_quantile_exec",
    "image_near_dup",
    "doc_chunking",
    "fim_splits",
    "normalized_dedup",
    "source_overlap",
    "corpus_diff",
    "embedding_pca",
    "quality_calibration",
    "oov_rate",
    # r7 additions: the 256-bit/16-bit-band crawl-scale image near-dup,
    # Gopher rule battery, DSIR Gumbel-top-k resampling, Bloom-filter
    # decontamination
    "image_near_dup_wide",
    "gopher_gates",
    "dsir_resample",
    "bloom_decontamination",
    "pq_ann_topk",
    # r7 TPC-H-shaped classics
    "shipping_priority",
    "local_supplier_volume",
    "promo_revenue",
    "top_supplier",
    "cms_heavy_hitters",
    "stream_cms_exec",
    "typo_pairs",
    "hll_distinct_shingles",
    "triangle_census",
    "nation_pagerank",
    "order_priority_check",
    "returned_item_report",
    "large_volume_customer",
    "stream_hll_exec",
    "linear_trend",
    "bloom_prefilter_join",
    # r7 batch 2: lossless prefix-filtered similarity join + the Q7/
    # Q12/Q13/Q17/Q19/Q21/Q22 TPC-H shapes
    "set_similarity_join",
    "volume_shipping",
    "late_line_priority",
    "customer_order_distribution",
    "small_qty_avg_yearly",
    "disjunctive_bundle_revenue",
    "suppliers_kept_waiting",
    "global_sales_opportunity",
    # r7 batch 3: the remaining TPC-H shapes — all 22 now covered
    "forecast_revenue_change",
    "min_cost_supplier",
    "nation_market_share",
    "product_type_profit",
    "important_part_value",
    "parts_supplier_count",
    "dominant_part_suppliers",
    # r7 batch 4: oracled fixed-vocab tokenizer-encode twins
    "wordpiece_encode_fixed",
    "unigram_encode_fixed",
    # r7 batch 5: custom Python DataSource scan (encode -> files ->
    # pushdown scan round-trip; write cost is part of the measurement)
    "pyds_ncdc_scan",
    "stream_pyds_exec",
    # r7 batch 6: SCD2 versioned-dimension maintenance + alpha sampling
    "scd2_dimension",
    "alpha_mixture_sample",
    "bloom_skip_lookup",
    "mad_outliers",
    # r8 additions: incremental dedup vs a persisted MinHash band
    # index, Bloom-pruned takedown retraction, persisted IVF index
    "dedup_increment",
    "bloom_retraction",
    "ivf_index_topk",
    "kmv_source_overlap",
    "compaction_roundtrip",
    "mixture_epoch_order",
    "orc_roundtrip",
    # r8 session 2: streaming ingest dedup, bucketed-index compaction,
    # the registered UDTF surface, and the reader-contract pair
    "stream_dedup_ingest_exec",
    "index_compaction",
    "udtf_ncdc_parse",
    "udtf_chunk_spans",
    "schema_evolution_read",
    "csv_malformed_quarantine",
    "simhash_increment",
    "data_expectations",
    "leakage_safe_split",
    "split_assignment_pinning",
    # r9 additions: the oracled fixed-parameter BPE encode under a
    # hard-coded merge table
    "bpe_encode_fixed",
    # r9 additions: the ANN index lifecycle (append + streaming ingest)
    "ivf_index_increment",
    "stream_ann_ingest_exec",
    # r9 additions: orphan-file vacuum (the third maintenance op)
    "vacuum_roundtrip",
    # r9 additions: deterministic LPA communities (graph family)
    "nation_communities",
    # r9 additions: contrastive training-pair mining (near-dup graph)
    "contrastive_pairs",
    # r9 session 2: incrementally-maintained materialized agg view
    # (batch + CDC-stream execution), Unicode NFC encoding-variant
    # dedup, Z-order layout + box lookup
    "incremental_matview",
    "stream_matview_exec",
    "unicode_nfc_dedup",
    "zorder_point_lookup",
    # r9 session 2: the PCA family's oracle-exact Walsh-basis face,
    # time-series gap-fill/LOCF, integer-exact PMI collocation mining
    "embedding_pca_fixed",
    "timeseries_gapfill",
    "token_pmi_topk",
    "event_transitions",
    "key_skew_profile",
    "dynamic_partition_overwrite",
    "stream_rollup_exec",
    "stream_topk_exec",
    "conversion_attribution",
    "timeseries_interpolate",
    "minhash_dedup_decisions",
    # r10 additions: IVF centroid maintenance (staged rebuild + swap),
    # SimHash hot-band re-seeding (permuted geometry, invariant drops),
    # OHLC downsampling, winsorization, column-level snapshot diff
    "ivf_index_rebuild",
    "simhash_reseed_increment",
    "timeseries_downsample",
    "winsorize_features",
    "snapshot_column_diff",
    # r10 additions: retrieval ranking metrics, A/B experiment readout,
    # snapshot time travel (read-at-version over the CDC layout),
    # the Hamming decision audit, the persisted HLL sketch index
    "retrieval_ndcg",
    "ab_test_summary",
    "snapshot_time_travel",
    "simhash_dedup_decisions",
    "hll_index_increment",
    "distribution_drift",
    "robust_scale_features",
    # r11 additions: the composed IVF×PQ index (partition-pruned probe,
    # in-cell ADC over m-byte codes, exact shortlist re-rank) and the
    # probability-space unigram-EM trainer face (lattice replayed
    # end-to-end by the SQL oracle)
    "ivfpq_index_topk",
    "ivfpq_index_increment",
    "unigram_vocab_fixed",
    # r11: snapshot retention — metadata-only expiry + two version reads
    "snapshot_expire",
    # r11: ANN recall@5 eval — lossy IVF×PQ vs exact ground truth
    "ann_recall_ivfpq",
    # r12: DriftBound-validated ingest stream (shifted feed quarantined
    # whole with the TVD-carrying tag; clean resend dedups vs day 1)
    "stream_drift_ingest_exec",
    # r12: the production trained-codebook IVF×PQ path (train on a
    # sample -> build -> serve -> recall@5 vs brute force at the floor)
    "ivfpq_trained_recall",
    # r12: streaming ingest into the composed IVF×PQ layout (sidecar-
    # detected PQ encode per micro-batch; streamed appends == build)
    "stream_ivfpq_ingest_exec",
    # r12: composed-layout centroid rebuild behind the three-rename swap
    "ivfpq_index_rebuild",
    # r12: cell-directory compaction for the partition-dir ANN layouts
    "ivfpq_index_compaction",
    # r12: age-horizon retention (older_than_ms + retain-at-least floor)
    "snapshot_expire_age",
    # r12: association mining (A-Priori frequent item pairs over the
    # order/part baskets — support/confidence/lift in integer units)
    "frequent_item_pairs",
    # r12: batch ANN serving with the distributed LUT build (64-query
    # batch; per-query ADC tables computed on the executors)
    "ivfpq_index_topk_batch",
]


# The 22 TPC-H-shaped classics (VERDICT r7 item 5): tracked as a named
# sub-total so the classic-SQL surface trends separately from the
# corpus/dedup/streaming operators. Keys are registry names; the Qn
# mapping is each entry's docstring in queries.py.
TPCH_QUERIES = [
    "pricing_summary",  # Q1
    "min_cost_supplier",  # Q2
    "shipping_priority",  # Q3
    "order_priority_check",  # Q4
    "local_supplier_volume",  # Q5
    "forecast_revenue_change",  # Q6
    "volume_shipping",  # Q7
    "nation_market_share",  # Q8
    "product_type_profit",  # Q9
    "returned_item_report",  # Q10
    "important_part_value",  # Q11
    "late_line_priority",  # Q12
    "customer_order_distribution",  # Q13
    "promo_revenue",  # Q14
    "top_supplier",  # Q15
    "parts_supplier_count",  # Q16
    "small_qty_avg_yearly",  # Q17
    "large_volume_customer",  # Q18
    "disjunctive_bundle_revenue",  # Q19
    "dominant_part_suppliers",  # Q20
    "suppliers_kept_waiting",  # Q21
    "global_sales_opportunity",  # Q22
]
assert set(TPCH_QUERIES) <= set(BENCH_QUERIES)
# each QueryDef is timed once: a registry alias is the same entry as its primary
assert len({id(REGISTRY[n]) for n in BENCH_QUERIES}) == len(BENCH_QUERIES)


# Committed reference time for the calibration query below, measured on
# an unthrottled run (see BASELINE.md §throttle-sentinel). A run whose
# calib_sec deviates >2x from this is flagged "throttled": true so
# cross-round comparisons can discount environment-noise episodes (the
# r5 committed-vs-driver 1.6x uniform drift, BASELINE.md's 202s anomaly).
CALIB_REF_SEC = 0.25


def _calibrate(spark) -> float:
    """Fixed tiny CPU-bound query timed as a throttle sentinel.

    Pure spark.range arithmetic: no IO, no shuffle-size dependence on
    sf, identical plan every round — so its wall time moves ONLY with
    host CPU availability, never with code changes.
    """
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 8).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # warmup: absorb session/codegen startup cost AND Python-worker-pool
    # spawn (the first mapInPandas query otherwise pays ~5s of fork/Arrow
    # init that is one-time per executor, not per-query, at scale)
    REGISTRY["max_per_group"].fn(spark, sf_dir).collect()
    spark.range(32).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # cold = first execution (plan + whole-stage-codegen compile + run);
    # warm = MEDIAN of three further executions of fresh identical plans
    # (codegen cached) — the steady-state number that matters at scale,
    # where compile time amortizes to zero over hours of execution.
    # Median-of-3 because single-sample warm numbers flapped round-over-
    # round (r2's tumbling_window measured warm > cold on one GC hiccup).
    #
    # The timed action is a noop-format write, not count(): count() lets
    # Catalyst prune projection-only plans down to the bare scan, so the
    # expression work being showcased would never execute.
    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # plan fingerprints: a changed hash names WHICH query's physical
    # plan moved since the last round (see plans/fingerprint.py).
    # Fingerprint the timed DataFrame immediately — rebuilding via fn()
    # would re-execute driver-side eager work (shard_packing's prefix
    # pass, cluster_canonical's whole iteration) just to print a plan.
    from hadoop_app_spark.plans.fingerprint import plan_fingerprint

    plans: dict[str, str] = {}

    def timed(name: str) -> float:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        run(df)
        dt = time.perf_counter() - t0
        if name not in plans:  # cold run only: warm reruns are identical plans
            plans[name] = plan_fingerprint(df)
        return dt

    times: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in BENCH_QUERIES:
        times[name] = round(timed(name), 3)
        samples = sorted(timed(name) for _ in range(3))
        # sub-~1s entries flap round-over-round with identical plan
        # fingerprints (r5-r7: recommend_flagship 1.13/1.81/1.36 on the
        # same hash) — scheduling jitter is a fixed cost that dominates
        # small denominators. Median-of-5 for them; the two extra runs
        # cost little exactly because the entries are small.
        if samples[1] < 1.0:
            samples = sorted(samples + [timed(name) for _ in range(2)])
        warm[name] = round(samples[len(samples) // 2], 3)
        # drop DataFrame/RDD references each query: holding them (the
        # old last_df dict) pinned every localCheckpoint block in the
        # executor store, so late queries ran under accumulated memory
        # pressure — cluster_canonical measured 10s here vs 3.6s in a
        # fresh session. ContextCleaner unpersists once Python lets go.
        gc.collect()
    total = round(sum(times.values()), 3)
    # calibration runs AFTER the suite so it measures the same steady-
    # state JVM the queries ran under (running it first would fold
    # codegen warmup into the sentinel and false-flag every round).
    calib = _calibrate(spark)
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "warm_total": round(sum(warm.values()), 3),
        "n_queries": len(times),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calib_sec": calib,
        "throttled": calib > 2 * CALIB_REF_SEC,
        # classic-SQL sub-bench (22 TPC-H shapes), tracked per-round
        "tpch22_total": round(sum(times[n] for n in TPCH_QUERIES), 3),
        "tpch22_warm_total": round(sum(warm[n] for n in TPCH_QUERIES), 3),
    }
    # the stdout line is TOTALS-ONLY: r4 and r5 both lost their official
    # records ("parsed": null) because the line inlined 50-63 per-query
    # entries (~4 KB) and overflowed the driver's stdout-tail capture.
    # ALL per-query data (cold/warm per query + plan fingerprints) lives
    # in BENCH_DETAIL.json, a committed record of the last run: no test
    # or tool reads it back.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(
        json.dumps(
            {**summary, "queries": times, "queries_warm": warm, "plans": plans},
            indent=1,
        )
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
