"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints the
full per-query JSON first, then a compact FINAL line
{"metric", "value", "unit", "queries": <5 slowest>, "n_queries", "sf"}
that stays parseable under tail capture; the complete per-query dict is
also written to BENCH_DETAIL.json.

Each query is materialized (collect) so timings include the full plan —
scan, shuffles, result encode. Times are wall-clock seconds per query;
"value" is the total.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gmall_flink_20_spark.io import default_sf_dir
from gmall_flink_20_spark.queries import QUERIES
from gmall_flink_20_spark.session import get_spark

# Headline set: every operator family at its heaviest registry entry.
BENCH_QUERIES = [
    "hot_items_topn",
    "hot_urls_topn",
    "page_views",
    "unique_visitors",
    "unique_visitors_approx",
    "channel_stats",
    "channel_stats_rollup",
    "channel_stats_cube",
    "province_ad_clicks",
    "user_sessions",
    "user_running_counts",
    "province_clicks_salted",
    "blacklist_kept",
    "blacklist_warnings",
    "login_fail_consecutive",
    "login_fail_times3",
    "login_fail_horizon",
    "order_timeout",
    "pay_receipt_interval_join",
    "pay_receipt_reconcile",
    "events_asof_attribution",
    "events_funnel",
    "events_retention",
    "events_rate_anomaly",
    "events_transition_matrix",
    "channel_behavior_pivot",
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "docs_token_count",
    "docs_token_count_bpe",
    "docs_winnowing",
    "docs_quality",
    "docs_lang_id",
    "docs_fingerprint",
    "docs_dedup_exact",
    "docs_minhash_lsh_pairs",
    "docs_ngram_jaccard",
    "docs_corpus_select",
    "docs_neardup_clusters",
    "docs_dedup_resolved",
    "docs_clean",
    "docs_repetition",
    "docs_line_dedup",
    "docs_stratified_sample",
    "docs_weighted_sample",
    "docs_token_quantiles",
    "events_cms_counts",
    "docs_tfidf_topk",
    "docs_overlap_pairs",
    "docs_corpus_stats",
    "docs_decontaminate",
    "docs_pack_sequences",
    "docs_chunk",
    "docs_collocations",
    "docs_vocabulary",
    "docs_neardup_verified",
    "media_features",
    "docs_simhash",
    "docs_simhash_neardup",
    "emb_ann_topk",
    "emb_ann_lsh",
    "emb_ann_lsh_multiprobe",
    "emb_ann_ivf",
    "emb_ann_ivf_trained",
    "emb_ann_pq",
    "emb_ann_ivf_pq",
    "emb_kmeans",
    "emb_cosine_neardup",
    "docs_domain_cap",
    "docs_gopher_filter",
    "emb_semantic_dedup",
    "emb_ann_recall",
    "docs_curation_pipeline",
    "emb_cluster_sample",
    "docs_unigram_lm",
    "docs_ccnet_buckets",
    "docs_quality_classifier",
    "docs_lang_balance",
    "docs_mixture_weights",
    "docs_dedup_incremental",
    "docs_containment_pairs",
    "docs_neardup_incremental",
    "emb_knn_graph",
    "emb_lang_outliers",
    "events_rfm",
    "docs_dup_spans",
    "emb_ann_ivf_pq_rerank",
    "emb_covariance",
    "events_zorder_layout",
    "events_item_cooccurrence",
    "events_latest_state",
    "docs_bm25_topk",
    "items_pagerank",
    "events_profile",
    "events_value_histogram",
    "emb_correlation",
    "events_mg_heavy_hitters",
    "docs_split_assign",
    "docs_negative_samples",
    "docs_token_entropy",
    "events_robust_outliers",
    "docs_corpus_build",
    "emb_ann_topk_arrow",
    "emb_top_eigvec",
    "emb_pca_project",
    "docs_neardup_edit_verified",
    "events_quality_checks",
    "events_engagement",
    "docs_lang_confusion",
    "docs_health_report",
    "events_key_skew",
    "events_value_trend",
    "emb_pca2_project",
    "docs_novelty_rate",
    "docs_source_diversity",
    "customers_ltv",
    "docs_health_by_source",
    "orders_market_basket",
    "customers_revenue_pareto",
    "emb_label_drift",
    "docs_dedup_survivors",
    "emb_pq_recon_error",
    "events_gap_stats",
    # round-5 additions
    "customers_revenue_pareto_dist",
    "customers_ltv_dist",
    "orders_fulfillment_latency",
    "events_seasonality",
    "emb_ann_nprobe_pareto",
    "docs_bigram_lm",
    "docs_phrase_census",
    "docs_vocab_gini",
    "emb_mahalanobis",
    "docs_cross_source_contamination",
    "tpch_referential_audit",
    "docs_minhash_calibration",
    "docs_dedup_savings",
    "docs_tokenizer_fertility",
    "docs_pii_stats",
    "items_triangle_stats",
    "customers_cohort_ltv",
    "events_seasonal_anomaly",
    "docs_dup_provenance",
    "orders_backlog",
    "events_bot_score",
    "parts_supplier_hhi",
    "media_decode_roundtrip",
    "docs_threshold_sweep",
    "emb_pq_code_balance",
    "lineitem_price_audit",
    "events_session_stats",
    "media_png_roundtrip",
    "docs_perplexity",
    "docs_dsir_weights",
    "items_association_rules",
    "events_next_prediction",
    "docs_zipf_fit",
    "docs_burstiness",
    "events_changepoint",
    "emb_matryoshka_recall",
    "emb_sq8_recall",
    "emb_binary_recall",
    "docs_kl_divergence",
    "docs_readability",
    "events_trigram_paths",
    "events_ewma",
    "events_survival",
    "events_path_entropy",
    "docs_code_detect",
    "orders_repeat_screen",
    "media_gif_roundtrip",
    "events_attribution_multitouch",
    "docs_pii_redact",
    "events_theta_overlap",
    "docs_source_minhash_sim",
    "events_markov_stationary",
    "parts_skyline",
    "events_scd2_intervals",
    "items_kcore",
    # round-8 additions
    "items_communities",
    "items_modularity",
    "events_temporal_join",
    "events_ivm_merge",
    "events_quantiles_approx",
    "docs_jsonl_roundtrip",
    "events_dwell_time",
    "events_abandoned_cart",
    "events_stickiness",
    "docs_bloom_dedup",
    "media_wav_features",
    "docs_oov_rate",
    # round-9 batch additions
    "emb_index_persist",
    "emb_index_append",
    "emb_index_compact",
    "docs_lsh_index_persist",
    "emb_ivf_cell_stats",
    "docs_orc_roundtrip",
    "docs_lsh_index_compact",
    # round-10 batch additions
    "emb_index_recover",
    "docs_lsh_index_recover",
    "media_phash_neardup",
    "emb_index_pq_persist",
    "emb_index_pq_append",
    "media_phash_index_persist",
    # round-11 batch additions
    "unique_visitors_bitmap",
    "emb_ann_opq",
    "emb_index_opq_persist",
    "media_jpeg_roundtrip",
    # round-12 batch additions
    "emb_index_compact_incremental",
    "docs_lsh_index_compact_incremental",
    "emb_index_opq_append",
    "emb_index_recover_incremental",
    "media_jpeg_progressive_roundtrip",
    "media_mp4_demux",
    # round-13 batch additions
    "login_fail_cep_mixed",
    "docs_lsh_index_segment_merge",
    # NOT benched: the three *_query_during_append entries, the three
    # *_concurrent_append entries, and the two round-13 *_compact_fenced
    # entries. They are concurrency-protocol tests — fresh_copy + staged
    # appends with fault-injected phase / commit ordering / a
    # deliberately fenced-out second writer — so their wall time
    # measures the test harness, not a query a user runs (the same
    # exclusion rationale as the streaming replays, which are timed in
    # their own section). They remain fully driver-gated for
    # correctness every round.
]


def _warm_operator_classes(spark) -> None:
    from pyspark.sql import Window, functions as F

    df = spark.range(512).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit('{"k":'), (F.col("id") % 5).cast("string"), F.lit("}")).alias("js"),
        F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)).alias("v"),
    )
    w = Window.partitionBy("k").orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    (
        df.withColumn("j", F.get_json_object("js", "$.k"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
        .withColumn("run", F.count(F.lit(1)).over(w))
        .withColumn("e", F.explode(F.sequence(F.lit(0), F.lit(2))))
        .withColumn("h", F.md5(F.col("j").cast("binary")))
        .withColumn("dot", F.aggregate(F.zip_with("v", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x))
        .groupBy("k").agg(F.count(F.lit(1)).alias("c"), F.min("h").alias("m"))
        .join(df.select(F.col("k").alias("k2")).distinct(), F.col("k") == F.col("k2"))
        .collect()
    )
    # Arrow/pandas UDF path (mapInPandas worker pool + serializer)
    def _ident(it):
        yield from it

    spark.range(64).mapInPandas(_ident, schema="id long").collect()


def main() -> None:
    sf_dir = default_sf_dir()
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # shuffle-partition sizing is per-deployment; for the local bench SF,
    # 16 initial partitions (AQE coalesces further) measures best —
    # override via SPARK_GRAFT_SHUFFLE_PARTITIONS for other targets.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16"))
    spark = get_spark(app_name="bench", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + file listing so no query pays one-time costs: a raw
    # non-registry parquet scan, plus a tiny synthetic plan touching the
    # operator classes the registry uses (window functions, explode/HOF
    # arrays, JSON, joins, Arrow-batched Python). JIT/codegen infra
    # warm-up is excluded from the measurement on the DuckDB side too, so
    # this keeps the comparison honest without pre-running any measured
    # query.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    _warm_operator_classes(spark)

    # Best-of-N per query (default 2): single-run totals on this
    # co-tenant host vary ±30% with no code change, so the min is the
    # engine's time, not the neighbors'. Every repetition does the full
    # work (cache cleared between runs); set SPARK_GRAFT_BENCH_RUNS=1
    # for a strict single-shot measurement.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    for rep in range(runs):
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            # Arrow-batched materialization: collect() round-trips every
            # row through Py4J; toPandas ships Arrow record batches
            rows = QUERIES[name](spark, sf_dir).toPandas()
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            del rows
            # operators may persist() self-join inputs; isolate queries so
            # cached blocks/broadcasts don't pressure later measurements
            spark.catalog.clearCache()

    # Streaming replay wall-times (VERDICT r3 item 8): the Structured-
    # Streaming entries are EXCLUDED from the headline total (their
    # replay-harness micro-batch scheduling isn't comparable to batch
    # plan time) but timed and recorded in BENCH_DETAIL.json so
    # streaming perf regressions are visible round-over-round. Skip
    # with SPARK_GRAFT_BENCH_STREAMING=0.
    #
    # Best-of-N legs (VERDICT r10 item 2): a single replay per round
    # made r9→r10 per-replay deltas unreadable — co-tenant bursts and
    # regressions are indistinguishable without repetition. The section
    # now runs SPARK_GRAFT_BENCH_STREAMING_RUNS legs (default 2),
    # keeping the per-replay MINIMUM, same treatment as the batch side.
    stream_timings: dict[str, float] = {}
    stream_leg_counts: dict[str, int] = {}
    stream_skipped: list[str] = []
    stream_legs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_STREAMING_RUNS", "2")))
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        # hard time budget so the replay section can't blow the driver's
        # bench wall-clock; anything skipped is recorded, not silent.
        # The budget covers ALL legs; a replay with at least one timed
        # leg is reported (as its best-so-far), never silently partial.
        # default raised 700 -> 1100 (VERDICT r12 item 6): at ~350-450 s
        # per full 28-replay leg under co-tenant load, 700 s cut 16/28
        # replays to ONE sample in the committed r12 leg, degrading
        # round-over-round streaming deltas to single-sample noise; the
        # round headline needs >=2 samples per replay across legs.
        budget = float(os.environ.get("SPARK_GRAFT_BENCH_STREAMING_BUDGET", "1100"))
        t_section = time.perf_counter()
        stream_names = sorted(
            n
            for n in QUERIES
            if n.endswith("_streaming") or n.endswith("_2stream")
        )
        for leg in range(stream_legs):
            # alternate direction per leg: a budget cut truncates the
            # END of a leg, so a fixed order would leave the same
            # (alphabetically late, often expensive) replays at one
            # sample forever — reversing odd legs gives the tail its
            # second sample first
            ordered = stream_names if leg % 2 == 0 else list(reversed(stream_names))
            for name in ordered:
                if time.perf_counter() - t_section > budget:
                    if name not in stream_timings and name not in stream_skipped:
                        stream_skipped.append(name)
                    continue
                t0 = time.perf_counter()
                rows = QUERIES[name](spark, sf_dir).toPandas()
                dt = round(time.perf_counter() - t0, 3)
                if name not in stream_timings or dt < stream_timings[name]:
                    stream_timings[name] = dt
                stream_leg_counts[name] = stream_leg_counts.get(name, 0) + 1
                del rows
                spark.catalog.clearCache()

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 3)
    # VERDICT r13 item 2: the scaling contract must be provable from the
    # bench output itself — record the EFFECTIVE core count (the
    # defaultParallelism of the session that actually ran, which local[N]
    # derives from $SPARK_GRAFT_CPUS) and the master string, additions-only.
    effective_cpus = spark.sparkContext.defaultParallelism
    master = spark.sparkContext.master
    # Full per-query detail goes to a file (and an early stdout line for
    # humans); the FINAL stdout line is a compact summary that survives
    # tail-capture truncation — r2's 85-query single line outgrew the
    # driver's capture window and the round's bench was recorded as
    # parsed:null (VERDICT.md r2 "What's wrong" item 1).
    detail = {
        # this file is ONE bench.py leg. Change-over-change comparison
        # is perfbench's job (BENCHMARK.json, perfbench/baseline.json);
        # no per-round best-of-legs file is kept any more.
        "source": "single bench.py leg; change-over-change baseline = perfbench",
        "metric": "total_query_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "sf": sf_val,
        "cpus": effective_cpus,
        "master": master,
        # per-replay best-of-N wall-times, excluded from "value"
        "streaming_queries": stream_timings,
        "streaming_total": round(sum(stream_timings.values()), 3),
        "streaming_runs": stream_legs,
        # per-replay legs actually timed (a budget cut can leave the
        # tail of a later leg at fewer samples — recorded, not silent)
        "streaming_leg_counts": stream_leg_counts,
        "streaming_skipped_over_budget": stream_skipped,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "total_query_runtime",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "runs": runs,
                "sf": sf_val,
                "cpus": effective_cpus,
                "master": master,
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
