"""Scale-headroom probe: run the scale-path operators at 10× bench
volume (~sf1, synthesized deterministically from sf0.1) and compare
throughput against the sf0.1 run on the same 32 cores.

What it demonstrates (STRESS.md records the output): wall-clock grows
sub-linearly in input size for every probed operator — i.e. the plans
are shuffle- and partition-shaped such that 10× data does not cost
10× time on fixed cores; cost growth is dominated by the scan, which
is what a 1000-executor cluster parallelizes away. An operator whose
time grew super-linearly here (pair blowup, driver bottleneck,
single-partition window) would be a scale bug — the probe exists to
catch exactly that.

Synthesis (no RNG, no testdata mutation — output lands in /tmp):
each table is unioned K times with key columns shifted by
``copy · 10^9`` so every copy's keys are disjoint; document text is
salted with the copy index so near-dup semantics are preserved
(otherwise every doc would have K exact twins and LSH would degenerate
to K-cliques); dimension tables (nation/region/part/supplier) are NOT
replicated, matching the 100 TB reality that facts grow and dims
don't.

Run from the repo root:  python scripts/stress.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("STRESS_OUT", "/tmp/spark_graft_stress_sf1")
K = int(os.environ.get("STRESS_COPIES", "10"))
SHIFT = 10**9

# table → key columns shifted per copy (disjoint key spaces)
SHIFTED = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPIED = ["nation", "region", "part", "supplier"]

PROBES = [
    "pricing_summary",        # full-scan agg
    "revenue_by_nation",      # 5-way star join
    "user_sessions",          # keyed window over events
    "rolling_users_hll",      # mergeable-sketch rollup
    "exact_dedup_docs",       # fingerprint group
    "doc_sequence_packing",   # partitioned cumsum packing
    "token_budget_mix",       # stratum cumsum take-while
    "lineitem_integrity_manifest",  # single-pass checksum
    "product_profit",         # part-pruned fact-fact join (Q9)
    "doc_chunks",             # sequence+explode chunk fan-out
    "countmin_top_tokens",    # fixed-size mergeable sketch pass
    # round-3 widening (VERDICT r2 item 7): the newest op families
    "kmv_overlap_audit",      # two KMV sketch builds + driver-side merge
    "dedup_keep_best_op",     # LSH-edge cluster + per-cluster argmax
    "wav_header_stats",       # mapInPandas RIFF/WAVE chunk walk
    # late-round-3 families
    "doc_perplexity_filter",  # vocab agg + broadcast LM rescoring
    "nation_trade_pagerank",  # reduce-then-iterate graph ranking
    "embedding_covariance_probe",   # mergeable Gram partials (O(d²) state)
    "copurchase_association_rules", # map-side basket pair stream
    "revenue_ewma_by_nation",       # applyInPandas sequential fold per key
    "session_window_rollup",        # native merging session aggregate
    "pq_quantization_audit",        # PQ encode, codebook in closure
    "gopher_quality_filter",        # codegen'd rule gate, map-only
    "ann_ivfpq_topk",               # IVF prune + PQ ADC + exact re-rank
    "lang_quality_geomean",         # pandas UDAF grouped agg
    "doc_stride_spans",             # Python UDTF lateral fan-out
    "compression_ratio_signal",     # zlib pandas UDF, map-only
    # round-4: the one hot path with a per-byte Python inner loop
    # (stdlib PNG unfilter) — probed per VERDICT r3 item 4
    "png_pixel_stats",              # real PNG decode via mapInPandas
    # round-4: streaming was benched but never stress-probed — the
    # micro-batch pipeline (availableNow source → watermarked tumbling
    # window → sink) at 10× events
    "stream_daily_rollup",          # structured-streaming daily rollup
    # round-4 second wave: the remaining benched-but-unprobed families
    "scd2_pointintime_join",        # bitemporal fact→version resolution
    "masked_customer_extract",      # governed extract, map-only policy
    "curation_pipeline_report",     # gate→dedup→accounting, one DAG
    "decontaminate_docs",           # broadcast 5-gram decontamination
    # round-5 widening: the new cost families from the §7b slate
    "line_dedup_stats",             # cross-doc segment dedup (seg-text shuffle)
    "bloom_decontaminate_13gram",   # 13-gram poly-hash + broadcast bit probe
    "image_dhash_dedup",            # PNG decode + perceptual hash (Python loop)
    "purchase_nearest_view",        # nearest as-of: union + two window carries
    "priority_groups_frame_revenue",  # GROUPS-frame rewrite (two windows)
    "lineitem_unpivot_metrics",     # UNPIVOT Expand x4 over the fact
    "trigram_lm_train",             # two-level n-gram hash aggs
    "doc_pack_with_splits",         # cumsum + boundary-split explode
    "merge_upsert_monthly_revenue", # full-outer MERGE shape
    "quality_classifier_scores",    # map-only logistic gate
    "class_balance_audit",          # (label, dim) reduction over vectors
    "stream_rate_limit_tokens",     # stateful token-bucket fold (Python)
    "stream_stream_left_outer",     # watermarked outer-join state
    # round-5 second wave
    "embedding_outlier_quarantine", # (label, dim) moment reduction + rescore
    "stream_full_outer_interval",   # double-sided outer-join state
    "stream_dimension_merge",       # foreachBatch MERGE maintenance
    "retractable_view_maintenance", # negative-delta MERGE
    "compaction_binpack_audit",     # bin-packed atomic compaction write
    "partition_evolution_audit",    # day->month re-layout write
    # round 7
    "multi_table_swap_audit",       # two-table one-journal publish (write x2)
    "stream_partial_session_eviction",  # ProcessingTimeTimeout state
    "tiff_multi_ifd_stats",         # chained-IFD container walk
    "zstd_encoding_audit",          # encoding-matrix zstd write
    # late round 7 (round-8 slate pulled forward)
    "semantic_dedup_op",            # LSH cosine edges + components + argmax
    "ngram_novelty_scores",         # gram fan-out + (gram, df) join
    "stream_two_table_publish",     # per-epoch two-table journaled publish
    "bloom_index_merge_maintenance",  # MERGE + touched-partition refresh
    "stream_rocksdb_state_rollup",  # RocksDB provider vs stream_daily_rollup
    # round-7 final wave (round-8 remainder pulled forward)
    "semantic_dedup_ivf_op",        # IVF cosine edges + components + argmax
    "doc_kl_novelty",               # trigram LM train + gram-key scoring join
    "stream_rocksdb_changelog_restart",  # two-phase changelog restart
    "stream_bloom_index_maintenance",    # in-loop touched-partition refresh
    "state_store_metrics_audit",         # per-batch state-rows ladder
    "length_bucket_packing_audit",       # bucket-partitioned batching windows
    "parquet_bloom_filter_audit",        # footer bloom write x2 (single-file)
    # round 9: the rewired global-rank family (was the last named
    # SinglePartition scale-killer; now range-bucketed parallel ntile)
    "order_value_quartiles",        # global NTILE via with_global_ntile
    "customer_rfm_segments",        # 3 global quintiles, customer grain
    "orders_pareto",                # global cumsum via with_global_cumsum
    "perplexity_curriculum_mix",    # doc-grain parallel ntile + LM scoring
]

def synthesize(spark) -> None:
    if os.path.exists(os.path.join(OUT, "_DONE")):
        return
    os.makedirs(OUT, exist_ok=True)
    for t, keys in SHIFTED.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = []
        for i in range(K):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * SHIFT))
            if t == "documents":
                # salt text so copies are not exact/near dups of each other
                c = c.withColumn(
                    "text", F.concat_ws(" ", F.col("text"), F.lit(f"copy{i}"))
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
    for t in COPIED:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{OUT}/{t}.parquet"
        )
    open(os.path.join(OUT, "_DONE"), "w").close()


def timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args).collect()
    return time.perf_counter() - t0


def main() -> None:
    import bench
    from facebook_ads_bigquery_etl_spark.session import get_spark

    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    synthesize(spark)

    results = {}
    only = set(sys.argv[1:])  # optional probe-name filter for partial runs
    for name in PROBES:
        if only and name not in only:
            continue
        # bench._query: the *_op names are bench.EXTRA's scale-path
        # forms, probed instead of their registered oracle-audit twins
        q = bench._query(name)
        q(spark, "/root/testdata/sf0.001").collect()  # JIT/codegen warmup
        base = min(timed(q, spark, SRC) for _ in range(2))
        big = min(timed(q, spark, OUT) for _ in range(2))
        results[name] = {
            "sf0.1_sec": round(base, 3),
            "sf1_sec": round(big, 3),
            "time_ratio_at_10x_data": round(big / base, 2),
        }
        print(name, results[name], flush=True)
    print(json.dumps({"copies": K, "results": results}))


if __name__ == "__main__":
    main()
