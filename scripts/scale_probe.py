#!/usr/bin/env python
"""Scale-sanity probe: replicate the sf0.1 fact tables ~10x (≈ sf1, 6M
lineitem rows) with remapped keys, run the heavy declared queries at both
scales, and report the runtime ratio + whether the physical plan changed
shape (e.g. AQE flipping a broadcast join to sort-merge).

Synthesizes into /tmp (never touches /root/testdata). Usage:

    python scripts/scale_probe.py [replicas]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from omnidata_etl_spark.catalog import TABLES, table
from omnidata_etl_spark.registry import all_specs
from omnidata_etl_spark.session import get_session

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/omnidata_scale"
# Stratified sample across every registry family (r5 verdict #7): the
# heavy hitters from r4's probe plus representatives of each operator
# class, so super-linear growth anywhere in the registry shows up here.
PROBE_QUERIES = (
    # scans / projections / row ops
    "scan_parquet",
    "filter_numeric",
    "distinct_rows",
    "surrogate_key",
    "order_multi_nulls",
    # joins — every strategy class
    "join_inner_equi",
    "join_anti",
    "join_multiway_star",
    "join_theta_range",
    "join_asof",
    "join_skew_salted",
    "join_null_safe_eq",
    "join_fuzzy_blocked",
    # aggregation
    "agg_pricing_summary",
    "agg_count_distinct",
    "agg_rollup",
    "agg_approx_distinct",
    "agg_salted_two_phase",
    "agg_bitmap_distinct",
    "agg_exact_moments",
    "agg_linear_fit",
    # windows / setops / scalar fns
    "window_rank_topn",
    "window_running_sum",
    "window_ntile",
    "set_except",
    "fn_math",
    "fn_json_extract",
    "fn_array_higher_order",
    # subqueries
    "subquery_exists_correlated",
    "subquery_lateral_topn",
    # TPC-H shapes (the shuffle-heavy tree forms)
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_priority_late_ship",
    "tpch_q5_local_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_value",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders",
    "tpch_q20_promo_share_suppliers",
    "tpch_q21_waiting_supplier",
    # events / sessionization
    "stream_sessionize",
    "stream_dedup_latest",
    "events_funnel_counts",
    "events_resample_gapfill",
    "events_daily_user_growth",
    # text family
    "text_word_counts",
    "text_lang_id",
    "text_pii_redact",
    "text_decontaminate",
    "text_bm25_topk",
    "text_perplexity_proxy",
    "text_tfidf_topterms",
    "text_boilerplate_ratio",
    "text_bpe_train_apply",
    # dedup family
    "dedup_exact_docs",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_cluster_canonical",
    # similarity / embeddings (replicated embeddings table)
    "similarity_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_served_index",
    "embedding_quantize_int8",
    "dedup_embedding_cosine",
    "dedup_incremental_delta",
    # ETL / quality / multimodal
    "etl_sample_stratified",
    "etl_sample_quality_weighted",
    "etl_corpus_mix",
    "etl_training_corpus_build",
    "etl_cdc_apply",
    "etl_scd2_history",
    "pivot_status_counts",
    "grouped_minmax_scale",
    "multimodal_feature_extract",
    "multimodal_image_decode_stats",
    # r10-continuation additions
    "events_gaps_islands",
    "events_markov_transitions",
    "events_rollup_multires",
    "events_ab_test",
    "events_concurrency_peak",
    "events_cohort_ltv",
    "events_time_to_convert",
    "events_ewma_smoothed",
    "agg_mode_deterministic",
    "window_cume_dist_pctrank",
    "window_rolling_distinct",
    "text_ngram_counts",
    "etl_snapshot_diff",
    "ann_range_search",
    "dedup_url_canonicalize",
    "join_range_bucketed",
    "multimodal_image_phash",
    "multimodal_audio_fingerprint",
    "embedding_power_iteration",
    "events_seasonality_profile",
    "events_cep_pattern",
    "multimodal_video_scene_cut",
    "dedup_chunk_exact",
    "etl_incremental_aggregate",
    # r11 additions
    "agg_weighted_median",
    "agg_gini_concentration",
    "embedding_dim_stats",
    "etl_length_bucket_batching",
    "etl_curriculum_stages",
    "etl_join_skew_report",
    "events_top_paths",
    "events_gap_histogram",
    "agg_entropy_by_group",
    "events_user_overlap_jaccard",
    "text_zipf_fit",
    "etl_dataset_card_stats",
    "join_scd2_asof",
    "events_attribution_first_touch",
    "text_code_detection",
    "fn_recursive_month_spine",
    "events_bot_detection",
    "agg_percent_change_mom",
)
KEY_OFFSET = 10_000_000_000


def build(spark, replicas: int) -> str:
    out_dir = f"{OUT}/x{replicas}"
    done_flag = f"{out_dir}/.done"
    if os.path.exists(done_flag):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(replicas).withColumnRenamed("id", "rep")

    li = table(spark, BASE, "lineitem").crossJoin(reps).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("rep") * KEY_OFFSET
    ).drop("rep")
    li.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    o = table(spark, BASE, "orders").crossJoin(reps).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.col("rep") * KEY_OFFSET
    ).drop("rep")
    o.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    ev = (
        table(spark, BASE, "events")
        .crossJoin(reps)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * KEY_OFFSET)
        .withColumn(
            "ts", F.col("ts") + F.make_interval(secs=F.col("rep") * 3600)
        )
        .drop("rep")
    )
    ev.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    # documents: salt doc_ids per replica and substitute every 7th token
    # (position+rep dependent) so replicas are neither exact nor near
    # duplicates of each other — a replicated-but-unperturbed corpus would
    # turn every doc into a replicas-sized dup cluster and grow the LSH
    # pair space ~replicas^2, which is a dup-bomb stress test, not a
    # corpus scaled 10x. Planted near-dup structure within each replica is
    # preserved (same substitution pattern on both docs of a pair).
    toks = F.split("text", " ")
    perturbed = F.concat_ws(
        " ",
        F.transform(
            toks,
            lambda t, i: F.when(
                (i + F.col("rep")) % 7 == 0,
                F.concat(F.lit("w"), F.col("rep").cast("string")),
            ).otherwise(t),
        ),
    )
    docs = (
        table(spark, BASE, "documents")
        .crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * KEY_OFFSET)
        .withColumn("text", perturbed)
        .withColumn("n_chars", F.length("text"))
        .drop("rep")
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    # embeddings: offset ids and perturb each replica's vector with a
    # pseudo-random per-(replica, dimension) delta LARGE enough that
    # replicas are genuinely distinct points. A small shared nudge (the
    # first version of this builder) left every point with `replicas`
    # near-identical copies — a planted 50-way near-dup cluster per point,
    # whose candidate-pair space grows ~replicas² inside the near-dup
    # join: a dup-bomb stress test, not a corpus scaled 50× (the same
    # hazard the documents perturbation above documents). ±0.15/dim
    # decorrelates copies at inter-point distance scale while keeping
    # norms and labels realistic.
    emb = (
        table(spark, BASE, "embeddings")
        .crossJoin(reps)
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * KEY_OFFSET)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: (
                    x
                    + (
                        (
                            (i * 31 + F.col("rep") * 17 + 3) % 11
                        ).cast("float")
                        - 5.0
                    )
                    * F.lit(0.03)
                ).cast("float"),
            ),
        )
        .drop("rep")
    )
    emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    for t in TABLES:
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    open(done_flag, "w").close()
    return out_dir


def plan_shape(spark, df) -> str:
    txt = str(
        spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
    )
    ops = [
        op
        for op in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "HashAggregate",
            "TakeOrderedAndProject",
            "Window",
        )
        if op in txt
    ]
    return "+".join(ops)


CLEAR_CACHE = False


def run(spark, sf_dir: str, name: str) -> float:
    fn = all_specs()[name].fn
    if CLEAR_CACHE:
        # bench.py housekeeping regime (r10 verdict #6): evict the SQL
        # cache before the query so the pins (queries._util.pin, which
        # live OUTSIDE the cache manager) are what carry shared frames — a
        # pin accidentally downgraded to plain persist would re-run its
        # full build here and show up as a super-linear wall
        spark.catalog.clearCache()
    fn(spark, sf_dir).count()  # warm (plan + listing)
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()  # count(): measure compute, not transfer
    return time.perf_counter() - t0


def main() -> None:
    # usage: scale_probe.py [replicas] [--only name1,name2]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    replicas = int(args[0]) if args else 10
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        elif a == "--clearcache":
            global CLEAR_CACHE
            CLEAR_CACHE = True
    probe = [q for q in PROBE_QUERIES if only is None or q in only]
    spark = get_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    big = build(spark, replicas)
    print(f"query,base_sec,x{replicas}_sec,ratio,base_plan,big_plan")
    for name in probe:
        t1 = run(spark, BASE, name)
        t2 = run(spark, big, name)
        fn = all_specs()[name].fn
        p1 = plan_shape(spark, fn(spark, BASE))
        p2 = plan_shape(spark, fn(spark, big))
        print(
            f"{name},{t1:.2f},{t2:.2f},{t2 / max(t1, 1e-9):.1f},"
            f"{p1},{p2}"
        )


if __name__ == "__main__":
    main()
