"""``queries``: closed-loop passes over a fixed sample of the headline
query leaves on the sf0.01 tables.

``HEAVY`` and ``LIGHT`` partition ``bench.HEADLINE``: a leaf is heavy
(executor-bound) when its summed task time is at least its wall time (at
least one core busy on average), measured once on a warm, traced run at
sf0.01 on 4 cores and frozen here; the rest are light (driver-bound). A
run cannot afford every leaf, so the workload times a fixed sample of each
class (``HEAVY_TIMED`` + ``LIGHT_TIMED``); the seed permutes the order the
sample runs in. The heavy leaves dominate ``pass_s``, the light ones
``op_p50_s``, and the traced run splits pass time by class.

Each leaf first runs once untimed through ``toPandas`` and is compared
with its DuckDB oracle; this is the output check and warms the JIT and
codegen caches. Then passes over the sample run back to back while
another one still fits in ``--seconds`` of leaf wall (at least one). A
timed leaf is ``get_queries()[name](spark, sf)`` (plan build) plus a
``noop`` write (execution). ``pass_s`` is the median pass wall and
``op_p50_s`` the median over every leaf execution of the run (6 per
pass).
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import duckdb
import pandas as pd

from perfbench import trace
from perfbench.common import DATA_DIR, PeakRss, Result, Run, median
from tools.check_correctness import _canon
from vbpl_web_crawl_spark.operators import sequence as SEQ
from vbpl_web_crawl_spark.plans import pipeline_queries3 as PQ3
from vbpl_web_crawl_spark.plans.queries import ORACLES, get_queries

HEAVY = (
    "dedup_exact_clusters",
    "dedup_minhash_lsh_pairs",
    "dedup_winnowing_pairs",
    "text_stats_by_lang",
    "ann_lsh_bucket_histogram",
    "quality_repetition_stats",
    "dup_span_coverage",
    "pii_redaction_stats",
    "quality_filter_funnel",
    "semantic_dedup_keep_one",
    "dsir_importance_buckets",
    "sequence_packing_stats",
    "mixture_materialize_stats",
    "table_profile_stats",
    "pmi_top_bigrams",
    "twohop_frontier_reach",
    "bucketed_colocated_join_revenue",
    "sssp_copurchase_cost",
    "dedup_containment_pairs",
    "ann_ivf_recall",
)
LIGHT = (
    "flagship_latest_order_dossier",
    "agg_pricing_summary",
    "edges_join_lineitem_part_supplier",
    "anti_join_customers_without_orders",
    "latest_event_per_user",
    "sectionize_events_by_login",
    "fuzzy_join_part_names",
    "dedup_minhash_verified_pairs",
    "asof_join_purchase_to_prior_view",
    "range_join_views_in_purchase_windows",
    "sessionize_events_gap",
    "fingerprint_simhash",
    "ann_cosine_topk",
    "dedup_phash_hamming_pairs",
    "boilerplate_segment_stats",
    "recrawl_cdc_delta",
    "compaction_file_plan",
    "chunking_overlap_stats",
    "mixture_sampling_weights",
    "dedup_incremental_pairs",
    "multimodal_alignment_funnel",
    "crawl_capacity_plan",
    "funnel_conversion_stages",
    "cohort_retention_weekly",
    "rolling_hour_rate_histogram",
    "ab_experiment_lift",
    "revisit_schedule_plan",
    "incremental_agg_maintenance",
    "anchor_text_topk",
    "zonemap_skip_stats",
    "weighted_sample_docs",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "image_aspect_batch_packing",
    "bowtie_reachability",
    "interval_merge_busy_windows",
    "host_skew_gini",
    "tpch_q10_returned_items",
    "tpch_q14_promo_effect",
    "tpch_q18_large_volume",
    "tpch_q19_discounted_revenue",
    "variant_props_extract",
    "udtf_token_explode_topk",
    "datasource_point_page",
    "warc_cdx_index",
    "sitemap_frontier_seed",
    "sitemap_delta_revisit",
    "url_trap_templates",
    "tpch_q2_min_cost_supplier",
    "tpch_q4_priority_check",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_value",
    "tpch_q12_priority_classes",
    "tpch_q13_order_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts",
    "tpch_q17_small_quantity",
    "tpch_q20_part_promotion",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_sales_opportunity",
    "phrase_index_search",
    "pareto_quality_frontier",
    "rendezvous_host_assignment",
    "minhash_estimate_error",
    "embedding_int8_quant_error",
    "embedding_mean_pool_by_label",
)

# executor-bound: a leaf whose grouped_cumsum (operators/sequence.py) runs
# a Python stage, and a graph leaf
HEAVY_TIMED = (
    "sequence_packing_stats",
    "twohop_frontier_reach",
)
# driver-bound: TPC-H leaves of 3 and 7 jobs, a crawl-planning leaf and a
# leaf with a Python UDTF stage, 0.2-0.8 s each. They put the median leaf
# among the light ones; with tpch_q8 (21 jobs, 1.5 s) in the sample a pass
# took 7-9 s, too long for more than 3 passes a run.
LIGHT_TIMED = (
    "tpch_q6_forecast_revenue",
    "tpch_q3_shipping_priority",
    "sitemap_frontier_seed",
    "udtf_token_explode_topk",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def run(r: Run) -> Result:
    res = Result()
    order = list(HEAVY_TIMED + LIGHT_TIMED)
    random.Random(r.seed).shuffle(order)
    spark, start_s = r.session()
    t0 = time.perf_counter()
    # bench.py's warm-up: JVM, parquet reader, codegen
    spark.read.parquet(os.path.join(DATA_DIR, "region.parquet")).count()
    spark.range(1000).selectExpr("sum(id)").collect()
    warmup_s = time.perf_counter() - t0

    t_check = time.perf_counter()
    qs = get_queries()
    # the sampled leaves' oracles are SQL strings; get_oracles() would also
    # build every lazy oracle of the registry, which takes ~10 s
    oracles = {name: ORACLES[name] for name in order}
    # no extension downloads: the comparison must work offline
    with duckdb.connect(config={"autoinstall_known_extensions": False}) as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        for name in order:
            res.attempted += 1
            if not _check(spark, con, qs[name], oracles[name], name):
                res.failed += 1

    check_s = time.perf_counter() - t_check

    tracer = trace.Tracer(spark, r.trace)
    tracer.wrap(SEQ, "global_sequence", "operators.sequence")
    # bound by name when the plan module is imported
    tracer.wrap(PQ3, "grouped_cumsum", "operators.sequence")
    passes: list[list[trace.Op]] = []
    try:
        with PeakRss() as rss:
            while not passes or _spent(passes) + _spent(passes[-1:]) <= r.seconds:
                passes.append([_leaf(spark, tracer, qs, name, len(passes)) for name in order])
    finally:
        tracer.restore()
    res.attempted += sum(len(p) for p in passes)
    res.failed += sum(1 for p in passes for op in p if op.info["error"])

    pass_s = median(_spent([p]) for p in passes)
    res.end_to_end = {
        "setup_s": start_s + warmup_s,
        "pass_s": pass_s,
        "op_p50_s": median(op.wall for p in passes for op in p),
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    res.notes = {"passes": len(passes), "leaves_per_pass": len(order), "check_s": check_s}
    if r.trace:
        r.stop_spark()  # flushes the event log
        ops = [op for p in passes for op in p]
        spark_ops = trace.join_event_log(ops, r.event_dir)
        n = len(passes)
        wall = sum(op.wall for op in ops)
        res.per_layer = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.pass_s": pass_s,
            "plans.heavy_s": sum(op.wall for op in ops if op.info["leaf"] in HEAVY) / n,
            "plans.light_s": sum(op.wall for op in ops if op.info["leaf"] in LIGHT) / n,
            "plans.build_s": sum(op.info["build_s"] for op in ops) / n,
            "plans.exec_s": sum(op.info["exec_s"] for op in ops) / n,
            "plans.jobs_per_leaf": sum(spark_ops[op.name].jobs for op in ops) / len(ops),
        }
        calls, covered = tracer.span_total(ops, "operators.sequence.")
        res.per_layer["operators.sequence.calls"] = calls / n
        res.per_layer["operators.sequence.s"] = covered / n
        sums = trace.spark_sums([spark_ops[op.name] for op in ops], wall)
        for k, v in sums.items():
            # totals per pass; ratios and counts-per-op as they are
            res.per_layer[k] = v if k in ("spark.busy_cores", "spark.task_skew") else v / n
        res.records = [trace.record(tracer, op, spark_ops[op.name]) for op in ops]
    return res


def _spent(passes: list[list[trace.Op]]) -> float:
    return sum(op.wall for p in passes for op in p)


def _leaf(spark, tracer: trace.Tracer, qs, name: str, pass_no: int) -> trace.Op:
    with tracer.op(f"pass{pass_no}:{name}", leaf=name, error=False) as op:
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, DATA_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # counted as a failed operation; the run goes on
            traceback.print_exc(file=sys.stderr)
            op.info["error"] = True
            t1 = time.perf_counter()
        op.info["build_s"] = t1 - t0
        op.info["exec_s"] = time.perf_counter() - t1
    return op


def _check(spark, con, query, oracle_sql: str, name: str) -> bool:
    """The leaf's rows equal its DuckDB oracle's, compared the way
    ``tools/check_correctness.py`` compares them."""
    try:
        got = _canon(query(spark, DATA_DIR).toPandas())
        want = _canon(con.execute(oracle_sql).df())
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            print(f"check {name}: shape {got.shape} vs {want.shape}", file=sys.stderr)
            return False
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9
        )
        return True
    except Exception as e:  # a failed check, reported and counted
        print(f"check {name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return False
