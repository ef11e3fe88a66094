"""Physical-plan regression guards: the optimizations we rely on at
100 TB must stay in the plan (pushdown, broadcast, top-k, group-limit)."""

import io
from contextlib import redirect_stdout

import pytest

from vbpl_web_crawl_spark.plans.queries import get_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        get_queries()[name](spark, SF).explain("formatted")
    return buf.getvalue()


def test_point_lookup_pushes_filter(spark):
    plan = _plan(spark, "point_lookup_order")
    assert "PushedFilters" in plan and "EqualTo(o_orderkey,42)" in plan


def test_topk_plans_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "topk_recent_orders")


def test_edges_join_broadcasts_dimensions(spark):
    plan = _plan(spark, "edges_join_lineitem_part_supplier")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GreaterThanOrEqual(l_quantity,49.0)" in plan  # pushed filter


def test_flagship_uses_window_group_limit(spark):
    plan = _plan(spark, "flagship_latest_order_dossier")
    assert "WindowGroupLimit" in plan  # rank-1 pruned before shuffle
    assert "BroadcastHashJoin" in plan


def test_fuzzy_serial_join_blocks_on_length_band(spark, tmp_path):
    """J6 scale guard: the reference-parity fuzzy join must carry the
    serial-length band as a second equi-key — doc_type alone is a
    near-cartesian block at 10^8 docs."""
    from vbpl_web_crawl_spark.plans.reference_queries import REFERENCE_QUERIES
    from vbpl_web_crawl_spark.sources.relational_gen import (
        load_reference_tables,
        write_reference_tables,
    )

    out = str(tmp_path / "ref_tables")
    import os

    os.makedirs(out, exist_ok=True)
    write_reference_tables(out)
    tables = load_reference_tables(spark, out)
    fn, _ = REFERENCE_QUERIES["fuzzy_serial_candidates"]
    buf = io.StringIO()
    with redirect_stdout(buf):
        fn(tables).explain("formatted")
    plan = buf.getvalue()
    assert "a_band" in plan and "b_band" in plan


def test_scan_prunes_columns(spark):
    plan = _plan(spark, "point_lookup_order")
    # projection pruning: unused columns never leave the scan
    assert "o_orderpriority" not in plan.split("ReadSchema")[-1]


# ---------------------------------------------------------------------------
# Bench-suite plan snapshots (VERDICT r2 #9): every headline query's
# physical plan must keep the shape we ship — partial aggregation,
# hash joins on real keys (no cartesian), broadcast dimensions, top-k
# as TakeOrderedAndProject — so a future plan regression fails CI, not
# the 100 TB run.
# ---------------------------------------------------------------------------

import re as _re
from collections import Counter


def _nodes(plan: str) -> Counter:
    return Counter(_re.findall(r"\(\d+\) ([A-Za-z]+)", plan))


def _shuffles(n: Counter) -> int:
    return n["Exchange"]  # BroadcastExchange counts separately


_BENCH_PLAN_EXPECT = {
    # query -> callable(plan_text, node_counter) asserting its shape
    "flagship_latest_order_dossier": lambda p, n: (
        "WindowGroupLimit" in p and n["BroadcastHashJoin"] >= 1
    ),
    "agg_pricing_summary": lambda p, n: (
        n["HashAggregate"] >= 2 and _shuffles(n) == 1 and "PushedFilters: [IsNotNull" in p
    ),
    "edges_join_lineitem_part_supplier": lambda p, n: (
        n["BroadcastHashJoin"] >= 2 and "GreaterThanOrEqual(l_quantity,49.0)" in p
    ),
    "anti_join_customers_without_orders": lambda p, n: (
        n["BroadcastHashJoin"] == 1 and "LeftAnti" in p
    ),
    "latest_event_per_user": lambda p, n: (
        # rank-1 pruned per partition BEFORE and after the shuffle
        n["WindowGroupLimit"] >= 1 and _shuffles(n) == 1
    ),
    "sectionize_events_by_login": lambda p, n: (
        # the groupBy reuses the window's hash partitioning: ONE shuffle
        n["Window"] == 1 and n["HashAggregate"] >= 2 and _shuffles(n) == 1
    ),
    "fuzzy_join_part_names": lambda p, n: (
        # band-blocked equi-join, never a nested-loop theta join
        n["BroadcastHashJoin"] + n["SortMergeJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "dedup_exact_clusters": lambda p, n: (
        # r06: +1 rebalance exchange of raw rows before normalization
        # (sources/tables.spread; single-row-group scan)
        n["HashAggregate"] >= 2 and _shuffles(n) <= 2
    ),
    "dedup_minhash_lsh_pairs": lambda p, n: (
        n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "dedup_minhash_verified_pairs": lambda p, n: (
        n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "dedup_winnowing_pairs": lambda p, n: (
        # fingerprints come from the vectorized mapInPandas rolling
        # pass, materialized ONCE via localCheckpoint (both the DF-cap
        # agg and the pairing read the checkpointed RDD scan): NO
        # per-char explode, NO per-doc Window shuffle anywhere in the
        # plan; hot fps dropped via an equi-join, then pairs explode
        # (Generate) inside <=cap-sized fp buckets — no self-join,
        # never a nested loop over doc pairs
        n["Window"] == 0
        and n["Scan"] >= 2
        and n["Generate"] >= 1
        and n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "asof_join_purchase_to_prior_view": lambda p, n: (
        # union + per-key window carry: NO join node, one real shuffle
        n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"]
        + n["BroadcastNestedLoopJoin"] == 0
        and n["Window"] >= 1
        and n["Union"] == 1
    ),
    "range_join_views_in_purchase_windows": lambda p, n: (
        # interval binning: the inequality runs as an EQUI-join
        n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "sessionize_events_gap": lambda p, n: (
        # lag + cumsum + groupBy all reuse one user_id partitioning
        n["Window"] >= 1 and n["HashAggregate"] >= 1 and _shuffles(n) == 1
    ),
    "fingerprint_simhash": lambda p, n: n["HashAggregate"] >= 2,
    "text_stats_by_lang": lambda p, n: (
        # r06: +1 rebalance exchange (spread) ahead of the scalar stats
        n["HashAggregate"] >= 2 and _shuffles(n) <= 2
    ),
    "ann_cosine_topk": lambda p, n: (
        # broadcast single-row query vector + per-partition top-k heap
        n["TakeOrderedAndProject"] == 1 and n["BroadcastExchange"] >= 1
    ),
    "ann_lsh_bucket_histogram": lambda p, n: (
        # r06: one extra rebalance exchange of the RAW vectors ahead of
        # the per-plane HOF dots (sources/tables.spread — a single-row-
        # group scan otherwise evaluates them all on one task); the
        # aggregation itself still shuffles exactly once
        n["HashAggregate"] >= 2 and _shuffles(n) <= 2
    ),
    "quality_repetition_stats": lambda p, n: (
        # two (doc_id, gram) partial-agg groupBys + doc_id joins + the
        # final lang agg: pure Catalyst, no Python stage, no nested loop
        n["HashAggregate"] >= 6
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "dup_span_coverage": lambda p, n: (
        # lead()-window 8-gram spans + per-doc coverage windows, all
        # partitioned by doc_id; pure Catalyst
        n["Window"] >= 1
        and n["HashAggregate"] >= 4
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "dedup_phash_hamming_pairs": lambda p, n: (
        # banded pigeonhole blocking: band explode + bucket EQUI-join,
        # never an all-pairs nested loop over images
        n["Generate"] >= 1
        and n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "pii_redaction_stats": lambda p, n: (
        # regexp_count/replace stay JVM-side; one per-lang aggregate
        # (r06: +1 rebalance exchange from spread)
        _shuffles(n) <= 2
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "quality_filter_funnel": lambda p, n: (
        n["HashAggregate"] >= 4
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "boilerplate_segment_stats": lambda p, n: (
        # the tokenized segment frame is checkpointed ONCE and shared by
        # the df agg and the flag join (both sides show as ExistingRDD
        # scans — one tokenize+explode pass, not two document scans);
        # then an 8-byte-key frequency agg and an equi-join; never a
        # nested loop
        "ExistingRDD" in p
        and "Scan parquet" not in p
        and n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "semantic_dedup_keep_one": lambda p, n: (
        # the ONLY nested-loop joins are the 16-row broadcast centroid
        # assignments (one per branch reading `assigned`); the
        # within-cluster pair search itself is an EQUI-join on cid
        n["BroadcastNestedLoopJoin"] <= 3
        and n["BroadcastNestedLoopJoin"] <= n["BroadcastExchange"]
        and n["SortMergeJoin"] + n["ShuffledHashJoin"] + n["BroadcastHashJoin"] >= 1
    ),
    "recrawl_cdc_delta": lambda p, n: (
        # snapshot diff = ONE full-outer join on the 8-byte doc key
        # (fingerprints ride along, bodies never shuffle)
        "FullOuter" in p
        and n["SortMergeJoin"] + n["ShuffledHashJoin"] == 1
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "compaction_file_plan": lambda p, n: (
        # the groupBy reuses the window's source partitioning: 1 shuffle
        n["Window"] == 1 and _shuffles(n) == 1
    ),
    "dsir_importance_buckets": lambda p, n: (
        # hashed-feature stream checkpointed once; the <=1024-row ratio
        # table joins back via BROADCAST, never a shuffled join
        n["BroadcastHashJoin"] >= 1
        and n["SortMergeJoin"] + n["ShuffledHashJoin"] == 0
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "chunking_overlap_stats": lambda p, n: (
        # chunk materialization is shuffle-free (slice transform); only
        # the per-lang rollups shuffle
        n["Generate"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
        and "mapInPandas" not in p
    ),
    "mixture_sampling_weights": lambda p, n: (
        # per-stream table eagerly checkpointed: the raw document scan
        # ran once at build; the final plan reads only the checkpoint,
        # cross-joining two SINGLE-ROW broadcast globals (BNLJ is the
        # intended physical form for a 1-row dimensionless join)
        "Scan parquet" not in p
        and n["BroadcastNestedLoopJoin"] <= 3
        and n["SortMergeJoin"] == 0
        and "mapInPandas" not in p
    ),
    "sequence_packing_stats": lambda p, n: (
        # fully materialized via eager localCheckpoint at build (the
        # grouped_cumsum + tiny per-source aggregate); the
        # visible plan is exactly one checkpoint scan
        "Scan parquet" not in p and n["Scan"] == 1 and n["Window"] == 0
    ),
    "mixture_materialize_stats": lambda p, n: (
        "Scan parquet" not in p and n["Scan"] == 1 and n["Window"] == 0
    ),
    "dedup_incremental_pairs": lambda p, n: (
        # shingles + signatures checkpointed once: no parquet re-scan,
        # no tokenize window in the final plan; candidate generation is
        # an equi-join (never a cross product between batch and corpus)
        "Scan parquet" not in p
        and n["Window"] == 0
        and n["BroadcastHashJoin"] + n["SortMergeJoin"] + n["ShuffledHashJoin"] >= 1
        and n["BroadcastNestedLoopJoin"] == 0
        and n["CartesianProduct"] == 0
    ),
    "multimodal_alignment_funnel": lambda p, n: (
        # anchor dim broadcasts; <= 2 passes over the embeddings table
        # (one reduced to anchors, one scoring pass)
        n["BroadcastHashJoin"] == 1
        and n["SortMergeJoin"] == 0
        # two embedding-table passes: each parquet scan appears twice
        # in "formatted" output (tree line + detail header)
        and p.count("Scan parquet") <= 4
        and "mapInPandas" not in p
    ),
    "crawl_capacity_plan": lambda p, n: (
        # host table checkpointed at build; single-row global broadcast
        "Scan parquet" not in p and n["BroadcastNestedLoopJoin"] <= 1
    ),
    "funnel_conversion_stages": lambda p, n: (
        # per-user flags + totals materialize at build (one user-keyed
        # Exchange, asserted by test_funnel_cascade_is_single_shuffle);
        # the visible plan is the 4-stage union over the 1-row totals
        "Scan parquet" not in p and n["Union"] == 1
    ),
    "cohort_retention_weekly": lambda p, n: (
        # distinct (cohort, offset, user) frame checkpointed once;
        # cohort sizes broadcast back against it
        "Scan parquet" not in p
        and n["BroadcastHashJoin"] >= 1
        and n["SortMergeJoin"] == 0
    ),
    "rolling_hour_rate_histogram": lambda p, n: (
        # one parquet pass, one user-keyed RANGE window, no self-join
        p.count("Scan parquet") <= 2
        and n["Window"] == 1
        and n["BroadcastHashJoin"] + n["SortMergeJoin"]
        + n["ShuffledHashJoin"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "ab_experiment_lift": lambda p, n: (
        # 2-row arm stats checkpointed; single-row broadcast cross join
        "Scan parquet" not in p and n["BroadcastNestedLoopJoin"] <= 1
    ),
    "table_profile_stats": lambda p, n: (
        # ONE scan; the exact distincts appear as a single Expand; the
        # wide->long pivot is a Generate, never a join or second pass
        p.count("Scan parquet") <= 2  # tree + detail mention of ONE scan
        and n["Expand"] == 1
        and n["BroadcastHashJoin"] + n["SortMergeJoin"]
        + n["ShuffledHashJoin"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "revisit_schedule_plan": lambda p, n: (
        # the full-outer snapshot join runs ONCE at build into the
        # checkpointed #sources-row table; the visible plan reads it
        # twice (final select + budget total) with a single-row
        # broadcast — no parquet rescan, no repeated doc_id join
        "ExistingRDD" in p
        and "Scan parquet" not in p
        and n["SortMergeJoin"] + n["ShuffledHashJoin"] == 0
        and n["BroadcastNestedLoopJoin"] <= 1
    ),
    "incremental_agg_maintenance": lambda p, n: (
        # documents scanned ONCE (new side); the old projection is the
        # checkpointed snapshot feeding base + CDC join; merges are
        # #sources-row joins, never a second corpus pass
        "ExistingRDD" in p
        and p.count("Scan parquet") <= 2  # tree + detail of ONE scan
        and n["BroadcastNestedLoopJoin"] + n["CartesianProduct"] == 0
    ),
    "anchor_text_topk": lambda p, n: (
        # link volume flows through ONE map-side-combining (target,
        # anchor) agg; the window + in-link total run over the bounded
        # aggregated table, never the raw links
        n["HashAggregate"] >= 4
        and n["Window"] == 1
        and n["CartesianProduct"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "zonemap_skip_stats": lambda p, n: (
        # pure two-level aggregation per layout — no join anywhere;
        # lineitem scanned once per layout, 2 columns only
        n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
        and p.count("ReadSchema") <= 2
        and "l_comment" not in p
    ),
    "weighted_sample_docs": lambda p, n: (
        # global top-k by priority = TakeOrderedAndProject, never a
        # full sort; priority computed at scan projection
        "TakeOrderedAndProject" in p and n["Exchange"] == 0
    ),
    "tpch_q3_shipping_priority": lambda p, n: (
        # BUILDING customers broadcast; date predicates pushed to the
        # scans; global top-10 = TakeOrderedAndProject
        n["BroadcastHashJoin"] >= 1
        and "TakeOrderedAndProject" in p
        and "PushedFilters: [IsNotNull(o_orderdate)" in p
    ),
    "pmi_top_bigrams": lambda p, n: (
        # corpus tokenized at most twice (pairs + the checkpointed
        # unigram table); vocab-sized count tables broadcast; top-k
        # never materializes the full sorted pair table
        p.count("Scan parquet") <= 2
        and "TakeOrderedAndProject" in p
        and n["CartesianProduct"] == 0
        and n["BroadcastHashJoin"] >= 2
    ),
    "tpch_q5_local_supplier_volume": lambda p, n: (
        # region->nation spine and supplier broadcast; the two fact
        # tables shuffle on their join keys once; date predicate
        # pushed to the orders scan
        n["BroadcastHashJoin"] >= 2
        and n["BroadcastNestedLoopJoin"] == 0
        and "PushedFilters: [IsNotNull(o_orderdate)" in p
    ),
    "tpch_q10_returned_items": lambda p, n: (
        # customer + nation dims broadcast; one fact shuffle for the
        # custkey agg; top-20 = TakeOrderedAndProject, never a global
        # sort; returnflag + date predicates pushed to the scans
        n["BroadcastHashJoin"] >= 2
        and "TakeOrderedAndProject" in p
        and "PushedFilters: [IsNotNull(l_returnflag)" in p
        and n["BroadcastNestedLoopJoin"] + n["CartesianProduct"] == 0
    ),
    "tpch_q14_promo_effect": lambda p, n: (
        # part broadcast into the windowed lineitem scan; ship-date
        # predicates pushed; one global conditional agg (partial +
        # final), no sort or window anywhere
        n["BroadcastHashJoin"] >= 1
        and "PushedFilters: [IsNotNull(l_shipdate)" in p
        and n["Window"] + n["Sort"] == 0
    ),
    "tpch_q18_large_volume": lambda p, n: (
        # the HAVING pre-agg runs on l_orderkey BEFORE the joins and
        # its tiny qualifying set broadcasts outward — the orders and
        # customer tables never shuffle; top-100 by totalprice is
        # TakeOrderedAndProject
        n["BroadcastHashJoin"] >= 2
        and "TakeOrderedAndProject" in p
        and n["SortMergeJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "tpch_q19_discounted_revenue": lambda p, n: (
        # broadcast equi-join on p_partkey with the OR-of-ANDs as a
        # residual; the cross-branch quantity envelope still pushes to
        # the lineitem parquet scan despite the unpushable OR
        n["BroadcastHashJoin"] >= 1
        and "GreaterThanOrEqual(l_quantity,1" in p
        and "LessThanOrEqual(l_quantity,30" in p
        and n["BroadcastNestedLoopJoin"] + n["CartesianProduct"] == 0
    ),
    "image_aspect_batch_packing": lambda p, n: (
        # one documents scan pruned to doc_id; one bucket-keyed window
        # does the packing; no join anywhere
        p.count("Scan parquet") <= 2  # tree + detail of ONE scan
        and "ReadSchema: struct<doc_id:bigint>" in p
        and n["Window"] == 1
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "interval_merge_busy_windows": lambda p, n: (
        # both island windows share ONE user_id partitioning; the
        # island agg reuses it (partitioning on a subset of the
        # grouping keys); only the tiny bucket rollup re-shuffles
        n["Window"] == 2
        and _shuffles(n) <= 3
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "twohop_frontier_reach": lambda p, n: (
        # the distinct edge table is checkpointed once and feeds the
        # self-join (both sides) + the anti-join; lineitem is never
        # re-scanned from parquet in the final plan
        "ExistingRDD" in p
        and "Scan parquet" not in p
        and n["CartesianProduct"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "host_skew_gini": lambda p, n: (
        # documents scanned once, pruned to (lang, source) — the body
        # column never leaves the scan; one rank window over the tiny
        # per-host count table; no join anywhere
        "text" not in p.split("ReadSchema")[-1]
        and n["Window"] == 1
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "bucketed_colocated_join_revenue": lambda p, n: (
        # the join itself is the bucket-i-to-bucket-i zipper: both
        # scans read bucketed, zero join Exchange; only the priority
        # agg (+ the orderBy range partitioning) shuffle
        p.count("Bucketed: true") == 2
        and n["SortMergeJoin"] == 1
        and _shuffles(n) <= 2
        and n["CartesianProduct"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "sssp_copurchase_cost": lambda p, n: (
        # converged distances are a checkpointed RDD; the histogram
        # never re-scans parquet or re-runs the relaxation rounds
        "ExistingRDD" in p
        and "Scan parquet" not in p
        and n["CartesianProduct"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "bowtie_reachability": lambda p, n: (
        # BFS layers are checkpointed RDDs; the classification joins
        # against the two (tiny) visited sets broadcast — the raw edge
        # table is never re-scanned from parquet
        "ExistingRDD" in p
        and "Scan parquet" not in p
        and n["CartesianProduct"] + n["BroadcastNestedLoopJoin"] == 0
    ),
    "variant_props_extract": lambda p, n: (
        # props parsed ONCE into VARIANT then read with typed
        # variant_get — no regexp/string re-scan; scan pruned to
        # (value, props); partial+final agg, one data shuffle plus the
        # orderBy range exchange, no join anywhere
        "variant_get" in p
        and "RLike" not in p
        and "ReadSchema: struct<value:double,props:string>" in p
        and n["HashAggregate"] >= 2
        and _shuffles(n) <= 2
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "udtf_token_explode_topk": lambda p, n: (
        # the UDTF only EMITS rows (one Arrow-batched eval over the
        # pruned 2-col scan); the shuffle/agg/top-k stay Catalyst-side:
        # partial aggs before each exchange, top-k as
        # TakeOrderedAndProject, never a global sort or join
        "BatchEvalPythonUDTF" in p
        and "ReadSchema: struct<doc_id:bigint,text:string>" in p
        and "TakeOrderedAndProject" in p
        and n["HashAggregate"] >= 2
        and n["Sort"] == 0
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "warc_cdx_index": lambda p, n: (
        # one documents scan pruned to (doc_id, text, source); the
        # only shuffle is the segment-key Exchange feeding the
        # applyInPandas segment builder; parse is a shuffle-free
        # mapInPandas; no joins, no windows
        "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in p
        and n["FlatMapGroupsInPandas"] == 1
        and n["MapInPandas"] == 1
        and _shuffles(n) == 1
        and n["Window"] == 0
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "sitemap_frontier_seed": lambda p, n: (
        # zero Python in the plan: render is a string agg (partial +
        # final ObjectHashAggregate around the one host/chunk-key
        # Exchange), parse is built-in xpath + one Generate (explode);
        # scan pruned to (doc_id, source); no joins, no windows
        "ReadSchema: struct<doc_id:bigint,source:string>" in p
        and n["ObjectHashAggregate"] == 2
        and n["Generate"] == 1
        and _shuffles(n) == 1
        and n["BatchEvalPython"] + n["ArrowEvalPython"] == 0
        and n["FlatMapGroupsInPandas"] + n["MapInPandas"] == 0
        and n["Window"] == 0
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "sitemap_delta_revisit": lambda p, n: (
        # two generations rendered + parsed (2 Generate), FULL OUTER
        # diff on the url key as one SortMergeJoin, everything over
        # (doc_id, source)-pruned scans; no Python nodes, no cartesian
        "ReadSchema: struct<doc_id:bigint,source:string>" in p
        and n["SortMergeJoin"] == 1
        and "FullOuter" in p
        and n["Generate"] == 2
        and n["BatchEvalPython"] + n["ArrowEvalPython"] == 0
        and n["FlatMapGroupsInPandas"] + n["MapInPandas"] == 0
        and n["BroadcastNestedLoopJoin"] + n["CartesianProduct"] == 0
    ),
    "url_trap_templates": lambda p, n: (
        # two pruned (doc_id, source) scans unioned, partial+final
        # HashAggregate around (host, template)-key shuffles (the
        # count-distinct adds its expand exchange); no joins, no
        # windows, no Python
        "ReadSchema: struct<doc_id:bigint,source:string>" in p
        and n["HashAggregate"] >= 2
        and n["Union"] == 1
        and _shuffles(n) <= 2
        and n["Window"] == 0
        and n["BatchEvalPython"] + n["ArrowEvalPython"] == 0
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "datasource_point_page": lambda p, n: (
        # both predicates cross the pushFilters boundary into the
        # Python DataSource reader (which prunes to _MIRRORS partitions
        # at planning time); nothing is left to filter, shuffle, or
        # join above the BatchScan
        n["BatchScan"] == 1
        and "PushedFilters: [EqualTo(page,3), EqualTo(doc_class,phap_quy)]" in p
        and n["Filter"] == 0
        and _shuffles(n) == 0
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    # --- TPC-H completion (tpch_queries2): shapes that must hold at
    # 100 TB. Fact-fact joins are NOT pinned to a strategy (at
    # sf0.001 statistics legitimately broadcast them; at scale AQE
    # picks SMJ), but dims must broadcast, semi/anti joins must stay
    # semi/anti (never materialize the probe side), correlated aggs
    # must be single-shuffle, and nothing may go cartesian.
    "tpch_q2_min_cost_supplier": lambda p, n: (
        # region->nation->supplier spine + part list broadcast; the
        # correlated per-part min is ONE window, not a rejoin; top-100
        # never global-sorts
        n["BroadcastHashJoin"] >= 3
        and n["Window"] == 1
        and "TakeOrderedAndProject" in p
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q4_priority_check": lambda p, n: (
        # EXISTS stays a semi-join; date + returnflag predicates
        # pushed to their scans
        "LeftSemi" in p
        and "EqualTo(l_returnflag,R)" in p
        and "IsNotNull(o_orderdate)" in p
    ),
    "tpch_q6_forecast_revenue": lambda p, n: (
        # pure pushed-scan + one global two-partial agg: no join, no
        # shuffle beyond the single final-agg exchange
        n["HashAggregate"] == 2
        and _shuffles(n) == 1
        and "IsNotNull(l_shipdate)" in p
        and n["SortMergeJoin"] + n["BroadcastHashJoin"] + n["ShuffledHashJoin"] == 0
    ),
    "tpch_q7_volume_shipping": lambda p, n: (
        # nation-pair-filtered supplier/customer dims broadcast before
        # the fact joins; ship-date window pushed
        n["BroadcastHashJoin"] >= 2
        and "IsNotNull(l_shipdate)" in p
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q8_market_share": lambda p, n: (
        # ECONOMY part list + supplier-nation dim broadcast; the
        # region customer restriction stays a semi-join
        n["BroadcastHashJoin"] >= 3
        and "LeftSemi" in p
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q9_product_profit": lambda p, n: (
        # red-part list + supplier-nation dim broadcast; profit
        # expression evaluated inline (no Python)
        n["BroadcastHashJoin"] >= 2
        and n["BatchEvalPython"] + n["ArrowEvalPython"] == 0
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q11_important_value": lambda p, n: (
        # nation-filtered supplier set semi-joins the fact; the group
        # total is a one-row broadcast (the only nested-loop allowed);
        # top-200 never global-sorts
        "LeftSemi" in p
        and n["BroadcastNestedLoopJoin"] <= 1
        and "TakeOrderedAndProject" in p
    ),
    "tpch_q12_priority_classes": lambda p, n: (
        # ship-date window pushed to the fact scan; the cross-table
        # lateness predicate is a post-join filter, never a nested loop
        "IsNotNull(l_shipdate)" in p
        and n["BroadcastNestedLoopJoin"] + n["CartesianProduct"] == 0
        and n["HashAggregate"] >= 2
    ),
    "tpch_q13_order_distribution": lambda p, n: (
        # left-outer with the exclusion INSIDE the join condition,
        # then two aggregation levels (per-customer -> histogram)
        "LeftOuter" in p
        and n["HashAggregate"] >= 3
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q15_top_supplier": lambda p, n: (
        # quarter window pushed; max-revenue threshold is a one-row
        # broadcast; supplier dim broadcast
        "IsNotNull(l_shipdate)" in p
        and n["BroadcastNestedLoopJoin"] <= 1
        and n["BroadcastHashJoin"] >= 1
    ),
    "tpch_q16_supplier_counts": lambda p, n: (
        # part-attribute list broadcast; flagged suppliers excluded by
        # an ANTI join (never a NOT IN materialization); distinct
        # count adds its expand agg
        "LeftAnti" in p
        and n["BroadcastHashJoin"] >= 2
        and n["HashAggregate"] >= 3
        and "TakeOrderedAndProject" in p
    ),
    "tpch_q17_small_quantity": lambda p, n: (
        # brand filter pushed to the part scan; the correlated
        # per-part avg is one extra agg + broadcast join, not a
        # per-row subquery
        "EqualTo(p_brand,Brand#23)" in p
        and n["BroadcastHashJoin"] >= 2
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q20_part_promotion": lambda p, n: (
        # color-prefix part list broadcast; the HAVING threshold runs
        # on the suppkey pre-agg BEFORE the supplier join, so only
        # qualifying suppliers' rows leave the agg
        n["BroadcastHashJoin"] >= 3
        and "IsNotNull(l_shipdate)" in p
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q21_waiting_suppliers": lambda p, n: (
        # the exists/not-exists pair is ONE per-orderkey profile agg
        # joined back (no second semi/anti pass over the fact); the
        # finished-orders restriction stays a semi-join
        "LeftSemi" in p
        and n["HashAggregate"] >= 4
        and "TakeOrderedAndProject" in p
        and n["BroadcastNestedLoopJoin"] == 0
    ),
    "tpch_q22_sales_opportunity": lambda p, n: (
        # balance stats are a one-row broadcast; the no-recent-orders
        # probe stays an ANTI join; nation-list predicate pushed
        "LeftAnti" in p
        and n["BroadcastNestedLoopJoin"] <= 1
        and "In(c_nationkey" in p
    ),
    "phrase_index_search": lambda p, n: (
        # postings filtered to the query's 3 terms BEFORE any exchange:
        # the position-adjacency alignment joins broadcast the tiny
        # per-term posting lists; only the final per-doc agg shuffles
        n["BroadcastHashJoin"] >= 2
        # r06: the token stream is spread + localCheckpointed (4
        # consumers); the postings plan reads the checkpoint, so the
        # Generate sits behind it and up to one extra exchange appears
        and _shuffles(n) <= 2
    ),
    "pareto_quality_frontier": lambda p, n: (
        # skyline via ONE per-lang running-max window over the bounded
        # (lang, q4) level table — never a pairwise dominance join
        n["Window"] == 1 and n["BroadcastHashJoin"] >= 1 and _shuffles(n) <= 3
    ),
    "rendezvous_host_assignment": lambda p, n: (
        # host x worker scoring: the worker side is a broadcast
        # Range(16/17) — a bounded BNLJ fan-out of W rows per host,
        # NOT a host-by-host cartesian; per-method loads then union
        n["BroadcastNestedLoopJoin"] <= 2
        and n["Union"] == 1
        and n["Range"] >= 1
    ),
    "dedup_containment_pairs": lambda p, n: (
        # shingle frame checkpointed once for its 3 consumers: the
        # whole ordered-pair pipeline is 3 shuffles (common-count agg,
        # plus the two size joins' builds are broadcast)
        _shuffles(n) <= 3 and n["HashAggregate"] >= 4
    ),
    "minhash_estimate_error": lambda p, n: (
        # sh + sig checkpointed (the naive composition re-scanned the
        # corpus 20x); banding explode present, <=3 shuffles remain
        _shuffles(n) <= 3 and n["Generate"] >= 1
    ),
    "embedding_int8_quant_error": lambda p, n: (
        # 64-row per-dim scales table must come back as a BROADCAST
        # join onto the exploded component stream, never a shuffle join
        n["BroadcastHashJoin"] >= 1
        and n["Generate"] >= 1
        and _shuffles(n) <= 3
    ),
    "ann_ivf_recall": lambda p, n: (
        # both rankings are top-k (TakeOrderedAndProject), assignment
        # checkpointed once; the overlap agg needs no shuffle at all
        n["TakeOrderedAndProject"] >= 2 and _shuffles(n) <= 1
    ),
    "embedding_mean_pool_by_label": lambda p, n: (
        # tiny per-label norms table broadcast back; two-level agg
        # over the single dim-exploded stream
        n["BroadcastHashJoin"] >= 1
        and n["Generate"] >= 1
        and _shuffles(n) <= 3
    ),
}


def _bench_headline() -> list[str]:
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.HEADLINE


def test_plan_expectations_cover_the_bench_suite():
    """Adding a bench query without a plan snapshot must fail here."""
    assert set(_bench_headline()) == set(_BENCH_PLAN_EXPECT)


@pytest.mark.parametrize("name", sorted(_BENCH_PLAN_EXPECT))
def test_bench_query_plan_shape(spark, name):
    plan = _plan(spark, name)
    nodes = _nodes(plan)
    assert nodes["CartesianProduct"] == 0, f"{name}: cartesian product in plan"
    assert _BENCH_PLAN_EXPECT[name](plan, nodes), f"{name} plan shape:\n{nodes}"


# ---------------------------------------------------------------------------
# Round-3 additions outside the bench suite: scan pruning and shuffle
# counts for the sampling / SCD-2 / z-order gates.
# ---------------------------------------------------------------------------


def test_stratified_sample_prunes_scan_to_two_columns(spark):
    plan = _plan(spark, "stratified_sample_by_lang")
    read = plan.split("ReadSchema")[-1]
    assert "doc_id" in read and "lang" in read
    assert "text" not in read  # the body never leaves the parquet scan


def test_split_prunes_scan_to_doc_id(spark):
    plan = _plan(spark, "train_val_test_split")
    read = plan.split("ReadSchema")[-1]
    assert "doc_id" in read and "text" not in read and "lang" not in read


def test_scd2_single_shuffle(spark):
    plan = _plan(spark, "scd2_event_type_history")
    n = _nodes(plan)
    # both windows + the change filter share one user_id partitioning
    assert n["Window"] >= 1 and _shuffles(n) == 1 and n["CartesianProduct"] == 0


def test_zorder_buckets_partial_aggregation(spark):
    plan = _plan(spark, "zorder_key_buckets")
    n = _nodes(plan)
    assert n["HashAggregate"] >= 2 and _shuffles(n) == 1  # map-side combine


def test_sessionize_groupby_reuses_window_partitioning(spark):
    # already in the bench expectations; keep an explicit named guard
    plan = _plan(spark, "sessionize_events_gap")
    assert _shuffles(_nodes(plan)) == 1


def test_alignment_funnel_broadcasts_anchors(spark):
    """The per-label anchor table must broadcast — a shuffled join on
    label would move every embedding row for a <=#labels-row dim."""
    plan = _plan(spark, "multimodal_alignment_funnel")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_capacity_plan_broadcasts_global_and_prunes_scan(spark):
    """Single-row global broadcast; the host table is checkpointed at
    build so the visible plan re-reads no parquet at all."""
    plan = _plan(spark, "crawl_capacity_plan")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Scan parquet" not in plan


def test_incremental_dedup_no_cartesian(spark):
    """Candidate generation must stay an equi-join on (band_id,
    band_key) — never a cross product between batch and corpus."""
    plan = _plan(spark, "dedup_incremental_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_cascade_is_single_shuffle(spark):
    """The three cascaded running-min windows and the per-user flag
    aggregation must all reuse ONE user_id exchange — the 4-join
    formulation would shuffle four times."""
    import re as _re

    from vbpl_web_crawl_spark.plans.analytics_queries import funnel_user_flags
    from vbpl_web_crawl_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        funnel_user_flags(ev).explain("formatted")
    p = buf.getvalue()
    n_exchange = len(_re.findall(r"^\s*\(\d+\)\s+Exchange", p, _re.M))
    assert n_exchange == 1
    assert len(_re.findall(r"^\s*\(\d+\)\s+Window", p, _re.M)) == 3
    assert len(_re.findall(r"^\s*\(\d+\)\s+Sort", p, _re.M)) == 1
