"""Round-5 continuation queries: crawl-graph analytics (BFS seed-depth
layers, integer-exact HITS, anchor-text consolidation), storage-layout
data-skipping diagnostics (zone-map pruning effectiveness), and
deterministic weighted sampling. Same (Spark plan, DuckDB oracle)
contract as plans/pipeline_queries.py, registered into the same
driver-facing registry.

Reference parity notes: the reference crawler walks vbpl.vn
breadth-first with no prioritization or link analysis
(/root/reference/app/service/vbpl.py crawl loop) and stores rows with
no layout policy (app/model/*.py, plain SQLAlchemy inserts). These
operators are the web-scale upgrades of those two gaps: BFS depth IS
the crawl's frontier layering made queryable, HITS/anchor-text are the
standard frontier-prioritization signals, and zone-map stats quantify
what a date-clustered Iceberg layout saves a recrawl scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.plans import pipeline_queries as PQ
from vbpl_web_crawl_spark.plans.queries import _register
from vbpl_web_crawl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Multi-source BFS over the part<->supplier link graph: depth = min
# hops from the seed set, capped (crawl depth-budget semantics). The
# node encoding (2*partkey / 2*suppkey+1) keeps the bipartite sides in
# one integer space, exactly as in pagerank_supply_graph. The oracle
# unrolls the layers as CTEs — one frontier expansion per depth, the
# anti-join expressed as NOT IN over the accumulated visited set.
# Output is the per-depth layer summary (count + id-sum + extrema), so
# the gate certifies layer MEMBERSHIP, not just sizes.
# ---------------------------------------------------------------------------

_BFS_SEEDS = (3, 5, 7)  # suppliers 1..3 under the 2*s+1 encoding
_BFS_DEPTH = 3


def _seeds(spark: SparkSession) -> DataFrame:
    """The seed suppliers as a (node) frame."""
    return spark.createDataFrame([(s,) for s in _BFS_SEEDS], "node long")


def _bfs_oracle() -> str:
    ctes = [
        """e AS (
  SELECT DISTINCT 2 * l_partkey AS u, 2 * l_suppkey + 1 AS v FROM lineitem
  UNION
  SELECT DISTINCT 2 * l_suppkey + 1 AS u, 2 * l_partkey AS v FROM lineitem
)""",
        f"""v0 AS (
  SELECT node, 0 AS depth
  FROM (VALUES {', '.join(f'({s})' for s in _BFS_SEEDS)}) t(node)
)""",
    ]
    for d in range(1, _BFS_DEPTH + 1):
        ctes.append(
            f"""f{d} AS (
  SELECT DISTINCT e.v AS node FROM e
  JOIN v{d - 1} p ON e.u = p.node AND p.depth = {d - 1}
  WHERE e.v NOT IN (SELECT node FROM v{d - 1})
)"""
        )
        ctes.append(
            f"""v{d} AS (
  SELECT node, depth FROM v{d - 1}
  UNION ALL SELECT node, {d} AS depth FROM f{d}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT depth,
       count(*) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS sum_node,
       min(node) AS min_node,
       max(node) AS max_node
FROM v{_BFS_DEPTH}
GROUP BY depth
ORDER BY depth
"""
    )


@_register("crawl_depth_bfs", _bfs_oracle())
def q_crawl_depth_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth BFS layer summary from 3 seed suppliers over the
    undirected part<->supplier graph — the crawl frontier's (depth,
    discovery) layering computed as iterative DataFrame rounds
    (operators/graph.py:bfs_layers). One round per depth; the
    visited-set anti-join is the exact form of the Bloom seen-set."""
    from vbpl_web_crawl_spark.operators.graph import bfs_layers

    layers = bfs_layers(
        PQ.part_supplier_edges(spark, sf_dir), _seeds(spark), max_depth=_BFS_DEPTH
    )
    return _node_summary(layers, "depth", "depth", "n_nodes")


def _node_summary(nodes: DataFrame, key, name: str, n_name: str) -> DataFrame:
    """Per value of the grouping ``key`` (named ``name``) over (node, ...)
    rows, ordered by it: the node count (as ``n_name``), node-id sum,
    min and max — membership, not just sizes."""
    return (
        nodes.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias(n_name),
            F.sum("node").cast("long").alias("sum_node"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy(name)
    )


# ---------------------------------------------------------------------------
# Integer-exact HITS over the customer->part purchase graph (hub =
# customer, authority = part; disjoint node spaces via 2*c / 2*p+1).
# Normalization per half-step rescales the score vector to a CONSTANT
# total mass with truncating integer DIV — scale-free like the
# classical L2 step but transcendental-free, so the unrolled SQL
# oracle reproduces every bit; the constant keeps v * total under
# int64 at any node count (guarded loudly in operators/graph.py).
# Top-15 authorities are the gate rows.
# ---------------------------------------------------------------------------

_HITS_ITER = 3
_HITS_MASS = 1  # cancels exactly in the truncating rescale; keeps the
# first-iteration overflow bound at n_edges * total (not n_edges * mass * total)
_HITS_TOTAL = 100_000_000


def _hits_oracle() -> str:
    ctes = [
        """e AS (
  SELECT DISTINCT 2 * o_custkey AS u, 2 * l_partkey + 1 AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        "n AS (SELECT u AS node FROM e UNION SELECT v FROM e)",
        f"h0 AS (SELECT node, CAST({_HITS_MASS} AS BIGINT) AS s FROM n)",
    ]
    total = str(_HITS_TOTAL)
    for i in range(1, _HITS_ITER + 1):
        ctes.append(
            f"""ra{i} AS (
  SELECT e.v AS node, SUM(h.s) AS s
  FROM e JOIN h{i - 1} h ON e.u = h.node GROUP BY e.v
)"""
        )
        ctes.append(
            f"""a{i} AS (
  SELECT n.node,
         CAST(COALESCE(r.s, 0) * {total}
              // (SELECT COALESCE(SUM(s), 1) FROM ra{i}) AS BIGINT) AS s
  FROM n LEFT JOIN ra{i} r ON n.node = r.node
)"""
        )
        ctes.append(
            f"""rh{i} AS (
  SELECT e.u AS node, SUM(a.s) AS s
  FROM e JOIN a{i} a ON e.v = a.node GROUP BY e.u
)"""
        )
        ctes.append(
            f"""h{i} AS (
  SELECT n.node,
         CAST(COALESCE(r.s, 0) * {total}
              // (SELECT COALESCE(SUM(s), 1) FROM rh{i}) AS BIGINT) AS s
  FROM n LEFT JOIN rh{i} r ON n.node = r.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.node AS node_id,
       (a.node - 1) // 2 AS part_id,
       a.s AS auth,
       h.s AS hub
FROM a{_HITS_ITER} a JOIN h{_HITS_ITER} h ON a.node = h.node
ORDER BY auth DESC, node_id ASC
LIMIT 15
"""
    )


@_register("hits_part_authorities", _hits_oracle())
def q_hits_part_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 authority parts by integer-exact HITS over the distinct
    customer->part purchase edges (operators/graph.py:hits). Hubs are
    customers whose baskets concentrate on strong authorities — the
    crawl-prioritization complement to PageRank."""
    from vbpl_web_crawl_spark.operators.graph import hits

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        (2 * F.col("o_custkey")).alias("src"),
        (2 * F.col("l_partkey") + 1).alias("dst"),
    )
    scores = hits(edges, n_iter=_HITS_ITER, mass=_HITS_MASS, total_mass=_HITS_TOTAL)
    return (
        scores.select(
            F.col("node").alias("node_id"),
            F.expr("(node - 1) DIV 2").alias("part_id"),
            "auth",
            "hub",
        )
        .orderBy(F.col("auth").desc(), F.col("node_id").asc())
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Anchor-text consolidation: for every link-target page, the top-3
# anchor terms pointing at it plus its in-link total — the classic
# web-graph signal search/caption rankers aggregate at crawl time
# (the reference stores each page's own title only;
# /root/reference/app/model has no link table at all). Link targets
# are md5-derived from doc_id (deterministic, identical hex in both
# engines); the anchor term is the document's first whitespace token.
#
# Scale design: one map-side-combining groupBy on (target, anchor) —
# the only shuffle that sees data volume, keyed by 8 bytes + a short
# term; the top-3 window runs over the already-aggregated bounded
# table. At 100 TB the anchor aggregation is exactly the shape of the
# per-host URL statistics the crawl already maintains.
# ---------------------------------------------------------------------------

_ANCHOR_TARGETS = 23


@_register(
    "anchor_text_topk",
    f"""
WITH links AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           % {_ANCHOR_TARGETS} AS target,
         lower(split_part(trim(text), ' ', 1)) AS anchor
  FROM documents
  WHERE trim(text) <> ''
),
agg AS (
  SELECT target, anchor, count(*) AS cnt
  FROM links GROUP BY target, anchor
),
tot AS (
  SELECT target, CAST(sum(cnt) AS BIGINT) AS in_links FROM agg GROUP BY target
),
ranked AS (
  SELECT target, anchor, cnt,
         row_number() OVER (PARTITION BY target
                            ORDER BY cnt DESC, anchor ASC) AS rnk
  FROM agg
)
SELECT r.target, r.rnk, r.anchor, r.cnt, t.in_links
FROM ranked r JOIN tot t ON r.target = t.target
WHERE r.rnk <= 3
ORDER BY r.target, r.rnk
""",
)
def q_anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 anchor terms per link target with in-link totals."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    links = docs.filter(F.trim(F.col("text")) != "").select(
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long")
            % _ANCHOR_TARGETS
        ).alias("target"),
        F.lower(F.split(F.trim(F.col("text")), " ")[0]).alias("anchor"),
    )
    agg = links.groupBy("target", "anchor").agg(F.count(F.lit(1)).alias("cnt"))
    tot = agg.groupBy("target").agg(F.sum("cnt").cast("long").alias("in_links"))
    w = Window.partitionBy("target").orderBy(F.col("cnt").desc(), F.col("anchor").asc())
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .join(tot, "target")
        .select("target", "rnk", "anchor", "cnt", "in_links")
        .orderBy("target", "rnk")
    )


# ---------------------------------------------------------------------------
# Zone-map data-skipping effectiveness: per storage layout, how many
# "files" (row groups) a shipdate-range recrawl scan can PRUNE from
# their min/max statistics alone, and the read amplification of the
# files it cannot. Two layouts of the same rows: the natural
# insert-order proxy (orderkey blocks) vs a date-clustered layout
# (year-month partitions — what the compaction planner + Z-order gates
# produce). This is the 100 TB argument for clustering made
# measurable: the predicate is a 2-month window out of ~7 years.
# ---------------------------------------------------------------------------

_ZM_PRED_LO = "1998-03-01"
_ZM_PRED_HI = "1998-05-01"
_ZM_BLOCK = 500  # orderkeys per natural-layout file


def _zonemap_layout_sql(layout: str, file_expr: str) -> str:
    return f"""
SELECT '{layout}' AS layout,
       count(*) AS n_files,
       CAST(sum(CASE WHEN mx >= TIMESTAMP '{_ZM_PRED_LO}'
                      AND mn < TIMESTAMP '{_ZM_PRED_HI}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(sum(rows_in_file) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN mx >= TIMESTAMP '{_ZM_PRED_LO}'
                      AND mn < TIMESTAMP '{_ZM_PRED_HI}'
                     THEN rows_in_file ELSE 0 END) AS BIGINT) AS rows_read,
       CAST(sum(rows_match) AS BIGINT) AS rows_match
FROM (
  SELECT {file_expr} AS file_id,
         min(l_shipdate) AS mn, max(l_shipdate) AS mx,
         count(*) AS rows_in_file,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '{_ZM_PRED_LO}'
                   AND l_shipdate < TIMESTAMP '{_ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS rows_match
  FROM lineitem GROUP BY file_id
) f
"""


@_register(
    "zonemap_skip_stats",
    f"""
WITH per_layout AS (
  {_zonemap_layout_sql('natural', f'l_orderkey // {_ZM_BLOCK}')}
  UNION ALL
  {_zonemap_layout_sql('date_clustered',
                       'year(l_shipdate) * 100 + month(l_shipdate)')}
)
SELECT layout, n_files, files_scanned, rows_total, rows_read, rows_match,
       round(1.0 - CAST(files_scanned AS DOUBLE) / n_files, 4) AS skip_frac,
       round(CAST(rows_read AS DOUBLE) / rows_match, 4) AS read_amp
FROM per_layout
ORDER BY layout
""",
)
def q_zonemap_skip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning effectiveness of two layouts under a 2-month
    shipdate predicate: fraction of files skipped from min/max stats
    and the read amplification of the surviving files."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lo, hi = F.lit(_ZM_PRED_LO).cast("timestamp"), F.lit(_ZM_PRED_HI).cast("timestamp")
    match = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)

    def layout(name: str, file_col):
        files = (
            li.groupBy(file_col.alias("file_id"))
            .agg(
                F.min("l_shipdate").alias("mn"),
                F.max("l_shipdate").alias("mx"),
                F.count(F.lit(1)).alias("rows_in_file"),
                F.sum(F.when(match, 1).otherwise(0)).alias("rows_match"),
            )
        )
        scanned = (F.col("mx") >= lo) & (F.col("mn") < hi)
        return files.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(scanned, 1).otherwise(0)).cast("long").alias("files_scanned"),
            F.sum("rows_in_file").cast("long").alias("rows_total"),
            F.sum(F.when(scanned, F.col("rows_in_file")).otherwise(0))
            .cast("long")
            .alias("rows_read"),
            F.sum("rows_match").cast("long").alias("rows_match"),
        ).select(
            F.lit(name).alias("layout"),
            "n_files",
            "files_scanned",
            "rows_total",
            "rows_read",
            "rows_match",
        )

    per = layout("natural", F.expr(f"l_orderkey DIV {_ZM_BLOCK}")).unionByName(
        layout(
            "date_clustered",
            F.year("l_shipdate") * 100 + F.month("l_shipdate"),
        )
    )
    return per.select(
        "layout",
        "n_files",
        "files_scanned",
        "rows_total",
        "rows_read",
        "rows_match",
        F.round(1.0 - F.col("files_scanned") / F.col("n_files"), 4).alias("skip_frac"),
        F.round(F.col("rows_read") / F.col("rows_match"), 4).alias("read_amp"),
    ).orderBy("layout")


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (probability ~ document length): the
# RNG-free form of A-ES weighted reservoir sampling — per-row priority
# H(doc_id) DIV weight with a 60-bit md5-derived hash, global top-k by
# ascending priority. Partitioning-invariant, re-runnable, identical
# in both engines (no floats anywhere). This is how a 100 TB corpus
# draws a token-weighted audit sample without a seed exchange: the
# top-k is a TakeOrderedAndProject (no global sort), and the priority
# is computable at scan time.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Personalized PageRank (random walk with restart) from the same 3
# seed suppliers as the BFS gate — focused-crawl frontier scoring:
# rank = walk-distance-weighted reachability from the seed set,
# integer-exact (operators/graph.py:personalized_pagerank). Oracle
# unrolls the iterations; teleport mass goes only to seeds. Top-20
# nodes are the gate rows.
# ---------------------------------------------------------------------------

_PPR_ITER = 4
_PPR_TOTAL = 1_000_000_000
_PPR_DAMP = 85


def _ppr_oracle() -> str:
    tele = (100 - _PPR_DAMP) * _PPR_TOTAL // (100 * len(_BFS_SEEDS))
    ctes = [
        """edges AS (
  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem
  UNION ALL
  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM lineitem
)""",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "n AS (SELECT DISTINCT src AS node FROM edges)",
        f"""s AS (SELECT node FROM (VALUES {', '.join(f'({x})' for x in _BFS_SEEDS)}) t(node))""",
        f"""b AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN CAST({tele} AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS t
  FROM n LEFT JOIN s ON n.node = s.node
)""",
        "r0 AS (SELECT node, t AS rank FROM b)",
    ]
    for i in range(1, _PPR_ITER + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT b.node,
         CAST(b.t + ({_PPR_DAMP} * COALESCE(m.s, 0)) // 100 AS BIGINT) AS rank
  FROM b LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // d.outdeg) AS s
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) m ON b.node = m.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS node_id,
       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       rank
FROM r{_PPR_ITER}
ORDER BY rank DESC, node_id ASC
LIMIT 20
"""
    )


@_register("personalized_pagerank_topk", _ppr_oracle())
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by integer-exact personalized PageRank from 3 seed
    suppliers over the undirected part<->supplier multigraph — the
    focused-crawl priority score (operators/graph.py:
    personalized_pagerank; multigraph semantics match the oracle's
    UNION ALL)."""
    from vbpl_web_crawl_spark.operators.graph import personalized_pagerank

    ranks = personalized_pagerank(
        PQ.part_supplier_edges(spark, sf_dir),
        _seeds(spark),
        n_iter=_PPR_ITER,
        total=_PPR_TOTAL,
        damp_pct=_PPR_DAMP,
    )
    return PQ.top_ranked(ranks)


# ---------------------------------------------------------------------------
# Deterministic synchronous label propagation (operators/graph.py):
# label(v) := most frequent in-neighbor label, ties to the smallest
# label, fixed rounds — communities over the symmetrized part<->
# supplier graph are the crawl's host-affinity shards. The oracle
# unrolls the rounds as CTEs (vote count -> row_number argmax -> carry
# forward for vote-less nodes); output is the per-community membership
# summary so the gate certifies the full final labeling.
# ---------------------------------------------------------------------------

_LPA_ITER = 3


def _lpa_oracle() -> str:
    ctes = [
        """e AS (
  SELECT DISTINCT 2 * l_partkey AS u, 2 * l_suppkey + 1 AS v FROM lineitem
  UNION
  SELECT DISTINCT 2 * l_suppkey + 1 AS u, 2 * l_partkey AS v FROM lineitem
)""",
        "n AS (SELECT u AS node FROM e UNION SELECT v FROM e)",
        "l0 AS (SELECT node, node AS label FROM n)",
    ]
    for i in range(1, _LPA_ITER + 1):
        ctes.append(
            f"""v{i} AS (
  SELECT e.v AS node, l.label, count(*) AS c
  FROM e JOIN l{i - 1} l ON e.u = l.node GROUP BY e.v, l.label
)"""
        )
        ctes.append(
            f"""b{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM v{i}) t WHERE rn = 1
)"""
        )
        ctes.append(
            f"""l{i} AS (
  SELECT p.node, COALESCE(b.label, p.label) AS label
  FROM l{i - 1} p LEFT JOIN b{i} b ON p.node = b.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT label AS community,
       count(*) AS n_members,
       CAST(sum(node) AS BIGINT) AS sum_node,
       min(node) AS min_node,
       max(node) AS max_node
FROM l{_LPA_ITER}
GROUP BY label
ORDER BY community
"""
    )


@_register("label_propagation_communities", _lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community membership summary after 3 deterministic LPA rounds
    over the symmetrized part<->supplier purchase graph
    (operators/graph.py:label_propagation)."""
    from vbpl_web_crawl_spark.operators.graph import label_propagation

    edges = PQ.part_supplier_edges(spark, sf_dir)
    labels = label_propagation(edges, n_iter=_LPA_ITER)
    community = F.col("label").alias("community")
    return _node_summary(labels, community, "community", "n_members")


# ---------------------------------------------------------------------------
# Built-in streaming dedup: dropDuplicatesWithinWatermark over the
# event feed with byte-identical planted duplicates (every event_id %
# 7 == 0 row appears twice in the staged replay). Whichever copy wins
# the first-seen race the emitted rows are identical, so the drained
# sink must aggregate exactly like the ORIGINAL snapshot — a full SQL
# oracle over a genuinely streaming stateful operator. The custom
# applyInPandasWithState dedup gate (streaming_first_seen_dedup) keeps
# certifying arrival-order semantics; this one certifies the
# engine-native bounded-state operator the 10^10-URL deployment uses.
# ---------------------------------------------------------------------------


@_register(
    "streaming_dropdup_watermark",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q_streaming_dropdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type aggregate of the dropDuplicatesWithinWatermark drain
    over a replay with planted identical duplicates — equals the plain
    batch aggregate over the original snapshot iff every duplicate was
    suppressed and every original kept (streaming/dropdup.py)."""
    import os

    from vbpl_web_crawl_spark.streaming import drain
    from vbpl_web_crawl_spark.streaming.dropdup import (
        dropdup_stream,
        stage_events_with_planted_dups,
    )
    from vbpl_web_crawl_spark.streaming.joins import read_events

    events = read_events(spark, stage_events_with_planted_dups(spark, sf_dir))
    deduped = drain(dropdup_stream(events), f"dropdup_gate_{os.getpid()}")
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 (shipping priority): the classic 3-way join + top-10 by
# computed revenue — breadth marker for the ad-hoc analytics surface
# next to the Q1-shape (agg_pricing_summary) and Q5-shape
# (sql_api_revenue_by_nation) gates. Plan shape worth pinning at
# 100 TB: customer filter broadcast into orders, revenue agg partial,
# global top-10 as TakeOrderedAndProject (never a full sort).
# ---------------------------------------------------------------------------


@_register(
    "tpch_q3_shipping_priority",
    """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue (o_orderpriority stands in for the classic o_shippriority,
    which the synthetic orders table does not carry)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_WS_K = 50


@_register(
    "weighted_sample_docs",
    f"""
SELECT doc_id, lang, source, n_chars,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         // (n_chars + 1) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT {_WS_K}
""",
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted deterministic document sample: global top-k by
    ascending hash-DIV-weight priority (integer DIV — no floats)."""
    docs = load_table(spark, sf_dir, "documents")
    hash60 = (
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.expr(f"{hash60} DIV (n_chars + 1)").alias("priority"),
        )
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(_WS_K)
    )
