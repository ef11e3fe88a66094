"""Query surface: every operator family from SURVEY.md §2 expressed as a
(spark DataFrame program, DuckDB oracle SQL) pair over the driver tables.

Registered through ``__spark_entry__.queries()`` / ``oracle_sql()``. The
driver compares row-count + schema + order-insensitive value hash at
sf=0.01, so:
  - every computed column is aliased identically on both sides,
  - float aggregates are rounded to 4 decimals on both sides,
  - ties are broken deterministically.

Scale notes are inline per query — each plan is written for the 100 TB
shape (broadcast the dimension, push the filter, pre-aggregate before
join), verified at small SF.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.functions import scalars as S
from vbpl_web_crawl_spark.sources.tables import load_table, spread

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# value: the DuckDB oracle SQL, or a zero-arg callable producing it
# lazily (for oracles that inline corpus-derived deterministic
# artifacts, e.g. the learned BPE merge table). A callable returning
# None (or raising) downgrades that query to rows-only instead of
# breaking the whole oracle dict.
ORACLES: dict[str, str | Callable[[], str | None]] = {}


def _register(name: str, oracle: str | Callable[[], str | None] | None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship — SURVEY §3.3 fetch_vbpl_by_id shape: projection + filter +
# top-1-by-recency + equi-joins (P1,P2,W6,O2,J1). Mapped onto the driver
# catalog: per-customer latest order joined to customer + nation dims.
# Scale: window over orders partitioned by o_custkey (one shuffle on the
# natural key); nation is broadcast; customer join is a co-partitioned
# sort-merge at scale (bucket both by custkey in Iceberg).
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = """
WITH latest AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT l.o_custkey AS cust_id,
       c.c_name AS cust_name,
       n.n_name AS nation_name,
       l.o_orderkey AS latest_orderkey,
       l.o_orderstatus AS latest_status,
       round(l.o_totalprice, 4) AS latest_totalprice,
       strftime(l.o_orderdate, '%Y-%m-%d') AS latest_orderdate
FROM latest l
JOIN customer c ON c.c_custkey = l.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.rn = 1
"""


@_register("flagship_latest_order_dossier", _FLAGSHIP_SQL)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    latest = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        latest.join(customer, latest.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("o_custkey").alias("cust_id"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderstatus").alias("latest_status"),
            F.round("o_totalprice", 4).alias("latest_totalprice"),
            S.iso_date_string(F.col("o_orderdate")).alias("latest_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# P1/P2 — point lookup with explicit projection (vbpl.py:1075-1091).
# Scale: filter pushed to the parquet/Iceberg scan (min/max + dict skip).
# ---------------------------------------------------------------------------


@_register(
    "point_lookup_order",
    """
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 4) AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM orders WHERE o_orderkey = 42
""",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 42)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            S.iso_date_string(F.col("o_orderdate")).alias("o_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# O1 — ORDER BY ... DESC LIMIT n (vbpl.py:1146-1147). Spark plans this as
# TakeOrderedAndProject (per-partition top-k, no full sort) — exactly what
# survives 100 TB. Tie-broken by key for determinism.
# ---------------------------------------------------------------------------


@_register(
    "topk_recent_orders",
    """
SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 4) AS o_totalprice
FROM orders
ORDER BY o_orderdate DESC, o_orderkey DESC
LIMIT 20
""",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            S.iso_date_string(F.col("o_orderdate")).alias("o_orderdate"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — anti-join (the crawl's seen-set dedup, vbpl.py:147-148 et al.).
# Scale: this is the 10^10-row join; AQE skew-split + (in the crawl
# engine) a Bloom prefilter so most probes never shuffle. Here: customers
# never seen in orders.
# ---------------------------------------------------------------------------


@_register(
    "anti_join_customers_without_orders",
    """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey"))
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J4 — semi-join existence check (anle.py:264-265).
# ---------------------------------------------------------------------------


@_register(
    "semi_join_customers_with_high_value_order",
    """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J1/J2 — edges->nodes equi-joins (vbpl.py:1093-1101): lineitem (edge) to
# part + supplier (nodes), filtered. Scale: part/supplier broadcast when
# dimension-sized; at 100 TB lineitem the filter pushes to the scan and
# only surviving rows shuffle.
# ---------------------------------------------------------------------------


@_register(
    "edges_join_lineitem_part_supplier",
    """
SELECT l.l_orderkey, l.l_linenumber, p.p_name, s.s_name,
       round(l.l_extendedprice * (1 - l.l_discount), 4) AS net_price
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE l.l_quantity >= 49
""",
)
def q_edges_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_name",
            "s_name",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        )
    )


# ---------------------------------------------------------------------------
# A1-A4 — aggregation suite (TPC-H Q1 shape + group-concat A3/A4).
# Scale: partial aggregation map-side (Spark automatic); group-concat is
# sorted for determinism (collect_list order is not stable under shuffle).
# ---------------------------------------------------------------------------


@_register(
    "agg_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "group_concat_segments_per_nation",
    """
SELECT n.n_name AS nation_name,
       string_agg(DISTINCT c.c_mktsegment, ' - ' ORDER BY c.c_mktsegment) AS segments,
       count(*) AS n_customers
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""",
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3 (vbpl.py:1253): ' - '-joined sector list -> sorted concat of the
    # distinct set so the result is shuffle-order-independent.
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            S.sorted_concat(F.collect_set("c_mktsegment"), " - ").alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# W6/O2 — latest-version-wins (vbpl.py:1091): row_number desc == 1.
# ---------------------------------------------------------------------------


@_register(
    "latest_event_per_user",
    """
SELECT user_id, event_id AS latest_event_id, event_type AS latest_type,
       round(value, 4) AS latest_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
            F.round("value", 4).alias("latest_value"),
        )
    )


# ---------------------------------------------------------------------------
# W1 — hierarchy carry-forward (vbpl.py:254-291): last(ignorenulls) over an
# ordered per-entity window. Here: carry the last 'login' event id forward
# onto every subsequent event of the same user.
# ---------------------------------------------------------------------------


@_register(
    "carry_forward_last_login",
    """
SELECT event_id, user_id, event_type,
       last_value(CASE WHEN event_type = 'login' THEN event_id END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_login_event
FROM events
""",
)
def q_carry_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marker = F.when(F.col("event_type") == "login", F.col("event_id"))
    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(marker, ignorenulls=True).over(w).alias("last_login_event"),
    )


# ---------------------------------------------------------------------------
# W2 — sectionizer (vbpl.py:293-378): running count of marker rows splits an
# ordered stream into sections; then aggregate per section. Here: per-user
# event stream sessionized at each 'login'.
# ---------------------------------------------------------------------------


@_register(
    "sectionize_events_by_login",
    """
WITH numbered AS (
  SELECT user_id, event_id, value,
         CAST(sum(CASE WHEN event_type = 'login' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS section_id
  FROM events
)
SELECT user_id, section_id, count(*) AS n_events,
       round(sum(value), 4) AS section_value
FROM numbered
GROUP BY user_id, section_id
""",
)
def q_sectionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_marker = F.when(F.col("event_type") == "login", F.lit(1)).otherwise(F.lit(0))
    return (
        events.withColumn("section_id", F.sum(is_marker).over(w))
        .groupBy("user_id", "section_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("section_value"),
        )
    )


# ---------------------------------------------------------------------------
# W4 — lookahead (vbpl.py:262-288 name-on-next-line): lead() over the window.
# ---------------------------------------------------------------------------


@_register(
    "lookahead_next_event_type",
    """
SELECT event_id, user_id, event_type,
       lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS next_type
FROM events
""",
)
def q_lookahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id", "user_id", "event_type", F.lead("event_type", 1).over(w).alias("next_type")
    )


# ---------------------------------------------------------------------------
# F11 — as-of effectivity state (3-way CASE, vbpl.py:875-892) with an
# injected deterministic as_of timestamp.
# ---------------------------------------------------------------------------


@_register(
    "effectivity_state_counts",
    """
SELECT CASE WHEN o_orderdate > TIMESTAMP '1998-01-01 00:00:00' THEN 'Chưa có hiệu lực'
            WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00' THEN 'Hết hiệu lực'
            ELSE 'Có hiệu lực' END AS state,
       count(*) AS n
FROM orders
GROUP BY 1
""",
)
def q_effectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    state = (
        F.when(F.col("o_orderdate") > F.lit("1998-01-01").cast("timestamp"), F.lit(S.STATE_NOT_YET))
        .when(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), F.lit(S.STATE_EXPIRED))
        .otherwise(F.lit(S.STATE_EFFECTIVE))
    )
    return orders.groupBy(state.alias("state")).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# F8/F9 — date parse + format roundtrip (dd/MM/yyyy <-> ISO).
# ---------------------------------------------------------------------------


@_register(
    "date_parse_roundtrip",
    """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n,
       min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day
FROM orders
GROUP BY 1
""",
)
def q_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(S.iso_date_string(F.col("o_orderdate"))).alias("first_day"),
    )


# ---------------------------------------------------------------------------
# F1-analog — regex extraction from semi-structured column (events.props is
# a JSON string): from_json-equivalent via regexp (the reference's JSON
# field access, vbpl.py:864-907).
# ---------------------------------------------------------------------------


@_register(
    "json_prop_extract",
    """
SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 10 AS k_bucket,
       count(*) AS n, round(sum(value), 4) AS total_value
FROM events
GROUP BY 1
""",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
    return events.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


# ---------------------------------------------------------------------------
# J6/F15 — fuzzy (theta) join on Levenshtein ratio (vbpl.py:871-873).
# Scale: NEVER an unbounded cross join — candidates are blocked first
# (here: same p_size & p_brand block, mirroring the reference's <=10
# bounded candidate set), then the ratio predicate filters.
# ---------------------------------------------------------------------------


@_register(
    "fuzzy_join_part_names",
    """
SELECT a.p_partkey AS left_key, b.p_partkey AS right_key,
       round(1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
             / greatest(length(a.p_name), length(b.p_name), 1), 4) AS sim
FROM part a JOIN part b
  ON a.p_size = b.p_size AND a.p_brand = b.p_brand
 AND a.p_partkey < b.p_partkey
WHERE 1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
      / greatest(length(a.p_name), length(b.p_name), 1) >= 0.55
""",
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    # Probe-side spread (guide §2.4): part is ONE row group at every
    # driver SF, so the broadcast-join probe — ~16M candidate
    # levenshteins at sf1.0 — otherwise runs on ONE scan task
    # (measured 60.1 s in BENCH_r05). factor=4 smooths per-block cost
    # variance across tasks.
    a = spread(
        part.select(
            F.col("p_partkey").alias("left_key"),
            F.col("p_name").alias("a_name"),
            F.col("p_size").alias("a_size"),
            F.col("p_brand").alias("a_brand"),
        ),
        factor=4,
    )
    b = part.select(
        F.col("p_partkey").alias("right_key"),
        F.col("p_name").alias("b_name"),
        F.col("p_size").alias("b_size"),
        F.col("p_brand").alias("b_brand"),
    )
    # Banded levenshtein (guide §1.2 "per-task work"): sim >= 0.55
    # needs lev <= 0.45*g, so a threshold t = floor(9g/20)+1 (one unit
    # of slack, integer arithmetic — no float rounding on the
    # threshold) lets Spark's O(t*min(la,lb)) banded algorithm bail
    # out early (-1) on the ~99% of pairs that cannot match; for pairs
    # within the band it returns the EXACT distance, and the original
    # float predicate/sim expression is evaluated on that exact value,
    # so the surviving set and sim values are bit-identical to the
    # full-width form (a pair with lev > t has 1 - lev/g < 0.55 - 1/g,
    # which no double rounding can lift over 0.55). The |len diff|
    # guard costs two length() calls and skips the levenshtein
    # entirely when the lengths alone prove lev > t.
    g = F.greatest(F.length("a_name"), F.length("b_name"), F.lit(1))
    t = (F.floor(F.lit(9) * g / F.lit(20)) + F.lit(1)).cast("int")
    d = F.expr(
        "levenshtein(a_name, b_name,"
        " cast(floor(9 * greatest(length(a_name), length(b_name), 1) / 20)"
        " as int) + 1)"
    )
    ratio = F.lit(1.0) - d.cast("double") / g.cast("double")
    return (
        a.join(
            b,
            (F.col("a_size") == F.col("b_size"))
            & (F.col("a_brand") == F.col("b_brand"))
            & (F.col("left_key") < F.col("right_key"))
            & (F.abs(F.length("a_name") - F.length("b_name")) <= t)
            & (d >= 0)
            & (ratio >= 0.55),
        )
        .select("left_key", "right_key", F.round(ratio, 4).alias("sim"))
    )


# ---------------------------------------------------------------------------
# U1/U2 — union + distinct of round outputs (vbpl.py:98,133,143-144).
# ---------------------------------------------------------------------------


@_register(
    "union_distinct_active_parties",
    """
SELECT party_key, party_role FROM (
  SELECT DISTINCT c_custkey AS party_key, 'customer' AS party_role
  FROM customer WHERE c_acctbal > 0
  UNION
  SELECT DISTINCT s_suppkey AS party_key, 'supplier' AS party_role
  FROM supplier WHERE s_acctbal > 0
)
""",
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("party_key"), F.lit("customer").alias("party_role"))
        .distinct()
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select(F.col("s_suppkey").alias("party_key"), F.lit("supplier").alias("party_role"))
        .distinct()
    )
    return cust.unionByName(supp).distinct()


# ---------------------------------------------------------------------------
# P8 — substring membership predicate (vbpl.py:1216).
# ---------------------------------------------------------------------------


@_register(
    "substring_filter_parts",
    """
SELECT p_partkey, p_name FROM part
WHERE contains(p_name, 'gre') AND p_size >= 5
""",
)
def q_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("gre") & (F.col("p_size") >= 5))
        .select("p_partkey", "p_name")
    )


# sibling modules whose import registers their queries; the import
# order is the registration order (and so the order of QUERIES/ORACLES)
_MODULES = (
    "analytics_queries",
    "extra_queries",
    "modern_queries",
    "pipeline_queries",
    *(f"pipeline_queries{i}" for i in range(2, 16)),
    "profiling_queries",
    "tpch_queries",
    "tpch_queries2",
)


def _load_modules() -> None:
    for m in _MODULES:
        importlib.import_module(f"vbpl_web_crawl_spark.plans.{m}")


def get_queries() -> dict[str, QueryFn]:
    _load_modules()
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    _load_modules()

    out: dict[str, str] = {}
    for name, sql in ORACLES.items():
        if callable(sql):
            try:
                sql = sql()
            except Exception:  # lazy builder failed -> rows-only gate
                sql = None
        if sql is not None:
            out[name] = sql
    return out
