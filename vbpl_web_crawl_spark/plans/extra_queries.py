"""Second tranche of driver-gated queries: rollup/pivot, positional zip
join, first-match reduction, array slice ops, regex predicates, the
streaming windowed agg, and the rows-only crawl + multimodal entries.

Registered into the same QUERIES/ORACLES dicts as plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.plans.queries import _register
from vbpl_web_crawl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Rollup (beyond the reference — stock Catalyst; subtotal rows appear as
# NULL group keys in both engines).
# ---------------------------------------------------------------------------


@_register(
    "rollup_revenue_nation_segment",
    """
SELECT n.n_name AS nation_name, c.c_mktsegment AS segment,
       round(sum(o.o_totalprice), 4) AS revenue, count(*) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey).join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    return joined.rollup(
        F.col("n_name").alias("nation_name"), F.col("c_mktsegment").alias("segment")
    ).agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Pivot — order counts per priority pivoted by status (DuckDB oracle via
# conditional aggregation; column names must match the pivoted names).
# ---------------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


@_register(
    "pivot_orders_status_by_priority",
    f"""
SELECT o_orderpriority,
       {', '.join(f"count(*) FILTER (WHERE o_orderstatus = '{s}') AS {s}" for s in _STATUSES)}
FROM orders GROUP BY o_orderpriority
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (priority,status) pair is absent; the
    # oracle's FILTER-count yields 0 — align on 0
    return out.select(
        "o_orderpriority", *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in _STATUSES]
    )


# ---------------------------------------------------------------------------
# J5 positional zip join (reference titles[j] x sub_titles[j],
# vbpl.py:131-137): arrays_zip + posexplode of two order-aligned lists.
# ---------------------------------------------------------------------------


@_register(
    "zip_positional_user_events",
    """
WITH lists AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id) AS types,
         list(round(value, 4) ORDER BY ts, event_id) AS vals
  FROM events WHERE user_id < 20 GROUP BY user_id
)
SELECT user_id,
       unnest(generate_series(1, len(types))) - 1 AS pos,
       unnest(types) AS event_type,
       unnest(vals) AS value
FROM lists
""",
)
def q_zip_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    lists = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
        ).alias("t_sorted"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col("ts"), F.col("event_id"), F.round("value", 4).alias("v"))
            )
        ).alias("v_sorted"),
    )
    zipped = lists.select(
        "user_id",
        F.posexplode(
            F.arrays_zip(
                F.transform(F.col("t_sorted"), lambda s: s.getField("event_type")),
                F.transform(F.col("v_sorted"), lambda s: s.getField("v")),
            )
        ).alias("pos", "pair"),
    )
    return zipped.select(
        "user_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("pair.0").alias("event_type"),
        F.col("pair.1").alias("value"),
    )


# ---------------------------------------------------------------------------
# A6 first-match reduction: earliest purchase per user via min_by (the
# reference's `found`-flag short circuit as a deterministic rank-1 agg).
# ---------------------------------------------------------------------------


@_register(
    "first_purchase_per_user",
    """
SELECT user_id,
       arg_min(event_id, epoch_ms(ts) * 100000 + event_id) AS first_event_id,
       round(arg_min(value, epoch_ms(ts) * 100000 + event_id), 4) AS first_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
""",
)
def q_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # events.ts is TIMESTAMP_NTZ; session tz is UTC so the cast is exact
    ord_col = F.unix_millis(F.col("ts").cast("timestamp")) * 100000 + F.col("event_id")
    return events.groupBy("user_id").agg(
        F.min_by("event_id", ord_col).alias("first_event_id"),
        F.round(F.min_by("value", ord_col), 4).alias("first_value"),
    )


# ---------------------------------------------------------------------------
# U3/O3: array slice + element_at — first 3 events per user.
# ---------------------------------------------------------------------------


@_register(
    "first3_events_per_user",
    """
WITH lists AS (
  SELECT user_id, list(event_id ORDER BY ts, event_id) AS ids
  FROM events GROUP BY user_id
)
SELECT user_id, ids[1] AS first_id,
       array_to_string([CAST(x AS VARCHAR) for x in ids[1:3]], ',') AS first3
FROM lists
""",
)
def q_slice_first3(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    lists = events.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id"))).alias("s")
    )
    ids = F.transform(F.col("s"), lambda x: x.getField("event_id"))
    return lists.select(
        "user_id",
        F.element_at(ids, 1).alias("first_id"),
        F.array_join(
            F.transform(F.slice(ids, 1, 3), lambda x: x.cast("string")), ","
        ).alias("first3"),
    )


# ---------------------------------------------------------------------------
# A2 scalar aggregate + P6 regex predicate on the documents corpus.
# ---------------------------------------------------------------------------


@_register(
    "scalar_max_order",
    "SELECT round(max(o_totalprice), 4) AS max_price, count(*) AS n FROM orders",
)
def q_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").agg(
        F.round(F.max("o_totalprice"), 4).alias("max_price"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "regex_docs_by_source",
    r"""
SELECT source, count(*) AS n_match
FROM documents
WHERE regexp_matches(text, 'spark\s+\w+\s+join')
GROUP BY source
""",
)
def q_regex_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").rlike(r"spark\s+\w+\s+join"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )


# ---------------------------------------------------------------------------
# Streaming: watermark + tumbling window over events, AvailableNow drain
# (T1 semantics). Oracle = the equivalent batch aggregation.
# ---------------------------------------------------------------------------


@_register(
    "streaming_windowed_event_agg",
    """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
""",
)
def q_streaming_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from vbpl_web_crawl_spark.streaming.rounds import windowed_event_agg

    return windowed_event_agg(spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# Rows-only entries (non-SQL-expressible): the crawl itself and the
# multimodal decode stage. The driver records row-count-only checks.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# SQL API — the same Catalyst plan via spark.sql over registered views
# (TPC-H Q5 shape: region -> nation -> customer -> orders -> lineitem).
# ---------------------------------------------------------------------------


@_register(
    "sql_api_revenue_by_nation",
    """
SELECT n.n_name AS nation_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vbpl_web_crawl_spark.sources.tables import register_all

    register_all(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        """
    )


@_register(
    "distinct_counts_per_segment",
    """
SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers
FROM customer GROUP BY c_mktsegment
""",
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@_register(
    "cube_events_type_bucket",
    """
SELECT event_type, user_id % 5 AS user_bucket,
       count(*) AS n, round(sum(value), 4) AS total
FROM events
GROUP BY CUBE (event_type, user_id % 5)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.cube(
        F.col("event_type"), (F.col("user_id") % 5).alias("user_bucket")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))


# ---------------------------------------------------------------------------
# Skew-salted join: event_type has only a handful of hot values, the
# classic skewed-key join. The dim side is exploded over 16 salts and
# the fact side salted by pmod(event_id, 16), so each hot key spreads
# over 16 shuffle partitions. The result is identical to the unsalted
# join — which is exactly what the DuckDB oracle computes.
# ---------------------------------------------------------------------------

_N_SALT = 16


@_register(
    "skew_salted_join_event_types",
    """
WITH dim AS (
  SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events
)
SELECT d.type_label, count(*) AS n, round(sum(e.value), 4) AS total_value
FROM events e JOIN dim d ON d.event_type = e.event_type
GROUP BY d.type_label
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dim = events.select("event_type").distinct().select(
        "event_type", F.upper("event_type").alias("type_label")
    )
    salted_dim = dim.select(
        "event_type",
        "type_label",
        F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1))).alias("salt"),
    )
    salted_events = events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(_N_SALT)))
    joined = salted_events.join(salted_dim, ["event_type", "salt"])
    return joined.groupBy("type_label").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value")
    )


_TINY_CRAWL_CACHE: dict = {}


def _tiny_crawl(spark: SparkSession):
    import tempfile

    from vbpl_web_crawl_spark.crawl.engine import CrawlConfig, CrawlEngine
    from vbpl_web_crawl_spark.sources import synth_site as SITE

    key = id(spark)
    if key in _TINY_CRAWL_CACHE:
        return _TINY_CRAWL_CACHE[key]

    cfg = CrawlConfig(
        site=SITE.SiteConfig(
            n_pages=1, docs_per_page=8, related_per_doc=1, max_attachments=1, fault_every=5
        ),
        round_window_s=120.0,
        n_seen_partitions=4,
        bloom_bits=1 << 16,
    )
    ckpt = tempfile.mkdtemp(prefix="q_crawl_")
    eng = CrawlEngine(spark, cfg, ckpt)
    eng.run(resume=False)
    _TINY_CRAWL_CACHE[key] = eng
    return eng


@_register(
    "crawl_visit_log",
    lambda: __import__(
        "vbpl_web_crawl_spark.plans.decode_oracles", fromlist=["x"]
    ).crawl_visit_oracle(),
)
def q_crawl_visit_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full crawl on the tiny synthetic site; returns the canonical
    visit log. Oracle: the independent single-threaded reference
    crawler's replay (crawl/oracle.py via plans/decode_oracles.py) —
    exact visit-order equality, now driver-visible as SQL. url_hash
    (a Spark xxhash64 the reference cannot recompute) is projected
    out; the hash-keyed seen-set equality stays pytest-pinned."""
    eng = _tiny_crawl(spark)
    return (
        eng.final_state()["visit_log"]
        .select(
            "visit_seq", "round", "url", "host",
            "depth", "doc_type", "retry_count", "status",
        )
        .orderBy("visit_seq")
    )


@_register(
    "crawl_toan_van_sections",
    lambda: __import__(
        "vbpl_web_crawl_spark.plans.decode_oracles", fromlist=["x"]
    ).toan_van_oracle(),
)
def q_crawl_toan_van(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl -> doc_lines -> W1-W5 sectionizer: the reference's phase-1
    fulltext chain (vbpl.py:439-470 -> 293-378) end to end. Oracle: the
    reference crawler's replay + an independent IMPERATIVE sectionizer
    state machine (plans/decode_oracles.py:_sectionize_seq), so the
    window-function formulation is checked against a second
    implementation of the same reference semantics."""
    from vbpl_web_crawl_spark.operators.sectionizer import sectionize

    eng = _tiny_crawl(spark)
    return sectionize(eng.final_state()["doc_lines"]).orderBy("doc_id", "section_number")


@_register(
    "multimodal_decode_stats",
    lambda: __import__(
        "vbpl_web_crawl_spark.plans.decode_oracles", fromlist=["x"]
    ).multimodal_decode_oracle(),
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize an image+caption corpus (input_hint schema), decode +
    feature-extract in Arrow batches, aggregate per format."""
    from vbpl_web_crawl_spark.sources.corpus import decode_features, synth_corpus

    corpus = synth_corpus(spark, 96, partitions=8)
    feats = decode_features(corpus)
    return (
        feats.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("mean_luma"), 2).alias("avg_luma"),
            F.sum(F.col("phash_match").cast("int")).alias("n_phash_ok"),
            F.round(F.avg("caption_tokens"), 3).alias("avg_caption_tokens"),
        )
        .orderBy("fmt")
    )


@_register(
    "streaming_first_seen_dedup",
    """
WITH h AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 64 AS url_hash
  FROM events
  WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 's'), 1, 8))
             AS BIGINT) % 100 < 6
)
SELECT CAST(url_hash % 8 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_first_seen,
       min(url_hash) AS min_hash,
       max(url_hash) AS max_hash
FROM h GROUP BY url_hash % 8 ORDER BY bucket
""",
)
def q_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    crawl's unseen gate as a continuous stream — three micro-batches of
    events rows, each hash emitted exactly once (streaming/stateful.py).
    The synthetic keys use the md5-prefix derivation (not xxhash64) so
    DuckDB can reconstruct the exact input universe: the oracle is
    "distinct hashes of the union of the three nested micro-batch
    slices, bucketed" — any double-emission or dropped admission across
    micro-batch state carry-over breaks the per-bucket counts."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from vbpl_web_crawl_spark.sources.tables import load_table
    from vbpl_web_crawl_spark.streaming.stateful import streaming_first_seen

    events = load_table(spark, sf_dir, "events")
    src_schema = T.StructType(
        [
            T.StructField("url_hash", T.LongType(), False),
            T.StructField("url", T.StringType(), True),
        ]
    )

    def _md5_lane(col, salt: str):
        return F.conv(
            F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")

    rows = events.select(
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % 64
        ).alias("url_hash"),
        F.col("event_type").alias("url"),
        (_md5_lane(F.col("event_id"), "s") % 100).alias("slice"),
    )
    src = tempfile.mkdtemp(prefix="fs_gate_src_")
    # three deterministic nested subsets -> overlapping micro-batches
    for cut in (2, 4, 6):
        rows.filter(F.col("slice") < cut).drop("slice").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    out = streaming_first_seen(
        spark, src, src_schema, n_buckets=8, query_name=f"fs_gate_{os.getpid()}"
    )
    return (
        out.select("bucket", "url_hash")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_first_seen"),
            F.min("url_hash").alias("min_hash"),
            F.max("url_hash").alias("max_hash"),
        )
        .orderBy("bucket")
    )


@_register(
    "audio_feature_stats",
    lambda: __import__(
        "vbpl_web_crawl_spark.plans.decode_oracles", fromlist=["x"]
    ).audio_feature_oracle(),
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality: WAV (real codec) corpus -> decode + feature
    extraction (RMS/ZCR/peak/dominant-frequency) in Arrow batches;
    roundtrip_exact is the per-row lossless invariant."""
    from vbpl_web_crawl_spark.sources.corpus import audio_feature_table, synth_audio_corpus

    corpus = synth_audio_corpus(spark, 64, partitions=8)
    feats = audio_feature_table(corpus)
    return feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("roundtrip_exact").cast("int")).alias("n_lossless_ok"),
        F.round(F.avg("rms"), 3).alias("avg_rms"),
        F.round(F.avg("zcr"), 5).alias("avg_zcr"),
        F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
        F.max("peak").alias("max_peak"),
    )


@_register(
    "video_frame_sample_stats",
    lambda: __import__(
        "vbpl_web_crawl_spark.plans.decode_oracles", fromlist=["x"]
    ).video_frame_oracle(),
)
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality: frame sampling over REAL AVI-MJPEG containers
    (sources/video.py demux; only the strided frames' JPEG payloads are
    decoded) — every 4th frame to PNG, per-video counts + luma aggs."""
    from vbpl_web_crawl_spark.sources.corpus import sample_frames, synth_video_corpus

    videos = synth_video_corpus(spark, 24, partitions=4)
    frames = sample_frames(videos, stride=4)
    return (
        frames.groupBy("video_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg("mean_luma"), 2).alias("avg_luma"),
            F.max("ts_s").alias("last_ts_s"),
        )
        .orderBy("video_id")
    )


@_register(
    "codec_matrix_stats",
    lambda: __import__(
        "vbpl_web_crawl_spark.plans.decode_oracles", fromlist=["x"]
    ).codec_matrix_oracle(),
)
def q_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every registered image codec through the distributed decode path
    (X3 registry coverage gate): 8 deterministic synthetic scans per
    format, encode -> decode -> PSNR vs source + phash recomputation,
    inside Arrow batches on executors. One row per format; lossless
    formats must be bit-exact, lossy ones >= 40 dB (the north_rule
    per-row invariant)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("fmt", T.StringType(), False),
            T.StructField("n", T.LongType(), False),
            T.StructField("n_lossless", T.LongType(), False),
            T.StructField("n_psnr_ge_40", T.LongType(), False),
            T.StructField("n_phash_stable", T.LongType(), False),
        ]
    )

    def run(it):
        from vbpl_web_crawl_spark.sources import images as IMG

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                fmt, i = r.fmt, int(r.i)
                # 64x64 slice: the invariant is per-pixel, the cost is
                # per-byte (pure-python LZW/Huffman loops) — keep the
                # gate O(seconds); full-size paths are covered in tests
                px = IMG.synth_pixels(f"cm-{fmt}-{i}")[:64, :64]
                data = IMG.encode_image(px, fmt)
                dec = IMG.decode_image(data, fmt)
                psnr = IMG.psnr(px, dec)
                rows.append(
                    {
                        "fmt": fmt,
                        "lossless": bool((dec == px).all()),
                        "ge40": bool(psnr >= 40.0),
                        "phash_stable": IMG.phash64(dec)
                        == IMG.phash64(IMG.decode_image(data, fmt)),
                    }
                )
            out = pd.DataFrame(rows)
            yield (
                out.groupby("fmt", as_index=False)
                .agg(
                    n=("fmt", "size"),
                    n_lossless=("lossless", "sum"),
                    n_psnr_ge_40=("ge40", "sum"),
                    n_phash_stable=("phash_stable", "sum"),
                )
                .astype({"n": "int64", "n_lossless": "int64",
                         "n_psnr_ge_40": "int64", "n_phash_stable": "int64"})
            )

    from vbpl_web_crawl_spark.sources.images import registered_formats

    fmts = list(registered_formats())
    base = spark.createDataFrame(
        [(f, i) for f in fmts for i in range(8)], "fmt string, i int"
    ).repartition(len(fmts), "fmt")
    part = base.mapInPandas(run, schema)
    # second-level agg: partitions may split a fmt across batches
    return (
        part.groupBy("fmt")
        .agg(
            F.sum("n").alias("n"),
            F.sum("n_lossless").alias("n_lossless"),
            F.sum("n_psnr_ge_40").alias("n_psnr_ge_40"),
            F.sum("n_phash_stable").alias("n_phash_stable"),
        )
        .orderBy("fmt")
    )


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py) — the task brief's named
# custom operators. All three are single-shuffle compositions of
# built-in ops; the oracles are INDEPENDENT implementations (DuckDB's
# native ASOF JOIN / plain inequality join / its own window engine).
# ---------------------------------------------------------------------------


@_register(
    "asof_join_purchase_to_prior_view",
    """
WITH v AS (
  SELECT user_id, ts AS vts, max(event_id) AS view_event_id,
         arg_max(value, event_id) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.vts
""",
)
def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined as-of to the user's latest prior (or
    simultaneous) view event. Engine: union + per-key window carry
    (ONE shuffle, no inequality join); oracle: DuckDB's native ASOF
    LEFT JOIN — two independent as-of implementations must agree."""
    from vbpl_web_crawl_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    return asof_join(
        left,
        right,
        on="user_id",
        left_time="ts",
        right_time="vts",
        right_cols=["view_event_id", "view_value"],
    )


@_register(
    "range_join_views_in_purchase_windows",
    """
SELECT p.event_id AS purchase_id,
       count(*) AS n_views,
       min(v.event_id) AS first_view_id,
       max(v.event_id) AS last_view_id
FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT event_id, ts FROM events WHERE event_type = 'view') v
  ON v.ts >= p.ts AND v.ts < p.ts + INTERVAL 2 HOUR
GROUP BY 1
""",
)
def q_range_join_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View events landing in the 2-hour window after each purchase —
    an UNKEYED interval join. Engine: bucket-binned equi-join
    (operators/temporal.range_join_bucketed: intervals explode to the
    <= 2 one-hour-x2 buckets they span, points hash to one bucket, so
    the plan is a hash join, never BroadcastNestedLoop); oracle:
    DuckDB's plain inequality join."""
    from vbpl_web_crawl_spark.operators.temporal import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    windows = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
        )
    )
    points = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts")
    )
    joined = range_join_bucketed(
        points, windows, point_time="ts", start="w_start", end="w_end",
        bucket_seconds=7200,
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.min("view_id").alias("first_view_id"),
        F.max("view_id").alias("last_view_id"),
    )


_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY 1, 2
"""


@_register("sessionize_events_gap", _SESSIONIZE_SQL)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag -> boundary flag -> running sum = session id, then per-session
    aggregates. One shuffle on user_id; the groupBy reuses the
    window's partitioning. Sub-second gaps compare as exact integer
    microseconds on both engines (unix_timestamp would truncate)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds on both engines (a double epoch would
    # round, and unix_timestamp truncates sub-second parts)
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_epoch = F.unix_micros(F.lag(F.col("ts")).over(w).cast("timestamp"))
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            lag_epoch.isNull() | ((epoch - lag_epoch) > 1800 * 1_000_000), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
        "event_id",
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_session").over(cum).alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@_register("streaming_sessionize_gap", _SESSIONIZE_SQL)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful STREAMING operator with a full SQL oracle: the
    applyInPandasWithState gap-sessionizer (streaming/sessions.py)
    replays the events table with per-user flush sentinels, and its
    append-only output must equal the BATCH sessionize query — so the
    batch query's DuckDB oracle gates the streaming engine too
    (per-user scalar state, no event buffer; sessions emit exactly
    when a gap or the sentinel closes them)."""
    import os
    import shutil
    import tempfile

    from vbpl_web_crawl_spark.streaming.sessions import (
        streaming_sessionize,
        write_replay_with_sentinels,
    )

    events = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="sess_gate_src_")
    shutil.rmtree(src, ignore_errors=True)
    write_replay_with_sentinels(events, src)
    return streaming_sessionize(spark, src, f"sess_gate_{os.getpid()}")


_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       count(*) AS n_views,
       min(v.event_id) AS first_view_id,
       max(v.event_id) AS last_view_id
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts >= p.ts AND v.ts <= p.ts + INTERVAL 2 HOUR
GROUP BY 1
"""


@_register("streaming_interval_join", _STREAM_JOIN_SQL)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM watermarked interval join with a full SQL oracle:
    purchases and views are two live streams joined per-user on an
    event-time window (StreamingSymmetricHashJoin, both sides' state
    watermark-pruned — streaming/joins.py). AvailableNow replay of the
    snapshot emits exactly the batch inner join, so a DuckDB self-join
    gates the streaming engine; the per-purchase rollup runs batch-side
    over the drained sink (bounded: one row per matched purchase)."""
    from vbpl_web_crawl_spark.streaming.joins import read_events, stage_events_dir

    events = read_events(spark, stage_events_dir(sf_dir))
    pairs = _drained_join(events, "inner", "stream_join_gate")
    return _views_per_purchase(pairs, F.count(F.lit(1)))


def _drained_join(events: DataFrame, how: str, name: str) -> DataFrame:
    """The purchase x view join of ``events`` (``how``: inner or
    leftOuter) drained into a per-process memory sink."""
    import os

    from vbpl_web_crawl_spark.streaming import drain
    from vbpl_web_crawl_spark.streaming.joins import purchase_view_join

    return drain(purchase_view_join(events, how), f"{name}_{os.getpid()}")


def _views_per_purchase(pairs: DataFrame, n_views) -> DataFrame:
    """(purchase_id, n_views, first_view_id, last_view_id) over drained
    (purchase_id, view_id) join rows; ``n_views`` is the count Column."""
    return pairs.groupBy("purchase_id").agg(
        n_views.alias("n_views"),
        F.min("view_id").alias("first_view_id"),
        F.max("view_id").alias("last_view_id"),
    )


_STREAM_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
       e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(e.event_id) AS first_event_id,
       max(e.event_id) AS last_event_id
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
"""


@_register("streaming_enrich_dimension_join", _STREAM_ENRICH_SQL)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join (the third Structured Streaming
    join class after the inner and left-outer stream-stream gates): a
    live event stream joined to the static customer dimension with NO
    state store — each micro-batch broadcasts the dim and plans a plain
    batch join, so the stream side never shuffles. The AvailableNow
    replay equals the batch join exactly, giving a full SQL oracle; the
    rollup (value summed in exact integer cents) runs batch-side over
    the drained sink."""
    import os

    from vbpl_web_crawl_spark.sources.tables import load_table
    from vbpl_web_crawl_spark.streaming import drain
    from vbpl_web_crawl_spark.streaming.joins import (
        enriched_events,
        read_events,
        stage_events_dir,
    )

    events = read_events(spark, stage_events_dir(sf_dir))
    customer = load_table(spark, sf_dir, "customer")
    enriched = drain(
        enriched_events(events, customer), f"stream_enrich_gate_{os.getpid()}"
    )
    return enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )


_STREAM_LJOIN_SQL = """
SELECT p.event_id AS purchase_id,
       count(v.event_id) AS n_views,
       min(v.event_id) AS first_view_id,
       max(v.event_id) AS last_view_id
FROM events p
LEFT JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts >= p.ts AND v.ts <= p.ts + INTERVAL 2 HOUR
WHERE p.event_type = 'purchase'
GROUP BY 1
"""


@_register("streaming_outer_interval_join", _STREAM_LJOIN_SQL)
def q_streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT-OUTER watermarked interval join: unlike the
    inner gate (whose replay equality holds with no watermark movement),
    the null-padded unmatched purchases only emit when the watermark
    passes their interval bound and Spark EVICTS their state — so this
    gate certifies the eviction machinery itself. The replay appends two
    far-future sentinel files processed as their own micro-batches
    (maxFilesPerTrigger=1) to advance the watermark past the data; the
    DuckDB oracle is the plain batch LEFT JOIN (every purchase exactly
    covered because all real rows land in batch 1). EVERY purchase
    appears in the rollup: n_views = 0 rows are the eviction-emitted
    ones."""
    from vbpl_web_crawl_spark.streaming.joins import (
        SENTINEL_USER,
        read_events,
        stage_events_with_sentinels,
    )

    # one file per micro-batch: the sentinel files run after the data
    events = read_events(
        spark, stage_events_with_sentinels(sf_dir), maxFilesPerTrigger=1
    )
    pairs = _drained_join(events, "leftOuter", "stream_ljoin_gate").filter(
        F.col("user_id") != SENTINEL_USER
    )
    # count(view_id): a null-padded purchase counts 0 views
    return _views_per_purchase(pairs, F.count("view_id"))


@_register(
    "zorder_key_buckets",
    f"""
WITH keyed AS (
  SELECT ((((((((((a & 65535) | ((a & 65535) << 8)) & 16711935) | ((((a & 65535) | ((a & 65535) << 8)) & 16711935) << 4)) & 252645135) | ((((((a & 65535) | ((a & 65535) << 8)) & 16711935) | ((((a & 65535) | ((a & 65535) << 8)) & 16711935) << 4)) & 252645135) << 2)) & 858993459) | ((((((((a & 65535) | ((a & 65535) << 8)) & 16711935) | ((((a & 65535) | ((a & 65535) << 8)) & 16711935) << 4)) & 252645135) | ((((((a & 65535) | ((a & 65535) << 8)) & 16711935) | ((((a & 65535) | ((a & 65535) << 8)) & 16711935) << 4)) & 252645135) << 2)) & 858993459) << 1)) & 1431655765) | ((((((((((b & 65535) | ((b & 65535) << 8)) & 16711935) | ((((b & 65535) | ((b & 65535) << 8)) & 16711935) << 4)) & 252645135) | ((((((b & 65535) | ((b & 65535) << 8)) & 16711935) | ((((b & 65535) | ((b & 65535) << 8)) & 16711935) << 4)) & 252645135) << 2)) & 858993459) | ((((((((b & 65535) | ((b & 65535) << 8)) & 16711935) | ((((b & 65535) | ((b & 65535) << 8)) & 16711935) << 4)) & 252645135) | ((((((b & 65535) | ((b & 65535) << 8)) & 16711935) | ((((b & 65535) | ((b & 65535) << 8)) & 16711935) << 4)) & 252645135) << 2)) & 858993459) << 1)) & 1431655765) << 1)) AS z
  FROM (SELECT (o_custkey & 65535) AS a,
               (date_diff('day', DATE '1970-01-01', o_orderdate) & 65535) AS b
        FROM orders)
)
SELECT CAST(z >> 17 AS BIGINT) AS z_bucket, count(*) AS n,
       CAST(min(z) AS BIGINT) AS min_z, CAST(max(z) AS BIGINT) AS max_z
FROM keyed GROUP BY 1
""",
)
def q_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over (custkey, order day) — the clustering
    key OPTIMIZE ZORDER sorts by. Pure shift/or/and Catalyst
    expression; the oracle runs the IDENTICAL doubling network in
    DuckDB (zorder_sql), so any bit drift fails the hash."""
    from vbpl_web_crawl_spark.operators.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    a = F.col("o_custkey").bitwiseAND(F.lit(65535))
    b = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    ).bitwiseAND(F.lit(65535))
    z = zorder_key(a, b)
    return (
        orders.select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 17).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
        )
    )


@_register(
    "scd2_event_type_history",
    """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       CAST(row_number() OVER w2 AS BIGINT) AS version,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build (the lakehouse upsert-with-history shape):
    collapse each user's event stream into versioned
    [valid_from, valid_to) rows, one per event_type change; the open
    row has valid_to NULL. Two windows on the SAME user_id
    partitioning -> one shuffle. Both windows tiebreak on event_id:
    change rows CAN tie on (user_id, ts), and ts-only ordering would
    make version numbering nondeterministic across engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", "event_type",
                  F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.row_number().over(w2).cast("long").alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )
