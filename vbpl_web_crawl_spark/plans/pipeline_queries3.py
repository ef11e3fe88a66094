"""Round-5 training-data pipeline queries, part 3: corpus mixture
sampling weights (temperature sampling with an epoch cap, the UniMax /
XLM-R recipe) and concat-and-chunk sequence packing stats. Same
(Spark plan, DuckDB oracle) contract as plans/pipeline_queries.py,
registered into the same driver-facing registry.

Reference parity notes: the reference crawler materializes one corpus
with no sampling policy (/root/reference/app/service/vbpl.py writes
every fetched document once); these operators are the downstream
training-data steps a 100 TB corpus needs before the data ever reaches
a trainer — how much of each source to draw, and how documents pack
into fixed-length training sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.operators.ann import dot
from vbpl_web_crawl_spark.operators.sequence import grouped_cumsum
from vbpl_web_crawl_spark.plans import pipeline_queries as PQ
from vbpl_web_crawl_spark.plans.queries import _register
from vbpl_web_crawl_spark.sources.tables import load_table

# token count with the empty-document guard shared by text_stats_by_lang
_NTOK_SQL = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({PQ._TOKENS_SQL}) END"


def _ntok():
    toks = PQ._tokens(F.col("text"))
    return (
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(toks))
        .cast("long")
    )


# ---------------------------------------------------------------------------
# Corpus mixture sampling weights: temperature sampling (alpha = 0.5,
# i.e. sqrt — exactly IEEE-rounded in both engines, unlike pow) over
# per-source token totals, with a hard per-source epoch cap the way
# UniMax bounds repetition of small sources. Closed form, single
# renormalization after capping:
#
#   w_raw_s  = sqrt(T_s) / sum_t sqrt(T_t)
#   draws_s  = min(w_raw_s * B, C * T_s)        B = total corpus tokens
#   share_s  = draws_s / sum_t draws_t
#
# Mixing is at the (source, lang) stream level (the XLM-R recipe
# weights languages; streams here are source x lang) — the gate corpus
# spreads stream sizes ~30x at that grain, so the cap genuinely binds.
# Scale design: everything after the one corpus-wide groupBy token
# aggregate (an 8-byte-key partial-agg shuffle, bodies never move)
# runs over the bounded per-stream table — two tiny global
# aggregates crossJoined back as broadcast single-row frames. No
# window, no collect, no iteration: at 100 TB the cost is the one
# token-count scan.
# ---------------------------------------------------------------------------

_MIX_CAP_EPOCHS = 2.0  # no source may be drawn more than C epochs


@_register(
    "mixture_sampling_weights",
    f"""
WITH t AS (
  SELECT source, lang, CAST(sum({_NTOK_SQL}) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source, lang
),
g AS (
  SELECT CAST(sum(total_tokens) AS DOUBLE) AS b,
         sum(sqrt(CAST(total_tokens AS DOUBLE))) AS z
  FROM t
),
w AS (
  SELECT source, lang, total_tokens,
         sqrt(CAST(total_tokens AS DOUBLE)) / z AS w_raw,
         least(sqrt(CAST(total_tokens AS DOUBLE)) / z * b,
               {_MIX_CAP_EPOCHS} * total_tokens) AS draws
  FROM t, g
),
d AS (SELECT sum(draws) AS dd FROM w)
SELECT source, lang, total_tokens,
       round(w_raw, 6) AS weight_raw,
       CASE WHEN total_tokens = 0 THEN 0.0
            ELSE round(w_raw * (SELECT b FROM g) / total_tokens, 4)
       END AS epochs_uncapped,
       (w_raw * (SELECT b FROM g) > {_MIX_CAP_EPOCHS} * total_tokens) AS capped,
       round(draws, 2) AS draws_tokens,
       round(draws / dd, 6) AS share_final
FROM w, d
""",
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) stream sampling policy for corpus mixing:
    temperature (sqrt) weights over token totals, capped at
    _MIX_CAP_EPOCHS epochs per stream, renormalized once — reports raw
    weight, implied epochs, whether the cap bound, and the final token
    share."""
    docs = load_table(spark, sf_dir, "documents")
    # t is the bounded per-stream table, but it feeds g, w and (via w)
    # d + the final projection — without materialization each consumer
    # re-runs the full token-count scan (4 document scans in the
    # physical plan). One eager localCheckpoint = one scan at any SF.
    t = (
        docs.groupBy("source", "lang")
        .agg(F.sum(_ntok()).alias("total_tokens"))
        .localCheckpoint(eager=True)
    )
    g = t.agg(
        F.sum("total_tokens").cast("double").alias("b"),
        F.sum(F.sqrt(F.col("total_tokens").cast("double"))).alias("z"),
    )
    w = t.crossJoin(F.broadcast(g)).select(
        "source",
        "lang",
        "total_tokens",
        "b",
        (F.sqrt(F.col("total_tokens").cast("double")) / F.col("z")).alias("w_raw"),
        F.least(
            F.sqrt(F.col("total_tokens").cast("double")) / F.col("z") * F.col("b"),
            F.lit(_MIX_CAP_EPOCHS) * F.col("total_tokens"),
        ).alias("draws"),
    )
    d = w.agg(F.sum("draws").alias("dd"))
    return w.crossJoin(F.broadcast(d)).select(
        "source",
        "lang",
        "total_tokens",
        F.round("w_raw", 6).alias("weight_raw"),
        F.when(F.col("total_tokens") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("w_raw") * F.col("b") / F.col("total_tokens"), 4))
        .alias("epochs_uncapped"),
        (
            F.col("w_raw") * F.col("b")
            > F.lit(_MIX_CAP_EPOCHS) * F.col("total_tokens")
        ).alias("capped"),
        F.round("draws", 2).alias("draws_tokens"),
        F.round(F.col("draws") / F.col("dd"), 6).alias("share_final"),
    )


# ---------------------------------------------------------------------------
# Concat-and-chunk sequence packing: each source's documents are
# concatenated in doc_id order and sliced into fixed _CTX-token
# training sequences (the standard GPT-style packing); a document is a
# "boundary doc" when its tokens straddle a sequence boundary (the
# attention-masking / doc-bleed case packing-aware trainers care
# about). The running token offset uses operators/sequence.py's
# grouped_cumsum — range-partitioned distributed sort +
# per-(partition, group) partial sums + driver prefix + Arrow-batch
# segmented cumsum — NOT Window.partitionBy(source), whose one-task-per-
# group shape serializes a dominant source at 100 TB. The driver gate
# therefore certifies the scalable machinery itself, and a pytest pins
# it to the window formulation exactly.
# ---------------------------------------------------------------------------

_CTX = 512  # tokens per packed training sequence


@_register(
    "sequence_packing_stats",
    f"""
WITH base AS (
  SELECT doc_id, source, {_NTOK_SQL} AS n_tok FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
),
b AS (
  SELECT source, n_tok,
         (cum - n_tok) // {_CTX} AS start_bin,
         CASE WHEN n_tok > 0 THEN (cum - 1) // {_CTX}
              ELSE (cum - n_tok) // {_CTX} END AS end_bin
  FROM c
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST((sum(n_tok) + {_CTX - 1}) // {_CTX} AS BIGINT) AS n_bins,
       round(sum(n_tok) / (((sum(n_tok) + {_CTX - 1}) // {_CTX}) * {_CTX}.0), 6)
         AS fill_ratio,
       CAST(sum(CASE WHEN end_bin > start_bin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundary_docs
FROM b GROUP BY source
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source packing outcome at _CTX-token sequences: bins used,
    fill ratio of the bin budget, and how many documents straddle a
    sequence boundary under concat-and-chunk packing."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", _ntok().alias("n_tok"))
    caches: list = []
    cum = grouped_cumsum(
        base, ["source"], ["doc_id"], "n_tok", "cum", caches=caches
    )
    start_bin = F.expr(f"(cum - n_tok) div {_CTX}")
    end_bin = F.when(
        F.col("n_tok") > 0, F.expr(f"(cum - 1) div {_CTX}")
    ).otherwise(start_bin)
    out = (
        cum.select("source", "n_tok", start_bin.alias("sb"), end_bin.alias("eb"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.expr(f"(sum(n_tok) + {_CTX - 1}) div {_CTX}").alias("n_bins"),
            F.round(
                F.sum("n_tok")
                / (
                    F.expr(f"(sum(n_tok) + {_CTX - 1}) div {_CTX}")
                    * F.lit(float(_CTX))
                ),
                6,
            ).alias("fill_ratio"),
            F.sum(F.when(F.col("eb") > F.col("sb"), 1).otherwise(0))
            .cast("long")
            .alias("n_boundary_docs"),
        )
    )
    # the per-source aggregate is tiny: materialize it eagerly so the
    # range-partitioned cache behind grouped_cumsum can be released NOW
    # instead of leaking for the rest of the session (the winnowing
    # persist leak pattern flagged in round 4)
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist(False)
    return out


# ---------------------------------------------------------------------------
# Incremental dedup-on-ingest: a NEW batch of documents (doc_id % 4
# == 0 models the incoming recrawl slice) is near-dup-checked AGAINST
# the existing corpus (the other 75%) — the production shape for
# dedup at ingest time, structurally different from the self-join
# gates: no incoming-incoming or corpus-corpus pairs are ever formed.
# Scale design: at 100 TB the corpus side's banded MinHash table is a
# PRECOMPUTED index (stored bucketed by band_key); the per-ingest cost
# is shingle+sign the incoming batch (small) and an equi-join of its
# bands against matching index buckets — shuffle volume is bounded by
# the incoming batch, never the corpus. Here both sides' signatures
# come from one shared capped-shingle pass (cheaper at gate scale and
# value-identical to the split computation); the exact-Jaccard verify
# runs only on candidate pairs, same as dedup_minhash_verified_pairs.
# ---------------------------------------------------------------------------


@_register(
    "dedup_incremental_pairs",
    lambda: f"""
WITH sh AS ({PQ._CAPPED_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS inc_id, b.doc_id AS corpus_id, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.inc_id, c.corpus_id,
       round(CAST(c.n_common AS DOUBLE)
             / (sa.n_sh + sb.n_sh - c.n_common), 4) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.inc_id
JOIN sizes sb ON sb.doc_id = c.corpus_id
WHERE CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common)
      >= {PQ._MINHASH_VERIFY_TAU}
""",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming-batch near-dups against the existing corpus: banded
    integer MinHash (shared with dedup_minhash_verified_pairs) joined
    ACROSS the split only, exact-Jaccard verified at tau=0.8."""
    docs = load_table(spark, sf_dir, "documents")
    # the capped-shingle frame feeds FOUR consumers (signatures, sizes,
    # and both verify sides) and the signature table two more; without
    # materialization each branch re-runs the tokenize+window+DF-cap
    # pipeline from the raw scan (12 scans / 12 windows in the physical
    # plan). localCheckpoint once, same pattern as winnow_fingerprints.
    sh = PQ.capped_shingles(docs).localCheckpoint(eager=True)
    sig = PQ.minhash_signature(
        sh, PQ.xxhash_component, PQ._MINHASH_K_INT
    ).localCheckpoint(eager=True)  # reread by bands + both size sides
    bands = PQ.minhash_bands(sig, PQ.xxhash_band, PQ._MINHASH_BANDS_INT)
    inc = bands.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("inc_id"), "band_id", "band_key"
    )
    corp = bands.filter(F.col("doc_id") % 4 != 0).select(
        F.col("doc_id").alias("corpus_id"), "band_id", "band_key"
    )
    cand = (
        inc.join(corp, ["band_id", "band_key"])
        .select("inc_id", "corpus_id")
        .distinct()
    )
    common = PQ.pair_overlap(sh, cand, "inc_id", "corpus_id")
    return PQ.jaccard_pairs(
        common, sig.select("doc_id", "n_sh"), PQ._MINHASH_VERIFY_TAU,
        "inc_id", "corpus_id",
    )


# ---------------------------------------------------------------------------
# Mixture MATERIALIZATION: turn the sampling policy into an actual
# document selection. Within each (source, lang) stream, documents are
# ordered by md5(doc_id) (deterministic, partition-invariant — the
# same hash-order trick as stratified_sample_by_lang) and taken until
# the stream's one-epoch token budget min(draws, T_s) is filled; the
# straddling document is included. The running token total comes from
# operators/sequence.py::grouped_cumsum's range-partitioned path
# — not Window.partitionBy(stream), whose one-task-per-group shape
# serializes a dominant stream at 100 TB. Only (ids, token counts,
# 32-char keys) move through the cumsum shuffle; document bodies are
# read once in the token-count scan and never shuffled. The budget
# table is bounded by the number of streams and broadcasts.
# ---------------------------------------------------------------------------


@_register(
    "mixture_materialize_stats",
    lambda: f"""
WITH base AS (
  SELECT source, lang, doc_id, CAST({_NTOK_SQL} AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS key
  FROM documents
),
t AS (
  SELECT source, lang, CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM base GROUP BY source, lang
),
g AS (
  SELECT CAST(sum(total_tokens) AS DOUBLE) AS b,
         sum(sqrt(CAST(total_tokens AS DOUBLE))) AS z
  FROM t
),
w AS (
  SELECT source, lang,
         least(least(sqrt(CAST(total_tokens AS DOUBLE)) / z * b,
                     {_MIX_CAP_EPOCHS} * total_tokens),
               CAST(total_tokens AS DOUBLE)) AS budget
  FROM t, g
),
cum AS (
  SELECT source, lang, n_tok,
         sum(n_tok) OVER (PARTITION BY source, lang ORDER BY key, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM base
),
sel AS (
  SELECT c.source, c.lang, c.n_tok, w.budget
  FROM cum c JOIN w USING (source, lang)
  WHERE CAST(c.cum - c.n_tok AS DOUBLE) < w.budget
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs_selected,
       CAST(sum(n_tok) AS BIGINT) AS tokens_selected,
       round(any_value(budget), 2) AS budget_tokens,
       round(CAST(sum(n_tok) AS DOUBLE) / any_value(budget), 4)
         AS overshoot_ratio
FROM sel GROUP BY source, lang
""",
)
def q_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the one-epoch slice of the corpus mixture: per
    stream, hash-ordered documents are selected until the token budget
    min(temperature draws, stream size) is met (straddler included);
    reports docs/tokens selected, the budget, and the overshoot from
    the straddling document."""
    docs = load_table(spark, sf_dir, "documents")
    # narrow per-doc frame (ids, counts, keys — no text) read by both
    # the budget aggregation and the cumsum path: checkpoint so the
    # token-count scan over document bodies runs exactly once
    base = docs.select(
        "source",
        "lang",
        "doc_id",
        _ntok().alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("key"),
    ).localCheckpoint(eager=True)
    t = base.groupBy("source", "lang").agg(F.sum("n_tok").alias("total_tokens"))
    g = t.agg(
        F.sum("total_tokens").cast("double").alias("b"),
        F.sum(F.sqrt(F.col("total_tokens").cast("double"))).alias("z"),
    )
    tt = F.col("total_tokens")
    w = t.crossJoin(F.broadcast(g)).select(
        "source",
        "lang",
        F.least(
            F.least(
                F.sqrt(tt.cast("double")) / F.col("z") * F.col("b"),
                F.lit(_MIX_CAP_EPOCHS) * tt,
            ),
            tt.cast("double"),
        ).alias("budget"),
    )
    caches: list = []
    cum = grouped_cumsum(
        base, ["source", "lang"], ["key", "doc_id"], "n_tok", "cum", caches=caches
    )
    sel = cum.join(F.broadcast(w), ["source", "lang"]).filter(
        (F.col("cum") - F.col("n_tok")).cast("double") < F.col("budget")
    )
    out = sel.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_selected"),
        F.sum("n_tok").alias("tokens_selected"),
        F.round(F.first("budget"), 2).alias("budget_tokens"),
        F.round(
            F.sum("n_tok").cast("double") / F.first("budget"), 4
        ).alias("overshoot_ratio"),
    )
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist(False)
    return out


# ---------------------------------------------------------------------------
# Image-text alignment filter funnel (the LAION/DataComp recipe:
# score every image-text pair, keep pairs above a threshold, report
# the retention curve). The sandbox has no CLIP, so the score proxy is
# deterministic and engine-exact: cosine of each embedding against its
# label-group ANCHOR (the group's min-vec_id embedding) — per-row
# arithmetic only, no cross-row float accumulation whose summation
# order could differ between engines. Per-pair scores round to 4dp and
# aggregate as INTEGERS (sum of round(score*1e4)) so the per-label
# mean is order-independent bit-for-bit. Scale: the anchor table is
# bounded by the label count and broadcasts; everything else is one
# scan + per-row higher-order-function math + an 8-byte-key partial
# agg. Swapping the proxy for a real CLIP head changes only the score
# expression (a Pandas-UDF batch over the same join), not the plan.
# ---------------------------------------------------------------------------


@_register(
    "multimodal_alignment_funnel",
    """
WITH a AS (
  SELECT label, min_by(embedding::DOUBLE[], vec_id) AS av
  FROM embeddings GROUP BY label
),
s AS (
  SELECT e.vec_id, e.label,
         list_dot_product(e.embedding::DOUBLE[], a.av)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(a.av, a.av))) AS score
  FROM embeddings e JOIN a USING (label)
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN score >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS keep_t00,
       CAST(sum(CASE WHEN score >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS keep_t20,
       CAST(sum(CASE WHEN score >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS keep_t40,
       round(CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS DOUBLE)
             / 10000.0 / count(*), 4) AS avg_score
FROM s GROUP BY label
""",
)
def q_alignment_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label image-text alignment retention funnel: cosine of each
    embedding vs its label anchor (min vec_id), kept-pair counts at
    thresholds 0.0 / 0.2 / 0.4 and the drift-free mean score."""
    emb = load_table(spark, sf_dir, "embeddings")

    anchors = emb.groupBy("label").agg(
        F.min_by("embedding", "vec_id").alias("av")
    )
    joined = emb.join(F.broadcast(anchors), "label")
    score = dot(F.col("embedding"), F.col("av")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("av"), F.col("av")))
    )
    s = joined.select("label", score.alias("score"))
    return s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("score") >= 0.0, 1).otherwise(0))
        .cast("long")
        .alias("keep_t00"),
        F.sum(F.when(F.col("score") >= 0.2, 1).otherwise(0))
        .cast("long")
        .alias("keep_t20"),
        F.sum(F.when(F.col("score") >= 0.4, 1).otherwise(0))
        .cast("long")
        .alias("keep_t40"),
        F.round(
            F.sum(F.round(F.col("score") * 10000).cast("long")).cast("double")
            / 10000.0
            / F.count(F.lit(1)),
            4,
        ).alias("avg_score"),
    )


# ---------------------------------------------------------------------------
# Politeness capacity planner — the pre-flight scheduling analysis for
# a politeness-bounded crawl (the reference's ceiling of ~2.7 pages/s
# is exactly this arithmetic: 8 threads x 3 s sleep,
# /root/reference/app/service/vbpl.py's per-request sleep). Per host:
# pages x crawl-delay = serial fetch time (per-host concurrency is 1
# under politeness); the fleet makespan is the max host, utilization =
# total work / (hosts x makespan). Host = documents.source; the
# per-host crawl-delay is hash-derived (1-5 s, md5-exact in both
# engines) the way robots.txt Crawl-delay varies per host. Scale: one
# count-only scan (no text column read), an 8-byte-key agg bounded by
# the host count, and a broadcast single-row global — the plan a 10^10
# frontier needs, since per-host page counts are the frontier's
# partition histogram.
# ---------------------------------------------------------------------------


@_register(
    "crawl_capacity_plan",
    """
WITH h AS (
  SELECT source AS host, CAST(count(*) AS BIGINT) AS n_pages,
         1 + CAST(('0x' || substr(md5(source), 1, 4)) AS BIGINT) % 5 AS delay_s
  FROM documents GROUP BY source
),
hh AS (
  SELECT host, n_pages, CAST(delay_s AS BIGINT) AS delay_s,
         CAST(n_pages * delay_s AS BIGINT) AS serial_s
  FROM h
),
g AS (
  SELECT max(serial_s) AS makespan, sum(serial_s) AS total_work,
         count(*) AS n_hosts
  FROM hh
)
SELECT host, n_pages, delay_s, serial_s,
       serial_s = makespan AS is_bottleneck,
       round(CAST(serial_s AS DOUBLE) / makespan, 4) AS makespan_share,
       round(CAST(total_work AS DOUBLE) / (n_hosts * makespan), 4)
         AS fleet_utilization
FROM hh, g
""",
)
def q_crawl_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness capacity plan: serial fetch seconds
    (pages x hash-derived crawl-delay), the bottleneck host that sets
    the fleet makespan, each host's share of it, and overall fleet
    utilization under one-connection-per-host politeness."""
    docs = load_table(spark, sf_dir, "documents").select("source")
    # host-bounded table read by both hh and the global aggregate —
    # checkpoint so the (narrow, but full) source scan runs once
    h = (
        docs.groupBy(F.col("source").alias("host"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .localCheckpoint(eager=True)
    )
    delay = (
        F.lit(1)
        + F.conv(F.substring(F.md5(F.col("host")), 1, 4), 16, 10).cast("long") % 5
    )
    hh = h.select(
        "host",
        "n_pages",
        delay.cast("long").alias("delay_s"),
        (F.col("n_pages") * delay).cast("long").alias("serial_s"),
    )
    g = hh.agg(
        F.max("serial_s").alias("makespan"),
        F.sum("serial_s").alias("total_work"),
        F.count(F.lit(1)).alias("n_hosts"),
    )
    return hh.crossJoin(F.broadcast(g)).select(
        "host",
        "n_pages",
        "delay_s",
        "serial_s",
        (F.col("serial_s") == F.col("makespan")).alias("is_bottleneck"),
        F.round(F.col("serial_s").cast("double") / F.col("makespan"), 4).alias(
            "makespan_share"
        ),
        F.round(
            F.col("total_work").cast("double")
            / (F.col("n_hosts") * F.col("makespan")),
            4,
        ).alias("fleet_utilization"),
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup representative selection: production dedup keeps
# the HIGHEST-QUALITY member of each near-dup cluster (the min-id
# representative of dedup_corpus_keep_one is the cheap default).
# The (quality, doc_id-tiebreak) argmax is packed into ONE BIGINT
# priority — quality in exact quarter units * 10^12 plus an inverted
# doc_id — so both engines reduce with a plain integer max: no
# arg_max/min_by tiebreak ambiguity, no float comparison, and at scale
# the reduction is a map-side-combining 8-byte agg keyed by cluster.
# Clusters come from the same large/small-star contraction the CC gate
# certifies; quality is functions/text.py::quality_score.
# ---------------------------------------------------------------------------

_PACK = 10**12  # doc_id < _PACK at every SF; quality quarters ride above


@_register(
    "dedup_keep_best_quality",
    lambda: f"""
WITH cc AS ({PQ._CC_ORACLE}),
t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({PQ._TOKENS_SQL}) END AS n_tokens,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text)
              ELSE 0.0 END AS punct_ratio,
         len(list_filter({PQ._TOKENS_SQL},
             x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to')) AS stop_hits
  FROM documents
),
q AS (
  SELECT doc_id,
         (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 2 ELSE 0 END
        + CASE WHEN punct_ratio < 0.2 THEN 1 ELSE 0 END
        + CASE WHEN stop_hits > 0 THEN 1 ELSE 0 END) AS q4
  FROM t
),
sel AS (
  SELECT cc.cluster_id,
         max(q.q4 * {_PACK} + ({_PACK - 1} - cc.doc_id)) AS pr,
         CAST(count(*) AS BIGINT) AS n_members
  FROM cc JOIN q USING (doc_id) GROUP BY cc.cluster_id
)
SELECT cluster_id,
       CAST({_PACK - 1} - pr % {_PACK} AS BIGINT) AS kept_doc,
       round(CAST(pr // {_PACK} AS DOUBLE) / 4, 2) AS kept_quality,
       n_members,
       CAST(n_members - 1 AS BIGINT) AS n_dropped
FROM sel
""",
)
def q_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: keep the highest-quality member (doc_id
    tiebreak), via a packed-integer argmax over the CC labels."""
    from vbpl_web_crawl_spark.functions import text as TX
    from vbpl_web_crawl_spark.plans.queries import QUERIES

    cc = QUERIES["dedup_connected_components"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (TX.quality_score(F.col("text")) * 4).cast("long").alias("q4"),
    )
    pr = F.col("q4") * F.lit(_PACK) + (F.lit(_PACK - 1) - F.col("doc_id"))
    sel = (
        cc.join(docs, "doc_id")
        .select("cluster_id", pr.alias("pr"))
        .groupBy("cluster_id")
        .agg(F.max("pr").alias("pr"), F.count(F.lit(1)).alias("n_members"))
    )
    return sel.select(
        "cluster_id",
        (F.lit(_PACK - 1) - F.col("pr") % F.lit(_PACK)).alias("kept_doc"),
        F.round(
            F.expr(f"pr div {_PACK}").cast("double") / F.lit(4.0), 2
        ).alias("kept_quality"),
        "n_members",
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: rank the whole corpus by (quality desc, doc_id)
# — the easy-to-hard (or clean-to-noisy) global order a curriculum
# trainer feeds batches in — and report per-decile document/token
# sums. The global rank uses operators/sequence.py::global_sequence's
# LARGE path (range-partition + per-partition offsets), NOT a
# single-task Window.orderBy: this gate makes the driver certify the
# distributed ranking machinery against the oracle's row_number().
# Sort keys are integers (packed quality quarters descending via
# negation, doc_id tiebreak); deciles come from the rank, so the
# output is partitioning-invariant.
# ---------------------------------------------------------------------------


@_register(
    "curriculum_order_deciles",
    lambda: f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0 ELSE len({PQ._TOKENS_SQL}) END AS n_tok,
         (CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len({PQ._TOKENS_SQL}) END)
                    BETWEEN 10 AND 5000 THEN 2 ELSE 0 END
        + CASE WHEN (CASE WHEN length(text) > 0
                   THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                        / length(text) ELSE 0.0 END) < 0.2 THEN 1 ELSE 0 END
        + CASE WHEN len(list_filter({PQ._TOKENS_SQL},
               x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'to')) > 0
               THEN 1 ELSE 0 END) AS q4
  FROM documents
),
r AS (
  SELECT doc_id, n_tok, q4,
         row_number() OVER (ORDER BY -q4, doc_id) - 1 AS rnk,
         (SELECT count(*) FROM t) AS n
  FROM t
)
SELECT CAST(rnk * 10 // n AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       round(CAST(sum(q4) AS DOUBLE) / count(*) / 4, 4) AS mean_quality,
       CAST(min(rnk) AS BIGINT) AS first_rank,
       CAST(max(rnk) AS BIGINT) AS last_rank
FROM r GROUP BY decile
""",
)
def q_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean-to-noisy curriculum rank over the whole corpus (quality
    desc, doc_id tiebreak) via the distributed global_sequence large
    path; per-decile doc/token totals and mean quality."""
    from vbpl_web_crawl_spark.functions import text as TX
    from vbpl_web_crawl_spark.operators.sequence import global_sequence

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        _ntok().alias("n_tok"),
        (TX.quality_score(F.col("text")) * 4).cast("long").alias("q4"),
    )
    caches: list = []
    ranked = global_sequence(
        t, [(-F.col("q4")).alias("negq"), F.col("doc_id")], seq_col="rnk",
        caches=caches,
    )
    n = ranked.count()
    out = (
        ranked.select(
            F.expr(f"rnk * 10 div {n}").alias("decile"), "n_tok", "q4", "rnk"
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.round(
                F.sum("q4").cast("double") / F.count(F.lit(1)) / F.lit(4), 4
            ).alias("mean_quality"),
            F.min("rnk").alias("first_rank"),
            F.max("rnk").alias("last_rank"),
        )
    )
    out = out.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist(False)
    return out
