"""Round-5 training-data pipeline queries: corpus boilerplate removal,
semantic dedup (SemDeDup), recrawl CDC deltas, image dedup end-to-end,
and output-file compaction planning. Same (Spark plan, DuckDB oracle)
contract as plans/pipeline_queries.py, registered into the same
driver-facing registry.

Reference parity notes: the recrawl CDC gate models the reference's
re-crawl upsert semantics (/root/reference/app/service/vbpl.py
update-or-insert on revisit) as an explicit snapshot-diff operator; the
compaction planner is the batch-writer side of the reference's
page-by-page export loop re-expressed as a size-targeted file plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.operators.ann import dot
from vbpl_web_crawl_spark.plans import pipeline_queries as PQ
from vbpl_web_crawl_spark.plans.queries import ORACLES, QUERIES, _register
from vbpl_web_crawl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# CCNet-style boilerplate segment removal. CCNet dedups at the
# paragraph/line level by hashing each line and dropping lines whose
# corpus frequency crosses a threshold; the driver corpus is
# single-line, so the unit is the aligned non-overlapping 8-token
# segment. Scale design: segments are formed WITHOUT a shuffle (slice
# over the token array per row — non-overlapping windows, unlike the
# shingle paths where lead() wins); the only shuffles are the 8-byte
# xxhash64 segment-key frequency aggregate and the per-source rollup.
# At 100 TB the df >= T boilerplate set is tiny relative to the corpus
# (that is what makes it boilerplate), so the flagging join broadcasts.
# ---------------------------------------------------------------------------

_SEG_W = 8  # tokens per segment
_BOILER_T = 2  # appears in >= T distinct docs -> boilerplate


@_register(
    "boilerplate_segment_stats",
    f"""
WITH base AS (
  SELECT doc_id, source, {PQ._TOKENS_SQL} AS w FROM documents
),
seg AS (
  SELECT doc_id, source,
         unnest([list_aggregate(w[i : i + {_SEG_W - 1}], 'string_agg', ' ')
                 for i in generate_series(1, len(w), {_SEG_W})]) AS seg_text
  FROM base
),
freq AS (
  SELECT seg_text, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg_text
),
flagged AS (
  SELECT s.doc_id, s.source, (f.df >= {_BOILER_T}) AS boiler
  FROM seg s JOIN freq f USING (seg_text)
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_segments,
       CAST(count(DISTINCT CASE WHEN boiler THEN doc_id END) AS BIGINT)
         AS n_docs_affected,
       round(sum(CASE WHEN boiler THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS drop_ratio
FROM flagged GROUP BY source
""",
)
def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate stats: aligned 8-token segments occurring
    in >= 2 distinct docs are 'boilerplate' (CCNet's line-hash dedup,
    segment-ized for the single-line corpus); reports how much of each
    source a line-level dedup pass would strip."""
    from vbpl_web_crawl_spark.sources.tables import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    toks = PQ._tokens(F.col("text"))
    n_seg = F.ceil(F.size(toks) / F.lit(_SEG_W)).cast("long")
    # hash the token-array slice STRUCTURALLY (xxhash64 over array<string>)
    # instead of materializing the joined segment string — same segment
    # identity, no per-segment string allocation on the hot path
    segs = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.xxhash64(F.slice(toks, i * _SEG_W + 1, _SEG_W)),
            )
        ).alias("h"),
    ).localCheckpoint(eager=False)  # feeds the df agg AND the flag join:
    # one tokenize+explode pass instead of two full document scans
    freq = segs.groupBy("h").agg(F.count_distinct("doc_id").alias("df"))
    flagged = segs.join(freq, "h").withColumn("boiler", F.col("df") >= _BOILER_T)
    return flagged.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_segments"),
        F.count_distinct(F.when(F.col("boiler"), F.col("doc_id"))).alias(
            "n_docs_affected"
        ),
        F.round(
            F.sum(F.when(F.col("boiler"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("drop_ratio"),
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): coarse-cluster the embedding space,
# then inside each cluster drop every vector that has a more-senior
# (smaller id) neighbor above the cosine threshold — semantic
# near-dups that survive the text-level dedups. The coarse quantizer
# is the deterministic hash-grid centroid table (shared with
# ann_ivf_topk) so BOTH engines can state the cluster assignment
# exactly; the fitted-k-means variant of the same machinery stays
# certified by ann_ivf_full_probe + the k-means pytests. Scale: the
# within-cluster pair search is an equi-join on cid (never all-pairs
# across the corpus); SemDeDup sizes k ~ sqrt(n) so cluster population
# stays bounded, and inside a hot cluster the same sign-LSH blocking
# used by dedup_embedding_cosine_pairs applies unchanged.
# ---------------------------------------------------------------------------

_SEM_TAU = 0.40  # same verified-near-dup threshold as the LSH pair gate


@_register(
    "semantic_dedup_keep_one",
    f"""
WITH cents AS ({PQ._cents_sql()}),
assigned AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
         (SELECT c.cid FROM cents c
          ORDER BY {PQ._COS_SQL.format(x='e.embedding::DOUBLE[]', y='c.centroid')}
            DESC, c.cid ASC
          LIMIT 1) AS cid
  FROM embeddings e
),
dropped AS (
  SELECT b.cid, b.vec_id FROM assigned b WHERE EXISTS (
    SELECT 1 FROM assigned a
    WHERE a.cid = b.cid AND a.vec_id < b.vec_id
      AND list_cosine_similarity(a.emb, b.emb) >= {_SEM_TAU})
)
SELECT a.cid,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
FROM assigned a LEFT JOIN dropped d ON d.cid = a.cid AND d.vec_id = a.vec_id
GROUP BY a.cid
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup outcome: vectors assigned to each coarse
    cluster, how many are dropped as semantic near-dups of a
    smaller-id member (cosine >= 0.40), how many survive."""
    from vbpl_web_crawl_spark.operators.ann import assign_to_centroids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = spark.createDataFrame(
        [(c, [float(v) for v in PQ._ivf_centroid(c)]) for c in range(PQ._IVF_K)],
        "cid int, centroid array<double>",
    )
    # materialize the assignment ONCE (it feeds both pair sides and the
    # final rollup — without this the 16-row-broadcast argmin pass runs
    # 3x), and carry each vector's norm out of the pair loop: the pair
    # stage then folds ONE zip_with per candidate pair instead of three.
    # cos = dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))) factored, not
    # reformulated — bit-identical to the oracle's expression.
    assigned = (
        assign_to_centroids(emb, cents)
        .withColumn("nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding"))))
        .localCheckpoint(eager=False)
    )
    # Pair stage as a per-cluster numpy kernel (guide §4.2: hand whole
    # batches to vectorized native code). The cid equi-join formulation
    # evaluated ~25M interpreted HOF cosines (~17 us each — 27.7 s at
    # sf1.0, the entire query's cost); unrolling the fold into Catalyst
    # Add-chains was measured WORSE (codegen bailout). Here each
    # cluster's (ids, vectors, norms) arrive in one Arrow group and the
    # pairwise cosine matrix is built by a dim-loop of outer products:
    #   acc = ((0 + x0*y0) + x1*y1) + ...   elementwise in float64 —
    # the EXACT IEEE operation sequence of the zip_with/aggregate fold
    # (embeddings are float32, exactly widened to float64 in both
    # paths), divided by the SAME Spark-computed norms (na*nb, never
    # recomputed here), so every cosine is bit-identical to the
    # Catalyst expression. Comparison replicates Spark's NaN ordering
    # (NaN >= tau is true in Spark SQL) via `| isnan`. Memory is
    # bounded O(n_c * block) by the column blocking; SemDeDup sizes
    # k ~ sqrt(n) so n_c stays bounded (module docstring).
    import numpy as np
    import pandas as pd

    tau = _SEM_TAU

    def _cluster_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)[order]
        A = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )[order]
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        blk = 2048
        i_idx = np.arange(n)
        for j0 in range(1, n, blk):
            j1 = min(n, j0 + blk)
            acc = np.zeros((n, j1 - j0))
            for d in range(A.shape[1]):
                acc = acc + np.multiply.outer(A[:, d], A[j0:j1, d])
            cos = acc / np.multiply.outer(nrm, nrm[j0:j1])
            ok = (cos >= tau) | np.isnan(cos)
            # ids are sorted ascending, so id_a < id_b == row index < col
            ok &= i_idx[:, None] < np.arange(j0, j1)[None, :]
            dropped[j0:j1] |= ok.any(axis=0)
        k = int(dropped.sum())
        return pd.DataFrame(
            {
                "cid": np.full(k, pdf["cid"].iloc[0], dtype=np.int32),
                "vec_id": ids[dropped].astype(np.int64),
            }
        )

    dropped = (
        assigned.select("cid", "vec_id", "embedding", "nrm")
        .groupBy("cid")
        .applyInPandas(_cluster_dropped, "cid int, vec_id long")
    )
    return (
        assigned.join(
            dropped.withColumn("is_dropped", F.lit(1)), ["cid", "vec_id"], "left"
        )
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped")).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Recrawl CDC delta — the reference re-crawls listing pages and
# upserts changed documents (app/service/vbpl.py: update-or-insert on
# revisit); this gate makes the snapshot diff an explicit operator:
# FULL OUTER join of two crawl snapshots on the document key,
# classified added / deleted / changed / unchanged by content
# fingerprint. Both snapshots are carved deterministically from the
# documents table (id-residue membership + a planted revision), so the
# oracle states them identically. Scale: the join shuffles only
# (doc_id, md5 fingerprint, source) — never document bodies — and with
# both snapshots bucketed by doc_id in the lakehouse it degenerates to
# a co-partitioned zip with no shuffle at all.
# ---------------------------------------------------------------------------

_CDC_OLD = "doc_id % 11 <> 3"  # rows absent from the OLD snapshot -> 'added'
_CDC_NEW = "doc_id % 13 <> 5"  # rows absent from the NEW snapshot -> 'deleted'
_CDC_REV = "doc_id % 7 = 0"  # rows revised between snapshots -> 'changed'


@_register(
    "recrawl_cdc_delta",
    f"""
WITH old AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents WHERE {_CDC_OLD}
),
new AS (
  SELECT doc_id, source,
         md5(CASE WHEN {_CDC_REV} THEN text || ' rev2' ELSE text END) AS fp
  FROM documents WHERE {_CDC_NEW}
),
delta AS (
  SELECT coalesce(o.source, n.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'deleted'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source, change_type, CAST(count(*) AS BIGINT) AS n_docs
FROM delta GROUP BY source, change_type
""",
)
def q_recrawl_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, change_type, n_docs) snapshot diff between the crawl
    state before and after a recrawl round."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.expr(_CDC_OLD)).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    new = docs.filter(F.expr(_CDC_NEW)).select(
        "doc_id",
        "source",
        F.md5(
            F.when(F.expr(_CDC_REV), F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
                F.col("text")
            )
        ).alias("fp"),
    )
    o = old.select(
        F.col("doc_id").alias("o_id"), F.col("source").alias("o_src"),
        F.col("fp").alias("o_fp"),
    )
    n = new.select(
        F.col("doc_id").alias("n_id"), F.col("source").alias("n_src"),
        F.col("fp").alias("n_fp"),
    )
    delta = o.join(n, o.o_id == n.n_id, "full_outer").select(
        F.coalesce("o_src", "n_src").alias("source"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "deleted")
        .when(F.col("o_fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return delta.groupBy("source", "change_type").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Freshness-driven revisit scheduling — the budgeting step a continuous
# crawler runs on top of the CDC delta (Cho & Garcia-Molina's
# change-rate-proportional recrawl policy, as deployed by every
# production crawler's scheduler): sources whose documents changed more
# between snapshots earn a larger share of the fixed daily fetch
# budget, which translates into a shorter per-document revisit
# interval. Reference analog: the reference decides what to refetch by
# diffing its stored rows on recrawl (/root/reference/app/service/
# vbpl.py upsert path); this operator turns that diff into an explicit
# per-source schedule.
#
# All arithmetic is 64-bit integer (scaled milli-hours) so Spark and
# DuckDB agree bit-for-bit. Scale: the only large shuffle is the
# doc_id-keyed snapshot join (8-byte key + 32-hex fp, bodies never
# move); everything after is a per-source aggregate (cardinality =
# #sources) plus one broadcast single-row total.
# ---------------------------------------------------------------------------

_REVISIT_BUDGET = 1000  # fetches/day the scheduler may spend
_REVISIT_CAP_MILLI_H = 720_000  # 30-day ceiling for cold sources


@_register(
    "revisit_schedule_plan",
    f"""
WITH old AS (
  SELECT doc_id, source, md5(text) AS fp FROM documents WHERE {_CDC_OLD}
),
new AS (
  SELECT doc_id, source,
         md5(CASE WHEN {_CDC_REV} THEN text || ' rev2' ELSE text END) AS fp
  FROM documents WHERE {_CDC_NEW}
),
delta AS (
  SELECT coalesce(o.source, n.source) AS source,
         CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS live,
         CASE WHEN o.doc_id IS NULL OR (n.doc_id IS NOT NULL AND o.fp <> n.fp)
              THEN 1 ELSE 0 END AS hot
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
),
per_src AS (
  SELECT source, CAST(sum(live) AS BIGINT) AS n_live,
         CAST(sum(hot) AS BIGINT) AS n_hot
  FROM delta GROUP BY source
),
tot AS (SELECT CAST(sum(n_hot) AS BIGINT) AS w FROM per_src)
SELECT p.source, p.n_live, p.n_hot,
       CAST({_REVISIT_BUDGET} * p.n_hot // t.w AS BIGINT) AS alloc_per_day,
       CAST(CASE WHEN {_REVISIT_BUDGET} * p.n_hot // t.w = 0
                 THEN {_REVISIT_CAP_MILLI_H}
                 ELSE least({_REVISIT_CAP_MILLI_H},
                            p.n_live * 24000 // ({_REVISIT_BUDGET} * p.n_hot // t.w))
            END AS BIGINT) AS revisit_milli_h
FROM per_src p CROSS JOIN tot t
""",
)
def q_revisit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source recrawl schedule from the snapshot diff: ``n_hot``
    (changed + added docs) earns a proportional slice of the fixed
    daily budget; ``revisit_milli_h`` is the resulting per-document
    revisit interval (capped for cold sources), integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.expr(_CDC_OLD)).select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_src"),
        F.md5("text").alias("o_fp"),
    )
    new = docs.filter(F.expr(_CDC_NEW)).select(
        F.col("doc_id").alias("n_id"),
        F.col("source").alias("n_src"),
        F.md5(
            F.when(F.expr(_CDC_REV), F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
                F.col("text")
            )
        ).alias("n_fp"),
    )
    delta = old.join(new, old.o_id == new.n_id, "full_outer").select(
        F.coalesce("o_src", "n_src").alias("source"),
        F.when(F.col("n_id").isNotNull(), 1).otherwise(0).alias("live"),
        F.when(
            F.col("o_id").isNull()
            | (F.col("n_id").isNotNull() & (F.col("o_fp") != F.col("n_fp"))),
            1,
        )
        .otherwise(0)
        .alias("hot"),
    )
    # materialize the #sources-row table once: it feeds both the final
    # select and the budget total, which would otherwise run the
    # doc_id-keyed snapshot join twice
    per_src = (
        delta.groupBy("source")
        .agg(F.sum("live").alias("n_live"), F.sum("hot").alias("n_hot"))
        .localCheckpoint(eager=True)
    )
    tot = per_src.agg(F.sum("n_hot").alias("w"))
    alloc = F.expr(f"({_REVISIT_BUDGET}L * n_hot) div w")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_live",
        "n_hot",
        alloc.alias("alloc_per_day"),
        F.when(alloc == 0, F.lit(_REVISIT_CAP_MILLI_H).cast("long"))
        .otherwise(
            F.least(
                F.lit(_REVISIT_CAP_MILLI_H).cast("long"),
                F.expr(
                    f"(n_live * 24000L) div (({_REVISIT_BUDGET}L * n_hot) div w)"
                ),
            )
        )
        .alias("revisit_milli_h"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the pattern that keeps corpus
# rollups fresh at 100 TB without rescanning the corpus: the
# maintained state is base-aggregate(old snapshot) MERGED with a
# delta-aggregate computed from the CDC feed alone (added rows
# contribute +new, deleted rows -old, changed rows new-old). The gate
# certifies the maintenance algebra itself: its DuckDB oracle is the
# FULL RECOMPUTE over the new snapshot, so any drift between
# "base + delta" and the true aggregate is a hash mismatch.
# Aggregates are the per-source doc count and total characters — both
# commutative-group measures (the class incremental maintenance
# covers; min/max would need the delete-compensation table).
# Scale: base agg scans the old snapshot once (in production it is the
# stored rollup, zero scans); the delta agg touches ONLY the CDC rows;
# the merge joins two #sources-row tables.
# ---------------------------------------------------------------------------


@_register(
    "incremental_agg_maintenance",
    f"""
WITH new AS (
  SELECT doc_id, source,
         CASE WHEN {_CDC_REV} THEN text || ' rev2' ELSE text END AS text
  FROM documents WHERE {_CDC_NEW}
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM new GROUP BY source
""",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained per-source rollup = agg(old snapshot) merged with the
    CDC delta's contributions — never recomputed from the new snapshot;
    the oracle IS the full recompute, making the equality the gate."""
    docs = load_table(spark, sf_dir, "documents")
    # the narrow (id, source, len) old projection feeds base AND the
    # CDC join — checkpoint it once instead of scanning documents twice
    # (in production it is the stored snapshot table, zero scans)
    old = (
        docs.filter(F.expr(_CDC_OLD))
        .select(
            F.col("doc_id").alias("o_id"),
            F.col("source").alias("o_src"),
            F.length("text").alias("o_len"),
        )
        .localCheckpoint(eager=True)
    )
    new = docs.filter(F.expr(_CDC_NEW)).select(
        F.col("doc_id").alias("n_id"),
        F.col("source").alias("n_src"),
        F.length(
            F.when(F.expr(_CDC_REV), F.concat(F.col("text"), F.lit(" rev2"))).otherwise(
                F.col("text")
            )
        ).alias("n_len"),
    )
    base = old.groupBy(F.col("o_src").alias("source")).agg(
        F.count(F.lit(1)).alias("b_docs"), F.sum("o_len").alias("b_chars")
    )
    # the CDC feed: one row per added/deleted/changed doc with signed
    # contributions (unchanged rows contribute nothing and in
    # production never reach this aggregate)
    cdc = (
        old.join(new, old.o_id == new.n_id, "full_outer")
        .filter(
            F.col("o_id").isNull()
            | F.col("n_id").isNull()
            | (F.col("o_len") != F.col("n_len"))
        )
        .select(
            F.coalesce("o_src", "n_src").alias("source"),
            (
                F.when(F.col("n_id").isNotNull(), 1).otherwise(0)
                - F.when(F.col("o_id").isNotNull(), 1).otherwise(0)
            ).alias("d_docs"),
            (
                F.coalesce("n_len", F.lit(0)) - F.coalesce("o_len", F.lit(0))
            ).alias("d_chars"),
        )
    )
    delta = cdc.groupBy("source").agg(
        F.sum("d_docs").alias("d_docs"), F.sum("d_chars").alias("d_chars")
    )
    merged = base.join(delta, "source", "full_outer").select(
        "source",
        (F.coalesce("b_docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0))).alias(
            "n_docs"
        ),
        (F.coalesce("b_chars", F.lit(0)) + F.coalesce("d_chars", F.lit(0))).alias(
            "n_chars"
        ),
    )
    return merged.filter(F.col("n_docs") > 0)


# ---------------------------------------------------------------------------
# Image dedup END-TO-END: phash Hamming pairs -> connected components
# -> keep one representative per visual cluster — the image twin of
# dedup_corpus_keep_one, chaining the banded-phash blocking into the
# star-contraction CC operator and the keep-min selection rule.
# Reported per crawl source so the gate certifies the join back to the
# catalog, not just cluster labels. Scale: identical to the text
# pipeline (bucket-bounded pair join, O(log d) CC rounds, 8-byte keys).
# ---------------------------------------------------------------------------


def _phash_cc_oracle() -> str:
    pairs_sql = ORACLES["dedup_phash_hamming_pairs"]
    assert isinstance(pairs_sql, str)
    return f"""
WITH RECURSIVE
pairs AS (SELECT image_a, image_b FROM ({pairs_sql}) pp),
edges AS (
  SELECT image_a AS u, image_b AS v FROM pairs
  UNION
  SELECT image_b AS u, image_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.u AS node, reach.r AS r FROM reach JOIN edges e ON e.v = reach.node
),
cc AS (SELECT node AS image_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(cc.image_id) AS BIGINT) AS n_in_clusters,
       CAST(sum(CASE WHEN cc.image_id IS NOT NULL AND cc.image_id <> cc.cluster_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM documents d LEFT JOIN cc ON cc.image_id = d.doc_id
GROUP BY d.source
"""


@_register("dedup_phash_keep_one", _phash_cc_oracle)
def q_phash_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source image-dedup outcome: images total, images inside a
    phash near-dup cluster, and images a keep-one pass drops (every
    cluster member except the min-id representative)."""
    from vbpl_web_crawl_spark.operators.graph import connected_components

    pairs = QUERIES["dedup_phash_hamming_pairs"](spark, sf_dir).select(
        "image_a", "image_b"
    )
    cc = connected_components(pairs, src="image_a", dst="image_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    docs = load_table(spark, sf_dir, "documents")
    return PQ.keep_one_tally(docs, cc, "source", "n_images")


# ---------------------------------------------------------------------------
# Compaction / output-file planning — the small-files problem at
# 100 TB: pack per-source document runs into target-size output files.
# Next-fit by leading edge: file_id = floor(preceding-bytes / target)
# over the (source, doc_id) order, so every engine (and every rerun)
# produces the identical plan. Scale: one window shuffle partitioned
# by source; for a single giant source the same plan is produced by
# range-partitioning on doc_id and offsetting per-partition prefix
# sums with a 2-job scan (operators/sequence.py's large path) — the
# window here IS that operator's small-input specialization.
# ---------------------------------------------------------------------------

_FILE_TARGET = 4096  # chars per output file at gate scale


@_register(
    "compaction_file_plan",
    f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars AS before
  FROM documents
)
SELECT source, CAST(before // {_FILE_TARGET} AS BIGINT) AS file_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc_id, max(doc_id) AS last_doc_id
FROM c GROUP BY source, file_id
""",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-targeted output-file plan per source: which
    doc run lands in which file, with per-file doc count and bytes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.withColumn("before", F.sum("n_chars").over(w) - F.col("n_chars"))
    return (
        c.withColumn(
            "file_id", F.floor(F.col("before") / F.lit(_FILE_TARGET)).cast("long")
        )
        .groupBy("source", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): estimate a hashed
# bigram-feature distribution on a TARGET slice and on the RAW corpus,
# score every doc by its per-feature importance ratio, select by
# score. Engine-parity discipline follows lm_bigram_fluency_buckets:
# the per-bucket ratio is FIXED-POINT INTEGER
#   m_b = ((tgt_b+1) * (RAW_TOT+B) * 1000) div ((raw_b+1) * (TGT_TOT+B))
# (add-one smoothing over B=1024 hash buckets), so per-doc scores are
# integer sums — order-free and bit-equal across engines, where a
# float log-sum would drift in the last ulp with aggregation order.
# Scale: the bucket table is bounded at B rows -> broadcast; the only
# real shuffles are the bucket-count aggregates and the per-doc sum.
# ---------------------------------------------------------------------------

_DSIR_B = 1024  # hash buckets
_DSIR_TARGET = "doc_id % 5 = 0"  # the deterministic 'high-quality' slice
_DSIR_BIN = 200  # score-histogram bin width


@_register(
    "dsir_importance_buckets",
    f"""
WITH base AS (
  SELECT doc_id, lang, ({_DSIR_TARGET}) AS is_t, {PQ._TOKENS_SQL} AS w
  FROM documents
),
feat AS (
  SELECT doc_id, lang, is_t,
         CAST(('0x' || substr(md5(
           unnest([w[i] || ' ' || w[i + 1] for i in generate_series(1, len(w) - 1)])
         ), 1, 15)) AS BIGINT) % {_DSIR_B} AS b
  FROM base
),
raw_c AS (SELECT b, CAST(count(*) AS BIGINT) AS rc FROM feat GROUP BY b),
tgt_c AS (SELECT b, CAST(count(*) AS BIGINT) AS tc FROM feat WHERE is_t GROUP BY b),
tot AS (
  SELECT (SELECT count(*) FROM feat) + {_DSIR_B} AS rt,
         (SELECT count(*) FROM feat WHERE is_t) + {_DSIR_B} AS tt
),
ratio AS (
  SELECT r.b,
         CAST(((coalesce(t.tc, 0) + 1) * tot.rt * 1000)
              // ((r.rc + 1) * tot.tt) AS BIGINT) AS m
  FROM raw_c r LEFT JOIN tgt_c t ON r.b = t.b, tot
),
scored AS (
  SELECT f.doc_id, any_value(f.lang) AS lang,
         CAST(sum(ratio.m) // count(*) AS BIGINT) AS score
  FROM feat f JOIN ratio ON f.b = ratio.b
  GROUP BY f.doc_id
)
SELECT lang, CAST(score // {_DSIR_BIN} AS BIGINT) AS score_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score
FROM scored GROUP BY lang, score_bin
""",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, score-bin) histogram of DSIR importance scores:
    mean fixed-point target/raw likelihood ratio of each doc's hashed
    bigram features. Docs with < 2 tokens drop out identically on
    both engines (no bigram)."""
    from vbpl_web_crawl_spark.sources.tables import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )
    tok = docs.select(
        "doc_id",
        "lang",
        F.expr(_DSIR_TARGET).alias("is_t"),
        F.posexplode(PQ._tokens(F.col("text"))).alias("pos", "g"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    feat = (
        tok.select(
            "doc_id", "lang", "is_t", "g", F.lead("g").over(w).alias("g2")
        )
        .filter(F.col("g2").isNotNull())
        .select(
            "doc_id",
            "lang",
            "is_t",
            (
                F.conv(
                    F.substring(F.md5(F.concat_ws(" ", "g", "g2")), 1, 15), 16, 10
                ).cast("long")
                % _DSIR_B
            ).alias("b"),
        )
    )
    # materialize the hashed-feature stream ONCE: it feeds the raw
    # bucket counts, the target bucket counts, AND the scoring join —
    # without the checkpoint the explode+window pipeline runs 3x plus
    # once per scalar total
    feat = feat.localCheckpoint(eager=False)
    raw_c = feat.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tc_sub"),
    )
    tgt_c = raw_c.filter("tc_sub > 0").select("b", F.col("tc_sub").alias("tc"))
    # totals from the <=1024-row bucket table, not a second corpus scan
    totals = raw_c.agg(F.sum("rc"), F.sum("tc_sub")).first()
    n_raw = int(totals[0]) + _DSIR_B
    n_tgt = int(totals[1]) + _DSIR_B
    ratio = (
        raw_c.join(tgt_c, "b", "left")
        .select(
            "b",
            F.expr(
                f"CAST((coalesce(tc, 0) + 1) * {n_raw}L * 1000 AS BIGINT)"
                f" div CAST((rc + 1) * {n_tgt}L AS BIGINT)"
            ).alias("m"),
        )
    )
    scored = (
        feat.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.expr("sum(m) div count(*)").cast("long").alias("score"),
        )
    )
    return (
        scored.groupBy("lang", F.expr(f"score div {_DSIR_BIN}").alias("score_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select("lang", F.col("score_bin").cast("long"), "n_docs",
                "min_score", "max_score")
    )


# ---------------------------------------------------------------------------
# Training-sequence chunking: split each doc's token stream into
# fixed-length chunks with overlap (the standard LM pre-tokenization
# step before sequence packing). Chunk starts stride by C - O; the
# final partial chunk is kept. Entirely shuffle-free per row (array
# slices over the token array); the only shuffle is the per-lang
# rollup — the same shape at any corpus size.
# ---------------------------------------------------------------------------

_CHUNK_C = 32  # tokens per chunk
_CHUNK_O = 8  # overlap tokens


@_register(
    "chunking_overlap_stats",
    f"""
WITH base AS (
  SELECT doc_id, lang, len({PQ._TOKENS_SQL}) AS n
  FROM documents
),
c AS (
  SELECT doc_id, lang, n,
         CASE WHEN n <= {_CHUNK_C} THEN 1
              ELSE 1 + CAST(ceil((n - {_CHUNK_C}) /
                            CAST({_CHUNK_C - _CHUNK_O} AS DOUBLE)) AS BIGINT)
         END AS n_chunks
  FROM base
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
       -- every non-final chunk contributes C and overlaps its successor
       -- by O, the last contributes the remainder: the sum telescopes
       -- to n + (n_chunks - 1) * O
       CAST(sum(n + (n_chunks - 1) * {_CHUNK_O}) AS BIGINT) AS total_chunk_tokens
FROM c GROUP BY lang
""",
)
def q_chunking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang chunking outcome for C=32/O=8 sliding chunks: doc and
    token totals, chunks produced, and the token volume after
    duplication by overlap (total_chunk_tokens >= total_tokens).
    The Spark side MATERIALIZES the chunks (explode over slice
    starts) and measures them, certifying the chunk boundaries the
    closed-form oracle only states."""
    from vbpl_web_crawl_spark.sources.tables import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    toks = PQ._tokens(F.col("text"))
    stride = _CHUNK_C - _CHUNK_O
    n = F.size(toks)
    n_chunks = F.when(n <= _CHUNK_C, F.lit(1)).otherwise(
        (F.ceil((n - _CHUNK_C) / F.lit(float(stride)))).cast("long") + 1
    )
    chunks = docs.select(
        "doc_id",
        "lang",
        n.alias("n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.size(F.slice(toks, i * stride + 1, _CHUNK_C)),
            )
        ).alias("chunk_len"),
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum(F.expr("if(chunk_len = n or n <= 0, n, 0)"))
            .cast("long")
            .alias("_tt_guard"),
            F.count(F.lit(1)).alias("total_chunks"),
            F.sum("chunk_len").cast("long").alias("total_chunk_tokens"),
        )
        .join(
            docs.groupBy("lang").agg(
                F.sum(F.size(PQ._tokens(F.col("text")))).cast("long").alias(
                    "total_tokens"
                )
            ),
            "lang",
        )
        .select("lang", "n_docs", "total_tokens", "total_chunks",
                "total_chunk_tokens")
    )
