"""Round-5 continuation queries, part 15: accuracy/compression gates
the dedup + embedding pipeline was still missing — asymmetric
containment, two estimator-accuracy measurements (MinHash error curve,
ANN IVF recall@10), int8 quantization fidelity, and mean-pooling.

1. ``dedup_containment_pairs`` — ASYMMETRIC shingle containment
   C(a->b) = |Sa ∩ Sb| / |Sa|.  Jaccard misses the canonical crawl
   situation where a short page (an excerpt, a section, a quoted
   decree) is wholly embedded in a longer one: J = |A∩B|/|A∪B| is
   diluted by the big doc's size while C(a->b) stays ~1.  The
   reference corpus is exactly that shape (section pages carved out of
   toan_van fulltext, /root/reference/app/service/vbpl.py:996-1011 and
   app/model/vbpl.py), so containment is the right "is this page just
   part of that one?" signal.  Output is ORDERED pairs (doc_a is the
   contained side).

2. ``minhash_estimate_error`` — measures the SKETCH ITSELF: for every
   LSH candidate pair, the k=8 md5 signature's Jaccard estimate
   (fraction of matching components) vs the exact shingle Jaccard,
   bucketed by exact-Jaccard decile.  The dedup gates certify the
   verified OUTPUT; this one certifies the estimator's error curve, so
   a silent signature bug (seed reuse, truncated hash) that exact
   verification would mask shows up as a shifted error histogram.

3. ``embedding_int8_quant_error`` — per-dimension symmetric int8
   scalar quantization of the embedding table (the standard way a
   100 TB embedding store is shipped: 4x smaller + SIMD distance) and
   the fidelity stats that decide whether ANN can run on the
   quantized vectors: per-label count, mean/min cosine(original,
   dequantized), mean L-inf error.

Scale notes (100 TB):

- containment reuses the DF-capped shingle self-join (bounded by
  NGRAM_DF_CAP exactly like the Jaccard/minhash gates — the join
  fan-out is O(docs * cap), never O(docs^2));
- the estimate-error gate joins the 8-component signature table only
  on LSH candidates (band-bounded), so its cost is the candidate
  volume the dedup path already pays, plus one 8-column comparison;
- quantization is two narrow shuffles: dim-keyed max(|x|) over
  posexploded components (64 rows out), then a broadcast join of the
  64 scales back onto the exploded stream and a vec_id-keyed
  re-aggregation.  Nothing is ever collected; the scales table is the
  only thing a deployment would persist.

Determinism notes: quantization uses floor(x/scale + 0.5) (identical
in Spark and DuckDB — no banker's rounding), clamped to [-127, 127];
all reported floats are rounded to 4 decimals after aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.plans.pipeline_queries import (
    _CAPPED_SHINGLES_SQL,
    _MINHASH_BANDS,
    _MINHASH_K,
    _MINHASH_SIG_SQL,
    _BAND_KEYS_SQL,
    band_candidates,
    capped_shingles,
    jaccard,
    md5_band,
    md5_component,
    minhash_bands,
    minhash_signature,
    pair_overlap,
    self_overlap,
    with_sizes,
)
from vbpl_web_crawl_spark.plans.queries import _register
from vbpl_web_crawl_spark.sources.tables import load_table

_CONTAIN_TAU = 0.8

_CONTAINMENT_SQL = f"""
WITH sh AS ({_CAPPED_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(CAST(c.n_common AS DOUBLE) / sa.n_sh, 4) AS containment,
       sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE CAST(c.n_common AS DOUBLE) / sa.n_sh >= {_CONTAIN_TAU}
"""


@_register("dedup_containment_pairs", _CONTAINMENT_SQL)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered near-dup pairs by shingle containment C(a->b) >= 0.8.

    Same bounded self-join shape as dedup_ngram_jaccard_pairs (the
    DF cap in capped_shingles bounds each shingle's fan-out), but the
    score divides by |Sa| only, and both orientations are kept: a
    section page contained in its fulltext parent scores ~1.0 in one
    direction and near-0 in the other."""
    docs = load_table(spark, sf_dir, "documents")
    # three consumers (sizes + both join sides): materialize once
    sh = capped_shingles(docs).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = self_overlap(sh, F.col("doc_a") != F.col("doc_b"))
    cont = F.col("n_common").cast("double") / F.col("n_sh_a")
    return (
        with_sizes(common, sizes)
        .filter(cont >= _CONTAIN_TAU)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 4).alias("containment"),
            "n_sh_a",
            "n_sh_b",
        )
    )


# ---------------------------------------------------------------------------
# MinHash estimator error curve. Uses the SAME md5 signature + banding
# as dedup_minhash_lsh_pairs (deterministic hex in both engines), so
# the candidate set and the component-match counts are bit-identical.
# ---------------------------------------------------------------------------

_EST_ERR_SQL = f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
bands AS (
  SELECT doc_id, band_id, band_key FROM (
    SELECT doc_id, {_BAND_KEYS_SQL} FROM sig
  ) UNPIVOT (band_key FOR band_id IN ({', '.join(f'band{b}' for b in range(_MINHASH_BANDS))}))
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.band_id = b.band_id
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({' + '.join(f'CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END' for i in range(_MINHASH_K))})
           / CAST({_MINHASH_K} AS DOUBLE) AS j_est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
),
sh AS ({_CAPPED_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
exact AS (
  -- LEFT join + coalesce: an LSH candidate pair that shares NO
  -- shingle (a pure band-minimum collision) must stay, with
  -- j_exact = 0, exactly as the engine keeps it (decile 0)
  SELECT e.doc_a, e.doc_b, e.j_est,
         coalesce(CAST(cm.n_common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - cm.n_common), 0.0) AS j_exact
  FROM est e
  LEFT JOIN (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ) cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
  JOIN sizes sa ON sa.doc_id = e.doc_a
  JOIN sizes sb ON sb.doc_id = e.doc_b
)
SELECT CAST(least(floor(j_exact * 10), 9) AS BIGINT) AS j_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(j_exact), 4) AS avg_exact,
       round(avg(j_est), 4) AS avg_est,
       round(avg(abs(j_est - j_exact)), 4) AS mean_abs_err,
       round(max(abs(j_est - j_exact)), 4) AS max_abs_err
FROM exact
GROUP BY 1
"""


@_register("minhash_estimate_error", _EST_ERR_SQL)
def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-accuracy histogram: k=8 md5 MinHash Jaccard estimate
    vs exact shingle Jaccard on the LSH candidate pairs, grouped by
    exact-Jaccard decile. Candidates that share zero shingles (pure
    band collisions) land in decile 0 with j_exact = 0 via the left
    join's coalesce."""
    docs = load_table(spark, sf_dir, "documents")
    # the shingle frame feeds THREE consumers (signatures, and both
    # sides of the exact-intersection join) and the signature frame
    # two (banding, per-pair component compare): localCheckpoint each
    # once so the corpus is scanned once, not 20 times (the naive
    # composition's executed plan had 20 parquet scans), and blocks
    # release with the DataFrame (q_winnow_pairs' round-4 pattern)
    sh = capped_shingles(docs).localCheckpoint(eager=True)
    sig = minhash_signature(sh, md5_component, _MINHASH_K).localCheckpoint(eager=True)
    cand = band_candidates(minhash_bands(sig, md5_band, _MINHASH_BANDS))
    sig_a, sig_b = (
        sig.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("n_sh").alias(f"n_sh_{s}"),
            *[F.col(f"h{i}").alias(f"h{s}{i}") for i in range(_MINHASH_K)],
        )
        for s in "ab"
    )
    n_match = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(_MINHASH_K)
    )
    est = (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_sh_a",
            "n_sh_b",
            (n_match / F.lit(float(_MINHASH_K))).alias("j_est"),
        )
    )
    common = pair_overlap(sh, est.select("doc_a", "doc_b"))
    j_exact = F.coalesce(jaccard(), F.lit(0.0))
    scored = est.join(common, ["doc_a", "doc_b"], "left").select(
        "j_est", j_exact.alias("j_exact")
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("j_exact") * 10), F.lit(9))
            .cast("long")
            .alias("j_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("j_exact"), 4).alias("avg_exact"),
            F.round(F.avg("j_est"), 4).alias("avg_est"),
            F.round(F.avg(F.abs(F.col("j_est") - F.col("j_exact"))), 4).alias(
                "mean_abs_err"
            ),
            F.round(F.max(F.abs(F.col("j_est") - F.col("j_exact"))), 4).alias(
                "max_abs_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization of the embedding table.
# ---------------------------------------------------------------------------

_QUANT_SQL = """
WITH comp AS (
  SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
scales AS (
  SELECT dim, max(abs(x)) / 127.0 AS scale FROM comp GROUP BY dim
),
dq AS (
  SELECT c.vec_id, c.label, c.x,
         greatest(least(floor(c.x / s.scale + 0.5), 127), -127) * s.scale AS xq
  FROM comp c JOIN scales s ON c.dim = s.dim
),
per_vec AS (
  SELECT vec_id, label,
         sum(x * xq) / (sqrt(sum(x * x)) * sqrt(sum(xq * xq))) AS cos_sim,
         max(abs(x - xq)) AS linf_err
  FROM dq GROUP BY vec_id, label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(cos_sim), 4) AS avg_cos_sim,
       round(min(cos_sim), 4) AS min_cos_sim,
       round(avg(linf_err), 4) AS avg_linf_err
FROM per_vec
GROUP BY label
"""


@_register("embedding_int8_quant_error", _QUANT_SQL)
def q_embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization fidelity, by label.

    scale_d = max|x_d| / 127 over the corpus; q = clamp(floor(x/scale
    + 0.5), -127, 127); fidelity = cosine(original, dequantized) per
    vector, aggregated per label. The 64-row scales table is
    broadcast back onto the exploded component stream — the pattern a
    deployment persists so new vectors quantize without a second
    corpus pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "xf"),
    ).select("vec_id", "label", "dim", F.col("xf").cast("double").alias("x"))
    scales = comp.groupBy("dim").agg(
        (F.max(F.abs(F.col("x"))) / F.lit(127.0)).alias("scale")
    )
    dq = comp.join(F.broadcast(scales), "dim").select(
        "vec_id",
        "label",
        "x",
        (
            F.greatest(
                F.least(F.floor(F.col("x") / F.col("scale") + 0.5), F.lit(127.0)),
                F.lit(-127.0),
            )
            * F.col("scale")
        ).alias("xq"),
    )
    per_vec = dq.groupBy("vec_id", "label").agg(
        (
            F.sum(F.col("x") * F.col("xq"))
            / (
                F.sqrt(F.sum(F.col("x") * F.col("x")))
                * F.sqrt(F.sum(F.col("xq") * F.col("xq")))
            )
        ).alias("cos_sim"),
        F.max(F.abs(F.col("x") - F.col("xq"))).alias("linf_err"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cos_sim"), 4).alias("avg_cos_sim"),
        F.round(F.min("cos_sim"), 4).alias("min_cos_sim"),
        F.round(F.avg("linf_err"), 4).alias("avg_linf_err"),
    )


# ---------------------------------------------------------------------------
# ANN recall@10: the accuracy twin of minhash_estimate_error for the
# vector path. Reduced-probe IVF (the deterministic hash-grid coarse
# quantizer of ann_ivf_topk, so both engines can state the centroids
# exactly) vs brute-force cosine top-10 — the result is the number the
# ANN deployment decision actually reads (recall at the shipped
# n_probe), not just the candidate lists themselves.
# ---------------------------------------------------------------------------


def _ivf_recall_sql() -> str:
    from vbpl_web_crawl_spark.plans.pipeline_queries import (
        _COS_SQL,
        _IVF_K,
        _IVF_PROBE,
        _cents_sql,
    )

    return f"""
WITH cents AS ({_cents_sql()}),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
assigned AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
         (SELECT c.cid FROM cents c
          ORDER BY {_COS_SQL.format(x='e.embedding::DOUBLE[]', y='c.centroid')} DESC,
                   c.cid ASC
          LIMIT 1) AS cid
  FROM embeddings e WHERE e.vec_id <> 0
),
probe AS (
  SELECT c.cid FROM cents c, q
  ORDER BY {_COS_SQL.format(x='c.centroid', y='q.qv')} DESC, c.cid ASC
  LIMIT {_IVF_PROBE}
),
ivf AS (
  SELECT a.vec_id
  FROM assigned a JOIN probe USING (cid), q
  ORDER BY {_COS_SQL.format(x='a.emb', y='q.qv')} DESC, a.vec_id ASC
  LIMIT 10
),
brute AS (
  SELECT a.vec_id
  FROM assigned a, q
  ORDER BY {_COS_SQL.format(x='a.emb', y='q.qv')} DESC, a.vec_id ASC
  LIMIT 10
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST({_IVF_PROBE} AS BIGINT) AS n_probe,
       CAST(count(*) AS BIGINT) AS n_overlap,
       round(count(*) / 10.0, 4) AS recall_at_10
FROM ivf JOIN brute USING (vec_id)
"""


@_register("ann_ivf_recall", _ivf_recall_sql)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the reduced-probe IVF vs brute force, one row.

    Both rankings run through the SAME distributed operators
    (assign_to_centroids once — checkpointed — then ivf_search at
    n_probe=6 and n_probe=k, the latter being exact by construction);
    the overlap count is the deployment's accuracy number."""
    from vbpl_web_crawl_spark.operators.ann import assign_to_centroids, ivf_search
    from vbpl_web_crawl_spark.plans.pipeline_queries import (
        _IVF_K,
        _IVF_PROBE,
        _ivf_centroid,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = spark.createDataFrame(
        [(c, [float(v) for v in _ivf_centroid(c)]) for c in range(_IVF_K)],
        "cid int, centroid array<double>",
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    assigned = assign_to_centroids(
        emb.filter(F.col("vec_id") != 0), cents
    ).localCheckpoint(eager=True)
    ivf = ivf_search(assigned, cents, qv, n_probe=_IVF_PROBE, topk=10).select("vec_id")
    brute = ivf_search(assigned, cents, qv, n_probe=_IVF_K, topk=10).select("vec_id")
    return ivf.join(brute, "vec_id").agg(
        F.lit(10).cast("long").alias("k"),
        F.lit(_IVF_PROBE).cast("long").alias("n_probe"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(10.0), 4).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Mean-pooling with L2 normalization — the standard way chunk/view
# embeddings collapse into one vector per document (here per label,
# the corpus's grouping column). At 100 TB this is one dim-exploded
# two-level aggregation; nothing is collected and no vector leaves
# the JVM.
# ---------------------------------------------------------------------------

_MEAN_POOL_SQL = """
WITH comp AS (
  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM (SELECT label, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
),
pooled AS (
  SELECT label, dim, avg(x) AS m, count(*) AS n_vecs FROM comp GROUP BY label, dim
),
norms AS (
  SELECT label, sqrt(sum(m * m)) AS l2 FROM pooled GROUP BY label
)
SELECT p.label, CAST(p.dim AS BIGINT) AS dim, p.n_vecs,
       round(p.m / n.l2, 4) AS pooled_norm
FROM pooled p JOIN norms n USING (label)
"""


@_register("embedding_mean_pool_by_label", _MEAN_POOL_SQL)
def q_embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled, L2-normalized embedding as (label, dim)
    rows. Two aggregations share the dim-exploded stream; the label
    norm comes back via a broadcast join of the tiny norms table."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("dim", "xf")
    ).select("label", F.col("dim").cast("long").alias("dim"), F.col("xf").cast("double").alias("x"))
    pooled = comp.groupBy("label", "dim").agg(
        F.avg("x").alias("m"), F.count(F.lit(1)).alias("n_vecs")
    )
    norms = pooled.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("l2")
    )
    return pooled.join(F.broadcast(norms), "label").select(
        "label",
        "dim",
        "n_vecs",
        F.round(F.col("m") / F.col("l2"), 4).alias("pooled_norm"),
    )
