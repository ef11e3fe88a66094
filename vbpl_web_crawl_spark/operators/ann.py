"""IVF (inverted-file) approximate nearest neighbor — the clustered
scale path for similarity search, complementing the sign-LSH buckets in
plans/pipeline_queries.py.

Shape at 100 TB: k-means trains on a BOUNDED hash-sample
(~k * sample_per_centroid rows by construction, independent of corpus
size) that is collected once and fit driver-side in numpy — the same
train-on-sample design FAISS uses for IVF, and the same
bounded-bytes-to-driver rule as the Misra-Gries sketches in
operators/heavy.py. Every corpus vector is then assigned to its
nearest centroid ONCE, distributed (one broadcast of the k centroids,
one shuffle-free scan + one groupBy); a query probes the n_probe
nearest centroid lists only — candidate count is n_probe/k of the
corpus instead of all of it, and each list is a partition-prunable
predicate on the assignment column. Per-vector math in the
distributed path is DataFrame expressions (zip_with/aggregate) — no
Python; only the bounded sample and the k centroids cross the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dot(x, y):
    # NOTE (r06): unrolling this fold into a 64-term Add chain was
    # measured 5-20x WORSE than the lambda (the mega-expression falls
    # out of whole-stage codegen); the HOF form is the fastest pure-
    # Catalyst formulation available. Bulk pairwise cosine lives in
    # the numpy kernel of semantic_dedup instead (guide §4.2).
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(x, y):
    return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))


def assign_to_centroids(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding) x (cid, centroid) -> nearest-centroid
    assignment. Centroids broadcast; argmin via min(struct(-cos, cid))
    so ties break deterministically toward the smaller cid. The
    embedding rides the same aggregation (constant within each vec_id
    group, so first() is deterministic) — ONE shuffle of the embedding
    table and no join back, where a groupBy+join formulation shuffles
    it twice."""
    from vbpl_web_crawl_spark.sources.tables import spread

    # spread by vec_id before the k HOF cosines per vector: a
    # single-row-group scan otherwise evaluates them all on ONE task
    # (guide §2.4), and hash(vec_id) already satisfies the argmin
    # groupBy's distribution so the exchange count is unchanged
    j = spread(emb, "vec_id").crossJoin(F.broadcast(centroids))
    best = j.groupBy("vec_id").agg(
        F.min(
            F.struct(
                (-_cosine(F.col("embedding"), F.col("centroid"))).alias("negcos"),
                F.col("cid").alias("cid"),
            )
        ).alias("best"),
        F.first("embedding").alias("embedding"),
    )
    return best.select("vec_id", "embedding", F.col("best.cid").alias("cid"))


def _fit_on_sample(X, order, k: int, iters: int):
    """Driver-side deterministic k-means on the collected sample.
    ``X``: (n, d) float64 matrix, rows pre-sorted by
    (xxhash64(vec_id), vec_id) so row 0 is the deterministic 'random'
    first seed; ``order``: the vec_ids in that row order (farthest-
    point ties break to the smaller vec_id via stable argmin over this
    ordering). Returns a list of centroid lists."""
    import numpy as np

    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0.0] = 1.0
    U = X / norms[:, None]

    # farthest-point (k-center greedy) init: next seed = row whose max
    # cosine to any chosen seed is smallest; ties -> smaller vec_id
    id_rank = np.argsort(np.argsort(order, kind="stable"), kind="stable")
    seeds = [0]
    max_cos = U @ U[0]
    for _ in range(1, k):
        d = np.lexsort((id_rank, max_cos))
        nxt = next(i for i in d if i not in seeds)
        seeds.append(int(nxt))
        max_cos = np.maximum(max_cos, U @ U[nxt])
    C = X[seeds].copy()

    for _ in range(iters):
        Cn = np.linalg.norm(C, axis=1)
        Cn[Cn == 0.0] = 1.0
        cos = U @ (C / Cn[:, None]).T  # (n, k)
        assign = np.argmax(cos, axis=1)  # first max = smaller cid on ties
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
            # empty cluster: keep the previous centroid (deterministic)
    return [[float(v) for v in row] for row in C]


def kmeans_fit(
    emb: DataFrame, k: int = 16, iters: int = 4, sample_per_centroid: int = 256
) -> DataFrame:
    """Deterministic k-means over (vec_id, embedding), trained on a
    deterministic hash-sample: rows with pmod(xxhash64(vec_id), m) == 0,
    m sized so the sample holds ~k * sample_per_centroid vectors. The
    sample is BOUNDED by construction (a few thousand rows at any
    corpus size), so it is collected ONCE and both farthest-point
    seeding and the Lloyd iterations run driver-side in numpy — two
    Spark jobs total (count + sample collect) instead of one job per
    seed and per round; at 10^10 vectors the fit cost is unchanged
    while the corpus is only ever touched by the single distributed
    assignment pass (assign_to_centroids). Raises ValueError on an
    empty input; k is clamped to the sample's distinct-vector count so
    degenerate corpora (n < k) cannot yield duplicate farthest-point
    seeds. Returns (cid, centroid)."""
    import numpy as np

    n = emb.count()
    if n == 0:
        raise ValueError("kmeans_fit: empty embeddings input")
    m = max(1, n // max(k * sample_per_centroid, 1))
    sample = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(m)) == 0) if m > 1 else emb
    rows = (
        sample.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h"))
        .orderBy(F.col("h").asc(), F.col("vec_id").asc())
        .collect()
    )
    if m > 1 and len(rows) < k:  # degenerate corpus; fit on all rows
        rows = (
            emb.select("vec_id", "embedding", F.xxhash64("vec_id").alias("h"))
            .orderBy(F.col("h").asc(), F.col("vec_id").asc())
            .collect()
        )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    k_eff = min(k, len(np.unique(X, axis=0)))
    cents = _fit_on_sample(X, np.array([r.vec_id for r in rows]), k_eff, iters)
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, centroid array<double>"
    )


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    n_probe: int = 4,
    topk: int = 10,
) -> DataFrame:
    """Top-k by cosine among vectors whose centroid is one of the
    query's n_probe nearest centroids. ``assigned`` = output of
    assign_to_centroids; ``query_vec`` = single-row (qv array) frame.
    The probe-list filter is the IVF win: only n_probe/k of the corpus
    is scanned, and on a table partitioned by cid it prunes files."""
    probe = (
        centroids.crossJoin(F.broadcast(query_vec))
        .select("cid", _cosine(F.col("centroid"), F.col("qv")).alias("ccos"))
        .orderBy(F.desc("ccos"), F.asc("cid"))
        .limit(n_probe)
        .select("cid")
    )
    cand = assigned.join(F.broadcast(probe), "cid")
    scored = cand.crossJoin(F.broadcast(query_vec)).select(
        "vec_id",
        "cid",
        _cosine(F.col("embedding"), F.col("qv")).alias("cos_raw"),
    )
    return (
        scored.orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", "cid", F.round("cos_raw", 4).alias("cosine"))
    )
