"""Round-5 continuation queries, part 12: exact-substring duplicate
SPAN REMOVAL (the step Lee et al. 2022 actually ships — not just
measuring duplication but cutting the spans out of the text),
redirect-chain resolution by pointer doubling, and mirror-host
detection via bottom-k content sketches.

All three are oracle-backed with pure SQL over the same parquet:

- span removal reconstructs every cleaned document in BOTH engines and
  compares md5(cleaned) per doc — a single mis-clipped character
  anywhere flips a hash;
- redirect resolution's oracle is a recursive CTE walking edges one at
  a time (the sequential definition), compared against the Spark
  pointer-doubling closure (log2(max_hops) joins);
- the mirror sketch's estimator is fully deterministic (bottom-k by
  hex order over strided 32-char gram fingerprints), so the oracle
  states the identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vbpl_web_crawl_spark.plans.queries import _register
from vbpl_web_crawl_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# Exact-substring duplicate span removal (Lee et al. 2022 §4: delete
# every span whose first _SPAN_CAP chars recur in another document).
# The equality classes come from the distributed suffix ranker
# (operators/suffix.py) — an 8-byte rank id per position, never the
# span strings — then overlapping spans merge per doc (gaps-and-islands
# over the start positions, one doc-keyed window), and the cleaned text
# is rebuilt JVM-side by folding the merged intervals with a Catalyst
# `aggregate` lambda: no Python in the pipeline at all.
#
# 100 TB: dup starts are a small fraction of positions; merged
# intervals per doc are bounded by len/(cap+1)+1; the rebuild touches
# each doc's text exactly once where it already lives. The heavy input
# (suffix ranks) is the log-round doubling documented in
# operators/suffix.py.
# ---------------------------------------------------------------------------

_SPAN_CAP = 32  # power of two (doubling schedule) = min span length


@_register(
    "dup_span_removal_docs",
    f"""
WITH pos AS (
  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text
  FROM documents
),
cls AS (SELECT doc_id, i, substr(text, i, {_SPAN_CAP}) AS cls FROM pos),
dfq AS (SELECT cls, count(DISTINCT doc_id) AS nd FROM cls GROUP BY cls),
dup AS (
  SELECT c.doc_id, c.i AS s, least(c.i + {_SPAN_CAP}, length(d.text) + 1) AS e
  FROM cls c JOIN dfq USING (cls) JOIN documents d ON d.doc_id = c.doc_id
  WHERE dfq.nd >= 2
),
brk AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              THEN 1 ELSE 0 END AS b
  FROM dup
),
isl AS (
  SELECT doc_id, s, e,
         sum(b) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS UNBOUNDED PRECEDING) AS g
  FROM brk
),
mrg AS (SELECT doc_id, g, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, g),
keep AS (
  SELECT p.doc_id, p.i, substr(p.text, p.i, 1) AS ch
  FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM mrg m
                    WHERE m.doc_id = p.doc_id AND p.i >= m.s AND p.i < m.e)
),
agg AS (
  SELECT doc_id, count(*) AS retained,
         md5(string_agg(ch, '' ORDER BY i)) AS cm
  FROM keep GROUP BY doc_id
),
sp AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed
  FROM mrg GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(sp.removed, 0) AS BIGINT) AS removed_chars,
       CAST(coalesce(agg.retained, 0) AS BIGINT) AS retained_chars,
       coalesce(agg.cm, md5('')) AS cleaned_md5
FROM documents d
LEFT JOIN sp USING (doc_id)
LEFT JOIN agg USING (doc_id)
""",
)
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut every cross-document duplicated span ({cap}-char classes)
    out of every document; emit per-doc span/char counts + the md5 of
    the cleaned text (operators/suffix.py remove_dup_spans)."""
    from vbpl_web_crawl_spark.operators.suffix import remove_dup_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    res = remove_dup_spans(docs, cap=_SPAN_CAP)
    return res.select(
        "doc_id",
        "n_spans",
        "removed_chars",
        "retained_chars",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# Redirect-chain resolution (operators/redirects.py). The redirect
# table is synthesized deterministically from doc_id so BOTH engines
# state the identical graph: chains (walk down to a multiple of 4),
# 2-cycles (97k+2 <-> 97k+3), and dangling targets (89k+7 points a
# million ids out of the set). The oracle walks edges ONE AT A TIME
# with a recursive CTE — the sequential definition the log-round
# doubling must reproduce, including the exact hop counts.
# ---------------------------------------------------------------------------

_REDIRECT_CASE_SQL = """CASE
  WHEN doc_id % 89 = 7 THEN doc_id + 1000000
  WHEN doc_id % 97 = 3 THEN doc_id - 1
  WHEN doc_id % 97 = 2 THEN doc_id + 1
  WHEN doc_id % 4 = 0 THEN NULL
  ELSE doc_id - 1 END"""

_MAX_HOPS = 8


@_register(
    "redirect_resolution_summary",
    f"""
WITH RECURSIVE e AS (
  SELECT doc_id AS u, {_REDIRECT_CASE_SQL} AS v FROM documents
),
walk(src, cur, hops) AS (
  SELECT u, u, 0 FROM e
  UNION ALL
  SELECT w.src, e.v, w.hops + 1
  FROM walk w JOIN e ON e.u = w.cur
  WHERE e.v IS NOT NULL AND w.hops < {_MAX_HOPS}
),
last AS (
  SELECT src, arg_max(cur, hops) AS cur, max(hops) AS h
  FROM walk GROUP BY src
),
classified AS (
  SELECT l.src,
         CASE WHEN t.u IS NOT NULL THEN 'resolved'
              WHEN n.u IS NULL THEN 'dangling'
              ELSE 'loop' END AS status,
         CASE WHEN t.u IS NOT NULL THEN l.h END AS hops,
         CASE WHEN t.u IS NOT NULL THEN l.cur END AS final
  FROM last l
  LEFT JOIN e t ON t.u = l.cur AND t.v IS NULL
  LEFT JOIN (SELECT u FROM e) n ON n.u = l.cur
)
SELECT status, CAST(hops AS BIGINT) AS hops,
       CAST(count(*) AS BIGINT) AS n_chains,
       CAST(sum(final) AS BIGINT) AS sum_final,
       CAST(min(src) AS BIGINT) AS min_src,
       CAST(max(src) AS BIGINT) AS max_src
FROM classified GROUP BY status, hops
""",
)
def q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every redirect chain by successor doubling
    (log2({max_hops}) shuffle joins), classify resolved / dangling /
    loop, and checksum the final targets per (status, hops) class."""
    from vbpl_web_crawl_spark.operators.redirects import resolve_redirects

    d = F.col("doc_id")
    target = (
        F.when(d % 89 == 7, d + 1000000)
        .when(d % 97 == 3, d - 1)
        .when(d % 97 == 2, d + 1)
        .when(d % 4 == 0, F.lit(None).cast("long"))
        .otherwise(d - 1)
    )
    edges = load_table(spark, sf_dir, "documents").select(
        d.alias("src"), target.alias("dst")
    )
    res = resolve_redirects(edges, max_hops=_MAX_HOPS)
    return res.groupBy("status", "hops").agg(
        F.count(F.lit(1)).alias("n_chains"),
        F.sum("final").alias("sum_final"),
        F.min("src").alias("min_src"),
        F.max("src").alias("max_src"),
    )


# ---------------------------------------------------------------------------
# Mirror-host detection: hosts serving near-identical content sets
# (the IRLbot / Common Crawl mirror problem). Per host: the bottom-k
# (hex order) of its distinct STRIDED 32-char gram fingerprints — a
# fixed-size, RNG-free content sketch. Pair similarity: among the k
# smallest of the UNION of two sketches, count members of both — the
# classic bottom-k Jaccard estimator, fully deterministic, so the
# oracle states the identical integers.
#
# Gram choice matters: 8-char grams (the winnowing base) are common
# English fragments — measured est-Jaccard ~0.3-0.65 for EVERY host
# pair of the corpus, zero discrimination. 32-char verbatim spans
# sampled every 8th position give 174/190 pairs sharing nothing and a
# clean mirror tail (calibrated on sf0.01).
#
# 100 TB: the sketch is <= k rows per host no matter how much content
# the host serves; candidate pairs come from an inverted fp -> host
# join restricted to sketch rows (hosts sharing no bottom-k
# fingerprint can never reach the threshold), so nothing is ever
# all-pairs over hosts. Gram hashing is one vectorized mapInPandas
# pass where the docs live (len/8 digests per doc — no explode, no
# per-position rows leave the task).
# ---------------------------------------------------------------------------

_SKETCH_K = 64
_MIN_SHARED = 2
_MIRROR_GRAM = 32
_MIRROR_STRIDE = 8


def strided_gram_fps(docs: DataFrame) -> DataFrame:
    """(source, fp) distinct strided-gram fingerprints: the md5[0:8]
    of every {gram}-char substring starting at 1-based positions
    1, 1+stride, ... — computed inside Arrow batches, emitting only
    the distinct per-doc fingerprints."""
    import hashlib

    import pandas as pd

    g, st = _MIRROR_GRAM, _MIRROR_STRIDE

    def fp_batches(it):
        md5 = hashlib.md5
        for pdf in it:
            srcs: list = []
            fps: list = []
            for source, body in zip(pdf["source"], pdf["text"]):
                n = len(body) - g + 1
                seen = set()
                for i in range(0, n, st):
                    seen.add(md5(body[i : i + g].encode("utf-8")).hexdigest()[:8])
                srcs.extend([source] * len(seen))
                fps.extend(seen)
            yield pd.DataFrame({"source": srcs, "fp": fps})

    src = docs.select("source", "text")
    src = spread(src)
    return src.mapInPandas(fp_batches, "source string, fp string").distinct()


@_register(
    "mirror_host_sketch_pairs",
    f"""
WITH sfp AS (
  SELECT DISTINCT source, substr(md5(substr(text, i, {_MIRROR_GRAM})), 1, 8) AS fp
  FROM (SELECT source, text,
               unnest(generate_series(1, length(text) - {_MIRROR_GRAM - 1})) AS i
        FROM documents)
  WHERE (i % {_MIRROR_STRIDE}) = 1
),
sk AS (
  SELECT source, fp FROM (
    SELECT source, fp,
           row_number() OVER (PARTITION BY source ORDER BY fp) AS rn
    FROM sfp
  ) WHERE rn <= {_SKETCH_K}
),
srcs AS (SELECT DISTINCT source FROM sk),
prs AS (SELECT a.source AS sa, b.source AS sb
        FROM srcs a JOIN srcs b ON a.source < b.source),
u AS (
  SELECT p.sa, p.sb, s.fp,
         max(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
  FROM prs p JOIN sk s ON s.source IN (p.sa, p.sb)
  GROUP BY 1, 2, 3
),
rk AS (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY fp) AS rn FROM u)
SELECT sa AS source_a, sb AS source_b,
       CAST(sum(in_a * in_b) AS BIGINT) AS shared_in_k,
       CAST(count(*) AS BIGINT) AS k_union
FROM rk WHERE rn <= {_SKETCH_K}
GROUP BY 1, 2
HAVING sum(in_a * in_b) >= {_MIN_SHARED}
""",
)
def q_mirror_host_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host pairs whose bottom-{k} strided-gram sketches share
    >= {min_shared} members within the k smallest of their union —
    content-mirror candidates at O(k) state per host."""
    docs = load_table(spark, sf_dir, "documents")
    sfp = strided_gram_fps(docs)
    wsrc = Window.partitionBy("source").orderBy("fp")
    sk = (
        sfp.withColumn("rn", F.row_number().over(wsrc))
        .filter(F.col("rn") <= _SKETCH_K)
        .drop("rn")
        .localCheckpoint(eager=True)  # 3 consumers; <= k rows per host
    )
    cands = (
        sk.alias("a")
        .join(sk.alias("b"), "fp")
        .filter(F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .distinct()
    )
    side_a = cands.join(sk, cands.sa == sk.source).select(
        "sa", "sb", "fp", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    side_b = cands.join(sk, cands.sb == sk.source).select(
        "sa", "sb", "fp", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        side_a.unionByName(side_b)
        .groupBy("sa", "sb", "fp")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wpair = Window.partitionBy("sa", "sb").orderBy("fp")
    ranked = u.withColumn("rn", F.row_number().over(wpair)).filter(
        F.col("rn") <= _SKETCH_K
    )
    return (
        ranked.groupBy(
            F.col("sa").alias("source_a"), F.col("sb").alias("source_b")
        )
        .agg(
            F.sum(F.col("in_a") * F.col("in_b")).alias("shared_in_k"),
            F.count(F.lit(1)).alias("k_union"),
        )
        .filter(F.col("shared_in_k") >= _MIN_SHARED)
    )
