"""Text-analysis functions for the training-data pipeline layer.

All pure Catalyst expressions (JVM-side) so they hold up on 100 TB of
documents: no Python UDFs, every function is whole-stage-codegen'd and
runs at scan speed after predicate pushdown.

These operate on the ``documents(doc_id, text, lang, source, n_chars)``
corpus table; oracle-checkable in DuckDB (see plans/queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenization.
_WS = r"\s+"


def token_count_ws(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, _WS))).cast("int")


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alnum, non-space chars."""
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def _tokens(text: Column) -> Column:
    return F.split(F.regexp_replace(F.lower(F.trim(text)), _WS, " "), " ")


def stopword_hits(text: Column, stopwords: tuple[str, ...]) -> Column:
    """Total occurrences of the given stopwords as whole whitespace
    tokens. Token-filter based (not ``\\b`` regex) so semantics are
    identical across regex engines incl. non-ASCII markers."""
    toks = _tokens(text)
    total = F.lit(0)
    for w in stopwords:
        total = total + F.size(F.filter(toks, lambda x: x == F.lit(w)))
    return total.cast("int")


DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to")


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality score: length band + low punct + stopword
    presence. Deterministic, SQL-expressible (oracle in DuckDB)."""
    toks = token_count_ws(text).cast("double")
    length_band = F.when((toks >= 10) & (toks <= 5000), F.lit(0.5)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) < 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_hits(text, DEFAULT_STOPWORDS) > 0, F.lit(0.25)).otherwise(F.lit(0.0))
    return length_band + punct_ok + stop_ok


# Language-ID: marker-token relative frequency. The marker lists are
# deliberately tiny & deterministic so the same scoring is replicable in
# the DuckDB oracle; at production scale the lists grow but the operator
# shape (score per language -> greatest-by) is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "es": ("el", "la", "los"),
    "zh": ("的", "是"),
    "vi": ("của", "và"),
}


def _marker_score(text: Column, markers: tuple[str, ...]) -> Column:
    return stopword_hits(text, markers)


def lang_id(text: Column, default: str = "en") -> Column:
    """argmax over per-language marker scores; ties broken by language
    code order (deterministic); all-zero -> default."""
    scores = {lang: _marker_score(text, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    result = F.lit(default)
    # walk languages in reverse-sorted order so the FIRST (sorted) wins ties
    for lang in sorted(scores, reverse=True):
        result = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(result)
    return result
