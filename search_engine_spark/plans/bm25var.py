"""BM25+ and BM25L — the lower-bounded BM25 variants (Lv & Zhai,
CIKM 2011; surveyed in Trotman/Puurula/Burgess 2014 "Improvements to
BM25 and Language Models Examined").

Plain BM25's length normalization can drive a long document's term
contribution BELOW what a document not containing the term at all
would get — over-penalizing long docs.  Both fixes lower-bound the
per-term contribution of PRESENT terms and keep the engine's
tf-normalized variant (plans/search.py R12 semantics: tfn = tf/len)
and Robertson IDF with negatives kept:

- **BM25+** adds a flat δ to the saturated tf factor:

      w(t, d) = idf_t · ( tfn·(k1+1)/(tfn + k1·(1−b+b·len/avg)) + δ )

- **BM25L** shifts the NORMALIZED tf by δ before saturation, with
  the c′ = tfn/(1−b+b·len/avg) rewrite:

      c′      = tfn / (1−b+b·len/avg)
      w(t, d) = idf_t · (k1+1)·(c′+δ) / (k1 + c′ + δ)

Both are scored by the forward path's own candidate-and-join stage
(``plans.search._scored_pool``: reference R13 rarest-term by default,
"union"/"all" available) — only the per-posting column expression
differs, so plan shape, shuffles and broadcast behavior are
byte-identical to plain ``search``.  δ defaults: 1.0 (BM25+), 0.5
(BM25L) — the papers' recommendations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import _scored_pool, paginate


def bm25_variant_term_score_col(
    idf_map: dict[str, float],
    k1: float,
    b: float,
    avg_len: float,
    variant: str,
    delta: float,
) -> F.Column:
    """Per-posting contribution over (term, tf, doc_len) for
    ``variant`` in {"plus", "l"} — one whole-stage-codegen column
    expression, the variant twin of
    :func:`plans.search.bm25_term_score_col`."""
    terms = sorted(idf_map)
    idf_col = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf_map[t]))]
    )[F.col("term")]
    tfn = F.col("tf").cast("double") / F.col("doc_len")
    norm = F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avg_len)
    if variant == "plus":
        sat = tfn * F.lit(k1 + 1.0) / (tfn + F.lit(k1) * norm)
        return idf_col * (sat + F.lit(float(delta)))
    if variant == "l":
        cprime = tfn / norm
        return (
            idf_col
            * F.lit(k1 + 1.0)
            * (cprime + F.lit(float(delta)))
            / (F.lit(k1) + cprime + F.lit(float(delta)))
        )
    raise ValueError(f"unknown BM25 variant {variant!r}")


def search_bm25_variant(
    index: InvertedIndex,
    query: str,
    variant: str = "plus",
    delta: float | None = None,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    candidates: str = "rarest",
) -> DataFrame:
    """Top-(offset+limit) BM25+/BM25L results
    ``(<id>, site, score, rn)`` — same lifecycle and tie-break as
    :func:`plans.search.search`, variant scoring expression."""
    if variant not in ("plus", "l"):
        raise ValueError(f"unknown BM25 variant {variant!r}")
    if delta is None:
        delta = 1.0 if variant == "plus" else 0.5
    k1, b = index.config.bm25.k1, index.config.bm25.b

    def term_score(idf):
        return bm25_variant_term_score_col(
            idf, k1, b, index.avg_len, variant, delta
        )

    scored, empty = _scored_pool(
        index, query, sites, lang, analyzer, use_stoplist,
        candidates=candidates, term_score=term_score,
    )
    if scored is None:
        return empty
    return paginate(scored, index.id_col, offset, limit)
