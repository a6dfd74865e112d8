"""Classic vector-space ranking — SMART lnc.ltc TF-IDF cosine.

The third member of the ranking family next to BM25
(`plans/search.py`, reference `SearchServiceImpl.java` semantics)
and Dirichlet query likelihood (`plans/lm.py`): the
Salton/Buckley SMART scheme used as the default example in
Manning/Raghavan/Schütze IIR §6.4,

    score(q, d) = Σ_t  w_d(t) · w_q(t) / (‖d‖ · ‖q‖)

with document side **lnc** (log tf ``1 + ln tf``, no idf, cosine
norm) and query side **ltc** (log tf · ``ln(N/df)`` idf, cosine
norm).  The query norm is a positive constant per query — it never
changes ranks, but is kept so the score is a true cosine in [0, 1].

Scale shape:
- ``vsm_doc_norms`` is a one-pass map-side-combined aggregate over
  the postings — an index-time statistic like ``doc_len``; compute
  it once at build time and pass it in (it is recomputed per call
  only as a convenience default).
- the query path is the same shape as BM25: driver-sized term
  stats, candidate generation = the query-term postings only, one
  aggregate + one join against the norms, distributed top-k
  (TakeOrderedAndProject).  Nothing corpus-sized is collected.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import empty_ranked, paginate

__all__ = ["vsm_doc_norms", "vsm_topk"]


def _query_tf(query: str, lang: str, analyzer: str) -> dict[str, int]:
    """Term → raw query tf (duplicates counted — ltc needs them,
    unlike the BM25 path's distinct-terms convention)."""
    if analyzer == "lemma":
        from search_engine_spark.functions.textproc import (
            lemma_counts_py,
        )

        return dict(lemma_counts_py(query, lang))
    from search_engine_spark.functions.textproc import tokenize_py

    return dict(Counter(tokenize_py(query, lang)))


def vsm_doc_norms(index: InvertedIndex) -> DataFrame:
    """``(<id>, vnorm)`` — per-document lnc cosine norm
    ``sqrt(Σ_t (1 + ln tf)²)`` over ALL the document's terms.

    One map-side-combined aggregate over the postings; persist the
    result next to ``doc_lens`` at build time for query-time reuse.
    """
    w = F.pow(F.lit(1.0) + F.log(F.col("tf").cast("double")), 2)
    return (
        index.postings.groupBy(index.id_col)
        .agg(F.sqrt(F.sum(w)).alias("vnorm"))
    )


def vsm_topk(
    index: InvertedIndex,
    query: str,
    limit: int = 10,
    offset: int = 0,
    lang: str = "english",
    analyzer: str = "lemma",
    doc_norms: DataFrame | None = None,
) -> DataFrame:
    """``(<id>, score, rn)`` — lnc.ltc cosine top-k.

    OR-mode candidates (any query term matches — the natural VSM
    semantics); score rounded to 6 decimals, ties break on the id
    ascending.  ``doc_norms`` accepts a precomputed
    :func:`vsm_doc_norms` frame (the build-time path).
    """
    id_col = index.id_col
    tf_q = _query_tf(query, lang, analyzer)
    terms = sorted(tf_q)
    empty = empty_ranked(index.doc_lens.select(id_col))
    if not terms:
        return empty
    df_rows = (
        index.term_stats.filter(F.col("term").isin(terms)).collect()
    )
    n = float(index.n_docs)
    # terms absent from the dictionary drop out (same rule as R1);
    # df == N gives idf 0 — kept, it contributes nothing, as in SMART
    w_q = {}
    for r in df_rows:
        df = float(r["df"])
        if df > 0:
            w_q[r["term"]] = (
                (1.0 + math.log(tf_q[r["term"]])) * math.log(n / df)
            )
    if not w_q:
        return empty
    qnorm = math.sqrt(sum(w * w for w in w_q.values()))
    if qnorm == 0.0:
        return empty
    wq_col = F.create_map(
        *[x for t in sorted(w_q) for x in (F.lit(t), F.lit(w_q[t]))]
    )[F.col("term")]
    contrib = (
        (F.lit(1.0) + F.log(F.col("tf").cast("double"))) * wq_col
    )
    norms = doc_norms if doc_norms is not None else vsm_doc_norms(index)
    scored = (
        index.postings.filter(F.col("term").isin(sorted(w_q)))
        .withColumn("__c", contrib)
        .groupBy(id_col)
        .agg(F.sum("__c").alias("__num"))
        .join(norms, id_col)
        .select(
            id_col,
            F.round(
                F.col("__num") / (F.col("vnorm") * F.lit(qnorm)), 6
            ).alias("score"),
        )
    )
    return paginate(scored, id_col, offset, limit)
