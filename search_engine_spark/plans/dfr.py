"""Divergence-from-randomness ranking (PL2) — the third classic
ranking family next to BM25 and query-likelihood LM.

The reference exposes exactly one ranker (BM25 variant,
services/impl/SearchServiceImpl.java:269-279); plans/lm.py added the
language-model alternative.  This module adds the DFR family's
flagship instantiation PL2 (Amati & van Rijsbergen, TOIS 2002 —
Poisson randomness model, Laplace first normalization, length
normalization 2; Terrier's default model, also shipped in Lucene as
``DFRSimilarity(P, L, H2)``):

    tfn      = tf · log2(1 + c · avg_len / len_d)          (norm 2)
    λ_t      = cf_t / N                 (Poisson mean; cf = collection
                                         frequency, N = corpus docs)
    w(t, d)  = [ tfn·log2(tfn/λ_t) + (λ_t − tfn)·log2(e)
                 + 0.5·log2(2π·tfn) ] / (tfn + 1)
    score(d) = Σ_{t∈q}  w(t, d)

Determinism/contract choices (mirroring plans/lm.py):
- query terms are the analyzer's DISTINCT term set (qtf = 1);
- terms absent from the corpus (cf 0) are dropped — R1 unknown-lemma
  semantics;
- candidates = union membership (any doc containing ≥1 surviving
  term) — DFR only defines weights for present terms;
- Terrier semantics: per-term weights are NOT clamped at 0 (Lucene
  clamps; the unclamped sum is what the published model specifies and
  what the DuckDB oracle reproduces bit-for-bit);
- tie-break (score desc, id asc), same as the BM25 path.

Scale shape: identical to the LM plan — cf_t for the query's terms is
one filtered-scan aggregate broadcast back as a literal map, N and
avg_len are stored index scalars, and scoring is the SAME single join
of candidates × query-term postings.  All arithmetic is JVM column
expressions inside whole-stage codegen (log2 expressed as ln·(1/ln 2)
so the Spark and DuckDB sides share the exact literal constant).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.lm import collection_tf
from search_engine_spark.plans.search import (
    empty_ranked,
    paginate,
    query_terms,
)

#: log2(e) = 1/ln(2) — the one constant PL2 needs; shared verbatim
#: with the oracle SQL generator so both engines use the same double.
INV_LN2 = 1.0 / math.log(2.0)


def search_pl2(
    index: InvertedIndex,
    query: str,
    c: float = 1.0,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Top-(offset+limit) PL2 results: ``(<id>, site, score, rn)``.

    ``c > 0`` is the length-normalization strength (Terrier default
    1.0; larger c flattens the length penalty).  Collection statistics
    (cf, N, avg_len) are GLOBAL even under a ``sites`` restriction —
    the same global-stats convention as the BM25 path's global-df
    quirk.  Returns an EMPTY frame (same schema) when no query term
    survives analysis/stop-removal.
    """
    if not c > 0.0:
        raise ValueError("PL2 needs c > 0")
    id_col = index.id_col
    terms = query_terms(index, query, lang, analyzer, use_stoplist)
    cf = collection_tf(index, terms)
    terms = sorted(t for t in terms if cf.get(t, 0) > 0)
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col, "site"))

    n_docs = float(index.n_docs)
    lam_col = F.create_map(
        *[
            x
            for t in terms
            for x in (F.lit(t), F.lit(cf[t] / n_docs))
        ]
    )[F.col("term")]

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))

    qpost = index.postings.filter(F.col("term").isin(terms))
    cand_ids = qpost.select(id_col).distinct()
    candidates = cand_ids.join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )

    tfn = F.col("tf").cast("double") * (
        F.log(
            F.lit(1.0)
            + F.lit(float(c)) * F.lit(index.avg_len) / F.col("doc_len")
        )
        * F.lit(INV_LN2)
    )
    contrib = (
        F.col("tfn") * F.log(F.col("tfn") / F.col("lam")) * F.lit(INV_LN2)
        + (F.col("lam") - F.col("tfn")) * F.lit(INV_LN2)
        + F.lit(0.5)
        * F.log(F.lit(2.0 * math.pi) * F.col("tfn"))
        * F.lit(INV_LN2)
    ) / (F.col("tfn") + F.lit(1.0))

    scored = (
        candidates.join(qpost, id_col, "inner")
        .withColumn("lam", lam_col)
        .withColumn("tfn", tfn)
        .withColumn("term_part", contrib)
        .groupBy(id_col, "site")
        .agg(F.sum("term_part").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)


def search_pl2_compact(
    cidx,
    query: str,
    c: float = 1.0,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """:func:`search_pl2` over the PERSISTED compact index —
    rank-identical to the logical path (pytest-pinned); decodes only
    the query terms' segments, which is exactly the set the
    present-term scoring touches."""
    from search_engine_spark.plans.wand import logical_view

    view = logical_view(
        cidx, query_terms(cidx, query, lang, analyzer, use_stoplist)
    )
    return search_pl2(
        view, query, c=c, sites=sites, offset=offset, limit=limit,
        lang=lang, analyzer=analyzer, use_stoplist=use_stoplist,
    )
