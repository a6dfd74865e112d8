"""Query-likelihood ranking with Dirichlet smoothing — the second
classic ranking family next to BM25.

The reference exposes exactly one ranker (BM25 variant,
services/impl/SearchServiceImpl.java:269-279).  This module adds the
standard language-model alternative (Zhai & Lafferty, SIGIR 2001):

    score(d, q) = Σ_{t∈q} log(1 + tf_td / (μ · P(t|C)))
                  + |q| · log(μ / (len_d + μ))

where ``P(t|C) = cf_t / |C|`` is the collection unigram model
(``cf_t`` = total occurrences of t in the corpus, ``|C|`` = total
token count).  This is the canonical rank-preserving decomposition of
the smoothed query likelihood: the first sum only touches (doc, term)
pairs that EXIST in the postings, so scoring never needs the absent-
term cross product — exactly the shape an inverted index serves.

Determinism/contract choices (mirroring the engine's term path):
- query terms are the analyzer's DISTINCT term set (qtf = 1 each,
  like :func:`plans.search.analyze_query`);
- terms absent from the corpus (cf 0) are dropped — R1 unknown-lemma
  semantics (they would add a per-doc constant under Dirichlet
  smoothing anyway, shifting every score equally);
- candidates = union membership (any doc containing ≥1 surviving
  term), the natural recall set for a likelihood ranker;
- tie-break (score desc, id asc), same as the BM25 path.

Scale shape: ``cf_t`` for the query's terms is one filtered-scan
aggregate (broadcast back as a literal map); ``|C|`` is a stored
scalar (Σ doc_len — already in the index stats).  The scoring join
is the SAME one join of candidates × query-term postings as BM25 —
no new shuffle shapes, no UDFs, whole-stage codegen throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    empty_ranked,
    paginate,
    query_terms,
)


def collection_tf(
    index: InvertedIndex, terms: list[str]
) -> dict[str, int]:
    """{term: collection frequency} for the query's terms — one
    ``term IN (...)`` filtered-scan aggregate over the postings."""
    if not terms:
        return {}
    rows = (
        index.postings.filter(F.col("term").isin(sorted(set(terms))))
        .groupBy("term")
        .agg(F.sum("tf").alias("cf"))
        .collect()
    )
    return {r["term"]: int(r["cf"]) for r in rows}


def search_lm(
    index: InvertedIndex,
    query: str,
    mu: float = 2000.0,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    smoothing: str = "dirichlet",
    lam: float = 0.1,
) -> DataFrame:
    """Top-(offset+limit) query-likelihood results:
    ``(<id>, site, score, rn)``.

    ``smoothing="dirichlet"`` (default): ``mu`` is the Dirichlet
    pseudo-count (typical 1000–2500; Zhai & Lafferty's sweet spot).
    ``smoothing="jm"``: Jelinek–Mercer interpolation
    ``P(t|d) = (1−λ)·tf/len + λ·P(t|C)`` with mixing weight
    ``lam`` (Zhai & Lafferty's λ; ~0.1 for short queries, ~0.7 for
    long).  Its rank-preserving present-term decomposition is

        score(d) = Σ_{t∈q, tf>0} log(1 + ((1−λ)/λ) · tf_td
                                       / (len_d · P(t|C)))

    — same candidate set, same single join, no per-doc constant term
    (JM's doc-independent part is a per-term constant, droppable).

    Collection statistics (cf, |C|) are GLOBAL even under a ``sites``
    restriction — the same global-stats convention as the BM25 path's
    global df / global avg_len quirk.
    """
    if smoothing not in ("dirichlet", "jm"):
        raise ValueError(f"unknown smoothing {smoothing!r}")
    if smoothing == "jm" and not (0.0 < lam < 1.0):
        raise ValueError("jm smoothing needs 0 < lam < 1")
    id_col = index.id_col
    terms = query_terms(index, query, lang, analyzer, use_stoplist)
    cf = collection_tf(index, terms)
    terms = sorted(t for t in terms if cf.get(t, 0) > 0)
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col, "site"))

    # |C| = Σ doc_len over the whole corpus — an INTEGER; avg_len is
    # stored as sum/n in double, so avg_len·n_docs recovers it to
    # within ~|C|·2⁻⁵² ≪ 0.5 and round() restores the exact integer
    # (keeps the oracle SQL's exact-sum arithmetic bit-comparable)
    total_tokens = float(round(index.avg_len * index.n_docs))
    mu = float(mu)

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))

    qpost = index.postings.filter(F.col("term").isin(terms))
    cand_ids = qpost.select(id_col).distinct()
    candidates = cand_ids.join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )

    # per-(doc, term) present-term contribution:
    #   dirichlet: log(1 + tf / (mu * cf_t / |C|))
    #   jm:        log(1 + ((1−λ)/λ) · tf / (len_d · cf_t / |C|))
    p_col = F.create_map(
        *[
            x
            for t in terms
            for x in (F.lit(t), F.lit(cf[t] / total_tokens))
        ]
    )[F.col("term")]
    n_q = len(terms)
    joined = candidates.join(qpost, id_col, "inner")
    if smoothing == "jm":
        ratio = (1.0 - float(lam)) / float(lam)
        term_part = F.log(
            F.lit(1.0)
            + F.lit(ratio)
            * F.col("tf").cast("double")
            / (F.col("doc_len").cast("double") * p_col)
        )
        scored = (
            joined.withColumn("term_part", term_part)
            .groupBy(id_col, "site", "doc_len")
            .agg(F.sum("term_part").alias("score"))
        )
    else:
        term_part = F.log(
            F.lit(1.0)
            + F.col("tf").cast("double") / (F.lit(mu) * p_col)
        )
        scored = (
            joined.withColumn("term_part", term_part)
            .groupBy(id_col, "site", "doc_len")
            .agg(F.sum("term_part").alias("present_sum"))
            .withColumn(
                "score",
                F.col("present_sum")
                + F.lit(float(n_q))
                * F.log(F.lit(mu) / (F.col("doc_len") + F.lit(mu))),
            )
        )
    return paginate(
        scored, id_col, offset, limit, [id_col, "site", "score"]
    )


def search_lm_compact(
    cidx,
    query: str,
    mu: float = 2000.0,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    smoothing: str = "dirichlet",
    lam: float = 0.1,
) -> DataFrame:
    """:func:`search_lm` over the PERSISTED compact index —
    rank-identical to the logical path (pytest-pinned).  The view
    decodes only the query terms' segments, which is exactly the set
    the present-term decomposition touches; collection frequencies
    computed from those decoded lists are the terms' FULL cf."""
    from search_engine_spark.plans.wand import logical_view

    view = logical_view(
        cidx, query_terms(cidx, query, lang, analyzer, use_stoplist)
    )
    return search_lm(
        view, query, mu=mu, sites=sites, offset=offset, limit=limit,
        lang=lang, analyzer=analyzer, use_stoplist=use_stoplist,
        smoothing=smoothing, lam=lam,
    )
