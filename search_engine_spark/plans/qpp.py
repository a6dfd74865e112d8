"""Query performance prediction (QPP) — estimate how well a query
will perform BEFORE spending full retrieval on it (router/planner
primitive: route hard queries to expansion/rescoring, easy ones to
the cheap path).

Two published predictor families:

- **Pre-retrieval** (He & Ounis, SPIRE 2004; Zhao/Scholer/Tsegay
  2008's SCQ): pure functions of the query terms' collection
  statistics — no postings touched:

    * ``avg_idf`` / ``max_idf`` — Robertson IDF moments (specific
      queries are easier);
    * ``scs`` — simplified clarity score
      Σ_t (1/|q|)·log2((1/|q|) / P(t|C)) (query-vs-collection KL
      under a uniform query model);
    * ``avg_scq`` — Σ-collection-query similarity
      (1 + ln cf_t)·idf_t averaged over terms.

- **Post-retrieval clarity** (Cronen-Townsend, Zhou & Croft, SIGIR
  2002): KL divergence between the relevance model of the top-``k``
  retrieved docs and the collection language model,

      clarity = Σ_w P(w|R) · log2( P(w|R) / P(w|C) )

  with ``P(w|R) = Σ_{d∈topk} P(w|d)·P(d)`` (uniform doc prior,
  MLE doc models) over the words of the top-``k`` docs.  Unfocused
  result sets look like the collection (clarity → 0); focused ones
  diverge.

Determinism/contract: analyzer's distinct term set; unknown terms
(cf 0) drop (R1); top-k comes from the production BM25 path with its
(score desc, id asc) tie-break; P(w|R) sums follow a fixed term
order.  Scale shape: pre-retrieval reads ONLY broadcastable stats
(one metadata probe); clarity touches the top-``k`` docs' term
vectors — an id-keyed postings probe (k ≤ 100 rows' worth of lists,
the same point-probe shape as more_like_this) plus one tiny
aggregation; P(w|C) for exactly the observed words joins from
term-level cf sums, never a full-vocabulary pass.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.lm import collection_tf
from search_engine_spark.plans.search import (
    query_term_idf,
    query_terms,
    search,
)


def preretrieval_predictors(
    index: InvertedIndex,
    query: str,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> dict[str, float]:
    """``{n_terms, avg_idf, max_idf, scs, avg_scq}`` for ``query`` —
    driver-side arithmetic over one stats probe.  Empty/unknown
    queries return all-zero predictors (the hardest possible
    query)."""
    terms = query_terms(index, query, lang, analyzer, use_stoplist)
    idf = query_term_idf(index, terms)
    cf = collection_tf(index, terms)
    terms = sorted(t for t in terms if t in idf and cf.get(t, 0) > 0)
    zero = {
        "n_terms": 0.0, "avg_idf": 0.0, "max_idf": 0.0,
        "scs": 0.0, "avg_scq": 0.0,
    }
    if not terms:
        return zero
    total_tokens = float(round(index.avg_len * index.n_docs))
    m = len(terms)
    idfs = [idf[t] for t in terms]
    scs = sum(
        (1.0 / m) * math.log2((1.0 / m) / (cf[t] / total_tokens))
        for t in terms
    )
    scq = [(1.0 + math.log(cf[t])) * idf[t] for t in terms]
    return {
        "n_terms": float(m),
        "avg_idf": sum(idfs) / m,
        "max_idf": max(idfs),
        "scs": scs,
        "avg_scq": sum(scq) / m,
    }


def clarity_score(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    candidates: str = "rarest",
) -> float:
    """Post-retrieval clarity (Cronen-Townsend et al. 2002) of the
    production BM25 top-``k`` for ``query``; 0.0 when retrieval is
    empty."""
    id_col = index.id_col
    top = search(
        index, query, limit=k, lang=lang, analyzer=analyzer,
        use_stoplist=use_stoplist, candidates=candidates,
    ).select(id_col)
    n_top = top.count()
    if n_top == 0:
        return 0.0

    # P(w|R): term vectors of the top-k docs — one BROADCAST-driven
    # id-keyed postings probe (partition-prunable on the doc-bucketed
    # layout) + one map-side-combined per-term sum; never collected
    p_rel = (
        index.postings.join(F.broadcast(top), id_col)
        .join(index.doc_lens.select(id_col, "doc_len"), id_col)
        .withColumn(
            "_pr",
            (F.col("tf").cast("double") / F.col("doc_len"))
            / F.lit(float(n_top)),
        )
        .groupBy("term")
        .agg(F.sum("_pr").alias("pr"))
    )
    # P(w|C) for exactly the observed words: cf via a semi-joined
    # per-term sum — O(top-k vocabulary), never the full dictionary
    cf = (
        index.postings.join(
            F.broadcast(p_rel.select("term")), "term", "left_semi"
        )
        .groupBy("term")
        .agg(F.sum("tf").cast("double").alias("cf"))
    )
    total_tokens = float(round(index.avg_len * index.n_docs))
    kl = (
        p_rel.join(cf, "term")
        .select(
            F.sum(
                F.col("pr")
                * F.log2(
                    F.col("pr") / (F.col("cf") / F.lit(total_tokens))
                )
            ).alias("clarity")
        )
        .collect()[0]["clarity"]
    )
    return float(kl)


def qpp_table(
    index: InvertedIndex,
    queries: list[str],
    k: int = 10,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """One row per query: ``(query_id, n_terms, avg_idf, max_idf,
    scs, avg_scq, clarity)`` — the predictor feature table a query
    router trains on."""
    spark = index.postings.sparkSession
    rows = []
    for qid, q in enumerate(queries):
        pre = preretrieval_predictors(
            index, q, lang, analyzer, use_stoplist
        )
        cl = clarity_score(
            index, q, k=k, lang=lang, analyzer=analyzer,
            use_stoplist=use_stoplist,
        )
        rows.append(
            (
                qid, int(pre["n_terms"]), pre["avg_idf"],
                pre["max_idf"], pre["scs"], pre["avg_scq"], cl,
            )
        )
    return spark.createDataFrame(
        rows,
        "query_id int, n_terms int, avg_idf double, max_idf double,"
        " scs double, avg_scq double, clarity double",
    )
