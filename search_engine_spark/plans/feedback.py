"""Pseudo-relevance-feedback (Rocchio) query expansion.

Classic blind relevance feedback (Rocchio 1971; Robertson/Sparck
Jones term-selection tradition, see Manning et al. IR ch. 9): run the
query, assume the top ``fb_docs`` results are relevant, pick the
``fb_terms`` highest-weight terms from those documents, and re-score
with the expanded query, expansion terms down-weighted by ``beta``.

This extends the reference's query surface (the reference's search
lifecycle, services/impl/SearchServiceImpl.java:55-99, has no
feedback loop); everything reuses the production BM25 machinery from
``plans.search`` so PRF stays rank-consistent with the main path.

Determinism contract (mirrored 1:1 by the DuckDB oracle in
``__spark_entry__.py``):

- feedback docs = top ``fb_docs`` of the standard rarest-candidate
  BM25 ranking by (round(score, 6) desc, doc_id asc);
- expansion weight w(t) = Σ_{d ∈ FB} (tf/doc_len) · idf(t) — the
  Rocchio centroid coordinate under this engine's pre-normalized tf
  — over terms NOT in the original query, not stop-listed, with
  positive Robertson idf; top ``fb_terms`` by (round(w, 6) desc,
  term asc);
- final score(d) = Σ_orig bm25(t, d) + beta · Σ_exp bm25(t, d) over
  union candidates (any doc containing any kept term), ranked by
  (score desc, doc_id asc).

Rounding before ranking is deliberate: both engines rank on the
SAME 1e-6-granular key, so last-ulp float summation differences can
never flip an ordering (ties fall through to the lexical tiebreak).

Scale shape: the feedback-doc frame is ≤ fb_docs rows (broadcast
into the postings join), expansion-term selection is one map-side-
combined aggregate over the feedback docs' postings (≤ fb_docs ×
doc_len rows), and the final pass costs the same as a (|q| +
fb_terms)-term union search — no corpus scan anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    _scored_pool,
    analyze_query,
    bm25_term_score_col,
    empty_ranked,
    paginate,
    query_term_idf,
    query_terms,
)


def prf_expansion_terms(
    index: InvertedIndex,
    query: str,
    fb_docs: int = 10,
    fb_terms: int = 5,
    lang: str = "english",
    analyzer: str = "lemma",
) -> list[tuple[str, float]]:
    """Top ``fb_terms`` Rocchio expansion terms for ``query`` →
    [(term, weight)] sorted by (round(weight, 6) desc, term asc).

    Driver-sized by construction: the returned list is ≤ fb_terms
    entries, and the only collect is that list."""
    id_col = index.id_col
    scored, _ = _scored_pool(
        index, query, None, lang, analyzer, True, False, 1,
        "rarest", None,
    )
    if scored is None:
        return []
    orig = set(analyze_query(query, lang, analyzer))

    fb_ids = (
        scored.orderBy(
            F.desc(F.round("score", 6)), F.asc(id_col)
        )
        .limit(fb_docs)
        .select(id_col)
    )

    n = index.n_docs
    # Robertson idf as a column over term_stats (positivity-dropped,
    # same guard as query_term_idf)
    ratio = (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    idf_terms = (
        index.term_stats.withColumn("idf", F.log(ratio))
        .filter(ratio > 0)
        .select("term", "idf")
    )

    stop = set(index.stoplist)
    fb_post = (
        index.postings.join(F.broadcast(fb_ids), id_col)
        .filter(~F.col("term").isin(sorted(orig | stop)))
        .join(index.doc_lens.select(id_col, "doc_len"), id_col)
        .join(idf_terms, "term")
    )
    rows = (
        fb_post.groupBy("term")
        .agg(
            F.sum(
                F.col("tf").cast("double") / F.col("doc_len")
                * F.col("idf")
            ).alias("w")
        )
        .orderBy(F.desc(F.round("w", 6)), F.asc("term"))
        .limit(fb_terms)
        .collect()
    )
    return [(r["term"], float(r["w"])) for r in rows]


def search_prf(
    index: InvertedIndex,
    query: str,
    fb_docs: int = 10,
    fb_terms: int = 5,
    beta: float = 0.4,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
) -> DataFrame:
    """Rocchio-expanded BM25 top-(offset+limit): (id, site, score, rn).

    ``beta`` scales expansion-term contributions (original terms keep
    weight 1.0). Candidates are the UNION over original + expansion
    terms, so feedback widens recall as well as re-ranking."""
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b

    idf = query_term_idf(index, query_terms(index, query, lang, analyzer))
    weights = {t: 1.0 for t in idf}

    exp = prf_expansion_terms(
        index, query, fb_docs, fb_terms, lang, analyzer
    )
    exp_idf = query_term_idf(index, [t for t, _ in exp])
    for t, _ in exp:
        if t in exp_idf and t not in weights:
            weights[t] = float(beta)
            idf[t] = exp_idf[t]

    all_terms = sorted(weights)
    if not all_terms:
        return empty_ranked(index.doc_lens.select(id_col, "site"))

    wt_col = F.create_map(
        *[x for t in all_terms for x in (F.lit(t), F.lit(weights[t]))]
    )[F.col("term")]
    cand_ids = (
        index.postings.filter(F.col("term").isin(all_terms))
        .select(id_col)
        .distinct()
    )
    qpost = index.postings.filter(F.col("term").isin(all_terms))
    scored = (
        cand_ids.join(
            index.doc_lens.select(id_col, "site", "doc_len"), id_col
        )
        .join(qpost, id_col, "inner")
        .withColumn(
            "term_score",
            wt_col * bm25_term_score_col(idf, k1, b, index.avg_len),
        )
        .groupBy(id_col, "site")
        .agg(F.sum("term_score").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)
