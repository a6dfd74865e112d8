"""Champion lists (tiered retrieval, IIR ch. 7 §7.1.3/§7.2.1).

Static index pruning for head-query latency: at index time, keep for
every term the ``m`` documents with the highest static term quality —
under this engine's pre-normalized tf that is ``tf / doc_len`` (the
quantity BM25 is monotone in for a fixed term and doc length
regime). At query time, tier 1 scores ONLY the union of the query
terms' champion lists — ≤ m·|q| candidates regardless of posting
list length — and optionally falls back to the exact full-postings
search when tier 1 can't fill the page.

Scale shape: the champion table is built with one window over the
postings (a single shuffle by term, already the index's
partitioning), its size is bounded by m·|vocab| rows — orders of
magnitude below the postings at web scale, broadcastable per-query
after the term filter. Query-time cost is independent of how long
the head terms' posting lists grow, which is the entire point at
100 TB: a stop-word-adjacent term with a 10⁹-doc posting list still
contributes exactly m candidates.

Determinism (mirrored by the DuckDB oracle): champion membership is
rank ≤ m by (round(tf/doc_len, 6) desc, doc_id asc); final ranking
is the standard (score desc, id asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    bm25_term_score_col,
    empty_ranked,
    paginate,
    query_term_idf,
    query_terms,
)


def build_champion_lists(index: InvertedIndex, m: int = 50) -> DataFrame:
    """(term, doc_id-typed id column) of each term's top-``m`` docs
    by (round(tf/doc_len, 6) desc, id asc) — an index-time artifact,
    persist it next to term_stats."""
    id_col = index.id_col
    w = Window.partitionBy("term").orderBy(
        F.desc(F.round(F.col("tf").cast("double") / F.col("doc_len"), 6)),
        F.asc(id_col),
    )
    return (
        index.postings.join(
            index.doc_lens.select(id_col, "doc_len"), id_col
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m)
        .select("term", id_col)
    )


def search_champions(
    index: InvertedIndex,
    query: str,
    m: int = 50,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    champions: DataFrame | None = None,
    exact_fallback: bool = True,
) -> DataFrame:
    """Tiered BM25 top-(offset+limit): (id, site, score, rn).

    Tier 1 candidates = union of the query terms' champion lists;
    candidates are scored against the FULL query-term postings (a
    champion of one term still accumulates its other-term
    contributions), so tier-1 scores equal the exact scores — only
    recall is pruned. With ``exact_fallback=True`` (default), when
    tier 1 yields fewer than offset+limit docs the query transparently
    re-runs as an exact union search; pass False for the fixed-cost
    latency-bound variant (the contract/oracle query, branch-free).

    ``champions`` accepts a precomputed :func:`build_champion_lists`
    frame (the index-time artifact); omitted, it is derived on the
    fly (correct but pays the window).
    """
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b

    idf = query_term_idf(index, query_terms(index, query, lang, analyzer))
    terms = sorted(idf)
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col, "site"))

    champ = (
        champions
        if champions is not None
        else build_champion_lists(index, m)
    )
    cand_ids = (
        champ.filter(F.col("term").isin(terms))
        .select(id_col)
        .distinct()
    )

    qpost = index.postings.filter(F.col("term").isin(terms))
    scored = (
        cand_ids.join(
            index.doc_lens.select(id_col, "site", "doc_len"), id_col
        )
        .join(qpost, id_col, "inner")
        .withColumn(
            "term_score",
            bm25_term_score_col(idf, k1, b, index.avg_len),
        )
        .groupBy(id_col, "site")
        .agg(F.sum("term_score").alias("score"))
    )
    if exact_fallback:
        # driver-sized check: tier-1 pool cardinality, not its rows
        if scored.limit(offset + limit).count() < offset + limit:
            from search_engine_spark.plans.search import search

            return search(
                index, query, offset=offset, limit=limit, lang=lang,
                analyzer=analyzer, candidates="union",
            )
    return paginate(scored, id_col, offset, limit)
