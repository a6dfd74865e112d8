"""Scoring explanation — Lucene/ES ``_explain`` parity for the BM25
path: the per-term breakdown of one document's score for one query.

The reference surfaces only the final relevance float
(dto/SnippetItem.java:8-15); search UIs and relevance debugging need
the decomposition (which term contributed what, through which tf /
df / idf / length-normalization values).  This reuses the EXACT
machinery of :func:`plans.search.search` — the same analyzer,
stop-list, :func:`query_term_idf` (global-df/local-N quirk included)
and :func:`bm25_term_score_col` expression — restricted to one
document, so the components provably sum to the production score
(pytest-pinned to float equality).

Scale shape: one ``term IN (query terms)`` postings probe filtered
to the document (partition/bucket-prunable on a compact index via
``logical_view``), one broadcast of driver-sized query stats.  The
result is |query|-rows — metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    bm25_term_score_col,
    query_term_idf,
    query_terms,
)


def explain_score(
    index: InvertedIndex,
    query: str,
    doc_id,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """``(term, tf, doc_len, df, idf, tf_norm, term_score)`` — one
    row per surviving query term PRESENT in the document (absent
    terms contribute exactly 0 under R12 and are omitted, matching
    the scoring join's inner semantics).  ``sum(term_score)`` equals
    the document's :func:`plans.search.search` score bit-for-bit
    (same column expression, same float order per term)."""
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b
    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist),
        sites,
    )
    terms = sorted(idf)

    empty = (
        index.postings.select("term", "tf")
        .limit(0)
        .withColumn("doc_len", F.lit(0))
        .withColumn("df", F.lit(0).cast("long"))
        .withColumn("idf", F.lit(0.0))
        .withColumn("tf_norm", F.lit(0.0))
        .withColumn("term_score", F.lit(0.0))
    )
    if not terms:
        return empty

    doc = index.doc_lens.filter(F.col(id_col) == doc_id).select(
        id_col, "doc_len"
    )
    rows = (
        index.postings.filter(
            (F.col(id_col) == doc_id) & F.col("term").isin(terms)
        )
        .join(F.broadcast(doc), id_col)
        .join(
            F.broadcast(
                index.term_stats.filter(F.col("term").isin(terms))
            ),
            "term",
        )
    )
    idf_col = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
    )[F.col("term")]
    return rows.select(
        "term",
        "tf",
        "doc_len",
        F.col("df").cast("long").alias("df"),
        idf_col.alias("idf"),
        (F.col("tf").cast("double") / F.col("doc_len")).alias(
            "tf_norm"
        ),
        bm25_term_score_col(idf, k1, b, index.avg_len).alias(
            "term_score"
        ),
    ).orderBy("term")
