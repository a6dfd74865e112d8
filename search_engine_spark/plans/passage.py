"""Passage-level BM25 retrieval — rank documents by their BEST
fixed-width passage (Callan, SIGIR 1994; Liu & Croft 2002's
max-passage document ranking; the shape ES `match` + nested-passage
rerankers and BERT-era two-stage pipelines use for LONG documents).

Whole-document BM25 under-ranks long documents whose relevant content
is one tight region: length normalization divides the hit density by
the FULL document length.  Max-passage ranking scores every
``window``-token passage independently and keeps the best one:

    score(d) = max_w  Σ_t idf_t · bm25(tf_{t,w}, plen_w, avg=window)

with the engine's tf-normalized BM25 variant (plans/search.py R12
semantics) applied at passage granularity — ``plen_w`` is the
passage's own token count and the length normalizer's reference
length is the nominal ``window`` (passages are fixed-width by
construction, so "average passage length" IS the window; the final
partial passage is shorter and normalizes accordingly).  IDF stays
DOCUMENT-level Robertson (global df / N, negative-ratio drop,
stop-list removal — identical to the forward search path), because
"how discriminative is this term" is a corpus property, not a
passage property.

Determinism/contract:
- passages are disjoint ``window``-token spans: passage id
  ``w = pos // window`` (0-based token positions);
- candidates = union membership over the surviving query terms;
- per doc the best passage breaks score ties on LOWEST w; docs rank
  (score desc, id asc).  Returns ``(<id>, passage, score, rn)`` with
  ``passage`` = the winning w (its token offset is w·window).

Scale shape: ONE pass over the query terms' positional postings
(partition-prunable on the persisted positional table) → per
(doc, passage, term) counts → per-(doc, passage) scores — all
map-side-combined aggregates.  Passage lengths are NOT a second
corpus scan: a fixed-width split means ``plen_w`` is pure arithmetic
over ``doc_len`` (``window`` for interior passages, ``doc_len mod
window`` for the tail), so only the doc_lens table joins in.  The
per-doc max is a tiny aggregate keyed by the candidate docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.operators.phrases import positional_postings
from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    empty_ranked,
    paginate,
    query_term_idf,
    query_terms,
)


def passage_topk(
    index: InvertedIndex,
    enriched: DataFrame,
    query: str,
    window: int = 50,
    offset: int = 0,
    limit: int = 10,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    tokens_col_name: str = "tokens",
) -> DataFrame:
    """Top-(offset+limit) max-passage BM25 results
    ``(<id>, passage, score, rn)``.

    ``index`` supplies the document-level statistics (term_stats /
    stoplist / doc_lens — the same global stats the forward path
    uses); ``enriched`` supplies the token arrays the passages split
    (positions derive by posexplode; feed the persisted positional
    table's source for serving at rest).  ``tokens_col_name`` must
    hold the SAME term space the index was analyzed with — surface
    tokens for ``analyzer="tokens"``, the lemma stream for
    ``analyzer="lemma"`` — else inflected query terms can't meet
    their positions."""
    if window < 1:
        raise ValueError("passage window must be >= 1")
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b

    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist)
    )
    terms = sorted(idf)
    if not terms:
        return empty_ranked(
            index.doc_lens.select(id_col, F.lit(0).alias("passage"))
        )

    pos = positional_postings(enriched, id_col, tokens_col_name).filter(
        F.col("term").isin(terms)
    )
    wtf = (
        pos.withColumn(
            "w", F.floor(F.col("pos") / F.lit(window)).cast("int")
        )
        .groupBy(id_col, "w", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    # passage length from doc_len arithmetic — no second corpus scan
    lens = index.doc_lens.select(id_col, "doc_len")
    joined = wtf.join(lens, id_col)
    plen = F.when(
        (F.col("w") + 1) * F.lit(window) <= F.col("doc_len"),
        F.lit(float(window)),
    ).otherwise(
        (F.col("doc_len") - F.col("w") * F.lit(window)).cast("double")
    )

    idf_col = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
    )[F.col("term")]
    tfn = F.col("tf").cast("double") / F.col("_plen")
    term_score = (
        idf_col
        * tfn
        * F.lit(k1 + 1.0)
        / (
            tfn
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("_plen") / F.lit(float(window))
            )
        )
    )
    pscore = (
        joined.withColumn("_plen", plen)
        .withColumn("term_score", term_score)
        .groupBy(id_col, "w")
        .agg(F.sum("term_score").alias("pscore"))
    )
    best_w = Window.partitionBy(id_col).orderBy(
        F.desc("pscore"), F.asc("w")
    )
    best = (
        pscore.withColumn("_r", F.row_number().over(best_w))
        .filter(F.col("_r") == 1)
        .select(
            id_col,
            F.col("w").alias("passage"),
            F.col("pscore").alias("score"),
        )
    )
    return paginate(best, id_col, offset, limit)
