"""Percolator-style reverse search: match a REGISTERED QUERY SET
against documents (saved-search alerting / topic routing — the
training-data-pipeline primitive for "tag every crawled page with the
curated topics it matches").

The forward path (plans/search.py) runs one query against the corpus.
Percolation inverts the join order: the analyzed query set becomes the
small broadcast side and the corpus streams through it once.  The
reference is single-query only (services/impl/SearchServiceImpl.java
:55-99 — no saved-search surface), so per-query semantics are locked
to its search pipeline instead: same analyzer, stop-lemma removal
(R14/R19), Robertson IDF with the negative-ratio drop (R11), the
rarest-term candidate rule (R13), and BM25 with the tf=rank/len
variant (R12) — `percolate(mode="rarest")` restricted to a single
query is rank-identical to `search()` by construction (shared
`bm25_term_score_col` arithmetic; locked by tests).

Plan shape at 100 TB:

- The query set is the SMALL side by definition (saved searches —
  10^3..10^5 rows).  Its analysis happens driver-side through the
  *identical* `analyze_query` used by the forward path, and the
  idf collect is bounded by the query-set vocabulary via
  `query_term_idf` — never by the corpus.
- Matching is ONE broadcast hash join `postings ⋈ query_terms` —
  postings rows for non-query terms are discarded map-side without
  shuffling; the only shuffle is the partial-aggregating
  `groupBy(query_id, doc)` over matched rows.
- `mode="all"` (classic conjunctive percolator: doc must contain
  every query term) and `mode="rarest"` (reference R13 semantics:
  doc must contain the query's rarest term) are both post-aggregation
  filters — same single-pass plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.operators.postings import (
    InvertedIndex,
    build_postings,
    doc_lens_table,
)
from search_engine_spark.plans.search import (
    batch_query_terms,
    bm25_term_score_col,
)

_QT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("idf", T.DoubleType(), False),
        T.StructField("n_terms", T.IntegerType(), False),
        T.StructField("is_rarest", T.BooleanType(), False),
    ]
)


def prepare_queries(
    index: InvertedIndex,
    queries: DataFrame | list[tuple[int, str]],
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Registered query set → broadcastable term table
    ``(query_id, term, idf, n_terms, is_rarest)``.

    Each query goes through the forward path's own `query_terms`
    (bit-identical analysis, via `batch_query_terms`), `rarest_term`
    and `query_term_idf` (R11 with the
    global-df/local-N quirk; terms with non-positive Robertson ratio
    or absent from the dictionary are dropped, exactly like R1).
    Queries that lose every term (e.g. all-stoplist) vanish from the
    table and therefore match nothing — mirroring the forward path's
    empty response.

    Driver-side by design: the work is O(|queries| × |query terms|),
    the saved-search set, never corpus-sized.
    """
    if isinstance(queries, DataFrame):
        rows = queries.select("query_id", "query").collect()
        pairs = [(int(r["query_id"]), r["query"]) for r in rows]
    else:
        pairs = [(int(q), s) for q, s in queries]

    out = [
        (qid, t, idf, n_terms, is_rarest)
        for qid, t, idf, is_rarest, n_terms in batch_query_terms(
            index, pairs, sites, lang, analyzer, use_stoplist
        )
    ]
    spark = index.postings.sparkSession
    return spark.createDataFrame(out, _QT_SCHEMA)


def _match(
    doc_terms: DataFrame,
    doc_lens: DataFrame,
    query_terms: DataFrame,
    index: InvertedIndex,
    mode: str,
    min_score: float | None,
    id_col: str,
) -> DataFrame:
    """Shared matcher: ``doc_terms(term, id, tf)`` × broadcast query
    table → ``(query_id, id, site, score, matched_terms)``."""
    if mode not in ("rarest", "all"):
        raise ValueError(f"unknown percolate mode: {mode}")
    k1, b = index.config.bm25.k1, index.config.bm25.b

    matched = doc_terms.join(F.broadcast(query_terms), "term").join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )
    scored = matched.withColumn(
        "term_score",
        bm25_term_score_col(F.col("idf"), k1, b, index.avg_len),
    )
    agg = scored.groupBy("query_id", id_col, "site").agg(
        F.sum("term_score").alias("score"),
        F.count(F.lit(1)).cast("int").alias("matched_terms"),
        F.max(F.col("is_rarest").cast("int")).alias("_has_rarest"),
        F.max("n_terms").alias("_n_terms"),
    )
    if mode == "all":
        hits = agg.filter(F.col("matched_terms") == F.col("_n_terms"))
    else:
        hits = agg.filter(F.col("_has_rarest") == 1)
    if min_score is not None:
        hits = hits.filter(F.col("score") >= F.lit(min_score))
    return hits.select(
        "query_id", id_col, "site", "score", "matched_terms"
    )


def percolate(
    index: InvertedIndex,
    queries: DataFrame | list[tuple[int, str]],
    mode: str = "rarest",
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    min_score: float | None = None,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Match every registered query against every indexed document in
    ONE pass over the postings: ``(query_id, <id_col>, site, score,
    matched_terms)``.

    ``mode="rarest"`` reproduces the forward path's R13 membership
    rule (doc contains the query's rarest surviving term; all present
    query terms contribute to the score) — for any single query the
    (score desc, id asc) order equals ``search()``'s ranking.
    ``mode="all"`` is the classic conjunctive percolator (doc contains
    EVERY surviving query term).

    Pass ``prepared=`` (from :func:`prepare_queries`) to reuse an
    analyzed query table across calls/batches.
    """
    qt = (
        prepared
        if prepared is not None
        else prepare_queries(
            index, queries, sites, lang, analyzer, use_stoplist
        )
    )
    id_col = index.id_col
    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))  # R2
    return _match(
        index.postings, doc_lens, qt, index, mode, min_score, id_col
    )


def percolate_pages(
    index: InvertedIndex,
    enriched: DataFrame,
    queries: DataFrame | list[tuple[int, str]],
    mode: str = "rarest",
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    min_score: float | None = None,
    prepared: DataFrame | None = None,
    id_col: str = "url",
) -> DataFrame:
    """Percolate NEW documents (an enriched pages frame, per
    `sources.pages.enrich_pages`) that are not in the index — the
    alerting shape: corpus statistics (idf, avg_len, stoplist) come
    from the registered ``index`` snapshot, term frequencies and
    lengths from the incoming batch itself.

    Feeding the index's own corpus through this path reproduces
    :func:`percolate` exactly (locked by tests).
    """
    qt = (
        prepared
        if prepared is not None
        else prepare_queries(
            index, queries, None, lang, analyzer, use_stoplist
        )
    )
    doc_terms = build_postings(enriched, id_col=id_col, analyzer=analyzer)
    doc_lens = doc_lens_table(enriched, id_col=id_col)
    return _match(
        doc_terms, doc_lens, qt, index, mode, min_score, id_col
    )


def percolate_stream(
    index: InvertedIndex,
    pages_stream: DataFrame,
    queries: DataFrame | list[tuple[int, str]],
    sink: str,
    checkpoint: str,
    mode: str = "rarest",
    analyzer: str = "lemma",
    min_score: float | None = None,
    id_col: str = "url",
):
    """Continuous percolation: a streaming enriched-pages frame →
    parquet sink of ``(query_id, id, site, score, matched_terms)``.

    The query table is prepared ONCE (driver) and reused across
    micro-batches; each batch runs the same single-join matcher via
    ``foreachBatch`` (so the batch matcher and the streaming matcher
    cannot drift).  Append-mode parquet + per-batch dedup on
    (query_id, id) within the batch keeps replays idempotent at the
    sink level for exactly-once file sources.
    """
    prepared = prepare_queries(
        index, queries, None, "english", analyzer, True
    )
    prepared = prepared.cache()
    prepared.count()  # materialize once before the stream starts

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        hits = percolate_pages(
            index,
            batch_df,
            queries=[],
            mode=mode,
            analyzer=analyzer,
            min_score=min_score,
            prepared=prepared,
            id_col=id_col,
        ).dropDuplicates(["query_id", id_col])
        hits.write.mode("append").parquet(sink)

    return (
        pages_stream.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
