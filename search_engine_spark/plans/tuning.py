"""BM25 parameter tuning: grid sweep of (k1, b) in ONE Spark job.

The standard development-loop task the reference cannot do at all
(it hardcodes k1/b in application.properties:19-20): evaluate every
(k1, b) candidate against graded relevance judgments and pick the
best by nDCG/MRR/recall.

The Spark-first trick: BM25's (k1, b) appear ONLY in the per-term
scoring arithmetic, never in candidate generation (R13 rarest-term
membership) or in IDF — so the expensive work (postings scan,
candidate join) is parameter-independent and is done ONCE.  The
matched (query, doc, term) pool is cross-joined with a broadcast
grid literal frame, turning k1/b into COLUMNS inside one
whole-stage-codegen expression; a G-point grid costs one fan-out
×G on the pool (pool is top-pool-sized per query, not corpus-sized),
not G jobs.

Per-combo metrics reuse :func:`plans.eval.rank_eval` verbatim via a
composite (combo, query) key — the same definitions the rank_eval
oracle already pins.

At 100 TB / 1000 executors: one postings scan + one (combo, query,
doc) aggregation + k-sized windows per (combo, query); the grid
frame is bytes.  No driver loops over combos or queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.eval import rank_eval
from search_engine_spark.plans.search import (
    batch_query_terms,
    empty_ranked,
)

# composite-key stride: combo * _QSTRIDE + query_id.  Query ids are
# positions in a driver-provided list — far below this.
_QSTRIDE = 1_000_000


def bm25_grid_scores(
    index: InvertedIndex,
    queries: list[str],
    grid: list[tuple[float, float]],
    k: int = 10,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """``(combo, k1, b, query_id, <id>, score, rn)`` — every query's
    top-``k`` under every grid point, one pass over the postings.

    Candidate semantics are :func:`plans.search.search_many`'s (R13
    rarest-term membership per query); per-term arithmetic is the
    shared BM25 with k1/b read from the broadcast grid columns."""
    id_col = index.id_col
    spark = index.postings.sparkSession

    rows = [
        r[:4]
        for r in batch_query_terms(
            index, enumerate(queries), sites, lang, analyzer, use_stoplist
        )
    ]

    gridf = spark.createDataFrame(
        [(i, float(k1), float(b)) for i, (k1, b) in enumerate(grid)],
        "combo int, k1 double, b double",
    )
    if not rows:
        return empty_ranked(
            index.doc_lens.select(id_col).limit(0).crossJoin(gridf).select(
                "combo", "k1", "b", F.lit(0).alias("query_id"), id_col
            )
        )
    qterm = spark.createDataFrame(
        rows,
        "query_id int, term string, idf double, is_rarest boolean",
    )
    used_terms = sorted({r[1] for r in rows})
    rarest_terms = sorted({r[1] for r in rows if r[3]})

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))

    cand = (
        index.postings.filter(F.col("term").isin(rarest_terms))
        .join(
            F.broadcast(
                qterm.filter(F.col("is_rarest")).select(
                    "query_id", "term"
                )
            ),
            "term",
        )
        .select("query_id", id_col)
        .join(doc_lens.select(id_col, "doc_len"), id_col)
    )
    qpost = index.postings.filter(
        F.col("term").isin(used_terms)
    ).join(
        F.broadcast(qterm.select("query_id", "term", "idf")), "term"
    )

    tfn = F.col("tf").cast("double") / F.col("doc_len")
    term_score = (
        F.col("idf")
        * tfn
        * (F.col("k1") + F.lit(1.0))
        / (
            tfn
            + F.col("k1")
            * (
                (F.lit(1.0) - F.col("b"))
                + F.col("b")
                * F.col("doc_len")
                / F.lit(index.avg_len)
            )
        )
    )
    scored = (
        cand.join(qpost, ["query_id", id_col], "inner")
        .crossJoin(F.broadcast(gridf))
        .withColumn("term_score", term_score)
        .groupBy("combo", "k1", "b", "query_id", id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    w = Window.partitionBy("combo", "query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("combo", "k1", "b", "query_id", id_col, "score", "rn")
    )


def tune_bm25(
    index: InvertedIndex,
    queries: list[str],
    qrels: DataFrame,
    grid: list[tuple[float, float]],
    k: int = 10,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """``(combo, k1, b, mrr, ndcg, recall)`` — per grid point, the
    mean of :func:`plans.eval.rank_eval`'s per-query metrics over
    the judged queries.  ``qrels`` is ``(query_id, <id>, rel)`` with
    query_id the position in ``queries``.  Pick the winner with
    ``.orderBy(F.desc(metric))`` — all rows are returned so the
    caller sees the whole response surface."""
    id_col = index.id_col
    run = bm25_grid_scores(
        index, queries, grid, k=k, sites=sites, lang=lang,
        analyzer=analyzer, use_stoplist=use_stoplist,
    )
    run_cq = run.select(
        (F.col("combo").cast("long") * _QSTRIDE + F.col("query_id"))
        .alias("__cq"),
        id_col,
        "rn",
    )
    combos = run.sparkSession.range(len(grid)).select(
        F.col("id").cast("long").alias("__combo")
    )
    qrels_cq = qrels.crossJoin(F.broadcast(combos)).select(
        (F.col("__combo") * _QSTRIDE + F.col("query_id"))
        .alias("__cq"),
        id_col,
        "rel",
    )
    ev = rank_eval(
        run_cq, qrels_cq, k=k, query_col="__cq", id_col=id_col
    )
    gridf = run.sparkSession.createDataFrame(
        [(i, float(k1), float(b)) for i, (k1, b) in enumerate(grid)],
        "combo int, k1 double, b double",
    )
    return (
        ev.withColumn(
            "combo",
            F.floor(F.col("__cq") / F.lit(_QSTRIDE)).cast("int"),
        )
        .groupBy("combo")
        .agg(
            F.round(F.avg("rr"), 6).alias("mrr"),
            F.round(F.avg("ndcg"), 6).alias("ndcg"),
            F.round(F.avg("recall"), 6).alias("recall"),
        )
        .join(F.broadcast(gridf), "combo")
        .select("combo", "k1", "b", "mrr", "ndcg", "recall")
    )
