"""Learning-to-rank featurization — per-(query, doc) feature vectors.

The missing middle of a modern search stack: BM25 (or WAND) produces
a candidate pool, an LTR model (LambdaMART / a small NN) reranks it,
and the model trains on feature vectors joined to relevance labels.
This module computes those vectors for a whole query set in ONE pass
over the postings — the batched shape of ``plans.search.search_many``
(same broadcast query-term frame, same rarest-term candidate
generation, same BM25 arithmetic by construction) with per-doc match
statistics aggregated alongside the score, so the features can never
drift from the production ranker.

Features per (query_id, doc):

- ``bm25``          — the production score (identical to search_many)
- ``matched_terms`` — distinct query terms present in the doc
- ``n_query_terms`` — surviving (post-stoplist, in-dictionary) terms
- ``coverage``      — matched_terms / n_query_terms
- ``sum_tf``/``max_tf`` — raw term-frequency mass of the match
- ``idf_sum``/``idf_max`` — rarity mass of the matched terms
- ``doc_len``       — body length (the classic length prior)

Optional joins: ``qrels (query_id, <id>, label)`` attaches training
labels (left join — unjudged docs get NULL, the standard implicit
negative); ``priors (<id>, prior)`` attaches a static quality score.

Plan shape at 100 TB: one filtered postings scan serves every query
(the broadcast (query_id, term, idf) frame fans a shared posting row
out per query, which is the point — the scan and the one
(query_id, doc) aggregation happen once); candidates stay
O(rarest-term postings) per query; qrels/priors join the pool-sized
output, never the corpus.  Top-``limit`` per query by (bm25 desc, id
asc) bounds the output to the rerank-pool size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import batch_query_terms


def ltr_features(
    index: InvertedIndex,
    queries: list[str],
    limit: int = 100,
    qrels: DataFrame | None = None,
    priors: DataFrame | None = None,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """``(query_id, <id>, site, bm25, matched_terms, n_query_terms,
    coverage, sum_tf, max_tf, idf_sum, idf_max, doc_len[, label]
    [, prior])`` — top-``limit`` candidates per query by (bm25 desc,
    id asc).  ``query_id`` is the position in ``queries``; queries
    with no surviving terms contribute no rows."""
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b
    spark = index.postings.sparkSession

    rows = batch_query_terms(
        index, enumerate(queries), sites, lang, analyzer, use_stoplist
    )

    base_cols = [
        "query_id", id_col, "site", "bm25", "matched_terms",
        "n_query_terms", "coverage", "sum_tf", "max_tf",
        "idf_sum", "idf_max", "doc_len",
    ]
    if not rows:
        empty = index.doc_lens.select(id_col, "site").limit(0)
        for c, t in [
            ("query_id", "int"), ("bm25", "double"),
            ("matched_terms", "long"), ("n_query_terms", "int"),
            ("coverage", "double"), ("sum_tf", "long"),
            ("max_tf", "long"), ("idf_sum", "double"),
            ("idf_max", "double"), ("doc_len", "long"),
        ]:
            empty = empty.withColumn(c, F.lit(None).cast(t))
        return empty.select(*base_cols)

    qterm = spark.createDataFrame(
        rows,
        "query_id int, term string, idf double, is_rarest boolean,"
        " n_query_terms int",
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
                    "query_id", "term", "n_query_terms"
                )
            ),
            "term",
        )
        .select("query_id", "n_query_terms", id_col)
        .join(doc_lens.select(id_col, "site", "doc_len"), id_col)
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
        * F.lit(k1 + 1.0)
        / (
            tfn
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("doc_len") / F.lit(index.avg_len)
            )
        )
    )
    feats = (
        cand.join(qpost, ["query_id", id_col], "inner")
        .withColumn("term_score", term_score)
        .groupBy(
            "query_id", id_col, "site", "doc_len", "n_query_terms"
        )
        .agg(
            F.sum("term_score").alias("bm25"),
            F.count("term").cast("long").alias("matched_terms"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("tf").cast("long").alias("max_tf"),
            F.sum("idf").alias("idf_sum"),
            F.max("idf").alias("idf_max"),
        )
        .withColumn(
            "coverage",
            F.col("matched_terms").cast("double")
            / F.col("n_query_terms").cast("double"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    out = (
        feats.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= limit)
        .drop("__rn")
        .select(*base_cols)
    )
    if priors is not None:
        out = out.join(
            priors.select(id_col, "prior"), id_col, "left"
        )
    if qrels is not None:
        out = out.join(
            qrels.select("query_id", id_col, "label"),
            ["query_id", id_col],
            "left",
        )
    return out


# ---------------------------------------------------------------------------
# linear LTR training (closed-form ridge regression) + scoring
# ---------------------------------------------------------------------------


def _solve3(A, b):
    """Explicit adjugate solve for a 3×3 system — the EXACT operation
    order is mirrored by the DuckDB oracle's Cramer CTE, so keep the
    parenthesization stable."""
    (a00, a01, a02), (a10, a11, a12), (a20, a21, a22) = A
    b0, b1, b2 = b
    det = (
        a00 * (a11 * a22 - a12 * a21)
        - a01 * (a10 * a22 - a12 * a20)
        + a02 * (a10 * a21 - a11 * a20)
    )
    d0 = (
        b0 * (a11 * a22 - a12 * a21)
        - a01 * (b1 * a22 - a12 * b2)
        + a02 * (b1 * a21 - a11 * b2)
    )
    d1 = (
        a00 * (b1 * a22 - a12 * b2)
        - b0 * (a10 * a22 - a12 * a20)
        + a02 * (a10 * b2 - b1 * a20)
    )
    d2 = (
        a00 * (a11 * b2 - b1 * a21)
        - a01 * (a10 * b2 - b1 * a20)
        + b0 * (a10 * a21 - a11 * a20)
    )
    return [d0 / det, d1 / det, d2 / det]


def train_linear_ltr(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    l2: float = 0.0,
) -> dict[str, float]:
    """Closed-form pointwise linear ranker (ridge regression on the
    normal equations): ``{"intercept": w0, <feature>: w_i, ...}``.

    The Gram matrix Σ x·xᵀ and moment vector Σ x·y are ONE map-side-
    combined aggregation over the labeled feature rows — (k+1)² JVM
    column-expression sums, no Python in the data path, no iteration.
    The (k+1)×(k+1) solve happens on the driver: the explicit
    adjugate for k ≤ 2 features (SQL-oracle-replayable), LAPACK
    (``numpy.linalg.solve``) beyond.  ``l2`` adds ridge damping to
    the non-intercept diagonal.

    Pointwise least squares on graded labels is the standard strong
    linear baseline (Li 2011, "Learning to rank for IR and NLP",
    ch. 2); for listwise objectives export the features and train
    off-cluster.  At 100 TB the entire cost is one pass over the
    feature table — training state is k² doubles.
    """
    import numpy as np

    cols = list(feature_cols)
    k = len(cols) + 1
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in cols]
    y = F.col(label_col).cast("double")
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"a{i}{j}"))
        aggs.append(F.sum(xs[i] * y).alias(f"b{i}"))
    row = (
        features.filter(y.isNotNull()).agg(*aggs).collect()[0]
    )
    A = [[0.0] * k for _ in range(k)]
    b = [0.0] * k
    for i in range(k):
        for j in range(i, k):
            A[i][j] = A[j][i] = float(row[f"a{i}{j}"])
        b[i] = float(row[f"b{i}"])
    for i in range(1, k):  # never damp the intercept
        A[i][i] += float(l2)
    if k == 3:
        w = _solve3(A, b)
    else:
        w = np.linalg.solve(
            np.array(A, dtype=np.float64),
            np.array(b, dtype=np.float64),
        ).tolist()
    out = {"intercept": float(w[0])}
    for c, wi in zip(cols, w[1:]):
        out[c] = float(wi)
    return out


def score_linear_ltr(
    features: DataFrame,
    weights: dict[str, float],
    feature_cols: list[str],
    out_col: str = "ltr_score",
) -> DataFrame:
    """Adds ``out_col = w0 + Σ w_i·feature_i`` (left-to-right in
    ``feature_cols`` order — the oracle mirrors the chain)."""
    expr = F.lit(float(weights["intercept"]))
    for c in feature_cols:
        expr = expr + F.lit(float(weights[c])) * F.col(c).cast(
            "double"
        )
    return features.withColumn(out_col, expr)
