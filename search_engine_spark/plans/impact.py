"""Impact-quantized scoring and static index pruning.

Two classic index-time speed/space tradeoffs the reference's exact
BM25 path (plans/search.py, reference
services/impl/SearchServiceImpl.java:269-279) has no counterpart for
— both are *physical* variants of R12/R13 that trade bounded score
error for a smaller or earlier-terminating query:

- **Impact quantization** (Anh & Moffat 2005, "Simplified similarity
  scoring using term ranks"; Lucene 8 impact blocks): the
  length-normalized per-posting BM25 contribution ``u(tf, len)`` is
  quantized to an integer impact in ``1..2^bits`` at BUILD time, so
  query scoring is ``sum(idf_t * q_t)`` — no doc-length join, integer
  accumulation, and posting payloads shrink to ``bits`` per entry.
- **Static index pruning** (Carmel et al. 2001, "Static index pruning
  for information retrieval systems"): keep only each term's top-K
  postings by impact at build time.  Scores of surviving postings are
  UNCHANGED (df / N / avg_len are preserved from the full corpus), so
  any result whose postings all survive ranks identically.

Scale shape: quantization is one postings×doc_lens join + a global
max aggregate (a scalar); pruning is one per-term window — both are
single-shuffle build-time passes, and the window partitions by term
(the same key the compaction shuffle already salts, so at 100 TB the
pruning pass rides the salted layout: rank within (term, salt) over
locally-sorted impacts, then a tiny per-term merge of keep-K
boundaries — here expressed as the plain window, which Catalyst runs
as one hash shuffle + per-partition sort).

All arithmetic is plain double-precision column expressions evaluated
in the same order as the DuckDB oracle SQL (contract entries
``impact_topk`` / ``bm25_topk_pruned``), so results hash-match
bit-for-bit.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from search_engine_spark import fsutil
from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    bm25_term_score_col,
    empty_ranked,
    paginate,
    query_term_idf,
    query_terms,
)

IMPACTS_DIR = "impacts"
IMPACTS_META = "impacts.json"


def impact_u_col(k1: float, b: float, avg_len: float) -> F.Column:
    """Per-posting length-normalized BM25 contribution ``u`` over
    ``(tf, doc_len)`` — :func:`bm25_term_score_col` without the idf
    factor (the part that is a pure function of the posting, hence
    quantizable at build time).  tf is PRE-normalized by doc length
    (the reference's R12 variant, SearchServiceImpl.java:274-279)."""
    tfn = F.col("tf").cast("double") / F.col("doc_len")
    return (
        tfn
        * F.lit(k1 + 1.0)
        / (
            tfn
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avg_len))
        )
    )


def _postings_with_u(index: InvertedIndex) -> DataFrame:
    """postings ⋈ doc_lens with the ``u`` column attached.  The
    doc_lens side is small relative to postings (one row per doc) and
    already partitioned by the id key from the build — Catalyst
    broadcast-joins it under the threshold, else shuffles on the id."""
    k1, b = index.config.bm25.k1, index.config.bm25.b
    id_col = index.id_col
    return (
        index.postings.join(
            index.doc_lens.select(id_col, "doc_len"), id_col
        ).withColumn("u", impact_u_col(k1, b, index.avg_len))
    )


def quantize_postings(
    index: InvertedIndex, bits: int = 8
) -> tuple[DataFrame, float]:
    """``(quantized, u_max)`` — postings with an integer impact
    ``q ∈ 1..2^bits``: ``q = min(floor(u / u_max * levels) + 1,
    levels)`` (Anh–Moffat positive integer impacts; the ``u_max``
    posting itself maps to ``levels``).

    ``u_max`` is a global scalar (one max aggregate) — at corpus
    scale it is a metadata value computed once per build and stored
    with the index stats, exactly like ``avg_len``."""
    levels = 1 << bits
    pu = _postings_with_u(index)
    u_max = float(pu.agg(F.max("u")).collect()[0][0])
    q = F.least(
        (F.floor(F.col("u") / F.lit(u_max) * F.lit(float(levels))) + 1)
        .cast("int"),
        F.lit(levels),
    )
    return pu.withColumn("q", q).drop("u", "doc_len"), u_max


def impact_topk(
    index: InvertedIndex,
    query: str,
    bits: int = 8,
    limit: int = 10,
    offset: int = 0,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    min_impact: int | None = None,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by summed quantized impacts:
    ``score = Σ_t idf_t · q_t`` over union candidates (any doc
    containing a surviving query term), tie-break (score desc, id
    asc).  No doc-length join at query time — the length
    normalization was baked into ``q`` at build time.

    ``min_impact`` optionally skips postings with ``q`` below it —
    score-at-a-time early termination: each skipped posting would
    have contributed < ``idf_t · min_impact``, so the induced score
    error per doc is bounded by ``Σ_t idf_t · (min_impact − 1)``.

    ``quantized`` lets callers reuse one build-time
    :func:`quantize_postings` result across queries (the normal
    deployment shape) instead of re-quantizing per query."""
    id_col = index.id_col
    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist)
    )
    terms = sorted(idf)
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col))

    if quantized is None:
        quantized, _ = quantize_postings(index, bits)
    qpost = quantized.filter(F.col("term").isin(terms))
    if min_impact is not None:
        qpost = qpost.filter(F.col("q") >= min_impact)

    idf_col = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
    )[F.col("term")]
    scored = (
        qpost.withColumn("term_score", idf_col * F.col("q"))
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)


def rescore_topk(
    index: InvertedIndex,
    query: str,
    first_k: int = 100,
    limit: int = 10,
    offset: int = 0,
    bits: int = 8,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    min_impact: int | None = None,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieve-then-rescore (Lucene ``QueryRescorer`` / ES
    ``rescore`` window semantics): a CHEAP first pass — quantized
    impacts, no doc-length join, optional ``min_impact`` skipping —
    selects the top-``first_k`` candidates; an EXACT second pass
    recomputes full BM25 (same arithmetic as :func:`plans.search.
    search`, reference R12 tf=rank/len variant) over only those
    ``first_k`` docs and re-ranks.

    Exactness contract: any doc whose true rank ≤ ``limit`` AND whose
    impact rank ≤ ``first_k`` is returned with its EXACT BM25 score —
    the quantization error bounds how far a true top-``limit`` doc can
    sink in the first pass, so ``first_k`` ≫ ``limit`` makes misses
    vanishingly rare (the standard rescore-window tradeoff).

    Plan shape at scale: the first pass reads only the ``bits``-wide
    impact postings (union candidates, one map-side-combined sum, one
    TakeOrderedAndProject); the second pass joins the tiny (≤
    ``first_k`` rows, BROADCAST) candidate set back to the query
    terms' postings + doc_lens — O(query-term postings) probe, never
    a corpus scan, and the expensive exact arithmetic runs on
    ``first_k`` docs instead of every candidate."""
    id_col = index.id_col
    first = impact_topk(
        index, query, bits=bits, limit=first_k, offset=0, lang=lang,
        analyzer=analyzer, use_stoplist=use_stoplist,
        min_impact=min_impact, quantized=quantized,
    )
    cand = first.select(id_col)

    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist)
    )
    terms = sorted(idf)
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col))

    k1, b = index.config.bm25.k1, index.config.bm25.b
    qpost = index.postings.filter(F.col("term").isin(terms))
    scored = (
        F.broadcast(cand)
        .join(qpost, id_col)
        .join(index.doc_lens.select(id_col, "doc_len"), id_col)
        .withColumn(
            "term_score",
            bm25_term_score_col(idf, k1, b, index.avg_len),
        )
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)


def write_impacts(cidx, out_dir: str, bits: int = 8) -> dict:
    """Persist quantized impacts as an index artifact — the at-rest
    shape of Anh–Moffat impact ordering (Lucene 8 stores the same
    thing per posting block as ``Impacts``):

        <out_dir>/impacts/bucket=B/*.parquet   (term, doc_id, q)
        <out_dir>/impacts.json                 bits, u_max, n_buckets, …

    so :func:`impact_topk_persisted` / :func:`rescore_topk` first
    passes run WITHOUT the tf index or a doc-length join — the scan
    reads ``bits``-wide integers from exactly the query terms' bucket
    partitions.

    Built FROM the persisted compact index (``cidx`` =
    :class:`operators.compact.CompactIndex`), not the corpus: one
    decode pass over the compressed segments.  ``u_max`` (the global
    quantization scale) comes from the block-max metadata when it is
    still valid — ``max(max_u)`` over segment rows, a metadata-only
    aggregate with no block decode, sound because the stored
    ``max_u`` is the exact same double-precision ``u`` formula
    (functions/codec.py) — and falls back to an aggregate over the
    decoded postings after appends drift ``blocks_avg_len``.

    Scale shape: decode is Arrow-batched ``mapInPandas`` over
    segment rows (already salted/sharded by the build, so no skew),
    the quantize is a column expression, and the write re-uses the
    index's own term-bucket partitioning — a query term touches one
    bucket directory here too."""
    from search_engine_spark.operators.compact import (
        bucket_col,
        decode_segments,
    )

    spark = cidx.segments.sparkSession
    k1, b = cidx.config.bm25.k1, cidx.config.bm25.b
    n_buckets = cidx.n_buckets or cidx.config.index_buckets
    levels = 1 << bits

    pu = decode_segments(cidx.segments).withColumn(
        "u", impact_u_col(k1, b, cidx.avg_len)
    )
    metadata_valid = (
        cidx.blocks_avg_len is None
        or cidx.blocks_avg_len == cidx.avg_len
    )
    if metadata_valid:
        u_max = float(
            cidx.segments.agg(F.max("max_u")).collect()[0][0]
        )
    else:
        u_max = float(pu.agg(F.max("u")).collect()[0][0])

    q = F.least(
        (F.floor(F.col("u") / F.lit(u_max) * F.lit(float(levels))) + 1)
        .cast("int"),
        F.lit(levels),
    )
    out = (
        pu.select("term", "doc_id", q.alias("q"))
        .withColumn("bucket", bucket_col(F.col("term"), n_buckets))
    )
    (
        out.repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "term", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(out_dir, IMPACTS_DIR))
    )
    meta = {
        "bits": bits,
        "u_max": u_max,
        "n_buckets": n_buckets,
        "k1": k1,
        "b": b,
        "avg_len": cidx.avg_len,
        "n_docs": cidx.n_docs,
        "id_col": cidx.id_col,
    }
    fsutil.write_text(
        os.path.join(out_dir, IMPACTS_META), json.dumps(meta), spark
    )
    return meta


def load_impacts(
    spark: SparkSession, out_dir: str
) -> tuple[DataFrame, dict]:
    """``(impacts, meta)`` for a directory written by
    :func:`write_impacts`."""
    meta = json.loads(
        fsutil.read_text(os.path.join(out_dir, IMPACTS_META), spark)
    )
    return (
        spark.read.parquet(os.path.join(out_dir, IMPACTS_DIR)),
        meta,
    )


def impact_topk_persisted(
    cidx,
    out_dir: str,
    query: str,
    limit: int = 10,
    offset: int = 0,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    min_impact: int | None = None,
) -> DataFrame:
    """:func:`impact_topk` over the PERSISTED impacts artifact —
    rank- and score-identical to the logical path (pytest-pinned).

    Plan shape: bucket partition-pruned scan of (term, doc_id, q) for
    the query terms only → map-side-combined integer sum per doc_id →
    doc_map join on the aggregated (small) frame for the public-id
    tie-break → TakeOrderedAndProject.  No posting decode, no
    doc-length join, no corpus scan."""
    from search_engine_spark.operators.compact import bucket_of

    spark = cidx.segments.sparkSession
    impacts, meta = load_impacts(spark, out_dir)
    id_col = cidx.id_col

    # staleness guard: q was quantized against the artifact's corpus
    # stats — after appends/vacuum change avg_len or the doc count,
    # persisted impacts silently mis-rank, so refuse instead
    if meta["avg_len"] != cidx.avg_len or (
        "n_docs" in meta and meta["n_docs"] != cidx.n_docs
    ):
        raise ValueError(
            "stale impacts artifact: written for avg_len="
            f"{meta['avg_len']}/n_docs={meta.get('n_docs')} but the "
            f"index now has avg_len={cidx.avg_len}/n_docs="
            f"{cidx.n_docs} — rerun write_impacts after maintenance"
        )

    idf = query_term_idf(
        cidx, query_terms(cidx, query, lang, analyzer, use_stoplist)
    )
    terms = sorted(idf)
    if not terms:
        return empty_ranked(cidx.doc_map.select(id_col))

    buckets = sorted({bucket_of(t, meta["n_buckets"]) for t in terms})
    qpost = impacts.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )
    if min_impact is not None:
        qpost = qpost.filter(F.col("q") >= min_impact)

    idf_col = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
    )[F.col("term")]
    scored = (
        qpost.withColumn("term_score", idf_col * F.col("q"))
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
        .join(cidx.doc_map.select("doc_id", id_col), "doc_id")
    )
    return paginate(scored, id_col, offset, limit, [id_col, "score"])


def rescore_topk_persisted(
    cidx,
    out_dir: str,
    query: str,
    first_k: int = 100,
    limit: int = 10,
    offset: int = 0,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    min_impact: int | None = None,
) -> DataFrame:
    """:func:`rescore_topk` entirely from the persisted index: the
    cheap first pass reads the impacts artifact
    (:func:`impact_topk_persisted` — partition-pruned int scan, no
    decode), the exact second pass decodes ONLY the query terms'
    segments (``plans.wand.logical_view``) and recomputes full BM25
    over the broadcast ``first_k`` candidates.  Neither pass touches
    the corpus or the full tf index."""
    from search_engine_spark.plans.wand import logical_view

    id_col = cidx.id_col
    first = impact_topk_persisted(
        cidx, out_dir, query, limit=first_k, offset=0, lang=lang,
        analyzer=analyzer, use_stoplist=use_stoplist,
        min_impact=min_impact,
    )
    cand = first.select(id_col)

    idf = query_term_idf(
        cidx, query_terms(cidx, query, lang, analyzer, use_stoplist)
    )
    terms = sorted(idf)
    if not terms:
        return empty_ranked(cidx.doc_map.select(id_col))

    view = logical_view(cidx, terms)
    k1, b = cidx.config.bm25.k1, cidx.config.bm25.b
    scored = (
        F.broadcast(cand)
        .join(view.postings.filter(F.col("term").isin(terms)), id_col)
        .join(view.doc_lens.select(id_col, "doc_len"), id_col)
        .withColumn(
            "term_score",
            bm25_term_score_col(idf, k1, b, cidx.avg_len),
        )
        .groupBy(id_col)
        .agg(F.sum("term_score").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)


def prune_postings(
    index: InvertedIndex, keep_per_term: int
) -> InvertedIndex:
    """Uniform top-K static pruning (Carmel et al. 2001): keep each
    term's ``keep_per_term`` highest-impact postings (tie-break id
    asc), DROP the rest from the posting lists — but preserve the
    full-corpus term_stats / n_docs / avg_len, so every surviving
    posting scores exactly as in the full index (score-preserving
    pruning; what changes is recall, not scores).

    Returned index is a drop-in for :func:`plans.search.search` —
    candidate generation and scoring simply see shorter lists.  The
    pruned frame is what you'd feed ``compact_postings`` to build the
    small serving index while the full index stays on cold storage."""
    id_col = index.id_col
    pu = _postings_with_u(index)
    w = Window.partitionBy("term").orderBy(
        F.desc("u"), F.asc(id_col)
    )
    pruned = (
        pu.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= keep_per_term)
        .select(*index.postings.columns)
    )
    return replace(index, postings=pruned, cached=())
