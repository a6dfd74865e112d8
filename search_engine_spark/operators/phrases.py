"""Positional postings + exact phrase matching / phrase-BM25 ranking.

The reference engine is strictly bag-of-words — BM25 over per-doc
lemma counts (services/impl/SearchServiceImpl.java:154-210); it stores
no token positions and cannot answer "docs containing the exact
phrase".  This module extends the query surface the way Lucene-family
engines do, Spark-first:

- :func:`positional_postings` — ``(term, id, pos)`` via one
  ``posexplode`` (JVM, no UDF).  At rest this is the positional twin
  of the tf postings table; at 100 TB it is bucketed/partitioned the
  same way (term keys, Zipf-skew handled upstream by the same salting
  the tf build uses — positions only ADD a fixed-width int column to
  each posting row, they don't change the shuffle shape).
- :func:`phrase_occurrences` — every (doc, start) where the phrase's
  terms appear consecutively.  The classic aligned-start-position
  intersection: query position ``i``'s postings are shifted by ``-i``;
  a doc position where all ``m`` query offsets land is a phrase start.
  Implemented as one broadcast join against the (i, term) phrase frame
  plus one ``groupBy(id, start)`` — a single shuffle whose volume is
  the query terms' postings only (the ``term IN (...)`` filter is
  pushed into the scan), never the corpus.
- :func:`phrase_match` — ``(id, phrase_tf)`` per matching doc.
- :func:`phrase_search` — docs containing the phrase, ranked by the
  engine's own BM25 variant (tf = phrase_tf / doc_len, Robertson IDF
  of the phrase-as-virtual-term; plans/search.py semantics) so phrase
  ranking is consistent with term ranking.

Scale notes: duplicate terms inside the phrase are handled by
``countDistinct(i)`` (each query offset must be present — "value
value" needs two aligned hits).  The phrase frame is O(phrase length)
— always broadcast.  The groupBy key (id, start) is near-unique, so
the aggregate is skew-free regardless of term skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def positional_postings(
    enriched: DataFrame,
    id_col: str = "doc_id",
    tokens_col_name: str = "tokens",
) -> DataFrame:
    """``(term, <id_col>, pos)`` — 0-based token positions."""
    return enriched.select(
        F.col(id_col),
        F.posexplode(F.col(tokens_col_name)).alias("pos", "term"),
    ).select("term", id_col, "pos")


def phrase_occurrences(
    pos_postings: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """``(<id_col>, start)`` for every exact occurrence of the phrase.

    ``pos_postings`` is :func:`positional_postings` output (or the
    persisted positional table).  Empty phrase → empty result.
    """
    m = len(phrase_terms)
    spark = pos_postings.sparkSession
    if m == 0:
        return spark.createDataFrame(
            [], f"{id_col} long, start int"
        )
    offsets = spark.createDataFrame(
        list(enumerate(phrase_terms)), "i int, term string"
    )
    cand = pos_postings.filter(
        F.col("term").isin(sorted(set(phrase_terms)))
    )
    return (
        cand.join(F.broadcast(offsets), "term")
        .select(
            F.col(id_col),
            (F.col("pos") - F.col("i")).cast("int").alias("start"),
            F.col("i"),
        )
        .filter(F.col("start") >= 0)
        .groupBy(id_col, "start")
        .agg(F.countDistinct("i").alias("n_offsets"))
        .filter(F.col("n_offsets") == m)
        .select(id_col, "start")
    )


def phrase_match(
    enriched: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
    tokens_col_name: str = "tokens",
) -> DataFrame:
    """``(<id_col>, phrase_tf)`` — exact-phrase occurrence count per
    matching doc (docs without the phrase are absent)."""
    pp = positional_postings(enriched, id_col, tokens_col_name)
    occ = phrase_occurrences(pp, phrase_terms, id_col)
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("phrase_tf")
    )


def phrase_search(
    enriched: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
    tokens_col_name: str = "tokens",
    k1: float = 1.5,
    b: float = 0.75,
    limit: int = 10,
) -> DataFrame:
    """Docs containing the exact phrase, BM25-ranked.

    The phrase acts as one virtual term: its df is the number of docs
    containing it, idf = ln((N − df + 0.5)/(df + 0.5)) (Robertson,
    plans/search.py:55 semantics), tf the phrase occurrence count, and
    the score uses the engine's tf-normalized variant
    (tf/len · (k1+1) / (tf/len + k1·(1−b+b·len/avg))) so phrase and
    term queries rank on one scale.  Returns
    ``(<id_col>, phrase_tf, score)`` ordered score desc, id asc,
    top-``limit`` (TakeOrderedAndProject — no global sort at scale).

    Corpus scalars (N, avg_len) are computed from ``enriched`` with
    one tiny aggregate; pass a pre-built index's values via the
    ``doc_lens`` path in plans/search for the query-engine route —
    this function is the standalone oracle-checkable form.
    """
    # cache: ``lens`` feeds the corpus-scalar agg AND the score join,
    # ``tf`` feeds the df count AND the score join — uncached, each
    # consumer would re-tokenize the corpus (4 full passes instead
    # of 2).  Both frames are narrow (id + one int / one count).
    lens = enriched.select(
        F.col(id_col), F.size(F.col(tokens_col_name)).alias("doc_len")
    ).cache()
    agg = lens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s")
    ).collect()[0]
    n_docs = int(agg["n"])
    avg_len = (int(agg["s"]) / n_docs) if n_docs else 0.0

    tf = phrase_match(
        enriched, phrase_terms, id_col, tokens_col_name
    ).cache()
    # driver-sized scalar: phrase df (count of matching docs)
    df_phrase = tf.count()
    ratio = (n_docs - df_phrase + 0.5) / (df_phrase + 0.5)
    if df_phrase == 0 or ratio <= 0:
        return tf.select(
            id_col,
            "phrase_tf",
            F.lit(0.0).alias("score"),
        ).limit(0)
    import math

    idf = math.log(ratio)
    scored = tf.join(lens, id_col)
    tfn: Column = F.col("phrase_tf").cast("double") / F.col("doc_len")
    denom = tfn + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avg_len)
    )
    return (
        scored.select(
            F.col(id_col),
            F.col("phrase_tf"),
            F.round(F.lit(idf) * tfn * F.lit(k1 + 1.0) / denom, 6)
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )


# ---------------------------------------------------------------------------
# persisted positional index (phrase queries without re-tokenizing)
# ---------------------------------------------------------------------------


def write_positional_index(
    enriched: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    tokens_col_name: str = "tokens",
) -> dict:
    """Materialize ``(term, <id>, pos)`` bucket-partitioned by term.

    The at-rest twin of the tf index's bucket layout
    (operators/compact.py): ``bucket = crc32(term) % n_buckets`` so a
    phrase query's scan is partition-pruned to the query terms'
    buckets before any IO.  Positions add one int column per posting
    — the shuffle shape is identical to the tf build (same term keys,
    same skew profile, same salting applies upstream if needed).
    Returns {n_buckets, rows}.
    """
    from search_engine_spark.operators.compact import bucket_col

    pp = positional_postings(enriched, id_col, tokens_col_name)
    pp = pp.withColumn("bucket", bucket_col(F.col("term"), n_buckets))
    (
        pp.repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )
    spark = enriched.sparkSession
    n = spark.read.parquet(out_dir).count()
    return {"n_buckets": n_buckets, "rows": n}


def read_positional_index(
    spark,
    out_dir: str,
    terms: list[str] | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Positional postings scan, partition-pruned to ``terms``'s
    buckets when given (the bucket predicate reaches the parquet
    source as partition pruning; the term filter as a pushed
    predicate)."""
    from search_engine_spark.operators.compact import bucket_of

    df = spark.read.parquet(out_dir)
    if terms:
        buckets = sorted({bucket_of(t, n_buckets) for t in terms})
        df = df.filter(F.col("bucket").isin(buckets)).filter(
            F.col("term").isin(sorted(set(terms)))
        )
    return df.drop("bucket")


def phrase_match_indexed(
    spark,
    out_dir: str,
    phrase_terms: list[str],
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(<id>, phrase_tf)`` straight off the persisted positional
    index — no tokenization, no corpus scan; IO is the query terms'
    buckets only.  Same alignment semantics as :func:`phrase_match`
    (pinned by tests)."""
    pp = read_positional_index(
        spark, out_dir, phrase_terms, n_buckets
    )
    occ = phrase_occurrences(pp, phrase_terms, id_col)
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("phrase_tf")
    )


# ---------------------------------------------------------------------------
# proximity (minimum cover span) ranking
# ---------------------------------------------------------------------------


def min_cover_sweep(pos: "np.ndarray", tid: "np.ndarray", m: int) -> int:
    """Pure-numpy minimum-cover-span sweep (the UDF's kernel,
    exposed for property tests): given a doc's query-term hit
    positions SORTED ascending and aligned term ids in [0, m), return
    the smallest ``max(pos)−min(pos)`` over windows containing ALL
    ``m`` distinct ids (classic two-pointer, O(hits)), or −1 when
    some id is absent."""
    counts = np.zeros(m, dtype=np.int64)
    have = 0
    best = -1
    left = 0
    for right in range(pos.size):
        t = tid[right]
        counts[t] += 1
        if counts[t] == 1:
            have += 1
        while have == m:
            span = pos[right] - pos[left]
            if best < 0 or span < best:
                best = int(span)
            tl = tid[left]
            counts[tl] -= 1
            if counts[tl] == 0:
                have -= 1
            left += 1
    return best


def _min_cover_udf(m: int):
    """Arrow-batched minimum-cover-span kernel.

    Input: per doc, its query-term hit positions SORTED ascending and
    the aligned term ids.  Output: :func:`min_cover_sweep` per doc,
    null when some term is absent.  The sweep is O(hits) per doc over
    the doc's QUERY-TERM hits only (tf-sized, not doc-sized) — the
    one place a column expression genuinely can't express the
    semantics, so it is an Arrow-vectorized batch UDF, never
    row-at-a-time plumbing.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def f(poss: pd.Series, tids: pd.Series) -> pd.Series:
        out = np.full(len(poss), -1, dtype=np.int64)
        for i in range(len(poss)):
            pos = poss.iloc[i]
            tid = tids.iloc[i]
            if pos is None:
                continue
            out[i] = min_cover_sweep(
                np.asarray(pos, dtype=np.int64),
                np.asarray(tid, dtype=np.int64),
                m,
            )
        res = pd.Series(out)
        return res.where(res >= 0).astype("Int32")

    return f


def min_cover_span(
    pos_postings: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """``(<id>, span)`` — per doc containing ALL the (distinct) query
    terms, the length ``max(pos) − min(pos)`` of the tightest token
    window covering one occurrence of each.  ``span == m−1`` ⇔ the
    terms appear consecutively (in some order).

    Plan shape: one ``term IN (...)`` filtered scan (partition-pruned
    on a persisted positional index), a broadcast term→id map, one
    ``groupBy(id)`` packing the doc's query-term hits into a sorted
    array (map-side combined, key near-uniform), then the O(hits)
    two-pointer kernel per doc in one Arrow batch UDF.  Volume after
    the filter is the query terms' positional postings only.
    """
    ts = sorted(set(terms))
    m = len(ts)
    spark = pos_postings.sparkSession
    if m == 0:
        return spark.createDataFrame([], f"{id_col} long, span int")
    tid_col = F.create_map(
        *[x for i, t in enumerate(ts) for x in (F.lit(t), F.lit(i))]
    )[F.col("term")]
    hits = pos_postings.filter(F.col("term").isin(ts)).select(
        F.col(id_col),
        F.col("pos").cast("long").alias("pos"),
        tid_col.cast("long").alias("tid"),
    )
    packed = (
        hits.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "tid"))
            ).alias("h"),
            F.countDistinct("tid").alias("nt"),
        )
        .filter(F.col("nt") == m)
        .select(
            id_col,
            F.col("h.pos").alias("poss"),
            F.col("h.tid").alias("tids"),
        )
    )
    return packed.select(
        F.col(id_col),
        _min_cover_udf(m)(F.col("poss"), F.col("tids")).alias("span"),
    )


def proximity_search(
    index,
    enriched: DataFrame,
    query: str,
    prox_weight: float = 1.0,
    rerank_depth: int = 100,
    sites: list[str] | None = None,
    limit: int = 10,
    lang: str = "english",
    analyzer: str = "lemma",
    tokens_col_name: str = "tokens",
) -> DataFrame:
    """BM25 top-``rerank_depth`` re-ranked by term proximity:
    ``(<id>, site, score, rn)``.

    final = bm25 · (1 + prox_weight / (1 + span − (m−1))) for docs
    where all ``m`` query terms co-occur (``span − (m−1)`` = number
    of gap tokens in the tightest cover, 0 when consecutive ⇒ the
    full ``1 + prox_weight`` boost); docs missing a term keep their
    BM25 score (factor 1).  Re-ranking happens INSIDE the BM25
    top-``rerank_depth`` pool — the standard two-phase shape: the
    cheap ranker bounds the candidate set, the positional phase
    touches only ``rerank_depth`` docs' query-term positions.

    Ties: (score desc, id asc), like every ranking path.
    """
    from search_engine_spark.plans.search import (
        analyze_query,
        paginate,
        search,
    )

    base = search(
        index, query, sites=sites, limit=rerank_depth,
        lang=lang, analyzer=analyzer,
    )
    terms = sorted(set(analyze_query(query, lang, analyzer)))
    id_col = index.id_col
    m = len(terms)
    if m == 0:
        return base.limit(0)
    pp = positional_postings(enriched, id_col, tokens_col_name)
    # prune the positional stream to the rerank pool BEFORE packing:
    # rerank_depth is top-k-sized, so the semi-join broadcasts
    pool = base.select(id_col)
    spans = min_cover_span(
        pp.join(F.broadcast(pool), id_col, "left_semi"), terms, id_col
    )
    boosted = (
        base.join(spans, id_col, "left")
        .withColumn(
            "score",
            F.when(
                F.col("span").isNotNull(),
                F.col("score")
                * (
                    F.lit(1.0)
                    + F.lit(float(prox_weight))
                    / (F.lit(1.0) + F.col("span") - F.lit(m - 1))
                ),
            ).otherwise(F.col("score")),
        )
        .drop("span", "rn")
    )
    return paginate(boosted, id_col, 0, limit)


def near_match(
    pos_postings: DataFrame,
    terms: list[str],
    slop: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(<id>, span)`` — docs where ALL (distinct) query terms
    co-occur within an unordered window of at most ``slop`` non-query
    positions: ``span ≤ (m−1) + slop`` (Lucene's unordered
    NEAR/slop shape; slop 0 ⇒ the terms are consecutive in SOME
    order).  One :func:`min_cover_span` pass over the query terms'
    positional rows + a row-local filter."""
    m = len(sorted(set(terms)))
    spans = min_cover_span(pos_postings, terms, id_col)
    return spans.filter(F.col("span") <= (m - 1) + int(slop))


def near_search(
    index,
    enriched: DataFrame,
    query: str,
    slop: int = 2,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    tokens_col_name: str = "tokens",
) -> DataFrame:
    """Unordered proximity query: BM25 top-k over docs whose query
    terms ALL co-occur within ``slop`` gaps — ``(<id>, site, score,
    rn)``, the engine's standard ranking contract.

    The candidate restriction is positional (:func:`near_match`);
    scoring is the UNCHANGED shared BM25 expression over the query
    terms — a stricter-candidate variant of
    ``search(candidates="all")``, exactly as Lucene ranks a
    sloppy-phrase-filtered boolean query's members.  Cost shape: one
    positional pass + one scoring join, both O(query-term postings).
    """
    from search_engine_spark.plans.search import (
        bm25_term_score_col,
        empty_ranked,
        paginate,
        query_term_idf,
        query_terms,
    )

    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b
    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist),
        sites,
    )
    terms = sorted(idf)
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col, "site"))

    pp = positional_postings(enriched, id_col, tokens_col_name)
    cand_ids = near_match(pp, terms, slop, id_col).select(id_col)

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))
    candidates = cand_ids.join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )
    qpost = index.postings.filter(F.col("term").isin(terms))
    scored = (
        candidates.join(qpost, id_col, "inner")
        .withColumn(
            "term_score",
            bm25_term_score_col(idf, k1, b, index.avg_len),
        )
        .groupBy(id_col, "site")
        .agg(F.sum("term_score").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)


# ---------------------------------------------------------------------------
# compressed positional index (delta+varint positions at rest)
# ---------------------------------------------------------------------------
#
# Positions dominate index bytes at corpus scale: a plain
# (term, doc, pos) row per occurrence stores ~4-8 B of position plus
# the repeated term/doc keys PER TOKEN of the corpus.  The compressed
# layout packs each (term, doc)'s sorted positions into one
# delta-gap + LEB128 varint blob (functions/codec.py — the same codec
# the tf index blocks use): keys are stored once per (term, doc) and
# gaps are 1-2 bytes each.  Query paths decode ONLY the query terms'
# rows (bucket-pruned scan → Arrow batch decode), mirroring the tf
# index's compact read path.


def _encode_positions_udf():
    from pyspark.sql.functions import pandas_udf

    from search_engine_spark.functions.codec import (
        delta_encode,
        encode_varint,
    )

    @pandas_udf("binary")
    def enc(poss: pd.Series) -> pd.Series:
        return poss.map(
            lambda p: encode_varint(
                delta_encode(np.asarray(p, dtype=np.uint64))
            )
        )

    return enc


def _decode_positions_udf():
    from pyspark.sql.functions import pandas_udf

    from search_engine_spark.functions.codec import (
        decode_varint,
        delta_decode,
    )

    @pandas_udf("array<int>")
    def dec(blobs: pd.Series, ns: pd.Series) -> pd.Series:
        out = []
        for blob, n in zip(blobs, ns):
            out.append(
                delta_decode(decode_varint(blob, int(n)))
                .astype(np.int32)
                .tolist()
            )
        return pd.Series(out)

    return dec


def compact_positions(
    pos_postings: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """``(term, <id>, n, pos_blob)`` — one row per (term, doc) with
    the sorted positions delta+varint-packed into ``pos_blob``.

    One ``groupBy(term, doc)`` (keys near-unique → skew-free
    regardless of term skew) packs each group's positions; the encode
    is an Arrow-batched UDF over the packed arrays.
    """
    grouped = pos_postings.groupBy("term", id_col).agg(
        F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
            "__poss"
        )
    )
    enc = _encode_positions_udf()
    return grouped.select(
        "term",
        id_col,
        F.size("__poss").cast("int").alias("n"),
        enc(F.col("__poss")).alias("pos_blob"),
    )


def decode_positions(
    packed: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Inverse of :func:`compact_positions`: ``(term, <id>, pos)``
    exploded positional postings (row-order-insensitive identity is
    pinned by tests)."""
    dec = _decode_positions_udf()
    return packed.select(
        "term",
        id_col,
        F.explode(
            dec(F.col("pos_blob"), F.col("n"))
        ).alias("pos"),
    )


def write_compact_positional_index(
    enriched: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    tokens_col_name: str = "tokens",
) -> dict:
    """Materialize the compressed positional index bucket-partitioned
    by term (same ``crc32 % n_buckets`` layout as the tf index and
    the plain positional index, so query scans partition-prune).
    Returns {n_buckets, rows, blob_bytes, positions}."""
    from search_engine_spark.operators.compact import bucket_col

    pp = positional_postings(enriched, id_col, tokens_col_name)
    packed = compact_positions(pp, id_col).withColumn(
        "bucket", bucket_col(F.col("term"), n_buckets)
    )
    from search_engine_spark.config import DEFAULT as _CFG

    # same at-rest layout as the tf index: term-sorted rows inside each
    # bucket file (disjoint row-group term ranges → min/max pruning)
    # plus a term bloom filter, so phrase/NEAR scans read ~one row
    # group per query term instead of the whole bucket
    writer = (
        packed.repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "term", id_col)
        .write.mode("overwrite")
        .partitionBy("bucket")
    )
    if _CFG.write_term_bloom:
        writer = writer.option(
            "parquet.bloom.filter.enabled#term", "true"
        ).option(
            "parquet.bloom.filter.expected.ndv#term",
            str(_CFG.term_bloom_ndv),
        )
    writer.parquet(out_dir)
    spark = enriched.sparkSession
    stats = (
        spark.read.parquet(out_dir)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("pos_blob")).alias("blob_bytes"),
            F.sum("n").alias("positions"),
        )
        .collect()[0]
    )
    out = {
        "n_buckets": n_buckets,
        "id_col": id_col,
        "rows": int(stats["rows"]),
        "blob_bytes": int(stats["blob_bytes"]),
        "positions": int(stats["positions"]),
    }
    # self-describing layout: readers/appenders resolve the bucket
    # count from the index itself (an underscore-prefixed file is
    # ignored by Spark's parquet listing, like _SUCCESS)
    import json

    from search_engine_spark import fsutil

    fsutil.write_text(
        out_dir.rstrip("/") + "/_positions_meta.json",
        json.dumps(out),
        spark,
    )
    return out


def positional_meta(spark, out_dir: str) -> dict:
    """The positional index's self-description (bucket count, key
    column, size accounting) — written by
    :func:`write_compact_positional_index`."""
    import json

    from search_engine_spark import fsutil

    return json.loads(
        fsutil.read_text(
            out_dir.rstrip("/") + "/_positions_meta.json", spark
        )
    )


def read_compact_positions(
    spark,
    out_dir: str,
    terms: list[str] | None = None,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(term, <id>, pos)`` decoded from the compressed positional
    index — bucket-partition-pruned and term-filtered BEFORE the
    Arrow decode, so IO and decode cost are the query terms' rows
    only.  ``n_buckets=None`` resolves from the index's own meta
    file (the layout is self-describing)."""
    from search_engine_spark.operators.compact import bucket_of

    df = spark.read.parquet(out_dir)
    if terms:
        if n_buckets is None:
            n_buckets = int(
                positional_meta(spark, out_dir)["n_buckets"]
            )
        buckets = sorted({bucket_of(t, n_buckets) for t in terms})
        df = df.filter(F.col("bucket").isin(buckets)).filter(
            F.col("term").isin(sorted(set(terms)))
        )
    return decode_positions(df.drop("bucket"), id_col)


def phrase_match_compact(
    spark,
    out_dir: str,
    phrase_terms: list[str],
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(<id>, phrase_tf)`` off the COMPRESSED positional index —
    same alignment semantics as :func:`phrase_match` (pinned by
    tests); decode touches the phrase terms' rows only."""
    pp = read_compact_positions(
        spark, out_dir, phrase_terms, n_buckets, id_col
    )
    occ = phrase_occurrences(pp, phrase_terms, id_col)
    return occ.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("phrase_tf")
    )


def near_match_compact(
    spark,
    out_dir: str,
    terms: list[str],
    slop: int = 0,
    n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`near_match` off the COMPRESSED positional index."""
    pp = read_compact_positions(
        spark, out_dir, sorted(set(terms)), n_buckets, id_col
    )
    return near_match(pp, terms, slop, id_col)
