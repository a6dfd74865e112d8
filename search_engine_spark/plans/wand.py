"""Block-max WAND top-k over the compacted index (SURVEY §2.4 N5).

The reference's only query-time pruning is "score just the rarest
lemma's posting list" (R13, services/impl/SearchServiceImpl.java:
164-174).  N5 is its physical superset: the rarest term's posting
list is stored as compressed blocks with block-max metadata
(functions/codec.py), and blocks whose best-possible total score
cannot reach the current top-k threshold are never decoded.  By
construction the surviving candidate set is the reference's candidate
set minus provably-non-top-k docs, so the returned top-k is
**rank-identical** to the reference semantics (asserted by tests and
by the DuckDB oracle on ``bm25_wand_topk``).

Scale shape: a query touches O(#query-terms) term-bucket partitions
(partition-pruned scan); block metadata for the rarest term is tiny
(df / block_size rows); payload decode happens only for surviving
blocks, in Arrow-batched ``mapInPandas`` workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.compact import (
    CompactIndex,
    bucket_of,
    decode_segments,
)
from search_engine_spark.lru import index_memo
from search_engine_spark.plans.search import (
    _MEMO_CAP,
    bm25_term_score_col,
    empty_ranked,
    paginate,
    query_term_idf,
    query_terms,
    rarest_term,
    search_many,
)

# Relative tie/float-safety margin on the pruning threshold: a block is
# only skipped when its upper bound is *strictly* below (1 - EPS) of the
# current kth score, so equal-score/url-tiebreak candidates survive.
_EPS = 1e-9


def _segs_for_terms(cidx: CompactIndex, terms: list[str]) -> DataFrame:
    """Segment rows for the given terms, with a partition-pruning
    bucket predicate when the index is bucket-partitioned on disk."""
    segs = cidx.segments
    if cidx.n_buckets and "bucket" in segs.columns:
        buckets = sorted({bucket_of(t, cidx.n_buckets) for t in terms})
        segs = segs.filter(F.col("bucket").isin(buckets))
    return segs.filter(F.col("term").isin(terms))


def _block_meta(cidx: CompactIndex, term: str) -> list:
    """Collected (shard, block_id, count, max_u, min_u) rows of one
    term — memoized per index object (lru.index_memo) so
    repeated-vocab serving queries skip the metadata probe job."""

    def fill(_missing):
        return {
            term: _segs_for_terms(cidx, [term])
            .select("shard", "block_id", "count", "max_u", "min_u")
            .collect()
        }

    memo = index_memo(cidx, "_block_meta_memo", _MEMO_CAP)
    return memo.fetch([term], fill)[term]


def _term_bounds(cidx: CompactIndex, terms: list[str]) -> dict:
    """{term: (max max_u, min min_u)} across each term's blocks,
    memoized per index object (terms without blocks are left out)."""

    def fill(missing):
        rows = (
            _segs_for_terms(cidx, missing)
            .groupBy("term")
            .agg(F.max("max_u").alias("mx"), F.min("min_u").alias("mn"))
            .collect()
        )
        return {r["term"]: (r["mx"], r["mn"]) for r in rows}

    memo = index_memo(cidx, "_term_bounds_memo", _MEMO_CAP)
    return memo.fetch(terms, fill)


def _term_ub(idf_t: float, max_u: float, min_u: float) -> float:
    """Upper bound of one term's contribution to any doc in a block.

    idf > 0 → idf·max_u; idf < 0 → idf·min_u (still ≤ 0, the least
    negative the term can contribute for a doc that HAS it)."""
    return idf_t * max_u if idf_t > 0 else idf_t * min_u


def _score_candidate_blocks(
    cidx: CompactIndex,
    rarest: str,
    block_keys: list[tuple[int, int]] | None,
    terms: list[str],
    idf: dict[str, float],
    sites: list[str] | None,
    qpost: DataFrame | None = None,
) -> DataFrame:
    """Decode the selected rarest-term blocks, join the other query
    terms' postings, BM25-score → (doc_id, score).

    ``qpost`` lets the two-phase WAND path pass ONE cached decode of
    the query terms' postings; without it the seed and survivor
    phases would each pay the full Arrow block-decode again."""
    seg_r = _segs_for_terms(cidx, [rarest])
    if block_keys is not None:
        # O(1)-depth predicate: pack (shard, block_id) into one long
        # and use a set-membership filter (an OR-chain would grow the
        # expression tree linearly in surviving blocks)
        packed = [
            (int(shard) << 32) | int(block_id)
            for shard, block_id in block_keys
        ]
        seg_r = seg_r.filter(
            (
                F.shiftleft(F.col("shard").cast("long"), 32).bitwiseOR(
                    F.col("block_id").cast("long")
                )
            ).isin(packed)
        )

    cand = decode_segments(seg_r).select("doc_id")
    if cidx.tombstones is not None:
        cand = cand.join(
            F.broadcast(cidx.tombstones.select("doc_id")),
            "doc_id",
            "left_anti",
        )
    if sites:
        cand = cand.join(
            cidx.doc_map.filter(F.col("site").isin(sites)).select("doc_id"),
            "doc_id",
        )  # R2: site restriction prunes candidates

    if qpost is None:
        qpost = decode_segments(_segs_for_terms(cidx, terms))

    k1, b = cidx.config.bm25.k1, cidx.config.bm25.b
    return (
        cand.join(qpost, "doc_id", "inner")
        .withColumn(
            "term_score", bm25_term_score_col(idf, k1, b, cidx.avg_len)
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )


def _wand_select_blocks(
    cidx: CompactIndex,
    terms: list[str],
    idf: dict[str, float],
    rarest: str,
    k: int,
    sites: list[str] | None,
    prune: bool,
    prune_min_candidates: int | None,
) -> tuple[
    "list[tuple[int, int]] | None", "DataFrame | None", dict
]:
    """Metadata-only block-max WAND phase: decide which of the rarest
    term's blocks must be decoded for an exact top-``k``.

    Returns ``(selected, qpost_shared, stats)`` — ``selected`` is the
    surviving ``(shard, block_id)`` list or None for "decode all";
    ``qpost_shared`` is the one cached decode of the query terms'
    postings when the seed phase already paid for it; ``stats`` is
    the per-query pruning metrics dict surfaced by
    :func:`explain_prune`.

    Site restriction changes N/idf but also the candidate set in ways
    block metadata can't see → pruning only on global queries.
    ``metadata_valid``: stored max_u/min_u were computed with
    blocks_avg_len — if live avg_len has drifted (incremental
    append/delete), the bounds are unsound and we score exactly.
    """
    stats: dict = {
        "terms": list(terms),
        "rarest": rarest,
        "k": k,
        "prune_active": False,
        "reason": None,
        "blocks_total": None,
        "candidates_total": None,
        "seed_blocks": 0,
        "theta": None,
        "blocks_selected": None,
        "blocks_skipped": 0,
        "candidates_skipped": 0,
    }
    metadata_valid = (
        cidx.blocks_avg_len is not None
        and abs(cidx.blocks_avg_len - cidx.avg_len) < 1e-12
    )
    if not prune:
        stats["reason"] = "disabled"
        return None, None, stats
    if sites:
        stats["reason"] = "site_restricted"
        return None, None, stats
    if not metadata_valid:
        stats["reason"] = "metadata_drift"
        return None, None, stats

    # --- metadata-only WAND phase (no payload decode) ---------------
    meta = _block_meta(cidx, rarest)
    stats["blocks_total"] = len(meta)
    stats["candidates_total"] = sum(r["count"] for r in meta)
    # pruning pays only on long posting lists: below this, the
    # seed/survivor phases just add two extra Spark jobs to skip
    # a handful of blocks — score everything in one pass instead
    min_cand = (
        prune_min_candidates
        if prune_min_candidates is not None
        else max(1024, 16 * k)
    )
    if sum(r["count"] for r in meta) <= min_cand:
        meta = []
        stats["reason"] = "short_postings"
    others = [t for t in terms if t != rarest]
    if others and meta:
        om = _term_bounds(cidx, others)
        other_ub = sum(
            max(0.0, _term_ub(idf[t], mx, mn))
            for t, (mx, mn) in om.items()
        )
    else:
        other_ub = 0.0
    blocks = sorted(
        (
            (
                _term_ub(idf[rarest], r["max_u"], r["min_u"]) + other_ub,
                r["count"],
                (r["shard"], r["block_id"]),
            )
            for r in meta
        ),
        key=lambda x: -x[0],
    )
    # seed: highest-bound blocks covering ≥ k candidate docs
    seed, cum = [], 0
    for ub, cnt, key in blocks:
        seed.append((ub, cnt, key))
        cum += cnt
        if cum >= k:
            break
    stats["seed_blocks"] = len(seed)
    if len(seed) < len(blocks):
        # the seed phase and the final survivor phase both join
        # the query terms' postings — decode them once, cached
        # (narrow: (term, doc_id, tf) for the query terms only)
        qpost_shared = decode_segments(
            _segs_for_terms(cidx, terms)
        ).cache()
        seed_keys = [key for _, _, key in seed]
        seed_scores = (
            _score_candidate_blocks(
                cidx, rarest, seed_keys, terms, idf, sites,
                qpost=qpost_shared,
            )
            .orderBy(F.desc("score"))
            .limit(k)
            .collect()
        )
        if len(seed_scores) >= k:
            theta = seed_scores[-1]["score"]
            thresh = theta - abs(theta) * _EPS - 1e-300
            survivors = [
                key for ub, _, key in blocks[len(seed):] if ub >= thresh
            ]
            selected = seed_keys + survivors
            skipped = [
                (ub, cnt)
                for ub, cnt, key in blocks[len(seed):]
                if ub < thresh
            ]
            stats.update(
                prune_active=True,
                theta=float(theta),
                blocks_selected=len(selected),
                blocks_skipped=len(skipped),
                candidates_skipped=sum(c for _, c in skipped),
            )
            return selected, qpost_shared, stats
        # seed didn't yield k docs → score everything
        stats["reason"] = "seed_underfilled"
        return None, qpost_shared, stats
    # every block needed anyway → decode all
    if stats["reason"] is None:
        stats["reason"] = "all_blocks_needed"
    return None, None, stats


def explain_prune(
    cidx: CompactIndex,
    query: str,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    prune_min_candidates: int | None = None,
) -> dict:
    """Per-query WAND pruning metrics (observability; never used on
    the query hot path): which blocks the metadata phase would decode
    for this query and why — ``blocks_total`` / ``blocks_selected`` /
    ``blocks_skipped``, candidate counts, the seed threshold
    ``theta``, and the ``reason`` pruning was inactive (e.g.
    ``short_postings``, ``metadata_drift`` after an un-vacuumed
    append).  Runs the same metadata + seed phases as
    :func:`search_compact` — cost is metadata-scale plus one seed
    scoring job."""
    terms = query_terms(cidx, query, lang, analyzer, use_stoplist)
    idf = query_term_idf(cidx, terms, None)
    terms = [t for t in terms if t in idf]
    if not terms:
        return {
            "terms": [],
            "rarest": None,
            "k": offset + limit,
            "prune_active": False,
            "reason": "no_terms",
            "blocks_total": 0,
            "candidates_total": 0,
            "seed_blocks": 0,
            "theta": None,
            "blocks_selected": 0,
            "blocks_skipped": 0,
            "candidates_skipped": 0,
        }
    selected, qpost, stats = _wand_select_blocks(
        cidx, terms, idf, rarest_term(idf), offset + limit, None, True,
        prune_min_candidates,
    )
    if qpost is not None:
        qpost.unpersist()
    if stats["blocks_selected"] is None:
        stats["blocks_selected"] = stats["blocks_total"]
    return stats


def search_compact(
    cidx: CompactIndex,
    query: str,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    prune: bool = True,
    prune_min_candidates: int | None = None,
    fuzzy: bool = False,
    fuzzy_max_dist: int = 1,
) -> DataFrame:
    """Top-(offset..offset+limit) BM25 over the compacted index:
    ``(<id_col>, site, score, rn)`` — same contract as
    :func:`plans.search.search`, same ranks.  ``fuzzy`` rewrites
    out-of-dictionary terms exactly like the logical path (the
    compact index carries the same term_stats dictionary)."""
    id_col = cidx.id_col
    terms = query_terms(
        cidx, query, lang, analyzer, use_stoplist, fuzzy, fuzzy_max_dist
    )
    idf = query_term_idf(cidx, terms, sites)
    terms = [t for t in terms if t in idf]
    if not terms:
        return empty_ranked(cidx.doc_map.select(id_col, "site"))

    rarest = rarest_term(idf)
    k = offset + limit

    selected, qpost_shared, _stats = _wand_select_blocks(
        cidx, terms, idf, rarest, k, sites, prune,
        prune_min_candidates,
    )

    scored = _score_candidate_blocks(
        cidx, rarest, selected, terms, idf, sites,
        qpost=qpost_shared,
    )

    resolved = scored.join(
        cidx.doc_map.select("doc_id", id_col, "site"), "doc_id"
    )
    return paginate(
        resolved, id_col, offset, limit, [id_col, "site", "score"]
    )


def search_many_compact(
    cidx: CompactIndex,
    queries: list[str],
    sites: list[str] | None = None,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Batch query evaluation over the persisted compact index:
    ``(query_id, <id_col>, site, score, rn)`` — rank-identical per
    query to :func:`search_compact` (pinned by tests).

    Plan: the union of every query's surviving terms prunes the
    bucket-partitioned segment scan ONCE and decodes ONCE; the decoded
    (term, id, tf) rows then feed the batched logical evaluator
    (:func:`plans.search.search_many`) — one pass over the segments
    serves the whole query set, vs one scan + decode per query when
    looping ``search_compact``.  Block-max pruning is per-query state
    and is intentionally skipped (batch wins come from scan/decode
    sharing; the exact scorer matches WAND's ranks by construction).
    """
    id_col = cidx.id_col
    all_terms = sorted(
        {
            t
            for q in queries
            for t in query_terms(cidx, q, lang, analyzer, use_stoplist)
        }
    )
    if not all_terms:
        return empty_ranked(
            cidx.doc_map.select(F.lit(0).alias("query_id"), id_col, "site")
        )
    idx = logical_view(cidx, all_terms)
    return search_many(
        idx, queries, sites=sites, limit=limit, lang=lang,
        analyzer=analyzer, use_stoplist=use_stoplist,
    )


def logical_view(cidx: CompactIndex, terms: list[str]):
    """:class:`InvertedIndex`-shaped view of the compact index
    restricted to ``terms``.

    The given terms' segments are decoded ONCE (bucket-pruned scan →
    Arrow block decode) into ``(term, <id_col>, tf)`` postings
    re-keyed to the public id (so rank tie-breaks match the logical
    executor exactly); stats / stoplist / config ride straight from
    the compact metadata.  This is the adapter that lets every
    logical query plan — synonym groups, Dirichlet LM, prefix
    expansion, batch eval — run against the PERSISTED index while
    keeping decode cost O(query-term postings): the view's postings
    frame simply does not contain any other term.

    Callers must pass every term the plan will touch (e.g. all
    synonym-group members), since filters against the view only see
    the decoded terms.  Dead docs drop at the doc_map join (open_index
    pre-filters tombstones from doc_map).
    """
    from search_engine_spark.operators.postings import InvertedIndex

    id_col = cidx.id_col
    qpost = (
        decode_segments(_segs_for_terms(cidx, sorted(set(terms))))
        .join(cidx.doc_map.select("doc_id", id_col), "doc_id")
        .select("term", id_col, "tf")
    )
    return InvertedIndex(
        postings=qpost,
        doc_lens=cidx.doc_map.select(id_col, "site", "doc_len"),
        term_stats=cidx.term_stats,
        site_stats=cidx.site_stats,
        n_docs=cidx.n_docs,
        avg_len=cidx.avg_len,
        stoplist=cidx.stoplist,
        id_col=id_col,
        config=cidx.config,
    )
