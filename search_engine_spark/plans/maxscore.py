"""MaxScore dynamic pruning for union (OR) top-k over the compact index.

MaxScore (Turtle & Flood 1995) is the second classic dynamic-pruning
strategy next to WAND: split the query terms into ESSENTIAL and
NON-ESSENTIAL lists by their score upper bounds — a document matching
only non-essential terms can score at most the sum of their bounds,
so once that sum is below the current top-k threshold θ, those
posting lists never need to generate candidates.

Relation to the neighbours:
- ``plans/wand.search_compact`` implements the reference's rarest-
  term candidate semantics (R13) with block-max pruning; candidates
  always come from ONE list.
- This module implements true union (OR) semantics — the same ranks
  as ``plans/search.search(candidates="union")`` — where unpruned
  candidate generation is the UNION of every query term's postings.
  That union is exactly what explodes on common terms at web scale,
  and exactly what MaxScore prunes.

What pruning buys in a DataFrame engine: not fewer block decodes for
scoring (an essential candidate still needs its exact tf from every
term), but a candidate/aggregation set that shrinks from
|union of all lists| to |union of essential lists| — the groupBy
driving the final score is the dominant shuffle and it no longer
contains the stop-ish terms' full posting lists.  Rank-identity is
preserved with the same strict-inequality float margin as WAND
(an excluded doc's best possible score is strictly below θ).

θ is seeded exactly like the WAND path: exact scores of the rarest
(highest-IDF) term's candidates, which are a subset of the union —
their kth score is a valid lower bound on the final kth score.

Scale shape: one partition-pruned metadata aggregate (per-term upper
bounds, ≤ |terms| rows collected), one cached decode of the query
terms' postings, a driver-sized k-row seed collect, then the single
pruned candidate join + groupBy.  Site restriction and block-metadata
drift disable pruning (exact union scoring), mirroring WAND's guards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.compact import (
    CompactIndex,
    decode_segments,
)
from search_engine_spark.plans.search import (
    bm25_term_score_col,
    empty_ranked,
    paginate,
    query_term_idf,
    query_terms,
    rarest_term,
)
from search_engine_spark.plans.wand import (
    _EPS,
    _segs_for_terms,
    _term_ub,
)


def split_essential(
    ubs: dict[str, float], theta: float
) -> tuple[list[str], list[str]]:
    """``(essential, non_essential)`` — the maximal set of lowest-
    upper-bound terms whose bounds sum STRICTLY below the tie-safe
    threshold is non-essential; deterministic (ub asc, term asc).
    Pure function, unit-tested directly."""
    thresh = theta - abs(theta) * _EPS - 1e-300
    non_essential: list[str] = []
    cum = 0.0
    for t in sorted(ubs, key=lambda t: (ubs[t], t)):
        if cum + ubs[t] < thresh:
            non_essential.append(t)
            cum += ubs[t]
        else:
            break
    ne = set(non_essential)
    return [t for t in ubs if t not in ne], non_essential


def _score_union(
    cidx: CompactIndex,
    qpost: DataFrame,
    cand_terms: list[str],
    terms: list[str],
    idf: dict[str, float],
    sites: list[str] | None,
) -> DataFrame:
    """Exact BM25 over the union of ``cand_terms``'s candidate docs,
    scored with ALL query terms — (doc_id, score)."""
    cand = (
        qpost.filter(F.col("term").isin(cand_terms))
        .select("doc_id")
        .distinct()
    )
    if cidx.tombstones is not None:
        cand = cand.join(
            F.broadcast(cidx.tombstones.select("doc_id")),
            "doc_id",
            "left_anti",
        )
    if sites:
        cand = cand.join(
            cidx.doc_map.filter(F.col("site").isin(sites))
            .select("doc_id"),
            "doc_id",
        )
    k1, b = cidx.config.bm25.k1, cidx.config.bm25.b
    return (
        cand.join(qpost, "doc_id")
        .withColumn(
            "term_score",
            bm25_term_score_col(idf, k1, b, cidx.avg_len),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )


def search_maxscore_compact(
    cidx: CompactIndex,
    query: str,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    prune: bool = True,
) -> DataFrame:
    """Union-semantics top-(offset..offset+limit) BM25 —
    ``(<id_col>, site, score, rn)``, rank-identical to
    ``plans.search.search(candidates="union")`` (oracle-checked);
    MaxScore-pruned candidate generation when metadata allows."""
    id_col = cidx.id_col
    terms = query_terms(cidx, query, lang, analyzer, use_stoplist)
    idf = query_term_idf(cidx, terms, sites)
    terms = [t for t in terms if t in idf]
    if not terms:
        return empty_ranked(cidx.doc_map.select(id_col, "site"))

    k = offset + limit
    qpost = decode_segments(_segs_for_terms(cidx, terms)).cache()

    metadata_valid = (
        cidx.blocks_avg_len is not None
        and abs(cidx.blocks_avg_len - cidx.avg_len) < 1e-12
    )
    cand_terms = terms
    if prune and not sites and metadata_valid and len(terms) > 1:
        ub_rows = (
            _segs_for_terms(cidx, terms)
            .groupBy("term")
            .agg(
                F.max("max_u").alias("mx"),
                F.min("min_u").alias("mn"),
            )
            .collect()
        )
        ubs = {
            r["term"]: max(
                0.0, _term_ub(idf[r["term"]], r["mx"], r["mn"])
            )
            for r in ub_rows
        }
        rarest = rarest_term(idf)
        seed = (
            _score_union(cidx, qpost, [rarest], terms, idf, sites)
            .orderBy(F.desc("score"))
            .limit(k)
            .collect()
        )
        if len(seed) >= k:
            theta = float(seed[-1]["score"])
            essential, _dropped = split_essential(ubs, theta)
            # rarest is already fully scored; keep it essential so
            # the seed docs stay in the candidate set
            if rarest not in essential:
                essential.append(rarest)
            cand_terms = essential

    scored = _score_union(
        cidx, qpost, cand_terms, terms, idf, sites
    )
    resolved = scored.join(
        cidx.doc_map.select("doc_id", id_col, "site"), "doc_id"
    )
    return paginate(
        resolved, id_col, offset, limit, [id_col, "site", "score"]
    )
