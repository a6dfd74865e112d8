"""Synonym-aware BM25 search — Lucene-``SynonymQuery``-style groups.

The reference engine scores each query lemma independently
(services/impl/SearchServiceImpl.java:154-210); there is no notion of
"these two surface forms mean the same thing".  This module adds the
standard IR treatment (Lucene ``SynonymQuery``): a query term and its
synonyms form ONE scoring unit —

- group tf    = Σ member tf in the document (occurrences of any
  member count toward the same unit);
- group df    = |docs containing ANY member| (exact union df, a
  ``countDistinct`` over the members' postings — NOT Lucene's cheaper
  max-df approximation: Spark computes the exact union in the same
  single pass that fetches member dfs, so there is no reason to
  approximate);
- group idf   = Robertson idf of the group df (negatives dropped,
  like the term path);
- the group then rides the engine's ordinary BM25 arithmetic
  (tf-normalized variant, plans/search.py:83) as if it were a single
  term — so a synonym-free query is rank-identical to plain
  :func:`search` (pinned by tests).

Scale shape (100 TB): the synonym map is query-sized — the (group,
term) frame always broadcasts.  Candidate generation and tf fetch are
``term IN (all members)`` filtered scans (partition-prunable exactly
like the plain query path); the only aggregations are one
map-side-combined ``groupBy(doc, group)`` over query-term postings
and one tiny ``countDistinct`` per group for df.  No UDFs, no corpus
scans, no new shuffle shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    analyze_query,
    bm25_term_score_col,
    drop_stopwords,
    empty_ranked,
    paginate,
    robertson_idf,
)


def expand_terms(
    terms: list[str],
    synonyms: dict[str, list[str]],
    lang: str = "english",
    analyzer: str = "lemma",
) -> dict[str, list[str]]:
    """Analyzed query terms → {group_key: sorted member terms}.

    The group key is the analyzed query term itself; synonym surface
    forms run through the SAME analysis pipeline as the query (a
    synonym entry that analyzes to several tokens contributes each of
    them — consistent with how the term would have been indexed).
    Members are deduplicated; a member may appear in several groups
    (each group scores it independently, like overlapping Lucene
    synonym rings).
    """
    out: dict[str, list[str]] = {}
    # analyzed-form lookup so "running" in the map matches the
    # analyzed query term "run" under the lemma analyzer
    syn_by_analyzed: dict[str, set[str]] = {}
    for k, vs in (synonyms or {}).items():
        for ak in analyze_query(k, lang, analyzer):
            bucket = syn_by_analyzed.setdefault(ak, set())
            for v in vs:
                bucket.update(analyze_query(v, lang, analyzer))
    for t in terms:
        members = {t} | syn_by_analyzed.get(t, set())
        out[t] = sorted(members)
    return out


def group_stats(
    index: InvertedIndex,
    groups: dict[str, list[str]],
) -> dict[str, int]:
    """{group_key: exact union df} in ONE job over the members'
    postings (``term IN members`` filtered scan → broadcast member→
    group join → countDistinct per group).  Groups with df 0 are
    absent from the result (unknown-term drop, R1 semantics)."""
    pairs = [
        (g, m) for g, members in groups.items() for m in members
    ]
    if not pairs:
        return {}
    spark = index.postings.sparkSession
    gmap = spark.createDataFrame(pairs, "grp string, term string")
    all_members = sorted({m for _, m in pairs})
    rows = (
        index.postings.filter(F.col("term").isin(all_members))
        .join(F.broadcast(gmap), "term")
        .groupBy("grp")
        .agg(F.countDistinct(index.id_col).alias("gdf"))
        .collect()
    )
    return {r["grp"]: int(r["gdf"]) for r in rows}


def _query_groups(
    index, query: str, synonyms, lang: str, analyzer: str,
    use_stoplist: bool,
) -> dict[str, list[str]]:
    """Analyzed query → synonym groups, stop-listed MEMBERS removed (a
    group whose every member is stopped is dropped)."""
    groups = expand_terms(
        analyze_query(query, lang, analyzer), synonyms or {}, lang,
        analyzer,
    )
    if not use_stoplist:
        return groups
    return {
        g: kept
        for g, members in groups.items()
        if (kept := drop_stopwords(index, members))
    }


def search_synonyms(
    index: InvertedIndex,
    query: str,
    synonyms: dict[str, list[str]] | None = None,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Top-(offset+limit) synonym-group BM25: (id, site, score, rn).

    Candidate semantics: union membership over the RAREST group's
    members (R13 lifted to groups — the group with the smallest union
    df; ties by group key asc).  Stop-list removal applies to group
    MEMBERS (a stop member contributes nothing; a group whose every
    member is stopped is dropped) — consistent with the term path.
    With ``synonyms=None`` / no applicable entries every group is a
    singleton, the union df equals the term df, and the result is
    rank-identical to plain ``search`` (default rarest-term
    candidates) — pinned by tests.
    """
    groups = _query_groups(
        index, query, synonyms, lang, analyzer, use_stoplist
    )
    return search_groups(index, groups, sites, offset, limit)


def search_groups(
    index: InvertedIndex,
    groups: dict[str, list[str]],
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
) -> DataFrame:
    """Score arbitrary term GROUPS with the group-BM25 plan (see
    module docstring) — the shared executor behind
    :func:`search_synonyms` and the prefix/wildcard expansion path
    (``plans.prefix.search_prefix``).  ``groups`` maps group key →
    member terms (already analyzed and stop-filtered by the caller).
    """
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b

    empty = empty_ranked(index.doc_lens.select(id_col, "site"))
    if not groups:
        return empty

    gdf = group_stats(index, groups)
    if sites:
        rows = (
            index.site_stats.filter(F.col("site").isin(sites))
            .agg(F.sum("pages").alias("n"))
            .collect()
        )
        n = int(rows[0]["n"] or 0)
    else:
        n = index.n_docs
    # Robertson idf over the group union df; non-positive dropped
    idf = robertson_idf(n, gdf)
    groups = {g: m for g, m in groups.items() if g in idf}
    if not groups:
        return empty

    spark = index.postings.sparkSession
    gmap = spark.createDataFrame(
        [(g, m) for g, members in groups.items() for m in members],
        "grp string, term string",
    )
    all_members = sorted({m for ms in groups.values() for m in ms})

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))

    # rarest GROUP (min union df, tie group asc) → union of members
    rarest = sorted(groups, key=lambda g: (gdf[g], g))[0]
    cand_ids = (
        index.postings.filter(F.col("term").isin(groups[rarest]))
        .select(id_col)
        .distinct()
    )
    candidates = cand_ids.join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )

    # one filtered scan of ALL groups' member postings; member→group
    # broadcast; group tf = Σ member tf per doc.  Each group then
    # scores as one term (key → ``term``, group tf → ``tf``) through
    # the shared BM25 expression.
    qpost = (
        index.postings.filter(F.col("term").isin(all_members))
        .join(F.broadcast(gmap), "term")
        .groupBy(id_col, F.col("grp").alias("term"))
        .agg(F.sum("tf").alias("tf"))
    )
    scored = (
        candidates.join(qpost, id_col, "inner")
        .withColumn(
            "group_score",
            bm25_term_score_col(idf, k1, b, index.avg_len),
        )
        .groupBy(id_col, "site")
        .agg(F.sum("group_score").alias("score"))
    )
    return paginate(scored, id_col, offset, limit)


def search_synonyms_compact(
    cidx,
    query: str,
    synonyms: dict[str, list[str]] | None = None,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """:func:`search_synonyms` over the PERSISTED compact index —
    rank-identical to the logical path (pytest-pinned).  Decodes only
    the groups' member terms' segments via
    :func:`plans.wand.logical_view`."""
    from search_engine_spark.plans.wand import logical_view

    groups = _query_groups(
        cidx, query, synonyms, lang, analyzer, use_stoplist
    )
    members = sorted({m for ms in groups.values() for m in ms})
    view = logical_view(cidx, members)
    return search_groups(view, groups, sites, offset, limit)
