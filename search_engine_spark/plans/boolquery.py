"""Boolean mini query language over the BM25 engine.

Lucene-SimpleQueryParser-style surface syntax, deterministic and
precedence-free (every token carries its own operator — no ambiguous
``a AND b OR c`` trees):

    +term     MUST      — candidate docs contain every must term
    -term     MUST_NOT  — docs containing the term are excluded
    term      SHOULD    — contributes to scoring; when no must/phrase
                          units exist, candidates = union of shoulds
    "a b c"   PHRASE    — exact consecutive-token match (must);
                          requires the enriched docs frame (the
                          positional data lives in its tokens column)
                          or a persisted positional index
    "a b"~N   NEAR      — unordered proximity (must): all words
                          co-occur within N gap tokens (min cover
                          span ≤ m−1+N — Lucene SimpleQueryParser's
                          ``~N`` near operator); same positional-data
                          requirement as phrases
    site:host FIELD     — R2 site restriction; several site: units OR
                          together; intersects a caller-passed
                          ``sites=`` list when both are given
    title:word FIELD    — title restriction: candidates' TITLE must
                          contain the word (surface-token match, like
                          phrases); several title: units AND
                          together; requires the enriched docs frame
                          (the title column lives there); scoring is
                          unchanged (a pure filter, like site:)

Execution composes the engine's existing primitives — nothing here
re-implements scoring:

- must      → the ``candidates="all"`` count aggregate
              (:func:`plans.search.search` R13 superset),
- should    → the ``candidates="union"`` distinct,
- must_not  → the R19 anti-join,
- phrase    → :func:`operators.phrases.phrase_match`,
- scoring   → :func:`plans.search.bm25_term_score_col`, the SAME
              whole-stage-codegen column expression all other query
              paths share, over (must ∪ should) terms.

Scale shape: every candidate source is O(query-term postings) — the
``isin(terms)`` posting scans, one count aggregate, anti-joins —
never a corpus scan; phrase matching touches only the phrase terms'
positional rows.  Ranking/pagination is the shared
top-(offset+limit) + row_number tail.

Reference parity note: the reference has no boolean syntax
(SearchServiceImpl takes a bag of words); this layer is additive,
and a query with only bare terms reduces exactly to
``search(candidates="union")`` semantics.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import tokenize_py
from search_engine_spark.operators.postings import InvertedIndex
from search_engine_spark.plans.search import (
    analyze_query,
    bm25_term_score_col,
    drop_stopwords,
    empty_ranked,
    paginate,
    query_term_idf,
)

_UNIT = re.compile(r'([+-]?)"([^"]*)"(?:~(\d+))?|([+-]?)(\S+)')


def parse_simple_query(query: str) -> dict:
    """Query string → raw (unanalyzed) operator buckets:
    ``{"must": [...], "should": [...], "must_not": [...],
    "phrases": [[...], ...]}``.

    Phrases are tokenized order-preservingly (surface forms — the
    positional index stores raw tokens).  A negated phrase is
    rejected (no sound way to anti-join a phrase cheaply without
    running the full phrase scan; make it explicit rather than
    silently slow).
    """
    out: dict = {
        "must": [], "should": [], "must_not": [], "phrases": [],
        "sites": [], "titles": [], "nears": [],
    }
    for m in _UNIT.finditer(query or ""):
        if m.group(2) is not None:
            op = m.group(1)
            if op == "-":
                raise ValueError(
                    "negated phrases/near units are not supported"
                )
            toks = tokenize_py(m.group(2))
            if toks and m.group(3) is not None:
                out["nears"].append((toks, int(m.group(3))))
            elif toks:
                out["phrases"].append(toks)
        else:
            op, word = m.group(4), m.group(5)
            if word in ("+", "-"):
                continue
            if word.lower().startswith("site:"):
                # field unit: R2 site restriction; several site: units
                # OR together (one isin), like the reference's
                # multi-site search parameter
                host = word[5:]
                if op == "-":
                    raise ValueError(
                        "negated site: filters are not supported"
                    )
                if host:
                    out["sites"].append(host)
                continue
            if word.lower().startswith("title:"):
                # field unit: title restriction; surface-token match
                # (the title is matched as raw tokens, like phrases);
                # several title: units AND together
                if op == "-":
                    raise ValueError(
                        "negated title: filters are not supported"
                    )
                toks = tokenize_py(word[6:])
                out["titles"].extend(toks)
                continue
            bucket = {"": "should", "+": "must", "-": "must_not"}[op]
            out[bucket].append(word)
    return out


def _merge_sites(
    arg_sites: list[str] | None, query_sites: list[str]
) -> list[str] | None:
    """Caller ``sites=`` ∩ in-query ``site:`` units (both are
    restrictions; honoring only one would silently widen the other)."""
    if not query_sites:
        return arg_sites
    if not arg_sites:
        return sorted(set(query_sites))
    return sorted(set(arg_sites) & set(query_sites))


def _title_match_ids(
    enriched: DataFrame, titles: list[str], id_col: str, lang: str
) -> DataFrame:
    """Ids of docs whose TITLE tokens contain every ``titles`` word
    (surface-token match; one filter over the docs frame — the title
    column is row-local, so this never shuffles the corpus)."""
    from search_engine_spark.functions.textproc import tokens_col

    lang_col = (
        F.col("lang") if "lang" in enriched.columns else F.lit(lang)
    )
    ttoks = tokens_col(F.col("title"), lang_col)
    cond = F.lit(True)
    for t in sorted(set(titles)):
        cond = cond & F.array_contains(ttoks, t)
    return enriched.filter(cond).select(id_col)


def _analyze_buckets(
    index,
    parsed: dict,
    sites: list[str] | None,
    lang: str,
    analyzer: str,
    use_stoplist: bool,
) -> tuple[list[str], list[str], list[str], list[str], dict]:
    """Shared bucket analysis for the logical and compact executors:
    ``(must, should, must_not, scoring, idf)`` after analyzer,
    stoplist and the R1/R11 dictionary-membership + IDF-positivity
    drops.  ``index`` may be an InvertedIndex or CompactIndex (both
    carry term_stats/stoplist — the IDF helper is shared)."""

    def _an(words: list[str]) -> list[str]:
        return sorted(
            {t for w in words for t in analyze_query(w, lang, analyzer)}
        )

    must = _an(parsed["must"])
    # phrase/near words participate in scoring like shoulds (the
    # positional constraint itself is handled by the executor)
    should = _an(
        parsed["should"]
        + [w for toks in parsed["phrases"] for w in toks]
        + [w for toks, _ in parsed["nears"] for w in toks]
    )
    must_not = _an(parsed["must_not"])
    if use_stoplist:
        must = drop_stopwords(index, must)
        should = drop_stopwords(index, should)

    scoring = sorted(set(must) | set(should))
    idf = query_term_idf(index, scoring, sites)
    must = [t for t in must if t in idf]
    should = [t for t in should if t in idf]
    scoring = [t for t in scoring if t in idf]
    return must, should, must_not, scoring, idf


def search_boolean(
    index: InvertedIndex,
    query: str,
    enriched: DataFrame | None = None,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Top-(offset..offset+limit) BM25 over a boolean query:
    ``(<id_col>, site, score, rn)`` — the same output contract as
    :func:`plans.search.search`.

    ``enriched`` (the docs frame with a ``tokens`` column) is needed
    only when the query contains phrases.
    """
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b
    parsed = parse_simple_query(query)
    sites = _merge_sites(sites, parsed["sites"])
    must, should, must_not, scoring, idf = _analyze_buckets(
        index, parsed, sites, lang, analyzer, use_stoplist
    )

    # [] (an empty intersection of restrictions) ≠ None (unrestricted)
    if not scoring or (sites is not None and not sites):
        return empty_ranked(index.doc_lens.select(id_col, "site"))
    if (
        parsed["phrases"] or parsed["titles"] or parsed["nears"]
    ) and enriched is None:
        raise ValueError(
            "phrase/near/title: units need the enriched docs frame "
            "(tokens/title columns) — pass enriched="
        )

    # ---- candidate generation --------------------------------------
    if must:
        cand_ids = (
            index.postings.filter(F.col("term").isin(must))
            .groupBy(id_col)
            .agg(F.count("term").alias("_nt"))
            .filter(F.col("_nt") == len(must))
            .select(id_col)
        )
    elif parsed["phrases"] or parsed["nears"]:
        cand_ids = None  # positional units define the candidate set
    else:
        cand_ids = (
            index.postings.filter(F.col("term").isin(should))
            .select(id_col)
            .distinct()
        )

    for toks in parsed["phrases"]:
        from search_engine_spark.operators.phrases import phrase_match

        pm = phrase_match(
            enriched, toks, id_col=id_col
        ).select(id_col)
        cand_ids = pm if cand_ids is None else cand_ids.join(
            pm, id_col
        )

    if parsed["nears"]:
        from search_engine_spark.operators.phrases import (
            near_match,
            positional_postings,
        )

        pp = positional_postings(enriched, id_col=id_col)
        for toks, slop in parsed["nears"]:
            nm = near_match(pp, toks, slop, id_col).select(id_col)
            cand_ids = nm if cand_ids is None else cand_ids.join(
                nm, id_col
            )

    if must_not:
        cand_ids = cand_ids.join(
            index.postings.filter(
                F.col("term").isin(must_not)
            ).select(id_col),
            id_col,
            "left_anti",
        )

    if parsed["titles"]:
        cand_ids = cand_ids.join(
            _title_match_ids(enriched, parsed["titles"], id_col, lang),
            id_col,
        )

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))
    candidates = cand_ids.join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )

    # ---- shared scoring + pagination tail ---------------------------
    qpost = index.postings.filter(F.col("term").isin(scoring))
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


def search_boolean_compact(
    cidx,
    query: str,
    enriched: DataFrame | None = None,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    positions_dir: str | None = None,
    positions_buckets: int | None = None,
) -> DataFrame:
    """Boolean query over the COMPACTED index — rank-identical to
    :func:`search_boolean` on the same corpus (same analysis, same
    shared scoring expression; pytest-pinned).

    The only decode is the query terms' own segments (bucket-pruned
    scan → Arrow block decode), exactly like the WAND path; must_not
    terms decode their segments only for the anti-join.  doc_len
    rides inside the decoded postings, so scoring needs no doc_map
    join until the final (top-k-sized) site/id resolution.

    Phrase units match against ``enriched`` when given, else against
    a persisted compressed positional index at ``positions_dir``
    (written by ``jobs/build_index.py --positions``) — result-
    identical (pinned by tests); ``positions_buckets`` defaults to
    the index's bucket count.  title: units still need ``enriched``
    (titles aren't in the positional index).
    """
    from search_engine_spark.operators.compact import decode_segments
    from search_engine_spark.plans.wand import _segs_for_terms

    id_col = cidx.id_col
    k1, b = cidx.config.bm25.k1, cidx.config.bm25.b
    parsed = parse_simple_query(query)
    sites = _merge_sites(sites, parsed["sites"])
    must, should, must_not, scoring, idf = _analyze_buckets(
        cidx, parsed, sites, lang, analyzer, use_stoplist
    )

    # [] (an empty intersection of restrictions) ≠ None (unrestricted)
    if not scoring or (sites is not None and not sites):
        return empty_ranked(cidx.doc_map.select(id_col, "site"))
    if (
        (parsed["phrases"] or parsed["nears"])
        and enriched is None
        and positions_dir is None
    ):
        raise ValueError(
            "phrase/near units need the enriched docs frame or a "
            "persisted positional index — pass enriched= or "
            "positions_dir="
        )
    if parsed["titles"] and enriched is None:
        raise ValueError(
            "title: units need the enriched docs frame "
            "(title column) — pass enriched="
        )

    # one decode of the query terms' segments, shared by candidate
    # generation and scoring (cache: both passes reuse it)
    qpost = decode_segments(_segs_for_terms(cidx, scoring)).cache()

    if must:
        cand_ids = (
            qpost.filter(F.col("term").isin(must))
            .groupBy("doc_id")
            .agg(F.count("term").alias("_nt"))
            .filter(F.col("_nt") == len(must))
            .select("doc_id")
        )
    elif parsed["phrases"] or parsed["nears"]:
        cand_ids = None
    else:
        cand_ids = qpost.select("doc_id").distinct()

    if parsed["phrases"] or parsed["nears"]:
        from search_engine_spark.operators.phrases import (
            near_match,
            near_match_compact,
            phrase_match,
            phrase_match_compact,
            positional_postings,
        )

        # positional matching runs on natural ids (docs frame or the
        # persisted positional index) — translate through doc_map
        # once, positional hits are tiny
        nat = cidx.doc_map.select("doc_id", id_col)
        spark = cidx.doc_map.sparkSession
        # None → the positional index's own meta resolves its bucket
        # count (self-describing layout)
        nb = positions_buckets
        # enriched-frame hits carry natural ids (translate via
        # doc_map); persisted-positional hits carry DENSE doc_ids
        # (key parity with the tf index) — the live-doc_map join
        # doubles as the tombstone/reindex liveness filter
        live = cidx.doc_map.select("doc_id")
        for toks in parsed["phrases"]:
            if enriched is not None:
                pm = (
                    phrase_match(enriched, toks, id_col=id_col)
                    .join(nat, id_col)
                    .select("doc_id")
                )
            else:
                pm = (
                    phrase_match_compact(
                        spark, positions_dir, toks,
                        n_buckets=nb, id_col="doc_id",
                    )
                    .select("doc_id")
                    .join(live, "doc_id")
                )
            cand_ids = pm if cand_ids is None else cand_ids.join(
                pm, "doc_id"
            )
        for toks, slop in parsed["nears"]:
            if enriched is not None:
                nm = (
                    near_match(
                        positional_postings(enriched, id_col=id_col),
                        toks, slop, id_col,
                    )
                    .select(id_col)
                    .join(nat, id_col)
                    .select("doc_id")
                )
            else:
                nm = (
                    near_match_compact(
                        spark, positions_dir, toks, slop,
                        n_buckets=nb, id_col="doc_id",
                    )
                    .select("doc_id")
                    .join(live, "doc_id")
                )
            cand_ids = nm if cand_ids is None else cand_ids.join(
                nm, "doc_id"
            )

    if must_not:
        ex = decode_segments(
            _segs_for_terms(cidx, must_not)
        ).select("doc_id")
        cand_ids = cand_ids.join(ex, "doc_id", "left_anti")

    if parsed["titles"]:
        # title matching runs on the docs frame (natural ids) —
        # translate through doc_map once, like phrases
        tm = (
            _title_match_ids(enriched, parsed["titles"], id_col, lang)
            .join(cidx.doc_map.select("doc_id", id_col), id_col)
            .select("doc_id")
        )
        cand_ids = cand_ids.join(tm, "doc_id")

    if cidx.tombstones is not None:
        cand_ids = cand_ids.join(
            F.broadcast(cidx.tombstones.select("doc_id")),
            "doc_id",
            "left_anti",
        )

    if sites:
        cand_ids = cand_ids.join(
            cidx.doc_map.filter(F.col("site").isin(sites)).select(
                "doc_id"
            ),
            "doc_id",
        )

    scored = (
        cand_ids.join(qpost, "doc_id", "inner")
        .withColumn(
            "term_score",
            bm25_term_score_col(idf, k1, b, cidx.avg_len),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    resolved = scored.join(
        cidx.doc_map.select("doc_id", id_col, "site"), "doc_id"
    )
    return paginate(
        resolved, id_col, offset, limit, [id_col, "site", "score"]
    )
