"""BM25 query path (SURVEY §3.1) — rank-identical to the reference.

Reference lifecycle (services/impl/SearchServiceImpl.java:55-99):
query lemmas → dictionary probe (R1) → IDF with the global-df /
local-N quirk (R9/R11) → stop-lemma removal (R14/R19) → candidates =
posting list of the single RAREST lemma only (R13, :164-174) → per
(page, lemma) TF point-probe loop (R5) → BM25 with tf = rank/len
(R12, :269-279) → sort desc (R15) → offset/limit (R17).

Spark rebuild: the O(pages × lemmas) point-probe loop collapses into
ONE join of candidate pages × query-term postings; BM25 is pure column
arithmetic inside whole-stage codegen; top-k goes through
``orderBy().limit()`` → TakeOrderedAndProject (true distributed
top-k, no global sort); pagination windows only the ≤ offset+limit
surviving rows.

Semantics locked by tests (easy to "fix" accidentally — don't):
- tf is PRE-normalized by doc length before entering the classic BM25
  formula (SearchServiceImpl.java:274-279) — nonstandard, copied.
- df is global across all sites, while N counts only the searched
  sites (SearchServiceImpl.java:244-255).
- avg page length is global (PageRepository.java:26-27), even under a
  site restriction.
- absent (page, lemma) → tf = 0 → the term contributes 0 (:269-272).
- tie-break: (score desc, id asc) — normative; the reference's order
  on ties is HashMap-nondeterministic (:207-216).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import lemma_counts_py, tokenize_py
from search_engine_spark.lru import index_memo
from search_engine_spark.operators.postings import InvertedIndex


def analyze_query(query: str, lang: str = "english",
                  analyzer: str = "lemma") -> list[str]:
    """Query string → distinct terms (same pipeline as indexing)."""
    if analyzer == "lemma":
        return sorted(lemma_counts_py(query, lang))
    return sorted(set(tokenize_py(query, lang)))


def drop_stopwords(index, terms: list[str]) -> list[str]:
    """``terms`` minus the index's stop-list (R14/R19), order kept.
    ``index`` is anything carrying a ``stoplist``."""
    stop = set(index.stoplist)
    return [t for t in terms if t not in stop]


def query_terms(
    index,
    query: str,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    fuzzy: bool = False,
    fuzzy_max_dist: int = 1,
) -> list[str]:
    """The terms a ranker scores for ``query``: :func:`analyze_query`,
    then (``fuzzy``) the out-of-dictionary rewrite, then stop-lemma
    removal.  ``index`` is an InvertedIndex, CompactIndex or view."""
    terms = analyze_query(query, lang, analyzer)
    if fuzzy:
        from search_engine_spark.operators.fuzzy import (
            correct_query_terms,
        )

        fixes = correct_query_terms(
            index.term_stats, terms, max_dist=fuzzy_max_dist
        )
        terms = sorted({v for v in (fixes[t] for t in terms) if v})
    return drop_stopwords(index, terms) if use_stoplist else terms


def rarest_term(
    idf: dict[str, float], terms: list[str] | None = None
) -> str:
    """R13: the max-IDF term of ``terms`` (default: every key of
    ``idf``); equal IDFs break ties term asc — normative."""
    return min(idf if terms is None else terms, key=lambda t: (-idf[t], t))


def batch_query_terms(
    index,
    queries,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> list[tuple[int, str, float, bool, int]]:
    """``[(query_id, term, idf, is_rarest, n_terms)]`` for a query
    set ``[(query_id, text)]``: each query through :func:`query_terms`,
    ONE :func:`query_term_idf` probe for the union vocabulary, then
    per query the R1/R11 drop and the R13 rarest flag.  Queries that
    lose every term contribute no rows."""
    per_query = {
        qid: query_terms(index, q or "", lang, analyzer, use_stoplist)
        for qid, q in queries
    }
    idf = query_term_idf(
        index, sorted({t for ts in per_query.values() for t in ts}), sites
    )
    rows = []
    for qid, terms in per_query.items():
        terms = [t for t in terms if t in idf]
        if terms:
            rarest = rarest_term(idf, terms)
            rows.extend(
                (qid, t, float(idf[t]), t == rarest, len(terms))
                for t in terms
            )
    return rows


def empty_ranked(frame: DataFrame) -> DataFrame:
    """The correctly-typed zero-row ranked result: ``frame``'s columns
    (so the id keeps its real type) plus ``score`` 0.0 and ``rn`` 0 —
    the reference's empty response when no query term survives."""
    return (
        frame.limit(0)
        .withColumn("score", F.lit(0.0))
        .withColumn("rn", F.lit(0))
    )


def paginate(
    scored: DataFrame,
    id_col: str,
    offset: int,
    limit: int,
    cols: list[str] | None = None,
) -> DataFrame:
    """R15+R17+R18, the one ranked tail of every family: distributed
    top-(offset+limit) — TakeOrderedAndProject, never a global sort —
    then ``rn`` over the tiny surviving set with a window; rows with
    ``rn > offset`` keep ``cols`` (default: all of ``scored``'s
    columns) plus ``rn``."""
    top = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(
        offset + limit
    )
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (
        top.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > offset)
        .select(*(cols or scored.columns), "rn")
    )


# Per-index-object memo entry cap: a long-lived serving process
# cycling through a crawl-wide vocabulary must not grow the df/block
# metadata memos without bound (same rationale as the lemmatizer's
# _LEMMA_MEMO_CAP).  Shared with the WAND block-metadata memos.
_MEMO_CAP = 262_144


def robertson_idf(n: int, dfs: dict[str, int]) -> dict[str, float]:
    """idf = ln((N − df + 0.5) / (df + 0.5))  [Robertson; may go
    negative] per term of ``dfs``; the one IDF rule of the Spark and
    the driver-local scorers."""
    out = {}
    for t, df in dfs.items():
        if df <= 0:
            continue  # absent from the dictionary: dropped (R1)
        ratio = (n - df + 0.5) / (df + 0.5)
        # Normative: global df may exceed local N under a site
        # restriction (the quirk); the reference's Math.log(<=0) would
        # be NaN, poisoning all scores — we drop such terms instead.
        if ratio > 0:
            out[t] = math.log(ratio)
    return out


def query_term_idf(
    index: InvertedIndex,
    terms: list[str],
    sites: list[str] | None = None,
) -> dict[str, float]:
    """IDF per query term — R11 with the global-df/local-N quirk
    (:func:`robertson_idf`)."""
    if not terms:
        return {}
    if sites:
        rows = (
            index.site_stats.filter(F.col("site").isin(sites))
            .agg(F.sum("pages").alias("n"))
            .collect()
        )
        n = int(rows[0]["n"] or 0)
    else:
        n = index.n_docs

    # per-index-object df memo: repeated-vocab queries skip the
    # term-dictionary probe job entirely (serving path: one fewer
    # Spark job per query).  df is GLOBAL (unaffected by `sites`), so
    # the memo is valid across site restrictions.
    def fill(missing):
        df_rows = (
            index.term_stats.filter(F.col("term").isin(missing))
            .collect()
        )
        found = {r["term"]: int(r["df"]) for r in df_rows}
        # 0 = definitely absent from the dictionary
        return {t: found.get(t, 0) for t in missing}

    memo = index_memo(index, "_df_memo", _MEMO_CAP)
    return robertson_idf(n, memo.fetch(terms, fill))


def bm25_term_score_col(
    idf_map: dict[str, float] | F.Column,
    k1: float,
    b: float,
    avg_len: float,
) -> F.Column:
    """Per-posting BM25 contribution (R11+R12) as one JVM column
    expression over (term, tf, doc_len) — whole-stage codegen, shared
    by the exploded-postings path, the compact/WAND path and the
    percolator (which passes idf as a joined Column instead of a
    literal map) so all are rank-identical by construction."""
    if isinstance(idf_map, F.Column):
        idf_col = idf_map
    else:
        terms = sorted(idf_map)
        idf_col = F.create_map(
            *[x for t in terms for x in (F.lit(t), F.lit(idf_map[t]))]
        )[F.col("term")]
    tfn = F.col("tf").cast("double") / F.col("doc_len")
    return (
        idf_col
        * tfn
        * F.lit(k1 + 1.0)
        / (
            tfn
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avg_len))
        )
    )


def search(
    index: InvertedIndex,
    query: str,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    fuzzy: bool = False,
    fuzzy_max_dist: int = 1,
    candidates: str = "rarest",
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Top-(offset+limit) BM25 results: (id, site, score, rn).

    Returns an EMPTY frame (same schema) when no query term survives
    analysis/stop-removal — mirroring the reference's empty response.

    ``fuzzy=True`` rewrites out-of-dictionary query terms to their
    best SymSpell match within ``fuzzy_max_dist`` (min edit distance,
    then max df, then lexical — deterministic) BEFORE stop-removal;
    unknown terms with no match stay absent, exactly like the
    reference's silent unknown-lemma drop.

    ``candidates``: "rarest" (reference R13 semantics — AND-leaning
    recall from the single max-IDF term's postings), "union" (OR
    semantics: any doc containing ANY query term scores; same BM25
    arithmetic, one extra distinct over the query-term postings —
    still O(query-term postings), never a corpus scan), or "all"
    (strict AND: only docs containing EVERY surviving query term —
    one count aggregate over the query-term postings).

    ``exclude_terms``: NOT semantics — drop any candidate containing
    one of these terms (analyzed with the same pipeline), via ONE
    anti-join against the excluded terms' postings; cost is
    O(excluded-term postings), never a corpus scan.
    """
    scored, empty = _scored_pool(
        index, query, sites, lang, analyzer, use_stoplist,
        fuzzy, fuzzy_max_dist, candidates, exclude_terms,
    )
    if scored is None:
        return empty
    return paginate(scored, index.id_col, offset, limit)


def search_after(
    index: InvertedIndex,
    query: str,
    after: tuple[float, str] | None = None,
    limit: int = 20,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    fuzzy: bool = False,
    fuzzy_max_dist: int = 1,
    candidates: str = "rarest",
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Cursor pagination (Elasticsearch ``search_after`` semantics):
    the next ``limit`` results strictly after the ``(score, id)``
    cursor — pass the LAST row of the previous page.

    Deep ``offset`` pagination is the corpus-scale antipattern: page
    N costs a top-(offset+limit) that grows with N.  The cursor
    filter ``(score < s) OR (score = s AND id > last)`` — the
    strict-successor test in the (score desc, id asc) total order —
    is applied BEFORE the top-k, so every page is the same
    top-``limit`` TakeOrderedAndProject over a shrinking pool.
    Within one index build scores are deterministic, so walking pages
    by cursor yields exactly the offset slices (pytest-pinned).

    ``rn`` restarts at 1 per page (a cursor page has no global rank —
    same as ES).  ``after=None`` is page one."""
    scored, empty = _scored_pool(
        index, query, sites, lang, analyzer, use_stoplist,
        fuzzy, fuzzy_max_dist, candidates, exclude_terms,
    )
    if scored is None:
        return empty
    id_col = index.id_col
    if after is not None:
        s, last_id = after
        scored = scored.filter(
            (F.col("score") < F.lit(s))
            | (
                (F.col("score") == F.lit(s))
                & (F.col(id_col) > F.lit(last_id))
            )
        )
    return paginate(scored, id_col, 0, limit)


def _scored_pool(
    index: InvertedIndex,
    query: str,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    fuzzy: bool = False,
    fuzzy_max_dist: int = 1,
    candidates: str = "rarest",
    exclude_terms: list[str] | None = None,
    term_score=None,
) -> tuple[DataFrame | None, DataFrame]:
    """The shared pre-pagination stage of :func:`search`: analysis →
    candidate generation → one candidates × query-postings join →
    per-doc sums of ``term_score(idf)``, a per-posting column over
    (term, tf, doc_len) — BM25 (:func:`bm25_term_score_col`) by
    default.  Returns ``(scored, empty)``; ``scored`` is None when no
    query term survives (callers return ``empty``, the correctly-typed
    zero-row frame)."""
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b

    terms = query_terms(
        index, query, lang, analyzer, use_stoplist, fuzzy, fuzzy_max_dist
    )
    idf = query_term_idf(index, terms, sites)
    terms = [t for t in terms if t in idf]

    empty = empty_ranked(index.doc_lens.select(id_col, "site"))
    if not terms:
        return None, empty

    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))  # R2

    if candidates == "union":
        cand_ids = (
            index.postings.filter(F.col("term").isin(terms))
            .select(id_col)
            .distinct()
        )
    elif candidates == "all":
        # strict AND: docs containing EVERY surviving query term.
        # postings are unique per (term, doc), so count == n_terms ⇔
        # all terms present; one map-side-combined count over the
        # query terms' postings — O(query postings), never a corpus
        # scan, same cost shape as "union".
        cand_ids = (
            index.postings.filter(F.col("term").isin(terms))
            .groupBy(id_col)
            .agg(F.count("term").alias("_nt"))
            .filter(F.col("_nt") == len(terms))
            .select(id_col)
        )
    else:
        # R13: candidates = postings of the single rarest (max-IDF)
        # lemma.  "union" mode widens to any-term membership (OR
        # semantics) for recall-oriented callers (more_like_this).
        cand_ids = index.postings.filter(
            F.col("term") == rarest_term(idf)
        ).select(id_col)
    if exclude_terms:
        ex = [
            t
            for raw in exclude_terms
            for t in analyze_query(raw, lang, analyzer)
        ]
        if ex:
            cand_ids = cand_ids.join(
                index.postings.filter(F.col("term").isin(ex)).select(
                    id_col
                ),
                id_col,
                "left_anti",
            )
    candidates = cand_ids.join(
        doc_lens.select(id_col, "site", "doc_len"), id_col
    )

    # R5 collapsed: one join of candidates × all-query-term postings.
    qpost = index.postings.filter(F.col("term").isin(terms))
    scored = (
        candidates.join(qpost, id_col, "inner")
        .withColumn(
            "term_score",
            term_score(idf)
            if term_score
            else bm25_term_score_col(idf, k1, b, index.avg_len),
        )
        .groupBy(id_col, "site")
        .agg(F.sum("term_score").alias("score"))
    )
    return scored, empty


def search_collapsed(
    index: InvertedIndex,
    query: str,
    per_site: int = 1,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    fuzzy: bool = False,
    fuzzy_max_dist: int = 1,
    candidates: str = "rarest",
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """:func:`search` with host crowding collapsed — at most
    ``per_site`` results per site in the final ranking (the classic
    web-search diversification; Lucene's ``CollapsingTopDocsCollector``
    / ES ``collapse`` semantics): within a site, only that site's
    ``per_site`` best-scored docs compete, ranks/pagination apply to
    the survivors.

    Exactness: the per-site cut runs over the FULL scored candidate
    pool (before any top-k), so a doc crowded IN by stronger same-site
    docs being cut can never be missed — no pool-size heuristic.

    Plan shape at scale: one extra window partitioned by ``site``
    over the scored pool.  The pool is O(rarest-term postings), and a
    single site's slice of one query's pool is far smaller still —
    no skew concern; then the same TakeOrderedAndProject top-k as
    plain search.  ``per_site=1`` → classic one-hit-per-host SERP.
    """
    scored, empty = _scored_pool(
        index, query, sites, lang, analyzer, use_stoplist,
        fuzzy, fuzzy_max_dist, candidates, exclude_terms,
    )
    if scored is None:
        return empty
    id_col = index.id_col
    w = Window.partitionBy("site").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    best = (
        scored.withColumn("__sr", F.row_number().over(w))
        .filter(F.col("__sr") <= per_site)
        .drop("__sr")
    )
    return paginate(best, id_col, offset, limit)


def search_with_priors(
    index: InvertedIndex,
    query: str,
    priors: DataFrame,
    prior_weight: float = 1.0,
    prior_col: str = "prior",
    default_prior: float | None = None,
    sites: list[str] | None = None,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    candidates: str = "rarest",
) -> DataFrame:
    """:func:`search` with a query-independent static prior folded
    into the ranking — the classic web-search combination (Brin &
    Page 1998; Craswell 2005's ``score + w·ln(prior)``): BM25 says
    how well the doc matches, the prior (PageRank, URL-depth,
    quality score — any positive per-doc signal, e.g.
    ``operators.graph.pagerank`` output) says how much the doc is
    trusted a priori.

    ``final = bm25 + prior_weight * ln(prior)`` — log-dampened so a
    10× prior difference shifts scores additively, never swamping
    strong term matches.  Docs absent from ``priors`` get
    ``default_prior`` (None ⇒ the log term is 0, i.e. neutral
    prior 1.0).

    Plan shape at scale: the prior join runs AFTER scoring, on the
    candidate pool (O(rarest-term postings) rows) — the corpus-sized
    priors table is the probe side of one equi-join keyed by the
    near-unique doc id, never re-scanned per term; everything else is
    the unchanged search plan.
    """
    scored, empty = _scored_pool(
        index, query, sites, lang, analyzer, use_stoplist,
        candidates=candidates,
    )
    if scored is None:
        return empty
    id_col = index.id_col
    neutral = F.lit(
        0.0 if default_prior is None else math.log(default_prior)
    )
    boosted = scored.join(
        priors.select(id_col, F.col(prior_col).alias("__prior")),
        id_col,
        "left",
    ).withColumn(
        "score",
        F.col("score")
        + F.lit(prior_weight)
        * F.coalesce(F.log(F.col("__prior")), neutral),
    ).drop("__prior")
    return paginate(boosted, id_col, offset, limit)


def search_total(
    index: InvertedIndex,
    query: str,
    sites: list[str] | None = None,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> int:
    """Pre-pagination candidate total (the reference's ``count``,
    SearchServiceImpl.java:89-98)."""
    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist),
        sites,
    )
    if not idf:
        return 0
    doc_lens = index.doc_lens
    if sites:
        doc_lens = doc_lens.filter(F.col("site").isin(sites))
    return (
        index.postings.filter(F.col("term") == rarest_term(idf))
        .join(doc_lens.select(index.id_col), index.id_col)
        .count()
    )


def bm25f_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    body_col: str = "tokens",
    title_col: str = "title_tokens",
    title_weight: float = 2.0,
    k1: float = 1.5,
    b: float = 0.75,
    limit: int = 10,
) -> DataFrame:
    """Simple-BM25F top-k: field-weighted term frequencies scored
    with the engine's tf-normalized BM25 variant.

    Robertson's "simple BM25F" (Robertson & Zaragoza, "The
    Probabilistic Relevance Framework: BM25 and Beyond", 2009 §6):
    fields are merged BEFORE saturation — a title occurrence counts
    ``title_weight`` times, so weighted tf ``wtf = tf_body +
    w·tf_title`` and weighted length ``wlen = len_body + w·len_title``
    feed the ordinary BM25 formula (here the engine's tf = wtf/wlen
    variant, plans/search.py:83 semantics; Robertson IDF over
    docs-containing-the-term-in-any-field, negatives kept).  The
    reference scores body text only (SearchServiceImpl.java:154-210);
    this is the standard field-aware extension of that scorer, not a
    second ranking model.

    Plan shape: both fields explode into ONE (doc, term, weight)
    stream — weighted tf and weighted length are then a single
    map-side-combined aggregation each; the per-term totals for IDF
    ride a tiny broadcast.  No UDFs anywhere.  Returns
    ``(<id>, score)`` top-``limit``, ties broken id asc
    (TakeOrderedAndProject — no global sort).
    """
    spark = df.sparkSession
    terms = sorted(set(query_terms))
    if not terms:
        return spark.createDataFrame([], f"{id_col} long, score double")

    w = float(title_weight)
    body = df.select(
        F.col(id_col),
        F.explode(F.col(body_col)).alias("term"),
        F.lit(1.0).alias("wt"),
    )
    title = df.select(
        F.col(id_col),
        F.explode(F.col(title_col)).alias("term"),
        F.lit(w).alias("wt"),
    )
    stream = body.unionByName(title)

    # weighted doc length over ALL terms (one map-side-combined agg);
    # docs with empty fields keep wlen 0 via the left join
    wlens = df.select(
        F.col(id_col),
        (
            F.size(F.col(body_col)).cast("double")
            + F.lit(w) * F.size(F.col(title_col)).cast("double")
        ).alias("wlen"),
    )
    scalars = wlens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("wlen").alias("avg_wlen")
    ).collect()[0]
    n_docs, avg_wlen = int(scalars["n"]), float(scalars["avg_wlen"])

    qtf = (
        stream.filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.sum("wt").alias("wtf"))
    )
    dfreq = {
        r["term"]: r["df"]
        for r in qtf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    import math

    idf = {
        t: math.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
        for t in terms
        if t in dfreq
    }
    if not idf:
        return spark.createDataFrame([], f"{id_col} long, score double")

    idf_col = F.create_map(
        *[x for t in sorted(idf) for x in (F.lit(t), F.lit(idf[t]))]
    )[F.col("term")]
    scored = qtf.join(wlens, id_col)
    tfn = F.col("wtf") / F.col("wlen")
    denom = tfn + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("wlen") / F.lit(avg_wlen)
    )
    return (
        scored.withColumn(
            "contrib", idf_col * tfn * F.lit(k1 + 1.0) / denom
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )


def dismax_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    field_cols: tuple[str, ...] = ("tokens", "title_tokens"),
    tie_breaker: float = 0.3,
    k1: float = 1.5,
    b: float = 0.75,
    limit: int = 10,
) -> DataFrame:
    """Disjunction-max multi-field top-k — Elasticsearch
    ``multi_match type=best_fields`` / Lucene ``DisjunctionMaxQuery``
    semantics, the per-field companion of :func:`bm25f_topk` (which
    merges fields BEFORE saturation; dis_max scores each field
    independently and combines AFTER):

        score(d) = max_f score_f(d)
                   + tie_breaker · Σ_{other f} score_f(d)

    Each field scores with its OWN statistics (per-field df, per-field
    avg length over docs where the field is non-empty — a doc missing
    a field simply has no posting there), using the engine's
    tf-normalized BM25 variant with Robertson IDF (negatives kept,
    matching bm25f_topk).  ``tie_breaker=0`` is pure best-field;
    ``1.0`` degrades to a per-field score sum.

    Plan shape: per field one explode + two map-side-combined
    aggregations (the same shapes as bm25f), then one full-outer join
    of the per-field per-doc score frames (each already ≤ candidate
    size) and a TakeOrderedAndProject.  No UDFs.
    Returns ``(<id>, score)``, ties id asc."""
    import math
    from functools import reduce as _reduce

    spark = df.sparkSession
    terms = sorted(set(query_terms))
    if not terms or not field_cols:
        return spark.createDataFrame([], f"{id_col} long, score double")

    per_field = []
    for i, fc in enumerate(field_cols):
        lens = df.select(
            F.col(id_col), F.size(F.col(fc)).cast("double").alias("len")
        ).filter(F.col("len") > 0)
        sc = lens.agg(
            F.count(F.lit(1)).alias("n"), F.avg("len").alias("avg")
        ).collect()[0]
        n_f, avg_f = int(sc["n"]), float(sc["avg"] or 0.0)
        if n_f == 0:
            continue
        tf = (
            df.select(
                F.col(id_col), F.explode(F.col(fc)).alias("term")
            )
            .filter(F.col("term").isin(terms))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = {
            r["term"]: r["df"]
            for r in tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        }
        idf = {
            t: math.log((n_f - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            for t in terms
            if t in dfreq
        }
        if not idf:
            continue
        idf_col = F.create_map(
            *[
                x
                for t in sorted(idf)
                for x in (F.lit(t), F.lit(idf[t]))
            ]
        )[F.col("term")]
        tfn = F.col("tf").cast("double") / F.col("len")
        denom = tfn + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("len") / F.lit(avg_f)
        )
        col_name = f"s{i}"
        per_field.append(
            tf.join(lens, id_col)
            .withColumn(
                "contrib", idf_col * tfn * F.lit(k1 + 1.0) / denom
            )
            .groupBy(id_col)
            .agg(F.sum("contrib").alias(col_name))
        )
    if not per_field:
        return spark.createDataFrame([], f"{id_col} long, score double")

    joined = _reduce(
        lambda a, b_: a.join(b_, id_col, "full_outer"), per_field
    )
    score_cols = [c for c in joined.columns if c != id_col]
    mx = (
        F.greatest(*[F.col(c) for c in score_cols])
        if len(score_cols) > 1
        else F.col(score_cols[0])
    )
    total = _reduce(
        lambda a, b_: a + b_,
        [F.coalesce(F.col(c), F.lit(0.0)) for c in score_cols],
    )
    score = mx + F.lit(float(tie_breaker)) * (total - mx)
    return (
        joined.withColumn("score", F.round(score, 6))
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )


def search_many(
    index: InvertedIndex,
    queries: list[str],
    sites: list[str] | None = None,
    limit: int = 20,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Batch query evaluation: the whole query SET in ONE job —
    ``(query_id, <id>, site, score, rn)``, rank-identical per query
    to :func:`search` (pinned by tests).

    A query server replays the reference query set as q/s; running
    each query as its own Spark job bills fixed job overhead
    (scheduling, scan setup, shuffle barriers) per query.  Batch
    evaluation is the Spark-native alternative: ONE pass over the
    postings serves every query —

    - all queries' term IDFs come from one broadcast-stats lookup;
    - the rarest-term candidate generation (R13) for all queries is
      one filtered scan joined to a broadcast (query_id, rarest-term)
      frame;
    - the TF fetch (R5) for all queries is one filtered scan joined
      to the broadcast (query_id, term, idf) frame — a posting row
      shared by k queries fans out k times, which is the point: the
      scan and shuffle happen once;
    - per-query ranking is one window partitioned by query_id
      (skew-free: each query's candidate set is top-k-sized).

    Queries with no surviving terms yield no rows (the reference's
    empty response).  ``query_id`` is the position in ``queries``.
    """
    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b
    spark = index.postings.sparkSession

    rows = [
        r[:4]
        for r in batch_query_terms(
            index, enumerate(queries), sites, lang, analyzer, use_stoplist
        )
    ]
    if not rows:
        return empty_ranked(
            index.doc_lens.select(F.lit(0).alias("query_id"), id_col, "site")
        )
    qterm = spark.createDataFrame(
        rows, "query_id int, term string, idf double, is_rarest boolean"
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
        .join(doc_lens.select(id_col, "site", "doc_len"), id_col)
    )

    qpost = index.postings.filter(F.col("term").isin(used_terms)).join(
        F.broadcast(qterm.select("query_id", "term", "idf")), "term"
    )

    scored = (
        cand.join(qpost, ["query_id", id_col], "inner")
        .withColumn(
            "term_score",
            bm25_term_score_col(F.col("idf"), k1, b, index.avg_len),
        )
        .groupBy("query_id", id_col, "site")
        .agg(F.sum("term_score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= limit)
        .select("query_id", id_col, "site", "score", "rn")
    )


def more_like_this(
    index: InvertedIndex,
    doc_id,
    k: int = 10,
    n_terms: int = 8,
    sites: list[str] | None = None,
) -> DataFrame:
    """Documents most similar to ``doc_id`` — Lucene-MoreLikeThis
    style: take the source document's ``n_terms`` highest-tf·idf
    non-stop terms from the index (no re-tokenization — the postings
    ARE the term vector), then BM25-rank the corpus against them,
    excluding the source doc.

    Plan shape: the term selection reads ONE doc's postings (an
    id-keyed filter on the postings table — partition-prunable by the
    same layout that serves tf point-probes) joined to the broadcast
    term_stats; the ranking phase is the production ``search`` path
    with its candidate-generation and broadcast-stats behavior —
    per-query work stays O(query terms), never a corpus scan.

    Deterministic: term pick orders by (tf·idf desc, term asc); result
    keeps the search path's (score desc, id asc) ordering contract.
    """
    id_col = index.id_col
    n_docs = index.doc_lens.count()
    stop = set(index.stoplist)

    doc_terms = (
        index.postings.filter(F.col(id_col) == doc_id)
        .join(F.broadcast(index.term_stats.select("term", "df")), "term")
        .withColumn(
            "idf",
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn("w", F.col("tf") * F.col("idf"))
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(n_terms + len(stop))
        .collect()
    )
    # drop stop terms AND df==1 terms (unique to the source doc — they
    # cannot match any OTHER document, and under rarest-term candidate
    # generation they would collapse recall to the source itself)
    terms = [
        r["term"]
        for r in doc_terms
        if r["term"] not in stop and r["df"] > 1
    ][:n_terms]
    if not terms:
        return empty_ranked(index.doc_lens.select(id_col, "site"))
    res = search(
        index, " ".join(terms), sites=sites, limit=k + 1,
        analyzer="tokens", use_stoplist=False, candidates="union",
    )
    return (
        res.filter(F.col(id_col) != doc_id)
        .orderBy(F.asc("rn"))
        .limit(k)
    )


def facet_counts(
    index: InvertedIndex,
    query: str,
    facet_col: str = "site",
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
    candidates: str = "rarest",
) -> DataFrame:
    """``(<facet>, hits)`` — how many matching documents per facet
    value (the sidebar counts of a search UI), under the same
    candidate semantics as :func:`search` ("rarest" reference R13 or
    "union" OR-mode).

    One candidate generation + one map-side-combined count — no
    scoring, no window; cost is O(candidate postings).
    """
    idf = query_term_idf(
        index, query_terms(index, query, lang, analyzer, use_stoplist)
    )
    terms = sorted(idf)
    id_col = index.id_col
    if not terms:
        return (
            index.doc_lens.select(facet_col)
            .limit(0)
            .withColumn("hits", F.lit(0).cast("long"))
        )
    if candidates == "union":
        cand = (
            index.postings.filter(F.col("term").isin(terms))
            .select(id_col)
            .distinct()
        )
    else:
        cand = index.postings.filter(
            F.col("term") == rarest_term(idf)
        ).select(id_col)
    return (
        cand.join(index.doc_lens.select(id_col, facet_col), id_col)
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
