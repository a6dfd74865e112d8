"""Anchor-text indexing — link text credits the TARGET page.

The classic web-search signal (Brin & Page 1998 §2.2; "anchor text
often provides a better description of a page than the page itself"):
for every same-site link ``<a href=T>words</a>`` on any page, the
words are indexed against T, so a page can rank for terms it never
contains ("download page" anchors pointing at a binary).  The
reference crawls links but discards their text
(services/utils/RecursiveWebParser.java:152-170 keeps hrefs only);
this module extends that S2 surface with the text.

Pipeline (everything JVM-side, no Python on any hot path):

1. :func:`extract_anchors_col` — (link, anchor-text) pairs per page,
   same absolutization/same-site/forbidden-type rules as
   ``functions.textproc.extract_links_col`` but WITHOUT de-dup: two
   links to the same target contribute their anchor words twice,
   exactly like two body occurrences.
2. :func:`anchor_postings` — postings-shaped ``(target, term, tf)``:
   explode pages × anchors × tokens, ONE map-side-combined
   aggregation keyed (target, term).  Postings shape deliberately —
   a popular page's combined anchor text at web scale is millions of
   tokens, which must never materialize as one array row; as
   aggregated counts it is a few thousand (term, tf) rows, and the
   hot (target, term) pairs ("click here" → a famous page) partial-
   aggregate map-side before the shuffle.
3. :func:`anchor_lens` — per-target weighted-length table (Σ tf).
4. :func:`search_anchored` — simple-BM25F merge of the body index
   with the anchor field (Robertson & Zaragoza 2009 §6, the same
   merged-before-saturation semantics as ``plans.search.bm25f_topk``):
   ``wtf = tf_body + w·tf_anchor``, ``wlen = doc_len + w·anchor_len``
   through the engine's tf-normalized BM25 variant.  A doc whose ONLY
   evidence is anchor text is still a candidate (full-outer field
   merge) — the signature anchor-text win.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import (
    FORBIDDEN_URL_TYPES,
    tokens_col,
)
from search_engine_spark.operators.postings import InvertedIndex

# one pattern, two capture groups: href and inner anchor HTML.  Two
# regexp_extract_all passes over the same pattern yield equal-length
# arrays, so arrays_zip pairs them positionally.
_ANCHOR_PATTERN = (
    "(?is)<a\\s[^>]*?href\\s*=\\s*[\"']([^\"']*)[\"'][^>]*>(.*?)</a>"
)


def extract_anchors_col(
    html_binary: Column,
    url: Column,
    forbidden_types: tuple[str, ...] = FORBIDDEN_URL_TYPES,
) -> Column:
    """``array<struct<link string, anchor string>>`` — same-site
    outbound links of one page WITH their anchor text (tags inside
    the anchor stripped; no de-dup — repeated links repeat their
    words, like repeated body terms)."""
    html_str = F.decode(html_binary, "UTF-8")
    root = F.concat(
        F.parse_url(url, F.lit("PROTOCOL")),
        F.lit("://"),
        F.parse_url(url, F.lit("HOST")),
    )
    hrefs = F.regexp_extract_all(html_str, F.lit(_ANCHOR_PATTERN), 1)
    texts = F.regexp_extract_all(html_str, F.lit(_ANCHOR_PATTERN), 2)
    pairs = F.arrays_zip(
        hrefs.alias("href"), texts.alias("anchor")
    )
    main_url = F.concat(root, F.lit("/"))
    absolutized = F.transform(
        pairs,
        lambda p: F.struct(
            F.when(p["href"].startswith("http"), p["href"])
            .when(p["href"].startswith("/"), F.concat(root, p["href"]))
            .alias("link"),
            F.regexp_replace(p["anchor"], "<[^>]*>", " ").alias(
                "anchor"
            ),
        ),
    )
    return F.filter(
        absolutized,
        lambda p: p["link"].isNotNull()
        & p["link"].startswith(main_url)
        & (p["link"] != main_url)
        & (p["link"] != url)
        & ~F.exists(
            F.array(*[F.lit(t) for t in forbidden_types]),
            lambda t: p["link"].contains(t),
        ),
    )


def anchor_postings(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    lang: str = "english",
) -> DataFrame:
    """``(target, term, tf)`` — anchor-text postings keyed by the
    TARGET url.  One explode + one map-side-combined aggregation; the
    pages' body text is never touched (column pruning keeps the scan
    to html+url)."""
    anchors = pages.select(
        F.explode(
            extract_anchors_col(F.col(html_col), F.col(url_col))
        ).alias("a")
    )
    toks = anchors.select(
        F.col("a.link").alias("target"),
        F.explode(
            tokens_col(F.col("a.anchor"), lang)
        ).alias("term"),
    )
    return toks.groupBy("target", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )


def anchor_lens(anchors: DataFrame) -> DataFrame:
    """``(target, anchor_len)`` — total anchor tokens per target
    (the anchor field's document length)."""
    return anchors.groupBy("target").agg(
        F.sum("tf").cast("long").alias("anchor_len")
    )


def search_anchored(
    index: InvertedIndex,
    anchors: DataFrame,
    query: str,
    anchor_weight: float = 2.0,
    limit: int = 10,
    lang: str = "english",
    analyzer: str = "lemma",
    use_stoplist: bool = True,
) -> DataFrame:
    """Simple-BM25F top-k over body + anchor fields:
    ``(<id>, site, score, rn)``.

    ``anchors`` is :func:`anchor_postings` output whose ``target``
    values are the index's ids (url-keyed index: pass it verbatim;
    surrogate-keyed corpora: join your url→id map first).

    Semantics (mirrors ``plans.search.bm25f_topk``, Robertson's
    simple BM25F): fields merge BEFORE saturation — ``wtf = tf_body
    + w·tf_anchor``, ``wlen = doc_len + w·anchor_len``; Robertson IDF
    over docs containing the term in ANY field (positivity-dropped
    like R11); candidates = any doc with any query term in any field
    (anchor-only docs rank — the anchor-text win); stoplist applies
    to query terms like plain search.

    Plan shape at scale: both fields are already postings-shaped —
    query terms filter each side BEFORE the (id, term) full-outer
    merge, so every join input is O(query-term postings); the
    per-term df aggregate is metadata-sized; wlen joins ride the
    near-unique id key.  No corpus scan, no UDF.
    """
    from search_engine_spark.plans.search import (
        empty_ranked,
        paginate,
        query_terms,
        robertson_idf,
    )

    id_col = index.id_col
    k1, b = index.config.bm25.k1, index.config.bm25.b
    w = float(anchor_weight)

    terms = query_terms(index, query, lang, analyzer, use_stoplist)
    empty = empty_ranked(index.doc_lens.select(id_col, "site"))
    if not terms:
        return empty

    body = index.postings.filter(F.col("term").isin(terms)).select(
        F.col(id_col), "term", F.col("tf").alias("tf_body")
    )
    anch = anchors.filter(F.col("term").isin(terms)).select(
        F.col("target").alias(id_col),
        "term",
        F.col("tf").alias("tf_anchor"),
    )
    merged = body.join(anch, [id_col, "term"], "full_outer").select(
        id_col,
        "term",
        (
            F.coalesce(F.col("tf_body"), F.lit(0)).cast("double")
            + F.lit(w)
            * F.coalesce(F.col("tf_anchor"), F.lit(0)).cast("double")
        ).alias("wtf"),
    )

    # weighted lengths for every corpus doc (anchor-only targets that
    # aren't corpus docs drop at this inner join)
    wlens = index.doc_lens.join(
        anchor_lens(anchors).withColumnRenamed("target", id_col),
        id_col,
        "left",
    ).select(
        id_col,
        "site",
        (
            F.col("doc_len").cast("double")
            + F.lit(w)
            * F.coalesce(F.col("anchor_len"), F.lit(0)).cast("double")
        ).alias("wlen"),
    )
    avg_wlen = float(
        wlens.agg(F.avg("wlen")).collect()[0][0] or 0.0
    )
    n_docs = index.n_docs

    scored_input = merged.join(wlens, id_col, "inner")

    # per-term df over docs containing the term in ANY field —
    # restricted to corpus docs (post-join), metadata-sized collect
    dfreq = {
        r["term"]: int(r["df"])
        for r in scored_input.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    idf = robertson_idf(n_docs, {t: dfreq.get(t, 0) for t in terms})
    if not idf:
        return empty

    idf_col = F.create_map(
        *[x for t in sorted(idf) for x in (F.lit(t), F.lit(idf[t]))]
    )[F.col("term")]
    tfn = F.col("wtf") / F.col("wlen")
    term_score = (
        idf_col
        * tfn
        * F.lit(k1 + 1.0)
        / (
            tfn
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("wlen") / F.lit(avg_wlen)
            )
        )
    )
    scored = (
        scored_input.filter(F.col("term").isin(sorted(idf)))
        .withColumn("term_score", term_score)
        .groupBy(id_col, "site")
        .agg(F.sum("term_score").alias("score"))
    )
    return paginate(scored, id_col, 0, limit)
