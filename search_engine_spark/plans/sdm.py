"""Sequential Dependence Model ranking (Metzler & Croft, SIGIR 2005).

The fourth ranking family next to BM25 (plans/search.py), query
likelihood (plans/lm.py) and DFR PL2 (plans/dfr.py) — and the one
that actually USES term proximity: SDM scores a document with three
Dirichlet-smoothed log-probability feature classes over the query's
token SEQUENCE (not its term set),

    score(d) = λ_T · Σ_{t ∈ q}        f_T(t, d)
             + λ_O · Σ_{(a,b) ∈ adj(q)} f_O(a b, d)      (#1   — ordered)
             + λ_U · Σ_{(a,b) ∈ adj(q)} f_U(a b, d)      (#uwN — unordered)

    f_X(e, d) = ln( (tf_X(e, d) + μ · cf_X(e) / |C|) / (len_d + μ) )

where ``adj(q)`` is the consecutive query-token bigrams, ``tf_#1`` is
the exact adjacent-pair count (a at i, b at i+1), ``tf_#uwN`` counts
occurrence pairs within a window of N tokens (|i − j| ≤ N − 1, i ≠ j,
either order — pair-count semantics, stated exactly so the DuckDB
oracle can reproduce it bit-for-bit), and ``cf_X`` / ``|C|`` are the
corpus totals of the same event / of all tokens.  Defaults are the
paper's (λ_T, λ_O, λ_U) = (0.85, 0.10, 0.05) and N = 8, μ = 2500.

Determinism/contract choices:
- the query is tokenized in ORDER (plans/search.analyze_query sorts —
  SDM must not); duplicate tokens keep their positions;
- unigram/bigram events with corpus cf = 0 are DROPPED (R1
  unknown-term semantics; they would otherwise be ln(0) = −∞ for
  every doc);
- candidates = union membership over the query's unigrams (the
  smoothed features are defined for every doc, but a doc matching no
  query term scores only the constant smoothing mass — standard SDM
  evaluation scores the unigram-union set);
- tie-break (score desc, id asc), same as every other ranker here.

Scale shape: positions for the query's terms come from ONE
posexplode-filter scan (partition-prunable when fed the persisted
positional table, operators/phrases.py); both bigram counters are ONE
self-join of that slice keyed (pair, doc) driven by a broadcast pair
frame — never a corpus-wide cross join; collection totals are tiny
driver aggregates over the same slice; final scoring is a candidates ×
broadcast-feature-literal expression, whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.functions.textproc import tokenize_py
from search_engine_spark.operators.phrases import positional_postings
from search_engine_spark.plans.search import empty_ranked, paginate


def query_bigrams(tokens: list[str]) -> list[tuple[str, str]]:
    """Consecutive DISTINCT bigrams of the query token sequence (the
    same (a, b) pair appearing twice in a long query is one event
    class — its per-doc counts don't depend on the query)."""
    seen = []
    for a, b in zip(tokens, tokens[1:]):
        if (a, b) not in seen:
            seen.append((a, b))
    return seen


def pair_counts(
    pos: DataFrame,
    pairs: list[tuple[str, str]],
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Per-doc ordered-adjacent and unordered-window counts for every
    pair: ``(pair_id, <id>, tf_o, tf_u)`` (rows only where at least
    one counter is positive).

    ONE self-join of the query-term position slice against itself,
    driven by a broadcast (pair_id, a, b) frame — the join key is
    (pair_id, doc), so a doc's positions for a pair meet on one task.
    ``tf_o`` counts a-at-i, b-at-i+1; ``tf_u`` counts pairs with
    0 < |i − j| ≤ window − 1 in either occurrence order (for a == b
    pairs each unordered co-occurrence is seen from both sides —
    documented pair-count semantics, mirrored by the oracle).
    """
    spark = pos.sparkSession
    pair_rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    pf = spark.createDataFrame(pair_rows, "pair_id int, a string, b string")
    left = pos.join(
        F.broadcast(pf.select("pair_id", F.col("a").alias("term"))),
        "term",
    ).select("pair_id", id_col, F.col("pos").alias("pa"))
    right = pos.join(
        F.broadcast(pf.select("pair_id", F.col("b").alias("term"))),
        "term",
    ).select("pair_id", id_col, F.col("pos").alias("pb"))
    j = left.join(right, ["pair_id", id_col])
    d = F.col("pb") - F.col("pa")
    return (
        j.withColumn("o", (d == 1).cast("long"))
        .withColumn(
            "u",
            (
                (F.abs(d) <= F.lit(window - 1)) & (d != 0)
            ).cast("long"),
        )
        .groupBy("pair_id", id_col)
        .agg(F.sum("o").alias("tf_o"), F.sum("u").alias("tf_u"))
        .filter((F.col("tf_o") > 0) | (F.col("tf_u") > 0))
    )


def search_sdm(
    enriched: DataFrame,
    query: str,
    id_col: str = "doc_id",
    tokens_col_name: str = "tokens",
    mu: float = 2500.0,
    lambdas: tuple[float, float, float] = (0.85, 0.10, 0.05),
    window: int = 8,
    offset: int = 0,
    limit: int = 20,
    lang: str = "english",
) -> DataFrame:
    """Top-(offset+limit) SDM results ``(<id>, score, rn)`` over an
    enriched docs frame (needs the ``tokens`` array — positions are
    derived by posexplode; feed the persisted positional table's
    source for index-at-rest serving)."""
    lt, lo, lu = (float(x) for x in lambdas)
    mu = float(mu)
    spark = enriched.sparkSession

    toks = tokenize_py(query, lang)
    terms = sorted(set(toks))
    bigrams = query_bigrams(toks)

    empty = empty_ranked(enriched.select(id_col))
    if not terms:
        return empty

    lens = enriched.select(
        F.col(id_col),
        F.size(F.col(tokens_col_name)).cast("double").alias("doc_len"),
    )
    tot = lens.agg(F.sum("doc_len").alias("c")).collect()[0]
    c_tokens = float(tot["c"])

    pos = positional_postings(enriched, id_col, tokens_col_name).filter(
        F.col("term").isin(terms)
    )

    # unigram per-doc tf + corpus cf (one pass over the slice)
    utf = pos.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    ucf = {
        r["term"]: int(r["cf"])
        for r in utf.groupBy("term").agg(F.sum("tf").alias("cf")).collect()
    }
    terms = [t for t in terms if ucf.get(t, 0) > 0]
    if not terms:
        return empty

    # bigram per-doc counts + corpus cf
    bigrams = [
        (a, b) for a, b in bigrams if ucf.get(a, 0) and ucf.get(b, 0)
    ]
    pc = None
    ocf: dict[int, int] = {}
    wcf: dict[int, int] = {}
    if bigrams:
        pc = pair_counts(pos, bigrams, id_col, window)
        totals = (
            pc.groupBy("pair_id")
            .agg(F.sum("tf_o").alias("ocf"), F.sum("tf_u").alias("wcf"))
            .collect()
        )
        ocf = {int(r["pair_id"]): int(r["ocf"]) for r in totals}
        wcf = {int(r["pair_id"]): int(r["wcf"]) for r in totals}

    cand = utf.select(id_col).distinct().join(lens, id_col)

    # λ_T Σ_t ln((tf + μ·cf/|C|) / (len + μ)) — terms with tf 0 still
    # contribute the smoothed mass.  The per-term / per-pair counts
    # pivot into ONE wide frame each (|q| resp. 2·|pairs| columns, one
    # shuffle apiece) instead of a join per term — the feature
    # assembly is then two candidate-sized left joins total.
    utf_piv = utf.groupBy(id_col).pivot("term", terms).agg(
        F.first("tf")
    )
    feats = cand.join(utf_piv, id_col, "left")
    term_exprs = []
    for t in terms:
        smooth = F.lit(mu) * F.lit(ucf[t] / c_tokens)
        term_exprs.append(
            F.log(
                (
                    F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("double")
                    + smooth
                )
                / (F.col("doc_len") + F.lit(mu))
            )
        )
    score = F.lit(lt) * reduce(lambda a, b: a + b, term_exprs)

    if bigrams:
        pc_piv = pc.groupBy(id_col).pivot(
            "pair_id", list(range(len(bigrams)))
        ).agg(F.first("tf_o").alias("o"), F.first("tf_u").alias("u"))
        feats = feats.join(pc_piv, id_col, "left")
        for i in range(len(bigrams)):
            oc, wc = f"`{i}_o`", f"`{i}_u`"
            if ocf.get(i, 0) > 0:
                smooth_o = F.lit(mu) * F.lit(ocf[i] / c_tokens)
                score = score + F.lit(lo) * F.log(
                    (
                        F.coalesce(F.col(oc), F.lit(0)).cast("double")
                        + smooth_o
                    )
                    / (F.col("doc_len") + F.lit(mu))
                )
            if wcf.get(i, 0) > 0:
                smooth_w = F.lit(mu) * F.lit(wcf[i] / c_tokens)
                score = score + F.lit(lu) * F.log(
                    (
                        F.coalesce(F.col(wc), F.lit(0)).cast("double")
                        + smooth_w
                    )
                    / (F.col("doc_len") + F.lit(mu))
                )

    scored = feats.withColumn("score", score).select(id_col, "score")
    return paginate(scored, id_col, offset, limit)
