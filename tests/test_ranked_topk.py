"""Every ranking family shares one ranked top-k tail
(``plans.search.paginate``) and one typed empty result
(``plans.search.empty_ranked``): a page ``(offset=3, limit=4)`` is
rows 4-7 of ``(offset=0, limit=7)`` with ``rn`` continuing from 4, and
a query with no surviving term returns zero rows under the exact
schema of a non-empty result."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators.compact import compact_index
from search_engine_spark.operators.postings import build_index
from search_engine_spark.plans.bm25var import search_bm25_variant
from search_engine_spark.plans.boolquery import (
    search_boolean,
    search_boolean_compact,
)
from search_engine_spark.plans.dfr import search_pl2
from search_engine_spark.plans.impact import impact_topk, rescore_topk
from search_engine_spark.plans.lm import search_lm
from search_engine_spark.plans.maxscore import search_maxscore_compact
from search_engine_spark.plans.passage import passage_topk
from search_engine_spark.plans.sdm import search_sdm
from search_engine_spark.plans.search import search
from search_engine_spark.plans.synonyms import search_synonyms
from search_engine_spark.plans.vsm import vsm_topk
from search_engine_spark.plans.wand import search_compact

# 22 words in every document: the 20-term stop-list is drawn from them
COMMON = " ".join(f"common{c}" for c in "abcdefghijklmnopqrstuv")
FILLER = ["red", "green", "blue", "cyan", "gold", "grey", "pink"]
N_DOCS = 40
QUERY = "apple pear plum"


def _text(i: int) -> str:
    words = [COMMON]
    if i % 3 == 0:
        words += ["apple"] * (i % 4 + 1)
    if i % 4 == 0:
        words += ["pear"] * (i % 3 + 1)
    if i % 5 in (0, 1):
        words += ["plum"] * (i % 2 + 1)
    if i % 6 == 0:
        words += ["apple", "pear", "plum"]
    if i % 7 == 0:
        words += ["quince"]
    words += FILLER[: i % 7]
    return " ".join(words)


@pytest.fixture(scope="module")
def env(spark):
    from search_engine_spark.functions.textproc import (
        doc_len_col,
        tokens_col,
    )

    docs = (
        spark.createDataFrame(
            [(f"https://s{i % 3}.example/p{i:02d}", _text(i))
             for i in range(N_DOCS)],
            "url string, text string",
        )
        .withColumn("site", F.regexp_extract("url", r"//([^/]+)/", 1))
        .withColumn("lang", F.lit("english"))
        .withColumn("tokens", tokens_col(F.col("text"), F.col("lang")))
        .withColumn("doc_len", doc_len_col(F.col("tokens")))
        .cache()
    )
    idx = build_index(docs, id_col="url", analyzer="tokens")
    renamed = replace(
        idx,
        postings=idx.postings.withColumnRenamed("url", "nat_id"),
        doc_lens=idx.doc_lens.withColumnRenamed("url", "nat_id"),
        id_col="nat_id",
        cached=(),
    )
    return {
        "idx": idx,
        "cidx": compact_index(renamed, n_segments=4),
        "docs": docs,
    }


_TOK = {"analyzer": "tokens"}
FAMILIES = {
    "search": lambda e, q, **p: search(e["idx"], q, **_TOK, **p),
    "lm_dirichlet": lambda e, q, **p: search_lm(
        e["idx"], q, **_TOK, **p
    ),
    "lm_jm": lambda e, q, **p: search_lm(
        e["idx"], q, smoothing="jm", **_TOK, **p
    ),
    "pl2": lambda e, q, **p: search_pl2(e["idx"], q, **_TOK, **p),
    "bm25_plus": lambda e, q, **p: search_bm25_variant(
        e["idx"], q, "plus", **_TOK, **p
    ),
    "bm25_l": lambda e, q, **p: search_bm25_variant(
        e["idx"], q, "l", **_TOK, **p
    ),
    "vsm": lambda e, q, **p: vsm_topk(e["idx"], q, **_TOK, **p),
    "sdm": lambda e, q, **p: search_sdm(e["docs"], q, id_col="url", **p),
    "impact": lambda e, q, **p: impact_topk(e["idx"], q, **_TOK, **p),
    "rescore": lambda e, q, **p: rescore_topk(e["idx"], q, **_TOK, **p),
    "boolean": lambda e, q, **p: search_boolean(
        e["idx"], q, **_TOK, **p
    ),
    "boolean_compact": lambda e, q, **p: search_boolean_compact(
        e["cidx"], q, **_TOK, **p
    ),
    "synonyms": lambda e, q, **p: search_synonyms(
        e["idx"], q, synonyms={"pear": ["quince"]}, **_TOK, **p
    ),
    "passage": lambda e, q, **p: passage_topk(
        e["idx"], e["docs"], q, **_TOK, **p
    ),
    "compact": lambda e, q, **p: search_compact(
        e["cidx"], q, **_TOK, **p
    ),
    "maxscore_compact": lambda e, q, **p: search_maxscore_compact(
        e["cidx"], q, **_TOK, **p
    ),
}
# families without a stop-list never see an all-stopword query as
# empty; an out-of-dictionary query is their "no surviving term" case
NO_STOPLIST = {"vsm", "sdm"}


def _rows(df):
    rows = sorted(df.collect(), key=lambda r: r["rn"])
    return [
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    ]


def _schema(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_family_pages_and_empty_result(env, family):
    rank = FAMILIES[family]
    full = rank(env, QUERY, offset=0, limit=7)
    page = rank(env, QUERY, offset=3, limit=4)
    full_rows, page_rows = _rows(full), _rows(page)
    assert len(full_rows) == 7
    assert page_rows == full_rows[3:7]
    assert [r[-1] for r in page_rows] == [4, 5, 6, 7]
    assert full.columns[-1] == "rn"

    if family in NO_STOPLIST:
        empty_q = "zzzabsent qqqmissing"
    else:
        empty_q = " ".join(env["idx"].stoplist[:3])
    empty = rank(env, empty_q, offset=0, limit=7)
    assert empty.count() == 0
    assert _schema(empty) == _schema(full)
