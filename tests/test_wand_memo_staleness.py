"""Serving-memo lifetime invariants (VERDICT r03 item #7): the
per-CompactIndex df / WAND-block-metadata memos must never serve a
stale value across a maintenance commit — the invalidation argument
is OBJECT lifetime (every maintenance op hands back a fresh index via
load_compact_index / open_index), and this pins it end-to-end:
query → append → reopen → query must reflect the new df and blocks.
Also pins the memo size cap for long-lived serving processes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.lru import BoundedLRU
from search_engine_spark.plans.build import build_and_write
from search_engine_spark.plans.incremental import (
    append_pages,
    open_index,
)
from search_engine_spark.plans.search import query_term_idf
from search_engine_spark.plans.wand import _block_meta, search_compact
from search_engine_spark.sources.fixtures import pages_df


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("memostale") / "idx")
    base = pages_df(spark, 150, n_sites=4, seed=42).cache()
    extra = pages_df(spark, 210, n_sites=4, seed=42).filter(
        ~F.col("url").isin(
            [r["url"] for r in base.select("url").collect()]
        )
    ).cache()
    build_and_write(
        spark, base, out, analyzer="lemma",
        config=EngineConfig(block_size=32, index_buckets=8),
        n_segments=8,
    )
    return out, extra


def test_reopen_after_append_never_serves_stale_memo(spark, built):
    out, extra = built
    q = "crystal falcon nebula"

    cidx = open_index(spark, out)
    before = search_compact(cidx, q, limit=10).collect()
    df_before = dict(query_term_idf(cidx, ["crystal"], None))
    # memos are now warm on THIS object
    assert "crystal" in getattr(cidx, "_df_memo", {})
    meta_before = _block_meta(cidx, "crystal")

    append_pages(spark, out, extra)

    # the OLD object keeps serving its own (pre-append) generation —
    # snapshot semantics, not staleness: its memos agree with the
    # tables it loaded
    assert dict(query_term_idf(cidx, ["crystal"], None)) == df_before

    # a REOPENED index must see the post-append df/blocks through
    # fresh memos (no cross-object leakage)
    cidx2 = open_index(spark, out)
    assert getattr(cidx2, "_df_memo", None) in (None, {})
    df_after = {
        r["term"]: int(r["df"])
        for r in cidx2.term_stats.filter(
            F.col("term") == "crystal"
        ).collect()
    }
    idf_after = query_term_idf(cidx2, ["crystal"], None)
    assert cidx2._df_memo["crystal"] == df_after["crystal"]
    assert df_after["crystal"] > 0
    assert cidx2._df_memo["crystal"] != dict(
        getattr(cidx, "_df_memo", {})
    ).get("crystal")
    assert idf_after["crystal"] != df_before.get("crystal")

    meta_after = _block_meta(cidx2, "crystal")
    assert len(meta_after) > len(meta_before)  # delta epoch blocks

    after = search_compact(cidx2, q, limit=10).collect()
    urls_before = {r["url"] for r in before}
    urls_after = {r["url"] for r in after}
    # the appended corpus changes df/avg_len → scores and (here)
    # membership move; the reopened object must not replay the old
    # result set byte-for-byte from any memo
    assert [
        (r["url"], r["score"]) for r in after
    ] != [(r["url"], r["score"]) for r in before]
    assert urls_after  # still serving


def test_memo_cap_evicts_oldest():
    memo = BoundedLRU(4)
    for i in range(10):
        memo.fetch([f"t{i}"], lambda miss, i=i: {m: i for m in miss})
    assert len(memo) == 4
    assert list(memo) == ["t6", "t7", "t8", "t9"]
    assert memo == {"t6": 6, "t7": 7, "t8": 8, "t9": 9}
