"""Serving under concurrency: the shared-LocalIndex memo protocol
(search_engine_spark/lru.py ``BoundedLRU.fetch``) and the HTTP endpoint's
per-request generation freshness (jobs/serve.py) — VERDICT r04
next-round item #4 plus the ADVICE r04 eviction-race fixes.

Three properties pinned:

- memo eviction can NEVER take a key the in-flight call is about to
  return, even with caps forced to pathological values (the ADVICE
  r04 high: LRU eviction ran between insert and refresh);
- N threads hammering one LocalIndex under constant eviction churn
  all see exactly the single-threaded results (the return-value
  protocol holds references, so a concurrent evictor cannot
  invalidate a response);
- every HTTP response served WHILE maintenance ops commit new
  generations equals the complete output of exactly ONE committed
  generation — never a torn mix of two (the ``_Server.index()``
  object swap is atomic, and snapshot retention keeps in-flight
  generations readable).
"""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

import search_engine_spark.plans.local_serve as ls
from search_engine_spark.config import EngineConfig
from search_engine_spark.lru import BoundedLRU
from search_engine_spark.plans.build import build_and_write
from search_engine_spark.plans.incremental import (
    append_pages,
    set_snapshot_retention,
    tombstone_urls,
)
from search_engine_spark.plans.local_serve import open_local_index
from search_engine_spark.sources.fixtures import pages_df

QUERIES = [
    ("crystal falcon nebula", 0, 10),
    ("harbor lantern marble", 0, 10),
    ("raven sapphire velvet", 2, 5),
    ("crystal", 0, 15),
    ("nebula harbor", 5, 10),
]


def _rows(lidx, q, off, lim):
    out = lidx.search(q, offset=off, limit=lim)
    return tuple(
        (u, round(float(s), 9), int(rn))
        for u, s, rn in zip(out["url"], out["score"], out["rn"])
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("servconc")
    out = str(root / "idx")
    base = pages_df(spark, 200, n_sites=4, seed=42).cache()
    extra = pages_df(spark, 260, n_sites=4, seed=42).filter(
        ~F.col("url").isin(
            [r["url"] for r in base.select("url").collect()]
        )
    ).cache()
    build_and_write(
        spark, base, out, analyzer="lemma",
        config=EngineConfig(block_size=32, index_buckets=8),
        n_segments=8,
    )
    return out, base, extra


def test_eviction_exempts_current_call(built, monkeypatch):
    """Pathological caps: every call triggers eviction, yet results
    stay identical to the uncapped baseline (single-threaded ADVICE
    r04 regression — the old order evicted a term between a prior
    query's insert and this query's use)."""
    out, _, _ = built
    baseline = [_rows(open_local_index(out), q, o, l)
                for q, o, l in QUERIES]
    monkeypatch.setattr(ls, "_DF_MEMO_CAP", 1)
    monkeypatch.setattr(ls, "_POSTINGS_MEMO_CAP_ROWS", 1)
    monkeypatch.setattr(ls, "_DOC_MEMO_CAP", 1)
    monkeypatch.setattr(ls, "_SITE_N_MEMO_CAP", 1)
    lidx = open_local_index(out)
    # interleave the whole workload twice so each query's terms were
    # inserted by an EARLIER call before being needed again
    for _ in range(2):
        got = [_rows(lidx, q, o, l) for q, o, l in QUERIES]
        assert got == baseline


def _filled(memo, keys):
    """Fill ``memo`` with ``keys`` one call each (insertion order =
    age), values = the key's index."""
    for i, k in enumerate(keys):
        memo.fetch([k], lambda miss, i=i: {m: i for m in miss})


def test_wand_memo_evict_keeps_current_terms():
    """The bounded LRU behind every memo (the WAND block-metadata and
    df memos included): the current call's keys are refreshed and
    survive; only older keys are dropped."""
    memo = BoundedLRU(3)
    _filled(memo, [f"t{i}" for i in range(3)])
    got = memo.fetch(["t0", "t1", "new"], lambda miss: {m: 9 for m in miss})
    assert got == {"t0": 0, "t1": 1, "new": 9}
    assert "t0" in memo and "t1" in memo  # refreshed, not evicted
    assert "t2" not in memo  # the oldest key beyond them went
    assert len(memo) == 3  # cap honored beyond the kept keys
    # keep larger than cap: floor wins, nothing kept is lost
    keys = [f"k{i}" for i in range(5)]
    got = memo.fetch(keys, lambda miss: {m: 1 for m in miss})
    assert set(got) == set(keys) and len(memo) == 5
    assert all(k in memo for k in keys)


def test_bounded_lru_weighted_eviction():
    """Weighted by row count (the postings memo): the summed weight
    is bounded, oldest entries go first, and a current-call entry
    heavier than the whole cap is still kept and returned."""
    memo = BoundedLRU(10, weight=len)
    for k in "abc":
        memo.fetch([k], lambda miss: {m: [0] * 4 for m in miss})
    assert list(memo) == ["b", "c"]  # 12 rows > 10: oldest "a" went
    memo.fetch(["b"], lambda miss: {})  # hit: refreshes "b"
    memo.fetch(["d"], lambda miss: {m: [0] * 3 for m in miss})
    assert list(memo) == ["b", "d"]  # "c" was older than "b" now
    big = memo.fetch(["e"], lambda miss: {m: [0] * 50 for m in miss})
    assert len(big["e"]) == 50 and list(memo) == ["e"]
    # a key the fill leaves out is neither memoized nor returned; the
    # oversized "e" is no longer current, so the cap now drops it
    assert memo.fetch(["zz"], lambda miss: {}) == {}
    assert "zz" not in memo and memo == {}


def test_bounded_lru_threads_keep_accounting():
    """16 threads over one weighted memo with a tiny cap and a short
    switch interval: every call gets all its keys with the right
    values, and the summed weight always matches the entries held (a
    lost update in the insert/evict bookkeeping would break it)."""
    import sys

    memo = BoundedLRU(12, weight=len)

    def fill(miss):
        return {k: "x" * (1 + int(k[1:]) % 4) for k in miss}

    def worker(seed):
        for i in range(300):
            keys = [f"k{(seed * 7 + i * j) % 40}" for j in range(3)]
            got = memo.fetch(keys, fill)
            assert got == fill(list(dict.fromkeys(keys)))
        return True

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            done = list(pool.map(worker, range(16), timeout=120))
    finally:
        sys.setswitchinterval(old)
    assert done == [True] * 16
    assert memo._total == sum(len(v) for v in memo.values())
    assert memo._total <= 12 or len(memo) <= 3


def test_concurrent_search_under_memo_churn(built, monkeypatch):
    """8 threads × repeated workload on ONE LocalIndex with tiny
    memo caps (constant eviction churn): every thread sees exactly
    the single-threaded results, no exceptions."""
    out, _, _ = built
    baseline = [_rows(open_local_index(out), q, o, l)
                for q, o, l in QUERIES]
    monkeypatch.setattr(ls, "_DF_MEMO_CAP", 2)
    monkeypatch.setattr(ls, "_POSTINGS_MEMO_CAP_ROWS", 64)
    monkeypatch.setattr(ls, "_DOC_MEMO_CAP", 4)
    lidx = open_local_index(out)

    def worker(_):
        got = []
        for _ in range(6):
            got.append([_rows(lidx, q, o, l) for q, o, l in QUERIES])
        return got

    with ThreadPoolExecutor(max_workers=8) as pool:
        for got in pool.map(worker, range(8)):
            for run in got:
                assert run == baseline


def test_http_responses_consistent_across_commits(
    spark, built, tmp_path_factory
):
    """Clients hammer GET /api/search while append + tombstone
    commits land: every observed response must equal the full output
    of ONE committed generation (gen is echoed implicitly by
    content)."""
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "jobs")
    )
    import serve as serve_mod

    out, base, extra = built
    # keep every generation's dirs readable while requests are in
    # flight (and for the end-of-test expected computation)
    set_snapshot_retention(out, 8)

    srv = serve_mod.make_server(out, None, "127.0.0.1", 0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    port = srv.server_address[1]
    query = "crystal falcon nebula"
    url = (
        f"http://127.0.0.1:{port}/api/search?"
        f"query={urllib.parse.quote(query)}&limit=10"
    )

    observed: list[tuple] = []
    obs_lock = threading.Lock()
    stop = threading.Event()
    errors: list[Exception] = []

    def serialize(body: dict) -> tuple:
        return (
            body["count"],
            tuple(
                (
                    d["site"] + d["uri"] if d["uri"] else d["site"],
                    round(float(d["relevance"]), 9),
                )
                for d in body["data"]
            ),
        )

    def hammer():
        while not stop.is_set():
            try:
                with urllib.request.urlopen(url, timeout=30) as r:
                    assert r.status == 200
                    body = json.loads(r.read().decode("utf-8"))
                with obs_lock:
                    observed.append(serialize(body))
            except Exception as e:  # pragma: no cover - fail below
                errors.append(e)
                return

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for th in threads:
        th.start()
    try:
        half = extra.limit(25).cache()
        append_pages(spark, out, half)
        victims = [
            r["url"]
            for r in base.select("url").limit(8).collect()
        ]
        tombstone_urls(spark, out, victims)
        rest = extra.join(
            half.select("url"), "url", "left_anti"
        ).cache()
        append_pages(spark, out, rest)
    finally:
        stop.set()
        for th in threads:
            th.join(timeout=30)
        srv.shutdown()
    assert not errors, errors[:1]
    assert observed, "no responses captured"

    # expected output per committed generation, via time travel
    cur = open_local_index(out)
    allowed = set()
    for g in range(cur.gen + 1):
        lidx = open_local_index(out, gen=g)
        res, total = lidx.search(query, limit=10, with_total=True)
        allowed.add(
            (
                total,
                tuple(
                    (u, round(float(s), 9))
                    for u, s in zip(res["url"], res["score"])
                ),
            )
        )
    bad = [o for o in observed if o not in allowed]
    assert not bad, (
        f"{len(bad)}/{len(observed)} responses match no committed "
        f"generation (torn read): {bad[0]}"
    )
