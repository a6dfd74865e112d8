"""HTTP serving endpoint (jobs/serve.py): the reference's
GET /api/search and /api/statistics surfaces over the no-Spark local
scorer — DTO shape parity (SearchResponse/SnippetItem/Statistics),
rank parity with LocalIndex, snippet highlighting, maintenance
freshness, error handling."""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.plans.build import build_and_write
from search_engine_spark.plans.incremental import tombstone_urls
from search_engine_spark.plans.local_serve import open_local_index
from search_engine_spark.sources.fixtures import pages_df


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("httpserve")
    out = str(root / "idx")
    pages = pages_df(spark, 200, n_sites=4, seed=42).cache()
    build_and_write(
        spark, pages, out, analyzer="lemma",
        config=EngineConfig(block_size=32, index_buckets=8),
        n_segments=8,
    )
    pages_path = str(root / "pages")
    pages.select("url", "text", "lang").write.mode(
        "overwrite"
    ).parquet(pages_path)

    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "jobs")
    )
    import serve as serve_mod

    srv = serve_mod.make_server(out, pages_path, "127.0.0.1", 0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield base, out, pages
    srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.status, json.loads(r.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def test_search_endpoint_shape_and_ranks(served):
    base, out, _ = served
    q = urllib.parse.quote("crystal falcon nebula")
    status, body = _get(f"{base}/api/search?query={q}&limit=5")
    assert status == 200
    assert body["result"] is True
    assert body["count"] >= len(body["data"]) > 0
    lidx = open_local_index(out)
    want, total = lidx.search(
        "crystal falcon nebula", limit=5, with_total=True
    )
    assert body["count"] == total
    got_urls = [
        d["site"] + d["uri"] if d["uri"] else d["site"]
        for d in body["data"]
    ]
    assert got_urls == list(want["url"])
    assert [round(d["relevance"], 9) for d in body["data"]] == [
        round(s, 9) for s in want["score"]
    ]
    for d in body["data"]:
        assert set(d) == {
            "site", "siteName", "uri", "title", "snippet",
            "relevance",
        }
        # corpus text provided → highlighted snippet present
        assert "<b>" in d["snippet"]


def test_search_pagination_and_site(served):
    base, out, _ = served
    lidx = open_local_index(out)
    site = sorted(lidx.search("crystal", limit=20)["site"])[0]
    q = urllib.parse.quote("crystal")
    status, body = _get(
        f"{base}/api/search?query={q}&offset=2&limit=3"
        f"&site=https://{site}"
    )
    assert status == 200
    want = lidx.search("crystal", sites=[site], offset=2, limit=3)
    assert [d["siteName"] for d in body["data"]] == list(want["site"])


def test_search_errors(served):
    base, _, _ = served
    status, body = _get(f"{base}/api/search?query=")
    assert status == 400 and body["result"] is False
    status, body = _get(f"{base}/api/search?query=x&offset=-1")
    assert status == 400


def test_indexing_endpoints_answer_with_error_dto(served):
    """start/stopIndexing exist (full ApiController surface) and
    answer with the reference's {result, error} DTO shape pointing
    at the Spark indexing jobs (the crawl frontier is descoped and
    the serving process is Spark-free by design)."""
    base, _, _ = served
    for ep in ("startIndexing", "stopIndexing"):
        status, body = _get(f"{base}/api/{ep}")
        assert status == 501
        assert body["result"] is False
        assert "Spark jobs" in body["error"]


def test_multi_worker_cli_serves_consistently(served):
    """jobs/serve.py --workers N: pre-forked processes share the
    port via SO_REUSEPORT; concurrent requests spread across workers
    all return the same (rank-identical) results."""
    import os
    import signal
    import subprocess
    import sys as _sys
    from concurrent.futures import ThreadPoolExecutor
    from pathlib import Path

    _, out, _ = served
    script = str(
        Path(__file__).resolve().parent.parent / "jobs" / "serve.py"
    )
    proc = subprocess.Popen(
        [_sys.executable, script, "--index", out, "--port", "0",
         "--workers", "3"],
        stdout=subprocess.PIPE, start_new_session=True,
    )
    try:
        info = json.loads(proc.stdout.readline().decode())
        assert info["workers"] == 3
        base = info["serving"].rsplit("/api", 1)[0]
        q = urllib.parse.quote("crystal falcon nebula")
        url = f"{base}/api/search?query={q}&limit=5"

        def one(_):
            return _get(url)

        with ThreadPoolExecutor(max_workers=6) as pool:
            results = list(pool.map(one, range(24)))
        lidx = open_local_index(out)
        want = lidx.search("crystal falcon nebula", limit=5)
        want_rel = [round(float(s), 9) for s in want["score"]]
        for status, body in results:
            assert status == 200 and body["result"] is True
            assert [
                round(float(d["relevance"]), 9) for d in body["data"]
            ] == want_rel
    finally:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except OSError:
            proc.terminate()
        proc.wait(timeout=30)


def test_statistics_endpoint(served):
    base, out, _ = served
    status, body = _get(f"{base}/api/statistics")
    assert status == 200
    stats = body["statistics"]
    lidx = open_local_index(out)
    assert stats["total"]["pages"] == lidx.n_docs
    assert stats["total"]["sites"] == len(stats["detailed"])
    assert stats["total"]["lemmas"] > 0
    assert stats["total"]["indexing"] is False
    assert sum(d["pages"] for d in stats["detailed"]) == lidx.n_docs
    assert all(d["status"] == "INDEXED" for d in stats["detailed"])


def test_index_page_returns_501(served):
    base, _, _ = served
    req = urllib.request.Request(
        f"{base}/api/indexPage",
        data=b"url=https://x.example/p&language=english",
        method="POST",
    )
    try:
        urllib.request.urlopen(req, timeout=30)
        raise AssertionError("expected 501")
    except urllib.error.HTTPError as e:
        assert e.code == 501
        assert json.loads(e.read())["result"] is False


def test_failed_freshness_probe_warns_and_serves_warm_gen(
    served, monkeypatch, capsys
):
    """When every freshness retry fails, the warm generation keeps
    answering and one stderr line names the generation served."""
    import search_engine_spark.plans.local_serve as ls

    base, out, _ = served
    q = urllib.parse.quote("crystal falcon nebula")
    status, warm = _get(f"{base}/api/search?query={q}&limit=5")
    assert status == 200

    def gone(*args, **kwargs):
        raise FileNotFoundError("stats.json")

    monkeypatch.setattr(ls, "open_local_index", gone)
    capsys.readouterr()
    status, body = _get(f"{base}/api/search?query={q}&limit=5")
    assert status == 200 and body == warm
    lines = [
        json.loads(line)
        for line in capsys.readouterr().err.splitlines()
        if "freshness probe" in line
    ]
    assert len(lines) == 1
    assert lines[0]["gen"] == open_local_index(out).gen


def test_freshness_across_maintenance(served, spark):
    """A maintenance commit swaps the served generation: deleted
    docs disappear from the endpoint without a restart."""
    base, out, _ = served
    q = urllib.parse.quote("crystal falcon nebula")
    _, before = _get(f"{base}/api/search?query={q}&limit=3")
    victim_uri = before["data"][0]
    victim_url = victim_uri["site"] + victim_uri["uri"]
    tombstone_urls(spark, out, [victim_url])
    _, after = _get(f"{base}/api/search?query={q}&limit=3")
    after_urls = {d["site"] + d["uri"] for d in after["data"]}
    assert victim_url not in after_urls
