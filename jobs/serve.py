"""Interactive HTTP serving of a persisted index — NO Spark.

The reference is a web service: ``GET /api/search`` and
``GET /api/statistics`` (controllers/ApiController.java:42-89,
dto/SearchResponse.java, dto/statistics/*).  This job serves the
same endpoints over the driver-local scorer
(plans/local_serve.LocalIndex — pyarrow + numpy, ~10-45 ms p50), so
a user switching from the reference gets an actual interactive
endpoint, not just a batch CLI:

    python jobs/serve.py --index /data/index [--pages corpus.parquet]
        [--host 127.0.0.1] [--port 8080]

    GET /api/search?query=...&site=https://host&offset=0&limit=20
        → {result, count, data: [{site, siteName, uri, title,
           snippet, relevance}]}  (SnippetItem shape; snippet text
           requires --pages with (url, text, lang); title requires
           an html-built index)
    GET /api/statistics
        → {result, statistics: {total: {sites, pages, lemmas,
           indexing}, detailed: [{url, name, status, statusTime,
           pages}]}}
    POST /api/indexPage → 501 (indexing is a Spark job:
        jobs/maintain_index.py append/reindex — the serving process
        stays Spark-free by design)

Freshness: the committed generation is re-checked per request via
the descriptor's ``gen`` (stats.json is tiny); a maintenance commit
swaps in a fresh LocalIndex — the same object-lifetime invalidation
the memos rely on.  stdlib ThreadingHTTPServer; each LocalIndex is
effectively read-only after warm-up, and its memos are bounded LRUs
that each take a lock (search_engine_spark/lru.py), so concurrent
request threads share them safely.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


class _Server(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr, handler, index_dir, pages_path,
                 reuse_port=False):
        self._reuse_port = reuse_port
        super().__init__(addr, handler)
        self.index_dir = index_dir
        self.pages_path = pages_path
        self.lidx = None
        self._pages_ds = None

    def server_bind(self):
        # SO_REUSEPORT lets N pre-forked worker processes share one
        # port with kernel-side load balancing — the scorer is
        # GIL-bound (numpy chunks at ms scale are too small to
        # overlap), so thread concurrency tops out at ~1 core and
        # processes are the scaling axis, exactly like any Python
        # service behind gunicorn-style pre-fork
        if self._reuse_port and hasattr(__import__("socket"),
                                        "SO_REUSEPORT"):
            import socket

            self.socket.setsockopt(
                socket.SOL_SOCKET, socket.SO_REUSEPORT, 1
            )
        super().server_bind()

    def index(self):
        import time

        from search_engine_spark.plans.local_serve import (
            open_local_index,
        )

        # freshness probe = one tiny stats.json read (LocalIndex init
        # is lazy); the warm object with its memos is kept while the
        # committed generation is unchanged.  A FileNotFoundError is
        # a commit-window read on stores whose descriptor swap is
        # delete+rename rather than atomic: retry briefly, and if the
        # window outlasts the retries keep serving the warm
        # generation (stale-but-consistent beats a 500).
        cur = self.lidx
        probe = None
        for attempt in range(5):
            try:
                probe = open_local_index(self.index_dir)
                break
            except FileNotFoundError:
                if attempt == 4 and cur is None:
                    raise
                time.sleep(0.01 * (attempt + 1))
        if probe is None:
            print(
                json.dumps({
                    "warning": "freshness probe failed 5 times; "
                               "serving the warm generation",
                    "gen": cur.gen,
                }),
                file=sys.stderr, flush=True,
            )
            return cur
        if cur is None or probe.gen != cur.gen:
            self.lidx = probe
            return probe
        return cur

    def pages_dataset(self):
        if self.pages_path and self._pages_ds is None:
            import pyarrow.dataset as ds

            self._pages_ds = ds.dataset(self.pages_path)
        return self._pages_ds


class _Handler(BaseHTTPRequestHandler):
    # HTTP/1.1 + TCP_NODELAY: without them the write path can sit in
    # the classic Nagle/delayed-ACK interaction (~40 ms stalls per
    # response — measured as a 192 ms p95 on responses the scorer
    # produced in 6 ms).  Content-Length is always set, so keep-alive
    # is safe.
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True

    def log_message(self, fmt, *args):  # quiet by default
        pass

    def _json(self, code: int, payload: dict) -> None:
        body = json.dumps(payload, ensure_ascii=False).encode("utf-8")
        self.send_response(code)
        self.send_header(
            "Content-Type", "application/json; charset=utf-8"
        )
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _with_index(self, fn):
        """Run ``fn(lidx)`` against the current index; if the
        generation expired under us (e.g. a vacuum retired this
        generation's dirs between the stats probe and the lazy
        dataset listing — surfaces as LocalSnapshotError or a
        missing-file read), drop the stale cached object and retry
        ONCE on a fresh probe; re-raise if the fresh generation
        fails too (the caller answers 503)."""
        from search_engine_spark.plans.local_serve import (
            LocalSnapshotError,
        )

        lidx = self.server.index()
        try:
            return fn(lidx)
        except (LocalSnapshotError, FileNotFoundError):
            self.server.lidx = None
            return fn(self.server.index())

    def do_POST(self):
        if urlparse(self.path).path == "/api/indexPage":
            self._json(
                501,
                {
                    "result": False,
                    "error": "indexing is a Spark job: "
                             "jobs/maintain_index.py append/reindex",
                },
            )
        else:
            self._json(404, {"result": False, "error": "not found"})

    def do_GET(self):
        parsed = urlparse(self.path)
        if parsed.path == "/api/search":
            self._search(parse_qs(parsed.query))
        elif parsed.path == "/api/statistics":
            self._statistics()
        elif parsed.path in (
            "/api/startIndexing", "/api/stopIndexing"
        ):
            # reference: ApiController.startIndexing/stopIndexing kick
            # off / halt the live crawl.  The crawl frontier is
            # descoped (BASELINE input_hint: already-crawled corpus)
            # and this process is deliberately Spark-free, so the
            # endpoints answer with the reference's error DTO shape
            # ({result, error}) pointing at the actual indexing jobs.
            self._json(
                501,
                {
                    "result": False,
                    "error": "indexing runs as Spark jobs: "
                             "jobs/build_index.py (full build), "
                             "jobs/maintain_index.py append/reindex "
                             "(incremental); the serving process "
                             "stays Spark-free by design",
                },
            )
        else:
            self._json(404, {"result": False, "error": "not found"})

    # -- endpoints ---------------------------------------------------

    def _search(self, qs: dict) -> None:
        query = (qs.get("query") or [""])[0].strip()
        if not query:
            # ApiController rejects empty queries with result=false
            self._json(
                400, {"result": False, "error": "empty search query"}
            )
            return
        try:
            offset = int((qs.get("offset") or ["0"])[0])
            limit = int((qs.get("limit") or ["20"])[0])
            if offset < 0 or limit < 0:
                raise ValueError
        except ValueError:
            self._json(
                400,
                {"result": False,
                 "error": "offset/limit must be >= 0"},
            )
            return
        site_param = (qs.get("site") or [None])[0]
        sites = None
        if site_param:
            # the reference passes the site ROOT url; our site column
            # is the host
            host = urlparse(site_param).netloc or site_param
            sites = [host]

        from search_engine_spark.plans.search import analyze_query
        from search_engine_spark.plans.snippets import (
            make_snippet_py,
            search_response,
        )

        from search_engine_spark.plans.local_serve import (
            LocalSnapshotError,
        )

        try:
            lidx, (out, total) = self._with_index(
                lambda l: (
                    l,
                    l.search(
                        query, sites=sites, offset=offset,
                        limit=limit, with_total=True,
                        include_title=True,
                    ),
                )
            )
        except (LocalSnapshotError, FileNotFoundError):
            self._json(
                503,
                {"result": False,
                 "error": "index generation swapped mid-request; "
                          "retry"},
            )
            return
        rows = out.to_dict("records")

        pages = self.server.pages_dataset()
        if pages is not None and rows:
            import pyarrow.compute as pc

            terms = [
                t
                for t in analyze_query(query, analyzer=lidx.analyzer)
                if t not in set(lidx.stoplist)
            ]
            idf = lidx.query_idf(terms, sites)
            urls = [r[lidx.id_col] for r in rows]
            tbl = pages.to_table(
                filter=pc.field(lidx.id_col).isin(urls),
                columns=[lidx.id_col, "text", "lang"],
            ).to_pandas()
            texts = {
                u: (t, lg)
                for u, t, lg in zip(
                    tbl[lidx.id_col], tbl["text"], tbl["lang"]
                )
            }
            for r in rows:
                t, lg = texts.get(r[lidx.id_col], ("", "english"))
                r["snippet"] = make_snippet_py(
                    t or "", lg or "english", idf
                )
        self._json(
            200, search_response(rows, total, id_col=lidx.id_col)
        )

    def _statistics(self) -> None:
        import time as _time

        import pyarrow.dataset as ds

        from search_engine_spark.plans.local_serve import (
            LocalSnapshotError,
        )

        def read_stats(lidx):
            sites_tbl = ds.dataset(
                lidx._table_dir("site_stats"), filesystem=lidx._fs
            ).to_table().to_pandas()
            n_lemmas = ds.dataset(
                lidx._table_dir("term_stats"), filesystem=lidx._fs
            ).count_rows()
            return lidx, sites_tbl, n_lemmas

        try:
            lidx, sites_tbl, n_lemmas = self._with_index(read_stats)
        except (LocalSnapshotError, FileNotFoundError):
            self._json(
                503,
                {"result": False,
                 "error": "index generation swapped mid-request; "
                          "retry"},
            )
            return
        now_ms = int(_time.time() * 1000)
        detailed = [
            {
                "url": f"https://{r.site}",
                "name": r.site,
                "status": "INDEXED",
                "statusTime": now_ms,
                "pages": int(r.pages),
            }
            for r in sites_tbl.itertuples(index=False)
        ]
        self._json(
            200,
            {
                "result": True,
                "statistics": {
                    "total": {
                        "sites": int(len(sites_tbl)),
                        "pages": int(lidx.n_docs),
                        "lemmas": int(n_lemmas),
                        "indexing": False,
                    },
                    "detailed": detailed,
                },
            },
        )


def make_server(
    index_dir: str,
    pages: str | None = None,
    host: str = "127.0.0.1",
    port: int = 8080,
    reuse_port: bool = False,
) -> _Server:
    return _Server((host, port), _Handler, index_dir, pages,
                   reuse_port=reuse_port)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index", required=True)
    ap.add_argument("--pages", default=None,
                    help="corpus parquet (url, text, lang) for real "
                         "snippets; omit for snippet-less results")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--workers", type=int, default=1,
                    help="pre-forked worker processes sharing the "
                         "port via SO_REUSEPORT (the scorer is "
                         "GIL-bound, so processes — not threads — "
                         "are the single-node scaling axis)")
    args = ap.parse_args(argv)
    import socket as _socket

    if args.workers > 1 and not hasattr(_socket, "SO_REUSEPORT"):
        # without SO_REUSEPORT every child's bind would fail with
        # EADDRINUSE and silently die — serve correctly with one
        # process instead of lying about capacity
        print(
            json.dumps({
                "warning": "SO_REUSEPORT unavailable on this "
                           "platform; forcing --workers 1",
            }),
            file=sys.stderr, flush=True,
        )
        args.workers = 1
    srv = make_server(args.index, args.pages, args.host, args.port,
                      reuse_port=args.workers > 1)
    port = srv.server_address[1]
    child_pids: list[int] = []
    # fork BEFORE any pyarrow work (LocalIndex is lazy; the parent
    # has not probed yet) so children never inherit live IO threads
    for _ in range(max(0, args.workers - 1)):
        pid = os.fork()
        if pid == 0:
            srv.socket.close()  # child's copy of the parent socket
            child = make_server(
                args.index, args.pages, args.host, port,
                reuse_port=True,
            )
            try:
                child.serve_forever()
            finally:
                os._exit(0)
        child_pids.append(pid)

    def _shutdown(signum, frame):
        import signal as _sig

        for pid in child_pids:
            try:
                os.kill(pid, _sig.SIGTERM)
            except OSError:
                pass
        raise SystemExit(0)

    import signal

    def _reap(signum, frame):
        # reap exited children (no zombies) and make capacity loss
        # visible — a crashed worker otherwise silently degrades the
        # advertised parallelism
        while True:
            try:
                pid, status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                return
            if pid in child_pids:
                child_pids.remove(pid)
                print(
                    json.dumps({
                        "warning": f"worker {pid} exited "
                                   f"(status {status}); "
                                   f"{len(child_pids) + 1} of "
                                   f"{args.workers} workers remain",
                    }),
                    file=sys.stderr, flush=True,
                )

    signal.signal(signal.SIGTERM, _shutdown)
    signal.signal(signal.SIGINT, _shutdown)
    if child_pids:
        signal.signal(signal.SIGCHLD, _reap)
    print(
        json.dumps(
            {
                "serving": f"http://{args.host}:{port}/api/search",
                "index": args.index,
                "gen": srv.index().gen,
                "workers": args.workers,
            }
        ),
        flush=True,
    )
    srv.serve_forever()


if __name__ == "__main__":
    main()
