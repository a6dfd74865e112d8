"""In-memory spans around the engine's public calls.

The traced run installs wrappers from the benchmark's own files; no
engine code is edited.  A span records its name, start and end
(``perf_counter_ns``), the span that was open when it started in the
same thread, the request id of that thread and a few attributes.
Spans stay in memory and are written out as JSON lines when the
workload ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

import numpy as np

# a traced run reports whether named spans (or, for a Spark op, its
# jobs) cover at least this share of the time they sit in
COVERAGE_MIN = 0.9


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording ----------------------------------------------------

    def set_request(self, rid):
        self._local.rid = rid

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args=(), kwargs=None, attrs=None,
             before=None):
        """Run ``fn(*args, **kwargs)`` inside a span.  ``attrs`` is
        ``fn(args, kwargs, result, pre) -> dict`` of extra span fields,
        where ``pre`` is what ``before(args, kwargs)`` returned."""
        kwargs = kwargs or {}
        st = self._stack()
        # unique across the forked server processes, which share the
        # counter's starting state
        sid = os.getpid() << 32 | next(self._ids)
        span = {"name": name, "id": sid, "parent": st[-1] if st else 0,
                "rid": getattr(self._local, "rid", None)}
        pre = before(args, kwargs) if before else None
        st.append(sid)
        span["start"] = time.perf_counter_ns()
        try:
            out = fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter_ns()
            st.pop()
        if attrs is not None:
            span.update(attrs(args, kwargs, out, pre))
        with self._lock:
            self.spans.append(span)
        return out

    def wrap(self, owner, attr: str, name: str, attrs=None, before=None):
        """Replace ``owner.attr`` by a wrapper that spans each call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, fn, args, kwargs, attrs, before)

        setattr(owner, attr, wrapper)

    def dump(self, path: str):
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")


def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms (duration minus the part of it
    covered by direct children, which never overlap within a thread)."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0) + (
                s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"] - child.get(s["id"], 0)) / 1e6
            for s in spans}


def ms(s: dict) -> float:
    return (s["end"] - s["start"]) / 1e6


def pct(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0.0 when empty."""
    if len(values) == 0:
        return 0.0
    v = np.sort(np.asarray(values, dtype=np.float64))
    k = max(0, int(np.ceil(q / 100.0 * v.size)) - 1)
    return float(v[k])


# -- what is wrapped --------------------------------------------------


def _not_in(memo: str):
    """How many of a ``LocalIndex`` call's distinct terms its ``memo``
    does not hold yet (taken before the call)."""

    def before(args, kwargs):
        held = getattr(args[0], memo)
        terms = kwargs.get("terms", args[1] if len(args) > 1 else [])
        return sum(1 for t in dict.fromkeys(terms) if t not in held)

    return before


def _df_attrs(args, kwargs, out, missing):
    return {"terms": len(out), "first_seen": missing}


def _postings_attrs(args, kwargs, out, missing):
    return {"terms": len(out), "read": missing,
            "rows": int(sum(v[0].size for v in out.values()))}


def _block_attrs(args, kwargs, out, pre):
    return {"rows": int(out[0].size)}


def _tombstone_attrs(args, kwargs, out, pre):
    return {"reader": id(args[0]), "rows": int(out.size)}


def _search_attrs(args, kwargs, out, pre):
    frame = out[0] if isinstance(out, tuple) else out
    return {"results": int(len(frame))}


def install_serving(tracer: Tracer) -> None:
    """Wrap the serving layers: analysis, df/idf, postings read and
    block decode, doc resolve, tombstones, the scorer as a whole (its
    self time is scoring and top-k) and snippet building."""
    from search_engine_spark.plans import local_serve, search, snippets

    li = local_serve.LocalIndex
    tracer.wrap(search, "analyze_query", "analyze")
    tracer.wrap(local_serve, "analyze_query", "analyze")
    tracer.wrap(li, "search", "search", _search_attrs)
    tracer.wrap(li, "query_idf", "idf")
    tracer.wrap(li, "term_df", "df", _df_attrs, _not_in("_df_memo"))
    tracer.wrap(li, "postings", "postings", _postings_attrs,
                _not_in("_post_memo"))
    tracer.wrap(local_serve, "read_block", "decode", _block_attrs)
    tracer.wrap(li, "_resolve_docs", "resolve")
    tracer.wrap(li, "tombstones", "tombstones", _tombstone_attrs)
    tracer.wrap(snippets, "make_snippet_py", "snippets")


class _TimedDataset:
    """Pages dataset whose ``to_table`` records a ``pages`` span."""

    def __init__(self, tracer: Tracer, dataset):
        self._tracer = tracer
        self._ds = dataset

    def to_table(self, *args, **kwargs):
        return self._tracer.call("pages", self._ds.to_table, args, kwargs)


def install_server(tracer: Tracer, serve_mod) -> None:
    """Wrap ``jobs/serve.py``'s request handler (the root span of a
    request, tagged with the ``rid`` query parameter the load
    generator sends) and its snippet-text read."""
    handler = serve_mod._Handler
    tracer.wrap(handler, "_search", "handler")
    spanned = handler._search

    @functools.wraps(spanned)
    def search_with_rid(self, qs):
        tracer.set_request((qs.get("rid") or [None])[0])
        try:
            return spanned(self, qs)
        finally:
            tracer.set_request(None)

    handler._search = search_with_rid
    srv = serve_mod._Server
    orig_pages = srv.pages_dataset

    @functools.wraps(orig_pages)
    def pages_dataset(self):
        ds = orig_pages(self)
        return None if ds is None else _TimedDataset(tracer, ds)

    srv.pages_dataset = pages_dataset


def search_layers(spans: list[dict]) -> dict[str, float]:
    """Layer metrics of ``LocalIndex.search`` calls from their spans:
    per-call times of each layer, the scorer's self time, the share of
    query terms whose df missed the memo, and decode work per query."""
    own = self_times(spans)
    ids = {s["id"]: s for s in spans}
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    searches = by.get("search", [])
    n_search = max(1, len(searches))
    # query_idf calls made by the scorer itself and their df lookups
    # (the snippet path looks the same terms up again, always from the
    # memo)
    idf_spans = [s for s in by.get("idf", [])
                 if ids.get(s["parent"], {}).get("name") == "search"]
    scorer_idf = {s["id"] for s in idf_spans}
    df_spans = [s for s in by.get("df", []) if s["parent"] in scorer_idf]
    post = by.get("postings", [])
    decode = by.get("decode", [])
    return {
        "analyze.ms_p50": pct([ms(s) for s in by.get("analyze", [])], 50),
        "idf.ms_p50": pct([ms(s) for s in idf_spans], 50),
        "idf.first_seen_share": (
            sum(s["first_seen"] for s in df_spans)
            / max(1, sum(s["terms"] for s in df_spans))),
        "postings.ms_p50": pct([ms(s) for s in post], 50),
        "postings.ms_p99": pct([ms(s) for s in post], 99),
        "decode.blocks_per_query": len(decode) / n_search,
        "decode.rows_per_query": sum(s["rows"] for s in decode) / n_search,
        "postings.rows_per_result": (
            sum(s["rows"] for s in post)
            / max(1, sum(s["results"] for s in searches))),
        "resolve.ms_p50": pct([ms(s) for s in by.get("resolve", [])], 50),
        "score.ms_p50": pct([own[s["id"]] for s in searches], 50),
        "score.ms_p99": pct([own[s["id"]] for s in searches], 99),
    }


def tombstone_load_ms(spans: list[dict]) -> float:
    """Median time a reader took to load its tombstone table: a reader
    loads it on first use and keeps it, so each reader's first
    ``tombstones`` span with rows is its load."""
    first: dict[tuple[int, int], dict] = {}
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["name"] == "tombstones":
            # span ids carry the pid of the process that recorded them
            first.setdefault((s["id"] >> 32, s["reader"]), s)
    loads = [ms(s) for s in first.values() if s["rows"]]
    if not loads:
        raise RuntimeError("no reader loaded a tombstone table")
    return float(np.median(loads))
