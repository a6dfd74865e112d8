"""``serve``: open-loop HTTP search on warm and cold queries.

Set-up builds the seeded corpus into an index with ``plans.build`` on
Spark, tombstones 1% of its pages in two ``plans.incremental``
commits, checks the local scorer against ``search_compact`` and that
the tombstoned pages are gone, stops Spark, starts ``jobs/serve.py
--workers 2 --pages ...`` as a subprocess and warms it with every hot
term.  The
measured part interleaves, round after round, the hot mix
(Zipf-skewed queries over a few hundred mid-frequency terms, all
memo-resident: the warm searches) at a light rate, the tail mix
(long-tail terms, each first seen by the server: the cold searches)
at its light rate and the hot mix at a loaded rate.  Each phase's
latency percentiles are taken over all of its requests.  Sampled
responses are checked against the same query run in this process.
"""

from __future__ import annotations

import json
import os
import select
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import corpus, loadgen, sparkenv
from perfbench.commits import Commits, segment_files
from perfbench.trace import (
    COVERAGE_MIN,
    load_spans,
    ms,
    pct,
    search_layers,
    self_times,
    tombstone_load_ms,
)

PAGES = 2_000
VOCAB = 2_000
DEAD_PAGES = PAGES // 100
# the dead pages go in this many equal commits, each the size of
# index_lifecycle's one
TOMBSTONE_COMMITS = 2
WORKERS = 2
# offered rates (requests/s), from the capacity measured on 4 cores
# (hot ~120/s, tail ~50/s): light ≈ 1/3 and loaded ≈ 0.6 of it (at
# 3/4 the loaded tail latency swung 3x between runs on a shared host)
HOT = {"light": 40.0, "loaded": 70.0}
TAIL_RATE = 17.0
# the measured part is ROUNDS rounds, each the hot mix at its light
# rate, the tail mix at its light rate and the hot mix at its loaded
# rate (ROUND_SHARES of the round).  Interleaving spreads each phase
# over the whole run, so a burst of other guests' load on a shared
# host lands on all three phases, not on one
ROUNDS = 4
ROUND_SHARES = {"light": 0.4, "tail": 0.4, "loaded": 0.2}
RID_BASE = {"hot": 0, "tail": 1 << 30}
WARM_GROUP = 50  # hot terms per warm-up query
WARM_REPEAT = 10  # sends per warm-up query, so every worker gets it


class Server:
    """``jobs/serve.py`` as a subprocess (traced: through the
    benchmark's launcher)."""

    def __init__(self, root: str, index_dir: str, pages_path: str,
                 trace_dir: str | None):
        args = ["--index", index_dir, "--pages", pages_path,
                "--port", "0", "--workers", str(WORKERS)]
        if trace_dir:
            cmd = [sys.executable,
                   os.path.join(root, "perfbench", "serve_launcher.py"),
                   trace_dir, *args]
        else:
            cmd = [sys.executable, os.path.join(root, "jobs", "serve.py"),
                   *args]
        self.trace_dir = trace_dir
        self.proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                                     start_new_session=True)
        ready, _, _ = select.select([self.proc.stdout], [], [], 120)
        line = self.proc.stdout.readline() if ready else b""
        if not line:
            self.stop()
            raise RuntimeError("jobs/serve.py did not start")
        self.port = int(json.loads(line)["serving"].split(":")[2]
                        .split("/")[0])

    def pids(self) -> list[int]:
        pid = self.proc.pid
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                kids = [int(p) for p in f.read().split()]
        except OSError:
            kids = []
        return [pid, *kids]

    def rss_mb(self) -> float:
        total = 0
        for pid in self.pids():
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        return total / 1024.0

    def dump_spans(self) -> list[dict]:
        pids = self.pids()
        for pid in pids:
            os.kill(pid, signal.SIGUSR1)
        paths = [os.path.join(self.trace_dir, f"spans-{p}.jsonl")
                 for p in pids]
        deadline = time.time() + 30
        while not all(os.path.exists(p) for p in paths):
            if time.time() > deadline:
                raise RuntimeError("server processes did not dump spans")
            time.sleep(0.05)
        return [s for p in paths for s in load_spans(p)]

    def stop(self) -> None:
        pids = self.pids()
        try:
            os.killpg(self.proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait(timeout=20)
        self.proc.stdout.close()
        deadline = time.time() + 20
        for pid in pids[1:]:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _warm(port: int, df: np.ndarray) -> int:
    """Load every hot term's df and postings into each worker's memos
    and touch every site restriction once; returns requests sent."""
    hot = corpus.hot_terms(df)
    qs = [corpus.Request(" ".join(hot[i:i + WARM_GROUP]), (), None, 0, 10)
          for i in range(0, len(hot), WARM_GROUP)]
    qs += [corpus.Request(hot[s], (), f"https://site{s:02d}.example", 0, 10)
           for s in range(corpus.N_SITES)]
    work = [q for q in qs for _ in range(WARM_REPEAT)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(loadgen.sender_threads()) as pool:
        codes = list(pool.map(
            lambda q: loadgen.get(port, loadgen.search_path(q, -1))[0],
            work))
    if any(c != 200 for c in codes):
        raise RuntimeError("warm-up request failed")
    return len(work)


def _same_results(lidx, req: corpus.Request, body: bytes) -> bool:
    """One HTTP answer against the in-process scorer: the same uri
    order and relevance, and the same total count."""
    got = json.loads(body)
    sites = [req.site.split("//", 1)[1]] if req.site else None
    frame, total = lidx.search(req.query, sites=sites, offset=req.offset,
                               limit=req.limit, with_total=True)
    have = [(d["site"] + d["uri"], d["relevance"]) for d in got["data"]]
    return (got["result"] and got["count"] == total and corpus.same_ranking(
        have, list(zip(frame["url"], frame["score"]))))


def _check_sample(index_dir: str, reqs: dict) -> list[corpus.Request]:
    """A query of each mix with a non-empty answer: a site-restricted
    hot one and a paginated tail one."""
    from search_engine_spark.plans.local_serve import open_local_index

    lidx = open_local_index(index_dir)
    shapes = [("hot", lambda r: r.site and not r.offset),
              ("tail", lambda r: r.offset and not r.site)]
    out = []
    for mix, shape in shapes:
        for r in reqs[mix]:
            sites = [r.site.split("//", 1)[1]] if r.site else None
            if shape(r) and len(lidx.search(r.query, sites=sites,
                                            offset=r.offset, limit=r.limit)):
                out.append(r)
                break
    return out


def _rank_identity(spark, index_dir: str, reqs: list[corpus.Request]) -> int:
    """Mismatches between ``LocalIndex.search`` and
    ``plans.wand.search_compact`` on ``reqs``."""
    from search_engine_spark.plans.incremental import open_index
    from search_engine_spark.plans.local_serve import open_local_index
    from search_engine_spark.plans.wand import search_compact

    cidx = open_index(spark, index_dir)
    lidx = open_local_index(index_dir)
    bad = 0
    for r in reqs:
        sites = [r.site.split("//", 1)[1]] if r.site else None
        rows = search_compact(cidx, r.query, sites=sites, offset=r.offset,
                              limit=r.limit).orderBy("rn").collect()
        local = lidx.search(r.query, sites=sites, offset=r.offset,
                            limit=r.limit)
        bad += not corpus.same_ranking(
            [(x["url"], x["score"]) for x in rows],
            list(zip(local["url"], local["score"])))
    return bad


def _latency(samples) -> np.ndarray:
    return np.array([s.latency_ms for s in samples])


def _tombstoned_found(lidx, pages: corpus.Pages, df, dead_idx) -> int:
    """Tombstoned pages still returned for their rarest term."""
    vocab = corpus.vocabulary()
    found = 0
    for i in dead_idx:
        ids = pages.term_ids[i]
        term = vocab[int(ids[np.argmin(df[ids])])]
        found += pages.urls[i] in set(lidx.search(term, limit=1_000_000)["url"])
    return found


def run(ctx) -> dict:
    seconds = ctx.seconds
    t_setup = time.perf_counter()
    spark = sparkenv.start(ctx.work, ctx.cpus, ctx.trace)
    t_spark = time.perf_counter() - t_setup
    from search_engine_spark.plans.build import build_and_write
    from search_engine_spark.plans.incremental import tombstone_urls
    from search_engine_spark.plans.local_serve import open_local_index

    pages = corpus.make_pages(ctx.seed, 0, PAGES, VOCAB)
    pages_path = os.path.join(ctx.work, "pages.parquet")
    pq.write_table(pages.table, pages_path)
    df = corpus.document_frequency(pages)
    rng = np.random.default_rng([ctx.seed, 3])
    dead_idx = sorted(rng.choice(PAGES, DEAD_PAGES, replace=False).tolist())
    index_dir = os.path.join(ctx.work, "index")
    commits = Commits(spark, index_dir)
    built = commits.run("build", lambda s, o: build_and_write(
        s, s.read.parquet(pages_path), o, analyzer="lemma",
        n_segments=2 * ctx.cpus, resume=False))
    for part in np.array_split(dead_idx, TOMBSTONE_COMMITS):
        commits.run("tombstone", tombstone_urls,
                    [pages.urls[i] for i in part.tolist()])

    reqs = {"hot": corpus.hot_queries(ctx.seed, df,
                                      int(HOT["loaded"] * seconds) + 64),
            "tail": corpus.tail_queries(ctx.seed, df,
                                        int(TAIL_RATE * seconds) + 64)}
    t_check = time.perf_counter()
    sample = _check_sample(index_dir, reqs)
    rank_mismatch = _rank_identity(spark, index_dir, sample)
    lidx = open_local_index(index_dir)
    dead_found = _tombstoned_found(lidx, pages, df, dead_idx)
    check_s = time.perf_counter() - t_check
    sparkenv.stop()
    layers = ctx.build_layers(commits.windows["build"][0][0],
                              built["phases"])
    if ctx.trace:
        layers.update(commits.layers(sparkenv.EventLog(ctx.work),
                                     "tombstone"))
        layers["index.segment_files"] = float(segment_files(lidx))

    trace_dir = None
    if ctx.trace:
        trace_dir = os.path.join(ctx.work, "spans")
        os.makedirs(trace_dir)
    server = Server(ctx.root, index_dir, pages_path, trace_dir)
    phases: dict[str, list] = {}
    steal: dict[str, float] = {}
    used = {"hot": 0, "tail": 0}

    def offer(name, mix, rate, dur):
        """Offer ``rate`` for ``dur`` seconds; the samples join the
        phase ``name``, and the host's CPU steal meanwhile its total."""
        first = used[mix]
        steal0 = loadgen.cpu_steal_s()
        got = loadgen.run_phase(server.port, reqs[mix][first:],
                                RID_BASE[mix] + first, rate, dur)
        steal[name] = steal.get(name, 0.0) + loadgen.cpu_steal_s() - steal0
        used[mix] += len(got)
        phases.setdefault(name, []).extend(got)

    round_s = seconds / ROUNDS
    try:
        warm_sent = _warm(server.port, df)
        setup_s = time.perf_counter() - t_setup
        for _ in range(ROUNDS):
            offer("light", "hot", HOT["light"],
                  round_s * ROUND_SHARES["light"])
            offer("tail", "tail", TAIL_RATE, round_s * ROUND_SHARES["tail"])
            offer("loaded", "hot", HOT["loaded"],
                  round_s * ROUND_SHARES["loaded"])
        rss = server.rss_mb()
        spans = server.dump_spans() if ctx.trace else []
    finally:
        server.stop()

    from search_engine_spark.plans import local_serve

    by_rid = {RID_BASE[m] + i: r for m, rs in reqs.items()
              for i, r in enumerate(rs)}
    light, tail, loaded = phases["light"], phases["tail"], phases["loaded"]
    held = light + tail + loaded
    checked = [s for s in held if s.body is not None]
    wrong = sum(not _same_results(lidx, by_rid[s.rid], s.body)
                for s in checked)
    failed = (sum(not s.ok for s in held) + wrong + rank_mismatch
              + dead_found)
    attempted = len(held) + len(checked) + len(sample) + DEAD_PAGES

    dead_bytes = sum(len(pages.table.column("text")[i].as_py().encode())
                     for i in dead_idx)
    metrics = {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (PAGES / commits.walls["build"][0], "1/s"),
        "maintain_s": (commits.total_s(["tombstone"]), "s"),
        "search_p50_ms": (pct(_latency(light), 50), "ms"),
        "search_p50_ms_cold": (pct(_latency(tail), 50), "ms"),
        "write_bytes_per_input_byte": (
            commits.bytes_written() / pages.text_bytes, "ratio"),
        "index_bytes_per_input_byte": (
            commits.index_bytes() / (pages.text_bytes - dead_bytes),
            "ratio"),
    }
    rank = {w: i for i, w in enumerate(corpus.vocabulary())}
    inputs = {"pages": PAGES, "text_bytes": pages.text_bytes,
              "vocabulary": int((df > 0).sum()),
              "postings_rows": int(built["postings"]),
              "postings_memo_cap_rows": local_serve._POSTINGS_MEMO_CAP_ROWS,
              "dead_fraction": DEAD_PAGES / PAGES}
    seen = set(corpus.hot_terms(df))  # the warm-up loads them all
    for mix in ("hot", "tail"):
        sent = reqs[mix][:used[mix]]
        terms = {t for r in sent for t in r.terms}
        occurrences = [t for r in sent for t in r.terms]
        first = 0
        for t in occurrences:
            first += t not in seen
            seen.add(t)
        inputs[mix] = {
            "requests": len(sent),
            "mean_terms_per_query": float(np.mean([len(r.terms)
                                                   for r in sent])),
            "site_share": float(np.mean([r.site is not None for r in sent])),
            "paginated_share": float(np.mean([r.offset > 0 for r in sent])),
            "distinct_terms": len(terms),
            "first_seen_term_share": first / max(1, len(occurrences)),
            "postings_working_set_rows": int(sum(df[rank[t]]
                                                 for t in terms)),
        }
        inputs[mix]["working_set_share_of_memo_cap"] = (
            inputs[mix]["postings_working_set_rows"]
            / local_serve._POSTINGS_MEMO_CAP_ROWS)
    report = {
        "inputs": inputs,
        "rates": {"hot": HOT, "tail": TAIL_RATE},
        "search_p50_ms_loaded": pct(_latency(loaded), 50),
        "serve_rss_mb": rss,
        "samples": {k: len(v) for k, v in phases.items()},
        "phase_steal_s": steal,
        "phase_pct_ms": {k: {f"p{q}": pct(_latency(v), q)
                             for q in (50, 90, 95, 99)}
                         for k, v in phases.items()},
        "setup_parts_s": {"spark_start": t_spark,
                          "build": commits.walls["build"][0],
                          "tombstone": commits.walls["tombstone"],
                          "checks": check_s, "warm_requests": warm_sent},
        "bytes_written": commits.written,
        "checked_responses": len(checked), "wrong_responses": wrong,
        "rank_identity_mismatches": rank_mismatch,
        "tombstoned_pages_found": dead_found,
    }
    if ctx.trace:
        layers["tombstones.ms"] = tombstone_load_ms(spans)
        report["trace"] = {}
        for mix, tag, ph in (("hot", "warm", light), ("tail", "cold", tail)):
            got, extra = _serve_layers(spans, ph)
            layers.update({f"{tag}.{k}": v for k, v in got.items()})
            report["trace"][mix] = extra
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics, "layers": layers,
            "report": report}


def _serve_layers(spans: list[dict], light) -> tuple[dict, dict]:
    """Search layers over one phase's requests, and the serve-only
    layers and coverage for the report."""
    rids = {str(s.rid): s for s in light if s.ok}
    spans = [s for s in spans if s["rid"] in rids]
    own = self_times(spans)
    per_req: dict[str, dict[str, float]] = {}
    for s in spans:
        d = per_req.setdefault(s["rid"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + ms(s)
    covered = pct([1 - own[s["id"]] / max(1e-9, ms(s))
                   for s in spans if s["name"] == "handler"], 50)
    extra = {
        "serve.http_overhead_ms_p50": pct([
            (rids[r].done - rids[r].sent) * 1000.0 - d["search"]
            for r, d in per_req.items() if "search" in d], 50),
        "loadgen.late_ms_p99": pct([s.late_ms for s in light], 99),
        "analyze.calls": (sum(s["name"] == "analyze" for s in spans)
                          / max(1, len(per_req))),
        "snippets.ms_p50": pct([d.get("snippets", 0.0)
                                for d in per_req.values()], 50),
        "pages.ms_p50": pct([d.get("pages", 0.0)
                             for d in per_req.values()], 50),
        "requests_traced": len(per_req),
        "search_ms_p50": pct([ms(s) for s in spans
                              if s["name"] == "search"], 50),
        "search_self_share_by_layer": _shares(spans, own, "search"),
        "handler_covered_share_p50": covered,
        "coverage_ok": covered >= COVERAGE_MIN,
    }
    return search_layers(spans), extra


def _shares(spans, own, root: str) -> dict:
    """Self time per span name under ``root`` spans, as a share of the
    root spans' total time."""
    ids = {s["id"]: s for s in spans}

    def under(s):
        while s["parent"]:
            s = ids.get(s["parent"])
            if s is None:
                return False
            if s["name"] == root:
                return True
        return False

    total = sum(ms(s) for s in spans if s["name"] == root)
    out = {root: sum(own[s["id"]] for s in spans if s["name"] == root)}
    for s in spans:
        if under(s):
            out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return {k: v / max(1e-9, total) for k, v in sorted(out.items())}
