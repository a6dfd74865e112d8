"""``index_lifecycle``: Spark writes beside fresh readers.

The measured sequence is ``build_and_write``, ``APPENDS`` small
``append_pages``, ``tombstone_urls`` of about 1% of the base pages,
``merge_delta_epochs`` and ``vacuum``.  After every commit a fresh
``open_local_index`` answers its own probe queries twice: cold (the
reader has not seen them yet), then warm (every term is in its
memos).  The benchmark checks that tombstoned urls are gone and
appended ones are findable.  Last, ``search_many_compact`` runs a
fixed query batch and must rank like the local scorer.  The sequence
is fixed work (about a minute on 4 cores), longer than any
``--seconds`` the benchmark is run with.

``reindex_pages`` is left out: it is ``tombstone_urls`` followed by
``append_pages``, both measured here, and its ~9 s did not fit the
benchmark's time budget.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import corpus, sparkenv
from perfbench.commits import Commits, segment_files
from perfbench.trace import (
    COVERAGE_MIN,
    Tracer,
    install_serving,
    search_layers,
    tombstone_load_ms,
)

PAGES = 1_000
VOCAB = 300
APPENDS = 2
APPEND_PAGES = 50
DEAD_PAGES = 10  # 1% of the base pages
BATCH_QUERIES = 24
PROBES = 40  # per commit: two whole blocks of the terms-per-query mix
COMMITS = APPENDS + 4  # build, the appends, tombstone, merge, vacuum
CHECKS_PER_COMMIT = 4
MAINTAIN = ("append", "tombstone", "merge", "vacuum")


class _Pages:
    """Generated pages plus the df they imply, for picking a page's
    rarest term."""

    def __init__(self, seed: int):
        self.seed = seed
        self.df = np.zeros(corpus.VOCAB_SIZE, np.int64)
        self.vocab = corpus.vocabulary()

    def make(self, start: int, count: int) -> corpus.Pages:
        p = corpus.make_pages(self.seed, start, count, VOCAB)
        self.df += corpus.document_frequency(p)
        return p

    def rarest(self, ids: np.ndarray) -> str:
        return self.vocab[int(ids[np.argmin(self.df[ids])])]


def run(ctx) -> dict:
    t_setup = time.perf_counter()
    spark = sparkenv.start(ctx.work, ctx.cpus, ctx.trace)
    t_spark = time.perf_counter() - t_setup
    from search_engine_spark.plans import incremental as inc
    from search_engine_spark.plans.build import build_and_write
    from search_engine_spark.plans.local_serve import open_local_index
    from search_engine_spark.plans.wand import search_many_compact

    gen = _Pages(ctx.seed)
    base = gen.make(0, PAGES)
    adds = [gen.make(PAGES + i * APPEND_PAGES, APPEND_PAGES)
            for i in range(APPENDS)]
    rng = np.random.default_rng([ctx.seed, 3])
    dead_idx = sorted(rng.choice(PAGES, DEAD_PAGES, replace=False).tolist())

    def parquet(name, table):
        path = os.path.join(ctx.work, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    paths = {"base": parquet("base", base.table)}
    for i, p in enumerate(adds):
        paths[f"add{i}"] = parquet(f"add{i}", p.table)
    dead_urls = [base.urls[i] for i in dead_idx]
    batch = [r.query for r in corpus.hot_queries(ctx.seed, gen.df,
                                                 BATCH_QUERIES)]
    # each commit's reader gets its own probe queries, so the medians
    # rest on many distinct queries, not on one small set
    probes = iter([r.query for r in corpus.hot_queries(
        ctx.seed + 1, gen.df, PROBES * COMMITS)])
    input_bytes = base.text_bytes + sum(p.text_bytes for p in adds)
    live_texts = dict(zip(base.urls, base.table.column("text").to_pylist()))
    setup_s = time.perf_counter() - t_setup

    tracer = Tracer()
    if ctx.trace:
        install_serving(tracer)
    out = os.path.join(ctx.work, "index")
    commits = Commits(spark, out)
    probe_ms: dict[str, list[float]] = {"cold": [], "warm": []}
    layout: list[tuple[int, int]] = []
    checks = {"attempted": 0, "failed": 0}

    def expect(lidx, term: str, url: str, present: bool):
        frame = lidx.search(term, limit=1_000_000)
        checks["attempted"] += 1
        if (url in set(frame["url"])) != present:
            checks["failed"] += 1

    def probe(present=(), absent=()):
        """A fresh reader after a commit: the probe queries cold, then
        warm (spans tagged by pass), then presence checks on (url,
        term ids) pairs."""
        lidx = open_local_index(out)
        queries = [next(probes) for _ in range(PROBES)]
        for tag in ("cold", "warm"):
            tracer.set_request(tag)
            for q in queries:
                t0 = time.perf_counter()
                lidx.search(q, limit=10)
                probe_ms[tag].append((time.perf_counter() - t0) * 1000.0)
        tracer.set_request(None)
        for url, ids in present:
            expect(lidx, gen.rarest(ids), url, True)
        for url, ids in absent:
            expect(lidx, gen.rarest(ids), url, False)
        layout.append((len(lidx.meta.get("delta_epochs") or []),
                       segment_files(lidx)))

    t_lc = time.time()
    built = commits.run("build", lambda s, o: build_and_write(
        s, s.read.parquet(paths["base"]), o, analyzer="lemma",
        n_segments=2 * ctx.cpus, resume=False))
    probe(present=_sample(rng, base, range(PAGES)))
    for i, p in enumerate(adds):
        commits.run("append", inc.append_pages,
                    spark.read.parquet(paths[f"add{i}"]))
        probe(present=_sample(rng, p, range(APPEND_PAGES)))
        live_texts.update(zip(p.urls, p.table.column("text").to_pylist()))
    commits.run("tombstone", inc.tombstone_urls, dead_urls)
    dead = [(base.urls[i], base.term_ids[i]) for i in dead_idx]
    probe(absent=dead[:CHECKS_PER_COMMIT])
    for u in dead_urls:
        live_texts.pop(u)
    commits.run("merge", inc.merge_delta_epochs)
    probe(absent=dead[-CHECKS_PER_COMMIT:],
          present=_sample(rng, adds[0], range(APPEND_PAGES)))
    commits.run("vacuum", inc.vacuum)
    probe(absent=dead[:CHECKS_PER_COMMIT])
    index_bytes = commits.index_bytes()
    write_bytes = commits.bytes_written()

    cidx = inc.open_index(spark, out)
    batch_rows = commits.run("batch", lambda s, o: search_many_compact(
        cidx, batch, limit=10).collect())
    batch_wrong = _batch_mismatches(open_local_index(out), batch, batch_rows)
    measured_s = time.time() - t_lc
    sparkenv.stop()

    live_bytes = sum(len(t.encode()) for t in live_texts.values())
    walls = commits.walls
    metrics = {
        "setup_s": (setup_s, "s"),
        "build_docs_per_s": (PAGES / walls["build"][0], "1/s"),
        "maintain_s": (commits.total_s(MAINTAIN), "s"),
        "search_p50_ms": (float(np.median(probe_ms["warm"])), "ms"),
        "search_p50_ms_cold": (float(np.median(probe_ms["cold"])), "ms"),
        "write_bytes_per_input_byte": (write_bytes / input_bytes, "ratio"),
        "index_bytes_per_input_byte": (index_bytes / live_bytes, "ratio"),
    }
    failed = checks["failed"] + batch_wrong
    attempted = checks["attempted"] + len(batch)
    report = {
        "inputs": {
            "pages": PAGES, "appended_pages": APPENDS * APPEND_PAGES,
            "text_bytes": input_bytes, "live_text_bytes": live_bytes,
            "vocabulary": int((gen.df > 0).sum()),
            "postings_rows": int(built["postings"]),
            "probe_queries": PROBES,
            "batch_queries": BATCH_QUERIES,
            "mean_terms_per_query": float(np.mean(
                [len(q.split()) for q in batch])),
            "dead_fraction": DEAD_PAGES / PAGES,
        },
        "setup_parts_s": {"spark_start": t_spark},
        "append_s": float(np.median(walls["append"])),
        "delete_s": walls["tombstone"][0],
        "vacuum_s": walls["vacuum"][0],
        "lifecycle_s": commits.total_s(("build", *MAINTAIN)),
        "batch_qps": BATCH_QUERIES / walls["batch"][0],
        "op_s": walls, "bytes_written": commits.written,
        "measured_s": measured_s,
        "append_phases": [r["phases"] for r in commits.results["append"]],
        "build_phases": built["phases"],
        "layout_after_commits": layout,
        "checks": checks, "batch_mismatches": batch_wrong,
    }
    layers = {}
    if ctx.trace:
        layers, report["trace"] = _layers(ctx, tracer.spans, commits, layout)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics, "layers": layers,
            "report": report}


def _sample(rng, pages: corpus.Pages, idx) -> list:
    pick = rng.choice(list(idx), CHECKS_PER_COMMIT, replace=False)
    return [(pages.urls[i], pages.term_ids[i]) for i in pick.tolist()]


def _batch_mismatches(lidx, queries, rows) -> int:
    """Queries whose batch answer differs from the local scorer's."""
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rn"])):
        got.setdefault(r["query_id"], []).append((r["url"], r["score"]))
    bad = 0
    for qid, q in enumerate(queries):
        local = lidx.search(q, limit=10)
        bad += not corpus.same_ranking(
            got.get(qid, []), list(zip(local["url"], local["score"])))
    return bad


def _layers(ctx, spans, commits: Commits, layout):
    """The per-layer metrics (build, tombstone, search by probe pass,
    index layout), and for the report the layers only this workload
    has (append phases, merge, vacuum, batch) with the coverage
    checks."""
    from perfbench.sparkenv import EventLog

    log = EventLog(ctx.work)
    layers = ctx.build_layers(commits.windows["build"][0][0],
                              commits.results["build"][0]["phases"])
    layers.update(commits.layers(log, "tombstone"))
    for tag in ("cold", "warm"):
        got = search_layers([s for s in spans if s["rid"] == tag])
        layers.update({f"{tag}.{k}": v for k, v in got.items()})
    layers["index.segment_files"] = float(np.median([f for _, f in layout]))
    layers["tombstones.ms"] = tombstone_load_ms(spans)

    phases = [r["phases"] for r in commits.results["append"]]
    extra = {f"append.{p}_s": float(np.median(
        [ph.get(p, 0.0) + (ph.get("guard_bloom", 0.0) if p == "guard"
                           else 0.0) for ph in phases]))
        for p in ("guard", "analysis", "concurrent_writes", "docs", "commit")}
    for name in ("merge", "vacuum", "batch"):
        extra.update(commits.layers(log, name))
    extra["index.delta_epochs"] = float(np.median([e for e, _ in layout]))
    cover = {"op_spark_job_share": {
        name: log.job_share(*commits.windows[name][0])
        for name in ("tombstone", "merge", "vacuum")},
        "append_phase_share": [
            sum(v for k, v in ph.items() if not k.startswith("w_")) / w
            for ph, w in zip(phases, commits.walls["append"])]}
    cover["coverage_ok"] = {
        "ops": {k: v >= COVERAGE_MIN
                for k, v in cover["op_spark_job_share"].items()},
        "append": [v >= COVERAGE_MIN for v in cover["append_phase_share"]],
    }
    return layers, {"layers": extra, **cover}
