"""The engine benchmark: one workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout.  Workloads:

- ``serve``: a Spark build and a tombstone commit, then open-loop
  HTTP search through ``jobs/serve.py``: the hot mix (mid-frequency
  terms every server worker already holds in its memos: warm) and the
  tail mix (long-tail terms, each first seen during the run: cold)
  against the same server.
- ``index_lifecycle``: a Spark build, appends, a tombstone commit, an
  epoch merge and a vacuum, each followed by fresh-reader probe
  queries (cold, then warm), then a batch search.

Every run checks the engine's answers.  The last line of standard
output is the result: ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics when ``--trace 0`` and the
per-layer metrics (from spans and the Spark event log) when
``--trace 1``; both workloads report every metric.  The line before
it is a report with the input properties, the host and the raw
figures behind the metrics.
See ``perfbench/METRICS.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import traceback

ROOT = os.getcwd()

# BENCHMARK.json gives one list of metrics for every workload, so each
# workload measures each metric; METRICS.md says what each means on
# each workload.
END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "maintain_s": "s",
    "search_p50_ms": "ms",
    "search_p50_ms_cold": "ms",
    "write_bytes_per_input_byte": "ratio",
    "index_bytes_per_input_byte": "ratio",
}
_SEARCH_LAYERS = {
    "analyze.ms_p50": "ms",
    "idf.ms_p50": "ms",
    "idf.first_seen_share": "ratio",
    "postings.ms_p50": "ms",
    "postings.ms_p99": "ms",
    "decode.blocks_per_query": "count",
    "decode.rows_per_query": "count",
    "postings.rows_per_result": "count",
    "resolve.ms_p50": "ms",
    "score.ms_p50": "ms",
    "score.ms_p99": "ms",
}
_BUILD_PHASES = ("logical_index", "stats_tables", "compact_write", "manifest")
PER_LAYER = {
    **{f"{tag}.{k}": u for tag in ("warm", "cold")
       for k, u in _SEARCH_LAYERS.items()},
    **{f"build.{p}_s": "s" for p in _BUILD_PHASES},
    **{f"build.{p}.cores_busy": "cores" for p in _BUILD_PHASES},
    "tombstone.s": "s",
    "tombstone.bytes_written": "bytes",
    "tombstone.spark_jobs": "count",
    "tombstone.task_cpu_s": "s",
    "index.segment_files": "count",
    "tombstones.ms": "ms",
}


class Context:
    def __init__(self, args):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".bench_work",
                                 f"{args.workload}-{os.getpid()}")

    def build_layers(self, t0: float, phases: dict) -> dict:
        """``build.*`` layer metrics from ``build_and_write``'s phase
        split; cores busy per phase come from the event log (traced
        runs only, read after the session stopped)."""
        if not self.trace:
            return {}
        from perfbench.sparkenv import EventLog

        log = EventLog(self.work)
        out = {}
        t = t0
        for name in _BUILD_PHASES:
            dur = float(phases.get(name, 0.0))
            out[f"build.{name}_s"] = dur
            out[f"build.{name}.cores_busy"] = log.window(t, t + dur)[
                "cores_busy"]
            t += dur
        return out


def environment(ctx: Context) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": ctx.cpus,
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "spark_master": f"local[{ctx.cpus}]",
        "serve_workers": 2,
        "flush_policy": "no fsync: written files may be read back from "
                        "the page cache",
        "comparable_with": "runs of this benchmark on the same host only; "
                           "not with BENCH_r01-r05 (32 cpus, bench.py)",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve", "index_lifecycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "search_engine_spark"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "serve.py"))):
        print("perfbench: run from the root of a search_engine_spark "
              "source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench import loadgen

    ctx = Context(args)
    os.makedirs(os.path.join(ctx.work, "tmp"))
    # every scratch file of the run, this process's and its children's,
    # stays under the work directory
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    steal0 = loadgen.cpu_steal_s()
    try:
        if args.workload == "index_lifecycle":
            from perfbench import lifecycle

            out = lifecycle.run(ctx)
        else:
            from perfbench import serving

            out = serving.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            from perfbench import sparkenv

            sparkenv.stop()
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))
        except OSError:
            pass

    report = {"workload": args.workload, "seed": args.seed,
              "seconds": ctx.seconds, "trace": ctx.trace,
              "environment": environment(ctx),
              "cpu_steal_s": loadgen.cpu_steal_s() - steal0,
              **out["report"]}
    if sorted(out["metrics"]) != sorted(END_TO_END) or (
            ctx.trace and sorted(out["layers"]) != sorted(PER_LAYER)):
        print("perfbench: the workload did not measure every metric",
              file=sys.stderr)
        return 1
    if ctx.trace:
        report["end_to_end_traced"] = {k: v for k, (v, _) in
                                       out["metrics"].items()}
        metrics = {k: {"value": float(out["layers"][k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(out["metrics"][k][0]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": bool(out["correct"]),
                      "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
