"""Timed Spark commits to one index directory.

Both workloads build an index and commit to it.  Each commit records
its wall time, its time window (the traced run attributes Spark jobs
from the event log by window), the bytes of the files it created or
rewrote under the index directory, and what it returned.
"""

from __future__ import annotations

import os
import time


def files(root: str) -> dict[str, tuple[int, int]]:
    """Path -> (size, mtime) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def segment_files(lidx) -> int:
    """Parquet files in the segment directories a reader sees."""
    from search_engine_spark.plans.local_serve import pyarrow_segment_dirs

    dirs = pyarrow_segment_dirs(lidx._fs, lidx._root, lidx.meta)
    return sum(1 for d in dirs for _, _, names in os.walk(d)
               for n in names if n.endswith(".parquet"))


class Commits:
    def __init__(self, spark, out: str):
        self.spark = spark
        self.out = out
        self.walls: dict[str, list[float]] = {}
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.written: dict[str, int] = {}
        self.results: dict[str, list] = {}

    def run(self, name: str, fn, *args):
        """``fn(spark, out, *args)`` as the commit ``name``."""
        before = files(self.out)
        # jobs are attributed by time window: the job group only
        # reaches jobs submitted from this thread, not a commit's pool
        self.spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        res = fn(self.spark, self.out, *args)
        t1 = time.time()
        after = files(self.out)
        self.walls.setdefault(name, []).append(t1 - t0)
        self.windows.setdefault(name, []).append((t0, t1))
        self.written[name] = self.written.get(name, 0) + sum(
            v[0] for p, v in after.items() if before.get(p) != v)
        self.results.setdefault(name, []).append(res)
        return res

    def total_s(self, names) -> float:
        return sum(sum(self.walls[n]) for n in names)

    def bytes_written(self) -> int:
        return sum(self.written.values())

    def index_bytes(self) -> int:
        return sum(v[0] for v in files(self.out).values())

    def layers(self, log, name: str) -> dict[str, float]:
        """``<name>.{s,bytes_written,spark_jobs,task_cpu_s}`` of the
        commit's first run, its jobs read from the event log."""
        win = log.window(*self.windows[name][0])
        return {f"{name}.s": self.walls[name][0],
                f"{name}.bytes_written": float(self.written[name]),
                f"{name}.spark_jobs": float(win["spark_jobs"]),
                f"{name}.task_cpu_s": win["task_cpu_s"]}
