"""Spark session for the benchmark, and what its event log says.

The session runs ``local[nproc]`` with one shuffle partition per core,
AQE and Arrow on, as the build job configures them.  Every scratch
path (block manager, warehouse, JVM temp, event log) points inside
the run's work directory.  The event log is written only in traced
runs; it is read after the session stops, when the log is complete.
"""

from __future__ import annotations

import glob
import json
import os


def start(work: str, cpus: int, event_log: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData")
    )
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", "file://" + events))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop() -> None:
    """Stop the active session, if any, and wait for its JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    gw = sc._gateway
    proc = getattr(gw, "proc", None)
    sc.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


class EventLog:
    """Jobs and finished tasks from a Spark event log directory."""

    def __init__(self, work: str):
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        ends: dict[int, float] = {}
        paths = sorted(glob.glob(os.path.join(work, "events", "**", "*"),
                                 recursive=True))
        for path in paths:
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        self.jobs.append({
                            "id": ev["Job ID"],
                            "submit": ev["Submission Time"] / 1000.0,
                        })
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                    elif kind == "SparkListenerJobEnd":
                        ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        info = ev["Task Info"]
                        metrics = ev.get("Task Metrics") or {}
                        self.tasks.append({
                            "job": stage_job.get(ev["Stage ID"]),
                            "launch": info["Launch Time"] / 1000.0,
                            "finish": info["Finish Time"] / 1000.0,
                            # run time, not "Executor CPU Time": the
                            # latter misses the Python workers' CPU
                            "cpu_s": metrics.get("Executor Run Time", 0)
                            / 1e3,
                        })

        for j in self.jobs:
            j["end"] = ends.get(j["id"], j["submit"])

    def job_share(self, t0: float, t1: float) -> float:
        """Share of ``[t0, t1]`` during which at least one job ran."""
        spans = sorted((max(j["submit"], t0), min(j["end"], t1))
                       for j in self.jobs if j["end"] > t0 and j["submit"] < t1)
        covered, edge = 0.0, t0
        for a, b in spans:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return covered / (t1 - t0) if t1 > t0 else 0.0

    def window(self, t0: float, t1: float) -> dict:
        """Jobs submitted in ``[t0, t1)`` (epoch seconds), their
        tasks' summed run time, and cores kept busy by any task over the
        window (task run time overlapping it ÷ its length)."""
        ids = {j["id"] for j in self.jobs if t0 <= j["submit"] < t1}
        cpu = sum(t["cpu_s"] for t in self.tasks if t["job"] in ids)
        busy = sum(max(0.0, min(t["finish"], t1) - max(t["launch"], t0))
                   for t in self.tasks)
        return {"spark_jobs": len(ids), "task_cpu_s": cpu,
                "cores_busy": busy / (t1 - t0) if t1 > t0 else 0.0}
