"""sf1-scale evidence run (VERDICT r03 item #8): the same engine
paths at 48k and 480k pages in one session, confirming the per-line
scaling stories the architecture claims —

- build throughput ~linear in corpus size (docs/s roughly flat),
- persisted-index query latency ~flat (bucket-pruned, O(query-term
  postings), not O(corpus)),
- driver-local serving p50 ~flat (same pruning, no Spark),
- maintenance ops ~O(delta): the SAME delta appended to a 10x base
  should cost about the same.

Prints one JSON line: {"metric": "sf1_evidence", ...}.  Corpus is the
deterministic synthetic generator (sources/fixtures.pages_df_dist) —
the bench build corpus, scaled; no external data.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-sf1")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms24g -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from search_engine_spark.plans.build import build_and_write
    from search_engine_spark.plans.incremental import (
        append_pages,
        open_index,
        tombstone_urls,
        vacuum,
    )
    from search_engine_spark.plans.local_serve import open_local_index
    from search_engine_spark.plans.wand import search_compact
    from search_engine_spark.sources.fixtures import pages_df_dist
    from search_engine_spark.util import warm_python_workers

    warm_python_workers(spark)

    workload = [
        "crystal meadow", "falcon harbor", "lantern marble",
        "nebula orchid", "quartz raven", "thunder velvet",
    ]
    delta_n = 4000  # SAME absolute delta at both scales (O(delta) story)
    out: dict = {"metric": "sf1_evidence", "cpus": cpus}

    # throwaway warm-up build so the FIRST measured leg doesn't pay
    # JVM/python-worker/codegen cold start the second leg skips
    warm_dir = tempfile.mkdtemp(prefix="sf1ev_warm_")
    build_and_write(
        spark, pages_df_dist(spark, 4000, n_sites=8, seed=7,
                             n_partitions=cpus),
        warm_dir, analyzer="lemma", n_segments=cpus, resume=False,
    )
    shutil.rmtree(warm_dir, ignore_errors=True)

    for label, n_pages in (("sf0.1", 48_000), ("sf1", 480_000)):
        res: dict = {"pages": n_pages}
        base = pages_df_dist(
            spark, n_pages, n_sites=8, seed=42,
            n_partitions=cpus * 2,
        ).cache()
        n_base = base.count()
        # SAME absolute delta at both scales (the O(delta) story):
        # a disjoint second corpus, anti-joined on url
        delta = (
            pages_df_dist(
                spark, delta_n * 2, n_sites=8, seed=77,
                n_partitions=cpus,
            )
            .join(base.select("url"), "url", "left_anti")
            .limit(delta_n)
            .cache()
        )
        delta.count()
        res["base_pages"] = n_base

        idx_dir = tempfile.mkdtemp(prefix=f"sf1ev_{label}_")
        t0 = time.time()
        build_and_write(
            spark, base, idx_dir, analyzer="lemma",
            n_segments=cpus * 2, resume=False,
        )
        build_s = time.time() - t0
        res["build_sec"] = round(build_s, 2)
        res["docs_per_sec_build"] = round(n_base / build_s, 1)

        # Spark query p50 over the persisted index (warm)
        cidx = open_index(spark, idx_dir)
        for q in workload:
            search_compact(cidx, q, limit=10).collect()
        lat = []
        for q in workload * 3:
            t0 = time.time()
            search_compact(cidx, q, limit=10).collect()
            lat.append(time.time() - t0)
        lat.sort()
        res["bm25_p50_sec"] = round(lat[len(lat) // 2], 3)

        # driver-local serving p50 (warm)
        lidx = open_local_index(idx_dir)
        for q in workload:
            lidx.search(q, limit=10)
        lloc = []
        for q in workload * 5:
            t0 = time.time()
            lidx.search(q, limit=10)
            lloc.append(time.time() - t0)
        lloc.sort()
        res["local_p50_ms"] = round(1000 * lloc[len(lloc) // 2], 2)

        # maintenance at this base size, SAME absolute delta
        t0 = time.time()
        a = append_pages(spark, idx_dir, delta)
        res["append_sec"] = round(time.time() - t0, 2)
        res["append_rows"] = a.get("appended")
        victims = [
            r["url"] for r in delta.select("url").limit(500).collect()
        ]
        t0 = time.time()
        tombstone_urls(spark, idx_dir, victims)
        res["tombstone_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        vacuum(spark, idx_dir)
        res["vacuum_sec"] = round(time.time() - t0, 2)

        out[label] = res
        base.unpersist()
        delta.unpersist()
        shutil.rmtree(idx_dir, ignore_errors=True)

    a, b = out["sf0.1"], out["sf1"]
    out["ratios_sf1_over_sf01"] = {
        "build_sec": round(b["build_sec"] / a["build_sec"], 2),
        "docs_per_sec_build": round(
            b["docs_per_sec_build"] / a["docs_per_sec_build"], 2
        ),
        "bm25_p50": round(b["bm25_p50_sec"] / a["bm25_p50_sec"], 2),
        "local_p50": round(b["local_p50_ms"] / a["local_p50_ms"], 2),
        "append_sec": round(b["append_sec"] / a["append_sec"], 2),
        "vacuum_sec": round(b["vacuum_sec"] / a["vacuum_sec"], 2),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
