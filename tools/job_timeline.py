#!/usr/bin/env python
"""Per-query JOB TIMELINE profile: split a query's wall into Spark-job
spans vs driver-side gaps (plan analysis, AQE re-planning, Python
plan-construction, py4j round-trips).

For each query named on the command line (default: a heavy-hitter set),
runs it twice (run 1 warms codegen/JIT; run 2 is reported), pulls the
job list from the status REST API, and prints per-query:

  wall, n_jobs, sum(job spans), task-time, driver-gap (wall − job span
  union), and the largest individual gaps between consecutive jobs.

Usage: python tools/job_timeline.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openaq_lcs_fetch_spark.plans import QUERIES
from openaq_lcs_fetch_spark.session import get_spark

DEFAULT = [
    "dedup_components",
    "ngram_jaccard_top",
    "split_leakage_audit",
    "minhash_error_audit",
    "dup_span_stats",
    "containment_pairs",
    "bfs_hops",
    "fk_integrity_audit",
    "copurchase_triangles",
    "clustering_coefficients",
    "degree_assortativity",
    "pq_search",
    "ivf_pq_search",
    "pca_power_iteration",
    "minhash_lsh_pairs",
    "boilerplate_ngrams",
    "decontaminate",
    "ngram_novelty_curve",
    "kcore_nodes",
    "bpe_train_merges",
    "value_mad",
    "basket_lift_rules",
]


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    names = args or DEFAULT

    spark = get_spark("timeline", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.sparkContext.uiWebUrl + "/api/v1/applications/" + spark.sparkContext.applicationId

    # warm
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    for name in names:
        q = QUERIES[name]
        q.fn(spark, sf_dir).collect()  # warm codegen
        spark.catalog.clearCache()

        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        epoch0 = time.time()
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        df.collect()
        wall = time.perf_counter() - t0
        epoch1 = time.time()
        jobs = [j for j in _api(base, "/jobs") if j["jobId"] not in jobs_before]
        jobs.sort(key=lambda j: j["submissionTime"])

        def _ts(s: str) -> float:
            # "2026-08-17T14:40:01.123GMT"
            from datetime import datetime

            return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").timestamp()

        spans = [( _ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs if "completionTime" in j]
        spans.sort()
        # union of job spans
        union = 0.0
        gaps = []
        if spans:
            cur_s, cur_e = spans[0]
            for s, e in spans[1:]:
                if s > cur_e:
                    gaps.append((round(s - cur_e, 3), cur_e))
                    union += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            union += cur_e - cur_s
        # task time from stages referenced by these jobs
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        task_time = 0.0
        n_tasks = 0
        for st in _api(base, "/stages?status=complete"):
            if st["stageId"] in stage_ids:
                task_time += st.get("executorRunTime", 0) / 1000.0
                n_tasks += st.get("numCompleteTasks", 0)
        gaps.sort(reverse=True)
        pre = spans[0][0] - epoch0 if spans else wall
        post = epoch1 - spans[-1][1] if spans else 0.0
        print(
            f"{name:28s} wall={wall:6.2f} build={t_build:5.2f} jobs={len(jobs):3d} tasks={n_tasks:4d} "
            f"jobspan={union:6.2f} gap={wall - union:5.2f} pre={pre:5.2f} post={post:5.2f} "
            f"tasktime={task_time:7.1f} top_gaps={[g for g, _ in gaps[:5]]}",
            flush=True,
        )
        spark.catalog.clearCache()

    spark.stop()


if __name__ == "__main__":
    main()
