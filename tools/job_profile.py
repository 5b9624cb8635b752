"""Job/stage profiler: run registry queries with the bench methodology
(noop sink, release_cached between queries) and report how many Spark
jobs, stages and tasks each one launches.

Jobs and stages are the deltas of the DAG scheduler's next job and
stage ids across the query, read with ``perfbench/probes.py``'s
``JvmCounters``, so the UI's job retention (``spark.ui.retainedJobs``)
can no longer evict a query's jobs from its count; ``stages`` includes
stages the scheduler created and then skipped (reused shuffle output).
``build_jobs`` are the jobs started inside ``spec.fn`` itself (schema
inference, eager actions). ``compiles`` and ``compile_s`` are the
whole-stage classes the code generator compiled for the query and the
seconds it spent, so ``job_profile.py q q`` shows whether a warm rerun
compiles nothing. ``tasks`` sums completed tasks per stage id from the
status store; ``missing_stages`` counts stage ids it no longer retains,
whose tasks are therefore not in ``tasks``.

At tiny SFs (sf0.001) data work is nil, so job/stage counts isolate
plan/driver overhead — the r13 finding that heavy queries run 13-38
jobs each is what moved optimization from "shuffle fewer bytes" to
"execute fewer exchanges/jobs/duplicate subplans" (guide §1.2/§2.4).

Usage: python tools/job_profile.py [--sf DIR] name [name...]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    args = ap.parse_args()

    from probes import JvmCounters

    from nhl_data_warehouse_spark.session import get_spark, release_cached
    from nhl_data_warehouse_spark.suite import REGISTRY

    spark = get_spark(app_name="job_profile")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext
    jvm = JvmCounters(spark)

    for name in args.names:
        spec = REGISTRY[name]
        (job0, stage0), (cg_s0, cg_n0) = jvm.ids(), jvm.codegen()
        sc.setJobDescription(name)
        t0 = time.time()
        df = spec.fn(spark, args.sf)
        build_jobs = jvm.ids()[0] - job0
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        (job1, stage1), (cg_s1, cg_n1) = jvm.ids(), jvm.codegen()
        totals = jvm.stage_totals(stage0, stage1)
        print(
            json.dumps(
                {
                    "query": name,
                    "sec": dt,
                    "jobs": job1 - job0,
                    "build_jobs": build_jobs,
                    "stages": stage1 - stage0,
                    "compiles": cg_n1 - cg_n0,
                    "compile_s": round(cg_s1 - cg_s0, 3),
                    "tasks": int(totals["tasks"]),
                    "missing_stages": totals["missing"],
                }
            ),
            flush=True,
        )
        release_cached(spark)
        del df
        gc.collect()


if __name__ == "__main__":
    main()
