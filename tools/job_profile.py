"""Job/stage profiler: run registry queries with the bench methodology
(noop sink, release_cached between queries) and report how many Spark
jobs, stages and tasks each one launches.

Jobs and stages are the deltas of the DAG scheduler's next job and
stage ids across the query (the counters ``perfbench/probes.py``
reads), so the UI's job retention (``spark.ui.retainedJobs``) can no
longer evict a query's jobs from its count; ``stages`` includes
stages the scheduler created and then skipped (reused shuffle output).
``tasks`` sums completed tasks per stage id from the status tracker;
``missing_stages`` counts stage ids it no longer retains, whose tasks
are therefore not in ``tasks``.

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    args = ap.parse_args()

    from nhl_data_warehouse_spark.session import get_spark, release_cached
    from nhl_data_warehouse_spark.suite import REGISTRY

    spark = get_spark(app_name="job_profile")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jsc = sc._jsc.sc()
    dag = jsc.dagScheduler()

    def next_ids() -> tuple[int, int]:
        return int(dag.nextJobId()), int(dag.nextStageId())

    for name in args.names:
        spec = REGISTRY[name]
        job0, stage0 = next_ids()
        sc.setJobDescription(name)
        t0 = time.time()
        df = spec.fn(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        job1, stage1 = next_ids()
        jsc.listenerBus().waitUntilEmpty()  # stage infos are final
        n_tasks = 0
        missing = 0
        for sid in range(stage0, stage1):
            si = tracker.getStageInfo(sid)
            if si is None:
                missing += 1
            else:
                n_tasks += si.numCompletedTasks
        print(
            json.dumps(
                {
                    "query": name,
                    "sec": dt,
                    "jobs": job1 - job0,
                    "stages": stage1 - stage0,
                    "tasks": n_tasks,
                    "missing_stages": missing,
                }
            ),
            flush=True,
        )
        release_cached(spark)
        del df
        gc.collect()


if __name__ == "__main__":
    main()
