"""Job/stage profiler: run registry queries through
``harness.run_query`` on a ``harness.warm_up``-ed session, exactly as
``bench.py`` times them, and report what each run costs.

One JSON line per run, with the keys in ``ROW_KEYS``. ``sec`` is the
build plus the noop sink, as in ``bench.py``; ``build_s`` is the build
alone. Jobs, stages and compiles are JVM counter deltas (see
``harness``): ``stages`` includes stages the scheduler created and
then skipped (reused shuffle output), ``build_jobs`` are the jobs
started inside ``spec.fn`` itself (schema inference, eager actions),
and ``compiles``/``compile_s`` show whether a warm rerun
(``job_profile.py -r 2 q``) compiles nothing. ``tasks`` sums
completed tasks per stage id from the status store;
``missing_stages`` counts stage ids it no longer retains, whose tasks
are therefore not in ``tasks``. A last line sums ``build_s``,
``run_s`` (``sec - build_s``), ``jobs``, ``build_jobs`` and
``compiles`` over every run: with no names, that is the suite-wide
build-vs-execution split.

At tiny SFs (sf0.001) data work is nil, so job/stage counts isolate
plan/driver overhead — the r13 finding that heavy queries run 13-38
jobs each is what moved optimization from "shuffle fewer bytes" to
"execute fewer exchanges/jobs/duplicate subplans" (guide §1.2/§2.4).

``--explain DIR`` also writes ``.explain("formatted")`` of each
query's first run to DIR/<name>.txt (the plans/r13 before/after
artifacts); rendering it is part of that run's ``sec``.

Usage: python tools/job_profile.py [--sf DIR] [-r N] [--explain DIR] [name...]
"""

from __future__ import annotations

import argparse
import functools
import json
import os

from harness import counters, noop, run_query, warm_up

ROW_KEYS = (
    "query", "rep", "sec", "build_s", "jobs", "build_jobs", "stages",
    "compiles", "compile_s", "tasks", "missing_stages", "error",
)
TOTAL_KEYS = ("build_s", "run_s", "jobs", "build_jobs", "compiles")


def _explain_to(path: str):
    def sink(df) -> None:
        noop(df)
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))

    return sink


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    ap.add_argument("-r", "--repeats", type=int, default=1)
    ap.add_argument("--explain", default=None, help="dir to write explain('formatted') per query")
    args = ap.parse_args(argv)

    from nhl_data_warehouse_spark.session import get_spark
    from nhl_data_warehouse_spark.suite import REGISTRY

    spark = get_spark(app_name="job_profile")
    warm_up(spark, args.sf)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    totals = dict.fromkeys(TOTAL_KEYS, 0)
    for name in args.names or list(REGISTRY):
        build = functools.partial(REGISTRY[name].fn, spark, args.sf)
        for rep in range(args.repeats):
            sink = noop
            if args.explain and rep == 0:
                sink = _explain_to(os.path.join(args.explain, f"{name}.txt"))
            spark.sparkContext.setJobDescription(f"{name}#{rep}")
            r = run_query(spark, build, sink)
            st = counters(spark).stage_totals(*r["stage_ids"])
            r.update(
                query=name, rep=rep, tasks=int(st["tasks"]),
                missing_stages=st["missing"], run_s=r["sec"] - r["build_s"],
            )
            print(json.dumps({k: r[k] for k in ROW_KEYS}), flush=True)
            for k in TOTAL_KEYS:
                totals[k] += r[k]
    totals["build_s"] = round(totals["build_s"], 3)
    totals["run_s"] = round(totals["run_s"], 3)
    print(json.dumps({"total": totals}), flush=True)


if __name__ == "__main__":
    main()
