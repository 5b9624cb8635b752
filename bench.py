"""Benchmark harness: run the suite's queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line with total + per-query wall-clock seconds.

Each query runs through ``tools/harness.run_query``: execution is
forced with the ``noop`` sink — full computation, no driver-side
collect, so timings measure the engine, not result transfer — and
the query's caches are released before the next one.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [REPO_DIR, os.path.join(REPO_DIR, "tools")]

from harness import run_query, warm_up  # noqa: E402


def _this_round() -> int:
    """1 + the highest BENCH_r{K}.json present: round K's artifact is
    recorded at the END of round K, so during round N exactly rounds
    1..N-1 exist."""
    rounds = [
        int(m.group(1))
        for fn in os.listdir(REPO_DIR)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", fn))
    ]
    return max(rounds, default=0) + 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from nhl_data_warehouse_spark.session import get_spark
    from nhl_data_warehouse_spark.suite import REGISTRY

    spark = get_spark(app_name="bench")
    warm_up(spark, sf_dir)

    def run_suite() -> tuple[dict[str, float], dict[str, str], float]:
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        t_total = time.time()
        for name, spec in REGISTRY.items():
            r = run_query(spark, functools.partial(spec.fn, spark, sf_dir))
            if r["error"]:
                errors[name] = r["error"]
            else:
                timings[name] = r["sec"]
        return timings, errors, round(time.time() - t_total, 3)

    if "--record-floor" in sys.argv:
        # idle-box mode: two passes, keep the per-query MIN — the
        # uncontended floor normal runs attach as value_uncontended
        t1, e1, _ = run_suite()
        t2, e2, _ = run_suite()
        floor_q = {
            n: min(t1.get(n, float("inf")), t2.get(n, float("inf")))
            for n in {*t1, *t2}
        }
        floor = {
            "metric": "suite_wall_clock_floor",
            "value": round(sum(floor_q.values()), 3),
            "unit": "sec",
            "queries": {n: floor_q[n] for n in t1 if n in floor_q},
            "sf": sf,
        }
        if e1 or e2:
            floor["errors"] = {**e1, **e2}
        frozen = f"BENCH_FLOOR_r{_this_round():02d}.json"
        for fn in ("BENCH_FLOOR.json", frozen):
            with open(os.path.join(REPO_DIR, fn), "w") as f:
                json.dump(floor, f)
                f.write("\n")
        print(json.dumps({**floor, "queries": frozen}))
        return

    timings, errors, total = run_suite()

    payload = {
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        payload["errors"] = errors

    # Bench hygiene (VERDICT r5 item 8): rows on this box swing up to
    # 4x under ambient load, so the artifact carries the UNCONTENDED
    # floor alongside the measured total. The floor comes from
    # BENCH_FLOOR.json, written by an idle-box `python bench.py
    # --record-floor` run (two passes, per-query min); it is attached
    # only when it covers the exact same query set at the same sf, so
    # a stale floor can never masquerade as current.
    floor_path = os.path.join(REPO_DIR, "BENCH_FLOOR.json")
    try:
        with open(floor_path) as f:
            floor = json.load(f)
        if (
            floor.get("sf") == sf
            and set(floor.get("queries", {})) == set(timings)
        ):
            payload["value_uncontended"] = floor["value"]
            payload["uncontended_source"] = "BENCH_FLOOR.json"
    except (OSError, ValueError):
        pass

    # The consumer keeps only the last ~2 KB of stdout, and the full
    # per-query dict (~139 entries) is ~4 KB — so emit three forms,
    # most informative LAST so whatever survives a tail cut parses:
    # 1. the full payload, persisted to a file next to this script;
    # 2. the full payload on stdout (complete-capture consumers);
    # 3. a compact one-line summary (total + slowest-10 + error count)
    #    printed last, itself a valid single-JSON-line artifact.
    full_path = os.path.join(REPO_DIR, "BENCH_FULL.json")
    # Per-round FROZEN artifact (VERDICT r6 item 2): BENCH_r05's
    # queries_full pointed at mutable BENCH_FULL.json and round 6's
    # run destroyed round-5 per-query history. Each run now ALSO
    # writes BENCH_FULL_r{N}.json for the current round N. Re-runs
    # within a round overwrite that round's own file only; past
    # rounds' frozen files are never touched.
    frozen_name = f"BENCH_FULL_r{_this_round():02d}.json"
    for path in (full_path, os.path.join(REPO_DIR, frozen_name)):
        try:
            with open(path, "w") as f:
                json.dump(payload, f)
                f.write("\n")
        except OSError:
            pass  # read-only checkout: stdout forms still carry the data
    print(json.dumps(payload))
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = {
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries_full": frozen_name,
    }
    # carry the idle-box floor into the tail-capture-safe summary too
    if "value_uncontended" in payload:
        compact["value_uncontended"] = payload["value_uncontended"]
        compact["uncontended_source"] = payload["uncontended_source"]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
