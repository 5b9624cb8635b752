"""Two-set steadiness check for the benchmark.

Runs every workload of ``BENCHMARK.json`` once per seed, for one or
more sets of seeds, with tracing off. For each end-to-end metric it
reports the median and the quartile spread, (Q3 - Q1) / median with
``statistics.quantiles(values, n=4)``, and checks:

- each spread, except that of ``setup_s``, is within the metric's bound
  (the target is a third of the bound);
- for every metric, the median of each later set is not worse than the
  first set's median by more than the bound.

Usage, from the root of a checkout:

    python3 perfbench/steadiness.py --sets 2 --seeds 10
    python3 perfbench/steadiness.py --sets 1 --seeds 5 --workloads nhl_elt

Exits non-zero if a check fails or a run reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(command: list[str], workload: str, seed: int, seconds: int) -> dict:
    argv = [*command, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["info"] = json.loads(lines[-2])["info"]
    result["elapsed_s"] = elapsed
    return result


def summarise(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description="Two-set steadiness check.")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench-run", "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    ok = True
    for s in range(args.sets):
        for w in workloads:
            results = []
            for i in range(args.seeds):
                seed = args.first_seed + 100 * s + i
                r = run_once(bench["command"], w, seed, bench["run_seconds"])
                ok &= r["correct"]
                print(f"set {s} {w} seed {seed}: correct={r['correct']} "
                      f"{r['elapsed_s']:.0f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
                results.append(r)
            runs[w].append(results)
    report: dict[str, dict] = {}
    for w, sets in runs.items():
        report[w] = {}
        for name, m in metrics.items():
            stats = [summarise([r["metrics"][name]["value"] for r in rs]) for rs in sets]
            checks = []
            for i, st in enumerate(stats):
                if name != "setup_s" and st["spread"] > m["bound"]:
                    checks.append(f"set {i} spread {st['spread']:.3f} > bound {m['bound']}")
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (st["median"] - stats[0]["median"]) / stats[0]["median"]
                if worse > m["bound"]:
                    checks.append(f"set {i} median worse by {worse:.3f} > bound {m['bound']}")
            ok &= not checks
            report[w][name] = {"sets": stats, "bound": m["bound"], "failures": checks}
            spreads = " ".join(f"{st['spread']:.3f}" for st in stats)
            medians = " ".join(f"{st['median']:.4g}" for st in stats)
            flag = "FAIL " + "; ".join(checks) if checks else "ok"
            print(f"{w:16s} {name:10s} bound {m['bound']:<5} spread {spreads}  "
                  f"median {medians}  {flag}")
        worst = max(r["elapsed_s"] for rs in sets for r in rs)
        print(f"{w:16s} slowest run {worst:.0f}s")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"report": report, "runs": runs}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
