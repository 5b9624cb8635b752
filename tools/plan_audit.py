"""Physical-plan audit across the whole registry.

Usage: python tools/plan_audit.py   (rewrites PLANS.md)

For every registry query, builds the DataFrame at sf0.001 and
inspects the *executed* plan skeleton: how many exchanges (shuffles),
which join strategies, whether parquet scans carry pushed filters and
pruned schemas, and whether whole-stage codegen covers the plan.
``tests/test_plan_shapes.py`` pins the invariants that must never
regress; this report is the wide-angle view the next optimization
pass starts from — a query whose shuffle count or join strategy looks
wrong here is the one to `.explain("formatted")` first.
"""

from __future__ import annotations

import functools
import os
import re

from harness import ROOT, run_query, warm_up

SF_DIR = os.environ.get("PLAN_AUDIT_SF", "/root/testdata/sf0.001")
OUT = os.path.join(ROOT, "PLANS.md")


def executed_plan(df) -> str:
    """Sink: run the query and return its executed plan. collect()
    finalizes THIS df's QueryExecution (count() would plan a different
    query and leave this one un-finalized)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    from nhl_data_warehouse_spark.session import get_spark
    from nhl_data_warehouse_spark.suite import REGISTRY

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    warm_up(spark, SF_DIR)
    rows = []
    for name, spec in REGISTRY.items():
        r = run_query(spark, functools.partial(spec.fn, spark, SF_DIR), executed_plan)
        if r["error"]:
            rows.append((name, "-", "-", "-", "-", f"ERROR {r['error'].split(':')[0]}"))
            continue
        plan = r["result"]
        # count UNIQUE Exchange nodes: a persisted subtree's plan text
        # is reprinted verbatim at every InMemoryTableScan site, so a
        # raw substring count multiplies cached-branch exchanges by
        # their read fan-out (triangle_cosupply read its oriented edge
        # relation 3x and showed 182). Normalize each line to the node
        # text from "Exchange" onward — tree glyphs (':  +-') differ
        # per reprint depth and would defeat the dedupe — and skip
        # ReusedExchange (an exchange REUSE marker, not a new shuffle).
        # Distinct exchanges stay distinct via their expr ids; two
        # truly identical-text global exchanges would collapse to one,
        # an accepted undercount noted here.
        ex_nodes = set()
        for ln in plan.splitlines():
            i = ln.find("Exchange")
            if i >= 0 and "ReusedExchange" not in ln:
                ex_nodes.add(ln[i:])
        n_ex = len(ex_nodes)
        joins = "+".join(
            sorted(
                {
                    m
                    for m in re.findall(
                        r"(BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoop"
                        r"Join|ShuffledHashJoin|CartesianProduct)",
                        plan,
                    )
                }
            )
        ) or "none"
        joins = joins.replace("BroadcastHashJoin", "BHJ").replace(
            "SortMergeJoin", "SMJ"
        ).replace("BroadcastNestedLoopJoin", "BNLJ").replace(
            "ShuffledHashJoin", "SHJ"
        ).replace("CartesianProduct", "CART")
        pushed = "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        codegen = "y" if ("WholeStageCodegen" in plan or "*(" in plan) else "-"
        python_side = (
            "arrow"
            if re.search(
                r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython"
                r"|MapInArrow|AggregateInPandas|FlatMapGroupsInArrow"
                r"|InArrowExec",
                plan,
            )
            else ("py" if "BatchEvalPython" in plan else "-")
        )
        rows.append((name, str(n_ex), joins, pushed, codegen, python_side))

    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Executed-plan skeletons at `{SF_DIR}` on `local[4]`. Columns:",
        "shuffles = `Exchange` count; joins = strategies present"
        " (BHJ broadcast-hash, SMJ sort-merge, BNLJ broadcast-nested-loop,"
        " SHJ shuffled-hash, CART cartesian); pushed = parquet scan carries"
        " pushed filters; codegen = whole-stage codegen present; python ="
        " Python execution nodes (arrow = vectorized pandas/Arrow, py ="
        " row-at-a-time — row-at-a-time in a hot path is a bug).",
        "",
        "A high shuffle count is not automatically wrong (multi-stage",
        "pipelines legitimately shuffle per keyed aggregate); the audit is",
        "for *diffs* — a query whose count jumps between rounds regressed.",
        "",
        "| query | shuffles | joins | pushed | codegen | python |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(r) + " |")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    n_bad = sum(1 for r in rows if r[5].startswith("ERROR"))
    print(f"wrote {OUT}: {len(rows)} queries audited, {n_bad} errors")


if __name__ == "__main__":
    main()
