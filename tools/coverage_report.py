"""Generate COVERAGE.md: SURVEY.md §2 operator inventory -> where each
operator lives in this engine (module, driver query, oracle, tests).

Usage: python tools/coverage_report.py   (rewrites COVERAGE.md)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# §2 operator id -> (implementation, tests / driver queries). Driver
# queries are named as registered in the suite; every query has a
# DuckDB oracle.
SECTION2 = {
    "S1 HTML table scrape": (
        "sources/extract.py:scrape_season_tables (+stdlib first-table parser)",
        "tests/test_extract.py; query scrape_ingest_roundtrip",
    ),
    "S2 REST JSON extract": (
        "sources/extract.py:extract_api_endpoint ('games' guard); "
        "sources/restjson_source.py (Spark 4 Python DataSource: executor-side parallel fetch)",
        "tests/test_extract.py; query rest_json_ingest_roundtrip",
    ),
    "S3 CSV file sink": ("sources/extract.py (landing write); write.py", "tests/test_extract.py"),
    "S4 local->S3 transfer": (
        "path-config: landing root is any Hadoop-FS URI (s3a://...)",
        "design note — no separate op needed",
    ),
    "S5 file-arrival sensor": (
        "streaming/file_ingest.py (file source + availableNow); "
        "sources/jsonlog_stream.py (custom Python streaming DataSource: "
        "chunk offsets, parallel partitions, exactly-once)",
        "tests/test_streaming.py::TestStreamFileIngest/TestJsonlogStreamSource",
    ),
    "S6 COPY INTO (CSV)": (
        "sources/csv_source.py:load_games_csv/load_team_stats_csv",
        "tests/test_nhl_pipeline.py; queries clean_cast_project, case_nullout_filter",
    ),
    "S7 COPY INTO (JSON)": (
        "sources/json_source.py:load_json_raw (raw_json retained)",
        "tests/test_nhl_pipeline.py; query json_extract",
    ),
    "S8 file metadata columns": (
        "csv/json sources: _metadata.file_name + current_timestamp",
        "query md5_lineage_key",
    ),
    "S9 file-pattern pruning": (
        "pathGlobFilter('*.csv'/'*.json') in both sources",
        "tests/test_nhl_pipeline.py; query glob_pruned_csv_load (decoy files)",
    ),
    "S10 parameterized table read": ("catalog.py:read_table", "tests/test_nhl_pipeline.py::TestCatalogContext; query catalog_context_read"),
    "S11 session context (USE db)": ("catalog.py:ensure_database/use_database", "tests/test_nhl_pipeline.py::TestCatalogContext; query catalog_context_read"),
    "P1 positional projection": ("schemas.py explicit StructTypes", "query clean_cast_project"),
    "P2 column skip ($7)": ("csv_source.py (ot_so_marker never selected)", "tests/test_nhl_pipeline.py; query glob_pruned_csv_load"),
    "P3 permissive casts": ("functions/cleaning.py + try_cast", "queries clean_cast_project; tests (malformed rows)"),
    "P4 trim": ("functions/cleaning.py:clean_scraped", "query clean_cast_project"),
    "P5 strip quotes (replace)": ("functions/cleaning.py:clean_scraped", "query clean_cast_project"),
    "P6 string concat": ("staging.py:teams (market||' '||name)", "query md5_lineage_key"),
    "P7 MD5 lineage key": ("functions/cleaning.py:md5_key", "query md5_lineage_key"),
    "P8 UPPER": ("functions/cleaning.py:null_out_like", "query case_nullout_filter"),
    "P9 LIKE predicate": ("functions/cleaning.py:null_out_like", "query case_nullout_filter"),
    "P10 CASE WHEN null-out": ("functions/cleaning.py:null_out_like", "query case_nullout_filter"),
    "P11 JSON field extraction": ("struct access in staging.py:teams", "query json_extract"),
    "P12 JSON parse": ("json_source.py:from_json with schema", "query json_extract"),
    "P13 NOT NULL conjunctive filter": ("staging.py:team_statistics (na.drop)", "query case_nullout_filter"),
    "P14 payload guard": ("json_source.py:guard_has_games; extract.py", "tests/test_extract.py; query rest_json_ingest_roundtrip"),
    "J1 inner equi-join (visitor)": ("operators/mart.py:seasonal_metrics_agg", "queries join_broadcast_dim, regional_revenue"),
    "J2 inner equi-join (home)": ("operators/mart.py:seasonal_metrics_agg", "same"),
    "J3 anti-join incremental dedup": ("write.py:incremental_insert (left_anti)", "query anti_join_incremental; idempotency tests"),
    "J4 lateral flatten -> explode": ("staging.py:teams", "query explode_tokens"),
    "J5 implicit lateral comma-join": ("subsumed by explode (per-row lateral)", "—"),
    "U1 UNION distinct": ("mart.py:seasonal_metrics_agg (unionByName + distinct)", "query union_distinct_branches"),
    "A1 null-count quality gate": ("plans/quality.py:null_check", "query null_count_quality; drive tests"),
    "A2 seasonal aggregate (implied)": ("mart.py:seasonal_team_rollup", "queries pricing_summary, monthly_order_stats"),
    "M1 view materialization": ("write.py:as_view; runner materializations", "tests/test_nhl_pipeline.py; query view_materialization_sql"),
    "M2 incremental delete+insert": ("write.py:incremental_insert", "rerun-appends-0 tests"),
    "M3 table alias": ("write.py:saveAsTable names", "tests; queries catalog_context_read, view_materialization_sql"),
    "M4 append-only + load-once": ("sources/ledger.py + streaming checkpoint", "ledger replay + streaming restart tests"),
    "M5 retry/orchestration": ("plans/runner.py (topo order, retries)", "tests/test_nhl_pipeline.py; query runner_retry_pipeline (transient failure + retry)"),
    "§2.6 windows/sort/limit": ("native (beyond-reference)", "queries window_rank_topn, window_running_sum, window_lag_gap"),
    "§2.7 streaming": ("streaming/ (windows, sessions, stateful)", "tests/test_streaming.py; query event_hourly_stats"),
}


def _driver_history() -> tuple[dict[str, dict[int, str]], list[int]]:
    """Per-query driver verdict per round, read from the
    CORRECTNESS_r{N}.json artifacts the external driver records.
    'pass' = rows+schema+hash all matched; 'FAIL' = checked but some
    comparison failed; absent = outside that round's ~50-query window."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    history: dict[str, dict[int, str]] = {}
    rounds: list[int] = []
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        with open(path) as f:
            data = json.load(f)
        for name, v in data.items():
            ok = (
                v.get("rows_match")
                and v.get("schema_match", True)
                and v.get("hash_match", True)
                and not v.get("err")
            )
            history.setdefault(name, {})[rnd] = "pass" if ok else "FAIL"
    return history, rounds


def _reverification_plan(history, names, window, next_round) -> list:
    """Derived statement of the stale-verdict drain schedule (VERDICT
    r8 item 1): which cohorts the coming window takes and when every
    currently-stale cohort empties. Pure function of the artifacts so
    it stays true as rounds land."""
    lg = {
        n: max(r for r, v in h.items() if v == "pass")
        for n, h in history.items()
        if any(v == "pass" for v in h.values())
    }
    cohort_rounds = sorted({lg[n] for n in names if n in lg})[:2]
    if not cohort_rounds:
        return [""]
    c0 = [n for n in names if lg.get(n) == cohort_rounds[0]]
    c1 = (
        [n for n in names if lg.get(n) == cohort_rounds[1]]
        if len(cohort_rounds) > 1
        else []
    )
    in_w0 = sum(1 for n in c0 if n in window)
    in_w1 = sum(1 for n in c1 if n in window)
    firsts = sum(1 for n in names if n not in history and n in window)
    spill = len(c1) - in_w1
    return [
        "",
        f"Re-verification plan (VERDICT r8 item 1): the r{next_round} "
        f"window takes {in_w0}/{len(c0)} of the r{cohort_rounds[0]} "
        f"cohort, {firsts} first-check additions, and "
        + (
            f"{in_w1}/{len(c1)} of the r{cohort_rounds[1]} cohort; "
            f"the remaining {spill} r{cohort_rounds[1]} verdicts rotate "
            f"into round {next_round + 1}'s window, emptying every "
            f"pre-r{cohort_rounds[1] + 1} cohort by round "
            f"{next_round + 1 + max(0, (spill - 1)) // 50}."
            if c1
            else "no second cohort remains."
        ),
        "",
    ]


def main() -> None:
    from nhl_data_warehouse_spark.suite import REGISTRY

    lines = [
        "# COVERAGE — SURVEY.md §2 inventory -> engine (generated by tools/coverage_report.py)",
        "",
        "## Reference operators (§2.1-§2.9)",
        "",
        "| Reference op | Implementation | Exercised by |",
        "|---|---|---|",
    ]
    for op, (impl, tests) in SECTION2.items():
        lines.append(f"| {op} | `{impl}` | {tests} |")

    history, rounds = _driver_history()
    names = list(REGISTRY)
    window = set(names[:50])
    next_round = (max(rounds) + 1) if rounds else 1
    ever_green = {n for n, h in history.items() if "pass" in h.values()}
    never_checked = [n for n in names if n not in history]
    backlog = [n for n in names if n not in ever_green and n not in window]

    lines += [
        "",
        f"## Driver query registry ({len(REGISTRY)} queries)",
        "",
        "Every query is a `(spark, sf_dir) -> DataFrame` over the driver's",
        "parquet tables, checked by an exact DuckDB hash-match at sf0.01",
        "(`tools/check_oracle.py`).",
        "",
        "Driver-verdict history: the external driver checks the first ~50",
        "registered queries per round (`suite/__init__.py` `_PRIORITY`",
        "controls the order), so verdicts accumulate across rounds. 'pass'",
        "= rows+schema+hash green in that round's CORRECTNESS artifact;",
        "'FAIL' = checked, some comparison failed (all such failures were",
        "the round-1 decimal/HUGEINT hashing class, fixed suite-wide in",
        f"round 2); blank = outside that round's window. 'r{next_round} window'",
        f"marks the 50 queries rotated in for round {next_round}.",
        "",
        f"Rotation state: {len(ever_green)}/{len(names)} ever driver-green,",
        f"{len(never_checked)} never driver-checked"
        + (
            f" (of which {sum(1 for n in never_checked if n in window)} are in "
            f"the r{next_round} window)"
            if never_checked
            else ""
        )
        + f"; {len(backlog)} not-yet-green queries remain outside the"
        f" r{next_round} window and rotate in next.",
        "",
        "Window policy (`suite/__init__.py:_derive_priority`, derived at",
        "import time from these same artifacts): stalest last-green cohort",
        "first, then queries with no driver verdict yet (their FIRST check),",
        "then the second-stalest cohort; the driver takes the first ~50.",
    ] + _reverification_plan(history, names, window, next_round) + [
        "Explicit queue positions for every never-driver-checked query:",
        "",
    ] + [
        f"- `{n}` — window slot {names.index(n) + 1} -> "
        + (
            f"first driver check expected in CORRECTNESS_r{next_round:02d}"
            if names.index(n) < 50
            else f"spills to round {next_round + 1}"
        )
        for n in never_checked
    ] + [
        "",
        "| Query | §2 / capability | "
        + " | ".join(f"r{r}" for r in rounds)
        + f" | r{next_round} window |",
        "|---|---|" + "---|" * (len(rounds) + 1),
    ]
    for name, spec in REGISTRY.items():
        verdicts = " | ".join(
            history.get(name, {}).get(r, "") for r in rounds
        )
        in_window = "yes" if name in window else ""
        lines.append(f"| `{name}` | {spec.op_ids} | {verdicts} | {in_window} |")
    lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(SECTION2)} reference ops, {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
