"""Operator exercise suite — the driver-facing correctness surface.

Every operator from SURVEY.md §2 (and each beyond-reference operator)
is registered here as a named query over the driver's testdata tables,
paired with an ANSI-SQL oracle that DuckDB executes on the same
parquet. ``__spark_entry__.py`` re-exports this registry.

Cross-engine determinism rules used throughout (so Spark's unordered
distributed aggregation and DuckDB's sequential one agree bit-for-bit):

- Reductions over DOUBLE columns cast per-row to DECIMAL first
  (exact arithmetic in both engines); averages divide the exact sum
  once, as DOUBLE, after aggregation.
- Per-row double arithmetic is fine (IEEE ops are deterministic);
  so are min/max.
- Every computed column is aliased identically in Spark and SQL.
- Order-dependent ops (windows, as-of, top-k) always carry a unique
  tie-break column.
- An oracle fragment used by two or more queries is defined once, as
  a ``_*_CTE`` constant or an ``_*_sql()`` helper (a non-CTE piece,
  such as an expression or a select tail, as a ``_*_SQL`` constant)
  in the suite module of its query family.
- A Spark-side DataFrame fragment used by two or more queries or
  operators is likewise defined once, as a private helper in the
  suite or operator module of its family (``training._hlq_eval``,
  ``stats._threshold_sweep``); the value that differs between callers
  is an argument, and the helper never branches on its caller.
  ``tests/test_oracle_fragments.py`` fails on a copied fragment of
  either kind.
- An operator parameter exists only when two non-test callers pass
  different values; a value every caller shares is a constant (a
  literal at its use, or a private module constant when several
  functions share it). ``tests/test_options.py`` fails on a parameter
  with one value in use.
"""

from nhl_data_warehouse_spark.suite.registry import REGISTRY, QuerySpec, register

# importing the modules populates the registry. ORDER MATTERS to the
# external driver: it checks the first ~50 registered queries per
# round, so the families with no round-1 driver verdict (TPC-H, the
# training-data suite) register first this round; the r1-checked
# core/relational/analytics families re-verify in later rounds.
from nhl_data_warehouse_spark.suite import tpch  # noqa: E402,F401
from nhl_data_warehouse_spark.suite import training  # noqa: E402,F401
from nhl_data_warehouse_spark.suite import ingest  # noqa: E402,F401
from nhl_data_warehouse_spark.suite import analytics  # noqa: E402,F401
from nhl_data_warehouse_spark.suite import core  # noqa: E402,F401
from nhl_data_warehouse_spark.suite import relational  # noqa: E402,F401
from nhl_data_warehouse_spark.suite import surface  # noqa: E402,F401

# Stalest-first rotation (VERDICT r6 item 1, r7 items 1-2): every
# query has been driver-green at least once, so the ~50-query window
# the driver checks per round re-verifies the STALEST verdicts. The
# priority list is DERIVED from the on-disk CORRECTNESS_r0*.json
# artifacts at import time — the two oldest last-green cohorts,
# ordered stalest round first, alphabetical within a cohort — so a
# driver artifact landing after the round's final commit rotates the
# window automatically instead of tripping a hand-pinned list
# (round-7's only pytest red). Queries with no driver verdict yet
# (added since the last artifact) lead the window since round 12
# (VERDICT r11 item 1): first checks outrank re-verification, so a
# new query can no longer spill past the window round after round.


def _derive_priority(artifact_dir, registry_names) -> list[str]:
    """Window order from CORRECTNESS_r*.json: queries with NO driver
    verdict yet lead (VERDICT r11 item 1 — `weekly_seasonal_decompose`
    spilled past the ~50-slot window three rounds running under the
    old stalest-cohort-first order, so first checks now outrank
    re-verification), then the stalest last-green cohort, then the
    second-stalest cohort.

    Pure function of (artifact directory, registered names) so tests
    can replay it against a tmpdir with a simulated next-round
    artifact (VERDICT r7 item 2).
    """
    import json
    import re
    from pathlib import Path

    last_green: dict[str, int] = {}
    checked_ever: set[str] = set()
    # glob must match r10+ too (r0* would drop CORRECTNESS_r10.json)
    for p in sorted(Path(artifact_dir).glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r0*(\d+)", p.name).group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):  # torn mid-write by the driver
            continue
        for name, row in rows.items():
            checked_ever.add(name)
            if (
                row.get("hash_match")
                and row.get("rows_match")
                and row.get("schema_match")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    if not checked_ever:
        return []
    checked = [n for n in registry_names if n in last_green]
    cohorts = sorted({last_green[n] for n in checked})[:2]
    stalest = sorted(
        (n for n in checked if last_green[n] == cohorts[0]),
        key=lambda n: (last_green[n], n),
    )
    second = (
        sorted(n for n in checked if last_green[n] == cohorts[1])
        if len(cohorts) > 1
        else []
    )
    never_checked = [n for n in registry_names if n not in checked_ever]
    # checked but never green (no such query today): most urgent of all
    failed_only = [
        n for n in registry_names if n in checked_ever and n not in last_green
    ]
    return failed_only + never_checked + stalest + second


_REPO_ROOT = __import__("pathlib").Path(__file__).resolve().parents[2]
_PRIORITY = _derive_priority(_REPO_ROOT, list(REGISTRY))
_ordered = {
    n: REGISTRY[n]
    for n in (*_PRIORITY, *[q for q in REGISTRY if q not in _PRIORITY])
}
REGISTRY.clear()
REGISTRY.update(_ordered)

__all__ = ["REGISTRY", "QuerySpec", "register"]
