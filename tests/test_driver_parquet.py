"""Queries against the REAL driver testdata parquet.

Round-1 lesson (VERDICT W2): pytest stayed green while two operators
hard-errored against the driver's parquet, because no test read the
actual files — the fixtures were all synthetic DataFrames. These tests
read ``/root/testdata/sf0.001`` through the same ``registry.load``
path the driver exercises, so encoding drift in the testdata (ns
longs vs TIMESTAMP_NTZ vs TIMESTAMP) breaks CI before it breaks the
driver.
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"driver testdata not present at {SF_DIR}"
)


def test_load_normalizes_timestamp_ntz(spark):
    from nhl_data_warehouse_spark.suite.registry import load

    events, orders, lineitem = load(spark, SF_DIR, "events", "orders", "lineitem")
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert dict(orders.dtypes)["o_orderdate"] == "timestamp"
    assert dict(lineitem.dtypes)["l_shipdate"] == "timestamp"


def test_range_join_pairs_runs_on_driver_parquet(spark):
    """W2 regression: unix_micros over the driver-shaped ts column."""
    from nhl_data_warehouse_spark.operators.rangejoin import range_join_pairs
    from nhl_data_warehouse_spark.suite.registry import load

    (events,) = load(spark, SF_DIR, "events")
    out = range_join_pairs(events)
    assert out.columns == ["user_id", "a_id", "b_id", "gap_seconds"]
    assert out.count() >= 0  # forces full execution


def test_sessionize_runs_on_driver_parquet(spark):
    from nhl_data_warehouse_spark.operators.sessions import sessionize_batch
    from nhl_data_warehouse_spark.suite.registry import load

    (events,) = load(spark, SF_DIR, "events")
    out = sessionize_batch(events, gap_minutes=30)
    rows = out.limit(5).collect()
    assert {"user_id", "session_id", "n_events"} <= set(out.columns)
    assert all(r.n_events >= 1 for r in rows)


def test_registry_size_pinned():
    """Exact registry count (VERDICT r12 item 2): a silent drop —
    e.g. a future register() bypass — must fail a test, not wait for
    the driver count to dip. Bump the constant when adding queries."""
    from nhl_data_warehouse_spark.suite import REGISTRY

    assert len(REGISTRY) == 337


def test_every_registered_query_builds_a_plan(spark):
    """Analysis-time smoke over the full registry at sf0.001: building
    the DataFrame catches schema/type errors (the class of failure the
    driver hit) without paying full execution for every query.

    The same pass pins the W1 regression: the driver floats oracle
    DECIMAL/HUGEINT cells, so any DecimalType column in a final query
    schema can never hash-match. Keep decimals internal, double/bigint
    at the edge."""
    from pyspark.sql.types import DecimalType

    from nhl_data_warehouse_spark.suite import REGISTRY

    failures = {}
    decimals = {}
    for name, spec in REGISTRY.items():
        try:
            schema = spec.fn(spark, SF_DIR).schema  # forces analysis
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"
            continue
        bad = [f.name for f in schema.fields if isinstance(f.dataType, DecimalType)]
        if bad:
            decimals[name] = bad
    assert not failures, failures
    assert not decimals, decimals


def test_driver_window_composition():
    """The external driver checks the first ~50 registered queries.
    Since round 12 (VERDICT r11 item 1) queries with NO driver verdict
    yet LEAD the window — under the old stalest-cohort-first order a
    new query could spill past the ~50-slot window round after round
    (`weekly_seasonal_decompose` did, three rounds running). After the
    first-checks come the stalest last-green cohort, then the
    second-stalest cohort. Derived from CORRECTNESS_r*.json at import
    time (`_derive_priority`), so this asserts the POLICY, not a
    pinned list."""
    import json
    import re
    from pathlib import Path

    from nhl_data_warehouse_spark.suite import _PRIORITY, REGISTRY

    repo = Path(__file__).resolve().parents[1]
    last_green: dict[str, int] = {}
    checked_ever: set[str] = set()
    for p in sorted(repo.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r0*(\d+)", p.name).group(1))
        for name, row in json.loads(p.read_text()).items():
            checked_ever.add(name)
            if (
                row.get("hash_match")
                and row.get("rows_match")
                and row.get("schema_match")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    assert last_green, "no driver CORRECTNESS artifacts found"
    checked = [n for n in REGISTRY if n in last_green]
    cohorts = sorted({last_green[n] for n in checked})[:2]
    stalest = sorted(n for n in checked if last_green[n] == cohorts[0])
    second = sorted(n for n in checked if last_green[n] == cohorts[1])
    never_checked = [n for n in REGISTRY if n not in checked_ever]
    expected = never_checked + stalest + second
    assert _PRIORITY == expected, (
        f"window policy violated; cohorts={cohorts}; "
        f"missing={sorted(set(expected) - set(_PRIORITY))} "
        f"extra={sorted(set(_PRIORITY) - set(expected))}"
    )
    # the registry is reordered so the driver's window IS the priority
    assert list(REGISTRY)[: len(_PRIORITY)] == _PRIORITY
    # every never-checked query leads the window: a first check can
    # never again be displaced past the ~50-slot reach by re-checks
    for n in never_checked:
        assert _PRIORITY.index(n) < len(never_checked)


def test_priority_rotates_when_next_driver_artifact_lands(tmp_path):
    """VERDICT r7 item 2: round 7's only pytest red was this module's
    tripwire going stale the moment the driver wrote its artifact
    AFTER the final commit. `_PRIORITY` is now derived at import time,
    so the invariant to pin is the derivation itself: given the real
    artifacts it reproduces the live window, and given a SIMULATED
    next-round artifact that re-greens the current window it rotates
    to the next stalest cohorts — no commit required in between."""
    import json
    import shutil
    from pathlib import Path

    from nhl_data_warehouse_spark.suite import _PRIORITY, _derive_priority
    from nhl_data_warehouse_spark.suite import REGISTRY

    repo = Path(__file__).resolve().parents[1]
    arts = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert arts, "no driver CORRECTNESS artifacts found"
    # (a) replaying the real artifacts reproduces the live window
    assert _derive_priority(repo, list(REGISTRY)) == _PRIORITY

    # (b) simulate the NEXT driver round: copy the artifacts, then
    # write r{max+1} re-greening the first 50 of the current window
    for p in arts:
        shutil.copy(p, tmp_path / p.name)
    last = max(int(p.name.split("_r")[1].split(".")[0]) for p in arts)
    regreened = {
        n: {"hash_match": True, "rows_match": True, "schema_match": True}
        for n in _PRIORITY[:50]
    }
    (tmp_path / f"CORRECTNESS_r{last + 1:02d}.json").write_text(
        json.dumps(regreened)
    )
    rotated = _derive_priority(tmp_path, list(REGISTRY))
    # re-greened queries left the window; un-reached stale ones remain
    assert not (set(_PRIORITY[:50]) & set(rotated))
    assert set(_PRIORITY[50:]) <= set(rotated)
    # a torn/corrupt artifact is skipped, not fatal
    (tmp_path / f"CORRECTNESS_r{last + 2:02d}.json").write_text("{not json")
    assert _derive_priority(tmp_path, list(REGISTRY)) == rotated
    # (c) DOUBLE-DIGIT rounds must be read too (ADVICE r8: the old
    # r0* glob silently dropped CORRECTNESS_r10.json and later, which
    # would freeze the rotation from round 10 on). Write a valid r11
    # re-greening the head of the rotated window and assert it rotates
    # again — proving r1x artifacts are globbed AND parsed.
    regreened11 = {
        n: {"hash_match": True, "rows_match": True, "schema_match": True}
        for n in rotated[:50]
    }
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps(regreened11))
    rotated11 = _derive_priority(tmp_path, list(REGISTRY))
    assert not (set(rotated[:50]) & set(rotated11))


def test_load_normalizes_round1_nanos_long_format(spark, tmp_path):
    """Round 1 shipped events.ts as TIMESTAMP(NANOS), which Spark reads
    as a ns long under nanosAsLong; the loader must keep handling that
    shape if the driver reverts its generator."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nhl_data_warehouse_spark.suite.registry import load

    d = tmp_path / "sfns"
    d.mkdir()
    ts_ns = [1_700_000_000_000_000_000 + i * 61_000_000_000 for i in range(6)]
    table = pa.table(
        {
            "event_id": pa.array(range(6), pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 1, 2, 2, 2], pa.int64()),
            "event_type": pa.array(["click"] * 6),
            "value": pa.array([float(i) for i in range(6)]),
            "props": pa.array(['{"k": 1}'] * 6),
        }
    )
    pq.write_table(table, d / "events.parquet", use_deprecated_int96_timestamps=False)

    (events,) = load(spark, str(d), "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # ns truncates to µs exactly; gap between consecutive events is 61s
    from nhl_data_warehouse_spark.operators.rangejoin import range_join_pairs

    pairs = range_join_pairs(events).collect()
    # within each user: 3 events 61s apart -> pairs (0,1),(1,2),(0,2)
    assert len(pairs) == 6
    assert all(abs(r.gap_seconds) <= 300 for r in pairs)
