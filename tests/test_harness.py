"""``tools/harness.run_query``: the one query loop under bench.py and the
tools. A failed query reports its error and leaves the session usable,
every query's cached blocks are released (localCheckpoint ones too),
and jobs started while building are counted apart from the total.
"""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF = str(ROOT / "perfbench" / "data" / "sf0.001")
sys.path.insert(0, str(ROOT / "tools"))

import harness  # noqa: E402
import job_profile  # noqa: E402


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_failed_build_reports_error_and_session_stays_usable(spark):
    def broken():
        raise ValueError("no such table")

    r = harness.run_query(spark, broken)
    assert r["error"] == "ValueError: no such table"
    assert r["result"] is None

    r = harness.run_query(spark, lambda: spark.range(10), sink=lambda df: df.count())
    assert r["error"] is None
    assert r["result"] == 10


def test_checkpoint_blocks_released_where_clear_cache_misses_them(spark):
    from nhl_data_warehouse_spark.session import release_cached
    from nhl_data_warehouse_spark.suite import REGISTRY

    spec = REGISTRY["recursive_cte_reachability"]
    release_cached(spark)
    entry = _persistent_ids(spark)

    r = harness.run_query(spark, lambda: spec.fn(spark, SF))
    assert r["error"] is None
    assert _persistent_ids(spark) == entry

    # the catalog sweep alone strands the query's localCheckpoint
    harness.noop(spec.fn(spark, SF))
    spark.catalog.clearCache()
    try:
        assert _persistent_ids(spark) > entry
    finally:
        release_cached(spark)
    assert _persistent_ids(spark) == entry


def test_jobs_started_by_the_build_are_counted_apart(spark):
    def eager():
        df = spark.range(100)
        df.count()
        return df

    r = harness.run_query(spark, eager)
    assert r["error"] is None
    assert r["build_jobs"] >= 1
    assert r["jobs"] > r["build_jobs"]  # the noop sink runs one more
    assert r["stage_ids"][1] - r["stage_ids"][0] == r["stages"]


def test_job_profile_repeats(spark, monkeypatch, capsys):
    """``-r 2`` on one benchmark-sample query prints two rows with the
    documented keys, then the totals line."""
    from nhl_data_warehouse_spark import session

    # reuse the fixture session as is: get_spark's builder would reset
    # its shuffle partitions for every later test
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    job_profile.main(["--sf", SF, "-r", "2", "except_custkeys"])
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    rows, total = lines[:-1], lines[-1]
    assert len(rows) == 2
    for rep, row in enumerate(rows):
        assert tuple(row) == job_profile.ROW_KEYS
        assert (row["query"], row["rep"], row["error"]) == ("except_custkeys", rep, None)
        assert row["jobs"] >= 1
    assert tuple(total["total"]) == job_profile.TOTAL_KEYS
    assert total["total"]["jobs"] == sum(row["jobs"] for row in rows)


@pytest.mark.parametrize("name", ["bench.py", "tools/job_profile.py", "tools/plan_audit.py", "tools/scale_probe.py"])
def test_harness_loops_go_through_run_query(name):
    """Only the harness core runs queries to the noop sink and releases
    their caches."""
    src = (ROOT / name).read_text()
    assert "run_query(" in src
    for call in ('format("noop")', "clearCache()", "release_cached("):
        assert call not in src, call
