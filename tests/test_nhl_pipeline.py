"""End-to-end tests for the NHL warehouse rebuild: ingest -> staging ->
mart, plus write-strategy idempotency and the quality gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nhl_data_warehouse_spark import schemas, write
from nhl_data_warehouse_spark.operators import mart, staging
from nhl_data_warehouse_spark.plans.quality import QualityCheckError, null_check
from nhl_data_warehouse_spark.sources import (
    IngestLedger,
    load_games_csv,
    load_json_raw,
    load_team_stats_csv,
)
from nhl_data_warehouse_spark.sources.json_source import guard_has_games


@pytest.fixture(scope="module")
def regular_season(spark, landing_dir):
    return load_games_csv(spark, f"{landing_dir}/csv/seasons/")


@pytest.fixture(scope="module")
def raw_team_stats(spark, landing_dir):
    return load_team_stats_csv(spark, f"{landing_dir}/csv/teams/")


class TestCsvIngest:
    def test_games_typed_and_cleaned(self, regular_season):
        rows = {r.game_date.isoformat(): r for r in regular_season.collect()}
        assert len(rows) == 4
        g = rows["2025-01-04"]
        # quoted "3" and "18532" cleaned + cast (P3-P5)
        assert g.visitor_goals == 3 and g.guests_in_attendance == 18532
        assert g.length_of_game == "2:32" and g.length_of_game_minutes == 152
        # whitespace-padded time trimmed
        assert rows["2025-01-05"].game_time == "19:30"
        # unplayed game: permissive cast -> NULLs, row retained
        assert rows["2025-01-07"].visitor_goals is None
        # lineage columns (S8/P7)
        assert g.source_file == "nhl_2025_output_seasons.csv"
        assert len(g.unique_key) == 32

    def test_ot_so_marker_skipped(self, regular_season):
        # P2: $7 never reaches the raw table
        assert "ot_so_marker" not in regular_season.columns

    def test_team_stats_untyped_with_lineage(self, raw_team_stats):
        assert raw_team_stats.count() == 5  # 3 teams + 2 division headers
        assert dict(raw_team_stats.dtypes)["gp"] == "string"
        jets = raw_team_stats.filter(F.col("team") == "Winnipeg Jets").first()
        assert len(jets.unique_key) == 32


class TestStaging:
    def test_team_statistics_drops_division_rows(self, raw_team_stats):
        stats = staging.team_statistics(raw_team_stats)
        teams = {r.team for r in stats.select("team").collect()}
        assert teams == {"Winnipeg Jets", "Dallas Stars", "Colorado Avalanche"}
        jets = stats.filter(F.col("team") == "Winnipeg Jets").first()
        # beyond-reference typed companions
        assert jets.gp_n == 82 and jets.points_percentage_n == pytest.approx(0.707)

    def test_teams_flatten(self, spark, landing_dir):
        raw = load_json_raw(
            spark, f"{landing_dir}/json/teams/", schemas.API_TEAMS_SCHEMA
        )
        flat = staging.teams(raw)
        rows = {r.team_state_code: r for r in flat.collect()}
        assert set(rows) == {"COL", "DAL", "WPG"}
        assert rows["COL"].team_name == "Colorado Avalanche"
        assert rows["COL"].league_name == "National Hockey League"
        # null-safe optional field: WPG has no sr_id in fixture; flatten
        # must still emit the row
        assert rows["WPG"].team_id == "t-wpg"

    def test_schedule_guard_drops_empty_payload(self, spark, landing_dir):
        raw = load_json_raw(
            spark, f"{landing_dir}/json/regular_season/", schemas.API_SCHEDULE_SCHEMA
        )
        assert raw.count() == 2  # one real doc + one empty payload
        guarded = guard_has_games(raw)
        assert guarded.count() == 1
        games = staging.games(guarded)
        assert games.select(F.explode("games")).count() == 2

    def test_seasons_load(self, spark, landing_dir):
        raw = load_json_raw(
            spark, f"{landing_dir}/json/seasons/", schemas.API_SEASONS_SCHEMA
        )
        doc = raw.first()
        assert doc.league.alias == "NHL"
        assert [s.type.code for s in doc.seasons] == ["REG", "PST"]
        assert doc.raw_json.startswith("{")  # reparse-parity column


class TestMart:
    def test_seasonal_metrics_agg(self, regular_season, raw_team_stats):
        stats = staging.team_statistics(raw_team_stats)
        out = mart.seasonal_metrics_agg(regular_season, stats)
        assert len(out.columns) == 21  # 8 game + 13 stat cols (SURVEY §1.5)
        # games 1-3 have both teams in stats -> 2 rows each (visitor+home
        # branch); game 4 (Chicago@Dallas) matches only the home branch
        assert out.count() == 7
        # visitor branch row for game 1 carries Avalanche stats
        r = out.filter(
            (F.col("game_date") == "2025-01-04") & (F.col("gp") == "82")
            & (F.col("total_points") == "102")
        ).collect()
        assert len(r) == 1 and r[0].visitor == "Colorado Avalanche"

    def test_mart_broadcasts_dim(self, regular_season, raw_team_stats):
        stats = staging.team_statistics(raw_team_stats)
        plan = mart.seasonal_metrics_agg(regular_season, stats)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_seasonal_team_rollup(self, regular_season):
        roll = mart.seasonal_team_rollup(regular_season.na.drop(subset=["visitor_goals"]))
        r = {x.team: x for x in roll.collect()}
        # game 4 (null goals) was dropped -> Dallas counts games 1 and 3
        assert r["Dallas Stars"].games_played == 2
        assert r["Winnipeg Jets"].wins == 2
        assert r["Dallas Stars"].goals_for == 4 + 1


class TestWriteStrategies:
    def test_incremental_insert_idempotent(self, spark, regular_season, tmp_path):
        spark.sql("CREATE DATABASE IF NOT EXISTS test_inc")
        spark.catalog.setCurrentDatabase("test_inc")
        try:
            n1 = write.incremental_insert(spark, regular_season, "reg_season")
            assert n1 == 4
            # rerun on identical input: zero new rows (M2 idempotency)
            n2 = write.incremental_insert(spark, regular_season, "reg_season")
            assert n2 == 0
            assert spark.table("reg_season").count() == 4
        finally:
            spark.sql("DROP TABLE IF EXISTS reg_season")
            spark.catalog.setCurrentDatabase("default")
            spark.sql("DROP DATABASE IF EXISTS test_inc")

    def test_incremental_null_key_kept(self, spark):
        # J3 semantics decision (SURVEY §7.4.2): NOT IN with a NULL key
        # in the target would drop everything; left_anti keeps rows.
        spark.sql("DROP TABLE IF EXISTS nullkey_t")
        first = spark.createDataFrame([(None, 1)], "unique_key string, v int")
        write.incremental_insert(spark, first, "nullkey_t")
        second = spark.createDataFrame([("k2", 2)], "unique_key string, v int")
        appended = write.incremental_insert(spark, second, "nullkey_t")
        assert appended == 1
        spark.sql("DROP TABLE IF EXISTS nullkey_t")

    def test_ingest_ledger_exactly_once(self, spark, landing_dir, tmp_path):
        ledger = IngestLedger(spark, str(tmp_path / "ledger"))
        df = load_games_csv(spark, f"{landing_dir}/csv/seasons/")
        fresh = ledger.filter_new(df)
        assert fresh.count() == 4
        ledger.record(fresh)
        assert ledger.filter_new(df).count() == 0  # M4 replay protection


class TestQuality:
    def test_null_check_passes_on_clean(self, raw_team_stats):
        stats = staging.team_statistics(raw_team_stats)
        counts = null_check(stats, ["team"])
        assert counts == {"team": 0}

    def test_null_check_fails_on_raw(self, raw_team_stats):
        dirty = raw_team_stats.withColumn(
            "team", F.when(F.col("team").like("%Division%"), None).otherwise(F.col("team"))
        )
        with pytest.raises(QualityCheckError):
            null_check(dirty, ["team"])


class TestRunner:
    def test_topological_pipeline(self, spark, landing_dir):
        from nhl_data_warehouse_spark.plans.runner import Model, PipelineRunner

        runner = PipelineRunner(spark)
        runner.register(
            Model(
                "raw_team_stats",
                lambda s: load_team_stats_csv(s, f"{landing_dir}/csv/teams/"),
            )
        )
        runner.register(
            Model(
                "regular_season",
                lambda s: load_games_csv(s, f"{landing_dir}/csv/seasons/"),
            )
        )
        runner.register(
            Model(
                "team_statistics",
                lambda s, raw_team_stats: staging.team_statistics(raw_team_stats),
                deps=["raw_team_stats"],
            )
        )
        runner.register(
            Model(
                "seasonal_metrics_agg",
                lambda s, regular_season, team_statistics: mart.seasonal_metrics_agg(
                    regular_season, team_statistics
                ),
                deps=["regular_season", "team_statistics"],
            )
        )
        results = runner.run()
        assert results["seasonal_metrics_agg"].count() == 7
        # view materialization queryable via SQL (M1)
        assert spark.sql("SELECT count(*) c FROM seasonal_metrics_agg").first().c == 7

    def test_runner_retries(self, spark):
        from nhl_data_warehouse_spark.plans.runner import Model, PipelineRunner

        attempts = []

        def flaky(s):
            attempts.append(1)
            if len(attempts) == 1:
                raise RuntimeError("transient")
            return s.range(3)

        runner = PipelineRunner(spark, retries=1)
        runner.register(Model("flaky", flaky))
        assert runner.run()["flaky"].count() == 3
        assert len(attempts) == 2

    @pytest.mark.parametrize(
        "plan_error, calls", [(True, 1), (False, 2)], ids=["analysis", "runtime"]
    )
    def test_runner_retries_only_transient_errors(self, spark, plan_error, calls):
        """An AnalysisException (bad column, missing table) fails the
        same way on every attempt, so it is raised at once; any other
        error gets the reference retry."""
        from pyspark.errors import AnalysisException

        from nhl_data_warehouse_spark.plans.runner import Model, PipelineRunner

        attempts = []

        def failing(s):
            attempts.append(1)
            if plan_error:
                return s.range(3).select("no_such_column")
            raise RuntimeError("transient")

        runner = PipelineRunner(spark, retries=1, retry_delay_s=0)
        runner.register(Model("failing", failing))
        with pytest.raises(AnalysisException if plan_error else RuntimeError):
            runner.run()
        assert len(attempts) == calls

    def test_table_gates_and_dependents_read_what_landed(self, spark, tmp_path):
        """A ``table`` model's gates and dependents read the landed
        table, not its lineage: once the first gate deletes the source
        files, the second gate and the dependent model still work."""
        import shutil

        from nhl_data_warehouse_spark.plans.quality import row_count_check
        from nhl_data_warehouse_spark.plans.runner import Model, PipelineRunner

        src = str(tmp_path / "src")
        spark.range(5).write.parquet(src)
        runner = PipelineRunner(spark, retries=0)
        runner.register(
            Model(
                "landed_src",
                lambda s: s.read.parquet(src),
                materialization="table",
                checks=[
                    lambda df: shutil.rmtree(src),
                    lambda df: row_count_check(df, at_least=5),
                ],
            )
        )
        runner.register(
            Model(
                "landed_dep",
                lambda s, landed_src: landed_src.filter("id >= 3"),
                deps=["landed_src"],
                materialization="table",
            )
        )
        # a database under tmp_path: no table location outlives the run
        spark.sql("DROP DATABASE IF EXISTS runner_landed CASCADE")
        spark.sql(f"CREATE DATABASE runner_landed LOCATION '{tmp_path / 'db'}'")
        spark.catalog.setCurrentDatabase("runner_landed")
        try:
            results = runner.run()
            assert sorted(r.id for r in results["landed_dep"].collect()) == [3, 4]
        finally:
            spark.catalog.setCurrentDatabase("default")
            spark.sql("DROP DATABASE runner_landed CASCADE")


class TestCatalogContext:
    def test_database_context_and_parameterized_read(self, spark, tmp_path):
        """S10/S11: namespace creation, USE, and qualified/current-db
        table resolution — the reference's session-context dance."""
        from nhl_data_warehouse_spark import catalog

        # warehouse dir is a static conf; rely on DROP for isolation
        spark.sql("DROP DATABASE IF EXISTS nhl_stats_raw CASCADE")
        catalog.ensure_database(spark, "nhl_stats_raw")
        spark.createDataFrame(
            [(1, "Boston Bruins")], "game_id long, team string"
        ).write.mode("overwrite").saveAsTable("nhl_stats_raw.team_sample")

        # qualified read from another current database
        catalog.ensure_database(spark, "default")
        qualified = catalog.read_table(spark, "team_sample", database="nhl_stats_raw")
        assert qualified.count() == 1

        # unqualified read resolves in the current namespace
        catalog.use_database(spark, "nhl_stats_raw")
        assert catalog.read_table(spark, "team_sample").first().team == "Boston Bruins"
        catalog.use_database(spark, "default")
        spark.sql("DROP DATABASE nhl_stats_raw CASCADE")


class TestMergeUpsert:
    def test_update_and_insert(self, spark):
        from nhl_data_warehouse_spark import write

        import shutil

        spark.sql("DROP TABLE IF EXISTS upsert_t")
        # a stale location survives DROP when a prior run crashed
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh}/upsert_t", ignore_errors=True)
        base = spark.createDataFrame(
            [("k1", "old1"), ("k2", "old2")], "unique_key string, payload string"
        )
        write.merge_upsert(spark, base, "upsert_t")
        incoming = spark.createDataFrame(
            [("k2", "NEW2"), ("k3", "new3")], "unique_key string, payload string"
        )
        write.merge_upsert(spark, incoming, "upsert_t")
        out = {r.unique_key: r.payload for r in spark.table("upsert_t").collect()}
        assert out == {"k1": "old1", "k2": "NEW2", "k3": "new3"}
        # idempotent: re-merging the same increment changes nothing
        write.merge_upsert(spark, incoming, "upsert_t")
        assert {r.unique_key: r.payload for r in spark.table("upsert_t").collect()} == out
        spark.sql("DROP TABLE upsert_t")

    def test_partitioned_merge_leaves_untouched_partitions_alone(self, spark, tmp_path):
        """A 1-partition update must not rewrite other partitions'
        files (the 100 TB contract of merge_upsert_partitioned)."""
        import glob

        from nhl_data_warehouse_spark import write

        path = str(tmp_path / "pmerge")
        base = spark.createDataFrame(
            [("k1", "old1", "d1"), ("k2", "old2", "d1"), ("k3", "old3", "d2")],
            "unique_key string, payload string, ds string",
        )
        write.merge_upsert_partitioned(spark, base, path, "unique_key", ["ds"])
        d2_before = sorted(glob.glob(f"{path}/ds=d2/*.parquet"))
        assert d2_before

        incoming = spark.createDataFrame(
            [("k2", "NEW2", "d1"), ("k9", "new9", "d1")],
            "unique_key string, payload string, ds string",
        )
        write.merge_upsert_partitioned(spark, incoming, path, "unique_key", ["ds"])

        out = {
            r.unique_key: (r.payload, r.ds)
            for r in spark.read.parquet(path).collect()
        }
        assert out == {
            "k1": ("old1", "d1"),
            "k2": ("NEW2", "d1"),
            "k3": ("old3", "d2"),
            "k9": ("new9", "d1"),
        }
        # the untouched partition's file set is byte-identical
        assert sorted(glob.glob(f"{path}/ds=d2/*.parquet")) == d2_before


class TestRunnerQualityGates:
    def test_gate_fails_model_after_materialization(self, spark):
        from nhl_data_warehouse_spark.plans import Model, PipelineRunner, null_check
        from nhl_data_warehouse_spark.plans.quality import QualityCheckError

        import pytest as pt

        dirty = spark.createDataFrame([(1, None), (2, "x")], "id long, team string")
        runner = PipelineRunner(spark)
        runner.register(
            Model(
                "gated",
                lambda spark: dirty,
                checks=[lambda df: null_check(df, ["team"])],
            )
        )
        with pt.raises(QualityCheckError, match="null_check"):
            runner.run()

        clean_runner = PipelineRunner(spark)
        clean_runner.register(
            Model(
                "gated_ok",
                lambda spark: dirty.filter("team IS NOT NULL"),
                checks=[lambda df: null_check(df, ["team"])],
            )
        )
        assert clean_runner.run()["gated_ok"].count() == 1


class TestObservedWrite:
    def test_metrics_ride_the_action(self, spark, tmp_path):
        from nhl_data_warehouse_spark.plans.quality import observed_write

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "k long, v string"
        )
        out = str(tmp_path / "observed_out")
        _, metrics = observed_write(
            df,
            action=lambda d: d.write.mode("overwrite").parquet(out),
            null_cols=["v"],
        )
        assert metrics["n_rows"] == 3 and metrics["n_null_v"] == 2
        # the action really ran: the write landed all rows
        assert spark.read.parquet(out).count() == 3
