"""CDC compaction/apply (operators/cdc.py) and SCD2 versioned
dimensions (write.scd2_apply)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nhl_data_warehouse_spark import write
from nhl_data_warehouse_spark.operators import cdc

CHANGE_SCHEMA = "user_id long, seq long, op string, plan string"


class TestCompactChanges:
    def test_latest_wins_and_tombstone_suppresses(self, spark):
        changes = spark.createDataFrame(
            [
                (1, 1, "I", "free"),
                (1, 2, "U", "pro"),     # latest for key 1
                (2, 1, "I", "free"),
                (2, 2, "D", None),      # delete AFTER insert in same batch
                (3, 2, "I", "team"),
                (3, 1, "D", None),      # stale delete BEFORE the insert
            ],
            CHANGE_SCHEMA,
        )
        out = {
            r.user_id: (r.op, r.plan)
            for r in cdc.compact_changes(
                changes, ["user_id"], ["seq"], op_col="op", delete_values=("D",)
            ).collect()
        }
        assert out == {1: ("U", "pro"), 3: ("I", "team")}  # key 2 suppressed


class TestApplyChanges:
    def test_converges_and_is_idempotent(self, spark):
        t = "cdc_apply_target"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        batch1 = spark.createDataFrame(
            [(1, 1, "I", "free"), (2, 1, "I", "free"), (3, 1, "I", "pro")],
            CHANGE_SCHEMA,
        )
        cdc.apply_changes(spark, t, batch1, ["user_id"])
        assert spark.table(t).count() == 3

        batch2 = spark.createDataFrame(
            [
                (2, 2, "U", "team"),
                (2, 3, "U", "enterprise"),  # later version in same batch wins
                (3, 2, "D", None),
                (4, 2, "I", "free"),
            ],
            CHANGE_SCHEMA,
        )
        cdc.apply_changes(spark, t, batch2, ["user_id"])
        state = {r.user_id: r.plan for r in spark.table(t).collect()}
        assert state == {1: "free", 2: "enterprise", 4: "free"}

        cdc.apply_changes(spark, t, batch2, ["user_id"])
        assert {r.user_id: r.plan for r in spark.table(t).collect()} == state
        spark.sql(f"DROP TABLE {t}")


class TestScd2:
    def _dim(self, spark, rows):
        return spark.createDataFrame(
            rows, "team string, city string, valid_from string, valid_to string"
        ).select(
            "team", "city",
            F.to_timestamp("valid_from").alias("valid_from"),
            F.to_timestamp("valid_to").alias("valid_to"),
        )

    def _updates(self, spark, rows):
        return spark.createDataFrame(
            rows, "team string, city string, effective_ts string"
        ).withColumn("effective_ts", F.to_timestamp("effective_ts"))

    def test_versions_close_and_open(self, spark):
        current = self._dim(
            spark,
            [
                ("A", "Atlanta", "2020-01-01 00:00:00", None),
                ("B", "Boston", "2020-01-01 00:00:00", None),
                # closed history must pass through untouched
                ("A", "Austin", "2015-01-01 00:00:00", "2020-01-01 00:00:00"),
            ],
        )
        updates = self._updates(
            spark,
            [
                ("A", "Albany", "2024-06-01 00:00:00"),   # changed -> new version
                ("B", "Boston", "2024-06-01 00:00:00"),   # unchanged -> no-op
                ("C", "Chicago", "2024-06-01 00:00:00"),  # brand new key
            ],
        )
        out = write.scd2_apply(current, updates, ["team"], ["city"])
        rows = {(r.team, r.city, r.valid_to is None) for r in out.collect()}
        assert rows == {
            ("A", "Austin", False),   # old history intact
            ("A", "Atlanta", False),  # closed at 2024-06-01
            ("A", "Albany", True),    # new open version
            ("B", "Boston", True),    # untouched open row
            ("C", "Chicago", True),   # new key
        }
        closed_at = {
            r.city: r.valid_to for r in out.filter("team = 'A'").collect() if r.valid_to
        }
        assert str(closed_at["Atlanta"]) == "2024-06-01 00:00:00"
        # exactly one open row per live key
        open_counts = (
            out.filter("valid_to IS NULL").groupBy("team").count().collect()
        )
        assert all(r["count"] == 1 for r in open_counts)

    def test_null_attribute_transitions_version(self, spark):
        current = self._dim(spark, [("A", None, "2020-01-01 00:00:00", None)])
        updates = self._updates(spark, [("A", "Atlanta", "2021-01-01 00:00:00")])
        out = write.scd2_apply(current, updates, ["team"], ["city"])
        assert {(r.city, r.valid_to is None) for r in out.collect()} == {
            (None, False),
            ("Atlanta", True),
        }


class TestSnapshotDiff:
    def test_classifies_all_four_ways(self, spark):
        from nhl_data_warehouse_spark.operators.cdc import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
            "k long, s string, v double",
        )
        new = spark.createDataFrame(
            [(1, "a", 1.0),      # unchanged
             (2, "B", 2.0),      # changed (string)
             (3, "c", 3.0),      # changed (NULL -> value, null-safe)
             (5, "e", 5.0)],     # added; key 4 removed
            "k long, s string, v double",
        )
        got = {
            r.k: r.change_type
            for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
        }
        assert got == {
            1: "unchanged", 2: "changed", 3: "changed",
            4: "removed", 5: "added",
        }
