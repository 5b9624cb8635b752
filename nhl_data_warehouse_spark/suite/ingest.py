"""Ingest-surface suite: driver-checkable queries for the §2 operators
that live OUTSIDE the parquet tables — the scrape/REST extractors, the
CSV/JSON COPY loads they feed, catalog context, and view
materialization. Round 1 left these "pytest-only" (VERDICT coverage
table); each query here runs the real ingest code on deterministic
in-module fixtures (network-free injectable fetchers, per-call temp
dirs) and returns a value-stable DataFrame the DuckDB oracle can
hash-match.

Determinism notes: audit timestamp columns (``updated_at``) are never
selected; ``source_file`` is a fixed basename; ``unique_key`` md5s are
precomputed in-module with hashlib over the exact landed bytes.
"""

from __future__ import annotations

import hashlib
import json
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nhl_data_warehouse_spark.suite.registry import load, read_parquet, register

# scratch dirs / memory-sink views from PRIOR invocations of the same
# query, reclaimed on the next invocation (their results have been
# consumed by then) so repeated bench/check/driver passes don't
# accumulate /tmp state or driver-memory sink tables. Scoped per
# prefix: one query's cleanup can never touch another's live landing.
_PRIOR_DIRS: dict[str, list[str]] = {}
_PRIOR_VIEWS: dict[str, list[str]] = {}


def _fresh_dir(prefix: str) -> str:
    import shutil

    for d in _PRIOR_DIRS.get(prefix, []):
        shutil.rmtree(d, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _PRIOR_DIRS[prefix] = [d]
    return d


def _fresh_memory_sink(spark: SparkSession, base: str, suffix: str) -> str:
    for t in _PRIOR_VIEWS.get(base, []):
        try:
            spark.catalog.dropTempView(t)
        except Exception:  # noqa: BLE001 — already gone
            pass
    name = base + suffix
    _PRIOR_VIEWS[base] = [name]
    return name


from contextlib import contextmanager


@contextmanager
def _stateful_shuffle(spark: SparkSession, n: int = 8):
    """Pin a small shuffle-partition count around a stateful streaming
    run. Every stateful operator opens/commits one state store PER
    shuffle partition PER micro-batch, so partition count — not data
    volume — dominates these bounded suite streams (measured on the
    stream-stream join at sf0.1: 16.3 s at 32 partitions, 3.4 s at 8).
    The partitioning is baked into the (fresh per call) checkpoint, so
    scoping the conf to the query is safe; the session value is
    restored after the drain. At production volume the same dial is
    sized UP with the key cardinality."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain(q, timeout_s: int = 300) -> None:
    """availableNow queries must fully drain before the sink is read;
    awaitTermination returns False (it does not raise) on timeout, and
    a partially-drained memory sink would fail the comparison with a
    confusing value mismatch instead of a loud error."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming drain exceeded {timeout_s}s")


# ---------------------------------------------------------------------------
# S1 + S6: HTML scrape -> CSV landing -> typed COPY load
# ---------------------------------------------------------------------------

_GAMES_HEADER = (
    "game_date game_time visitor visitor_goals home home_goals "
    "ot_so attendance length_of_game"
).split()

_GAMES_ROWS = [
    ["2025-01-04", "19:00", "Colorado Avalanche", "3", "Dallas Stars", "4",
     "OT", "18,532", "2:32"],
    ["2025-01-05", "19:30", "Winnipeg Jets", "5", "Colorado Avalanche", "2",
     "", "17,800", "2:28"],
    ["2025-01-06", "", "Chicago Blackhawks", "", "Dallas Stars", "",
     "", "0", ""],
]

_STANDINGS_ROWS = [
    ["team", "gp"],
    ["Winnipeg Jets", "82"],
    ["Dallas Stars", "82"],
]


def _html_table(rows: list[list[str]], header: list[str] | None = None) -> str:
    body = ""
    if header is not None:
        body += "<tr>" + "".join(f"<th>{c}</th>" for c in header) + "</tr>"
    for r in rows:
        body += "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>"
    return f"<html><body><table>{body}</table></body></html>"


def _fake_page(url: str) -> str:
    if "games" in url:
        return _html_table(_GAMES_ROWS, header=_GAMES_HEADER)
    return _html_table(_STANDINGS_ROWS[1:], header=_STANDINGS_ROWS[0])


def _games_expected() -> list[dict]:
    """Expected load_games_csv output rows, unique_key included —
    md5(source_file || '|'-joined raw payload), with the thousands
    separators already stripped at scrape time."""
    fname = "nhl_2025_output_seasons.csv"
    out = []
    for r in _GAMES_ROWS:
        raw = [c.replace(",", "") if c.replace(",", "").isdigit() else c for c in r]
        payload = "|".join(raw)
        out.append(
            {
                "source_file": fname,
                "unique_key": hashlib.md5((fname + payload).encode()).hexdigest(),
                "game_date": r[0],
                "visitor": r[2],
                "visitor_goals": int(r[3]) if r[3] else None,
                "home": r[4],
                "home_goals": int(r[5]) if r[5] else None,
                "guests_in_attendance": int(r[7].replace(",", "")),
                "length_of_game_minutes": (
                    int(r[8].split(":")[0]) * 60 + int(r[8].split(":")[1])
                    if r[8]
                    else None
                ),
            }
        )
    return out


def _values_sql(rows: list[dict], types: dict[str, str]) -> str:
    """VALUES-table SQL for DuckDB from literal rows."""
    cols = list(rows[0])

    def lit(v, t):
        if v is None:
            return f"CAST(NULL AS {t})"
        if t == "DATE":
            return f"DATE '{v}'"
        if t in ("BIGINT", "INTEGER"):
            return f"CAST({v} AS {t})"
        return "'" + str(v).replace("'", "''") + "'"

    values = ", ".join(
        "(" + ", ".join(lit(r[c], types[c]) for c in cols) + ")" for r in rows
    )
    collist = ", ".join(cols)
    return f"SELECT * FROM (VALUES {values}) AS t({collist})"


_GAMES_TYPES = {
    "source_file": "VARCHAR",
    "unique_key": "VARCHAR",
    "game_date": "DATE",
    "visitor": "VARCHAR",
    "visitor_goals": "BIGINT",
    "home": "VARCHAR",
    "home_goals": "BIGINT",
    "guests_in_attendance": "BIGINT",
    "length_of_game_minutes": "INTEGER",
}


@register(
    "scrape_ingest_roundtrip",
    op_ids="S1,S3,S6,S8,P1-P5,P7 (HTML scrape -> CSV landing -> typed COPY "
    "load, end to end on an injected fetcher)",
    description="the reference's hockey-reference ingest path: parse the "
    "first <table>, land CSV with thousands-separators stripped, COPY-load "
    "with positional schema + permissive casts + md5 lineage keys",
    oracle=_values_sql(_games_expected(), _GAMES_TYPES),
)
def scrape_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.sources.csv_source import load_games_csv
    from nhl_data_warehouse_spark.sources.extract import scrape_season_tables

    landing = _fresh_dir("suite_scrape_")
    scrape_season_tables(2025, landing, fetch=_fake_page)
    return load_games_csv(spark, f"{landing}/csv/seasons").select(
        "source_file",
        "unique_key",
        "game_date",
        "visitor",
        "visitor_goals",
        "home",
        "home_goals",
        "guests_in_attendance",
        "length_of_game_minutes",
    )


# ---------------------------------------------------------------------------
# S2 + S7 + P12 + P14: REST extract -> JSON landing -> VARIANT-style load
# ---------------------------------------------------------------------------

_SCHEDULE_PAYLOAD = {
    "season": {"id": "s-2024-REG", "year": 2024, "type": "REG"},
    "games": [
        {
            "id": "g-REG-001",
            "home": {"alias": "DAL"},
            "away": {"alias": "COL"},
            "home_points": 4,
            "away_points": 3,
        },
        {
            "id": "g-REG-002",
            "home": {"alias": "COL"},
            "away": {"alias": "WPG"},
            "home_points": 2,
            "away_points": 5,
        },
    ],
}

_EMPTY_PAYLOAD = {"season": {"id": "s-2024-PST", "year": 2024, "type": "PST"}}

_SCHEDULE_SCHEMA = T.StructType(
    [
        T.StructField(
            "season",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("year", T.LongType()),
                    T.StructField("type", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "games",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField(
                            "home",
                            T.StructType([T.StructField("alias", T.StringType())]),
                        ),
                        T.StructField(
                            "away",
                            T.StructType([T.StructField("alias", T.StringType())]),
                        ),
                        T.StructField("home_points", T.LongType()),
                        T.StructField("away_points", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)


def _json_expected() -> list[dict]:
    fname = "regular_season_t1.json"
    doc = json.dumps(_SCHEDULE_PAYLOAD, indent=4)
    key = hashlib.md5((fname + doc).encode()).hexdigest()
    return [
        {
            "source_file": fname,
            "unique_key": key,
            "game_id": g["id"],
            "home_alias": g["home"]["alias"],
            "away_alias": g["away"]["alias"],
            "home_points": g["home_points"],
            "away_points": g["away_points"],
        }
        for g in _SCHEDULE_PAYLOAD["games"]
    ]


_JSON_TYPES = {
    "source_file": "VARCHAR",
    "unique_key": "VARCHAR",
    "game_id": "VARCHAR",
    "home_alias": "VARCHAR",
    "away_alias": "VARCHAR",
    "home_points": "BIGINT",
    "away_points": "BIGINT",
}


@register(
    "rest_json_ingest_roundtrip",
    op_ids="S2,S3,S7,S8,P11,P12,P14 (REST extract with empty-payload guard "
    "-> pretty-printed JSON landing -> whole-document load -> typed "
    "projection + lateral explode)",
    description="the reference's API ingest path: one schedule document "
    "lands (the empty-payload one is guard-skipped and writes nothing), "
    "loads as one VARIANT-style row, and explodes to per-game rows",
    oracle=_values_sql(_json_expected(), _JSON_TYPES),
)
def rest_json_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.sources.extract import extract_api_endpoint
    from nhl_data_warehouse_spark.sources.json_source import (
        guard_has_games,
        load_json_raw,
    )

    landing = _fresh_dir("suite_rest_")
    landed = extract_api_endpoint(
        "regular_season", landing, lambda ep: _SCHEDULE_PAYLOAD, date_tag="t1"
    )
    skipped = extract_api_endpoint(
        "post_season", landing, lambda ep: _EMPTY_PAYLOAD, date_tag="t1"
    )
    assert landed is not None and skipped is None  # P14 guard fired
    loaded = load_json_raw(
        spark, f"{landing}/json/regular_season", _SCHEDULE_SCHEMA
    )
    return (
        guard_has_games(loaded)
        .select(
            "source_file",
            "unique_key",
            F.explode("games").alias("g"),
        )
        .select(
            "source_file",
            "unique_key",
            F.col("g.id").alias("game_id"),
            F.col("g.home.alias").alias("home_alias"),
            F.col("g.away.alias").alias("away_alias"),
            F.col("g.home_points").alias("home_points"),
            F.col("g.away_points").alias("away_points"),
        )
    )


# ---------------------------------------------------------------------------
# M1/M3: view materialization reachable through SQL
# ---------------------------------------------------------------------------


@register(
    "view_materialization_sql",
    op_ids="M1,M3 (view materialization: dbt's default — register, then "
    "query through the catalog name; Catalyst inlines the view so "
    "predicates push through it)",
    description="orders rollup materialized as a temp view and consumed "
    "via spark.sql over the view name, proving the M1 surface end to end",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_orderstatus <> 'X'
        GROUP BY o_orderpriority
    """,
)
def view_materialization_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.write import as_view

    (orders,) = load(spark, sf_dir, "orders")
    as_view(orders, "v_m1_orders")
    # the filter is written OVER the view; Catalyst inlines it so the
    # predicate reaches the parquet scan (M1's performance contract)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM v_m1_orders
        WHERE o_orderstatus <> 'X'
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# §2.7: REAL streaming execution (microbatch run, not a batch twin)
# ---------------------------------------------------------------------------


@register(
    "streaming_hourly_stats",
    op_ids="S5,§2.7 streaming EXECUTION: Structured Streaming file source "
    "-> watermarked tumbling window -> memory sink, availableNow "
    "microbatches (the driver-checkable proof the streaming path runs, "
    "not just its batch twin)",
    description="event_hourly_stats computed by an actual streaming query: "
    "the events parquet is consumed as a file-source stream, aggregated "
    "through the same windowed_event_counts operator in streaming mode, "
    "and drained with trigger(availableNow) — results must equal the "
    "batch oracle exactly",
    oracle="""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
)
def streaming_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.windows import windowed_event_counts
    from nhl_data_warehouse_spark.suite.registry import (
        normalize_timestamps,
        pin_session_defaults,
    )

    # the file streaming source wants a directory; point a temp dir at
    # the events parquet via symlink so nothing is copied
    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    ckpt = _fresh_dir("suite_stream_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_hourly_", os.path.basename(ckpt).split("_")[-1]
    )

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(batch_schema).parquet(src_dir)
    stream = normalize_timestamps(stream, "events").withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    agg = windowed_event_counts(stream, window_duration="1 hour", streaming=True)
    with _stateful_shuffle(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    # exact decimal sums inside the stream; double in the final schema
    return spark.table(name).select(
        "window_start",
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@register(
    "streaming_user_totals",
    op_ids="§2.7 CUSTOM stateful streaming EXECUTION: "
    "applyInPandasWithState running per-user accumulators drained with "
    "availableNow — driver-checkable proof the custom state-machine "
    "path runs and converges to the batch aggregate",
    description="per-user lifetime (count, value sum) maintained by the "
    "running_user_totals state machine over a file-source stream; value "
    "is carried as exact integer cents inside the state so the final "
    "emission equals the batch oracle bit-for-bit",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS DOUBLE) / 100.0 AS sum_value
        FROM events GROUP BY user_id
    """,
)
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.stateful import running_user_totals
    from nhl_data_warehouse_spark.suite.registry import pin_session_defaults

    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_state_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    ckpt = _fresh_dir("suite_state_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_totals_", os.path.basename(ckpt).split("_")[-1]
    )

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(batch_schema).parquet(src_dir)
    # exact integer cents through the double-typed state slot: pandas
    # int64 sums are exact and floats are exact integers below 2^53,
    # so the accumulated value is order-independent
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    totals = running_user_totals(
        stream.select("user_id", cents.cast("double").alias("value"))
    )
    with _stateful_shuffle(spark):
        q = (
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    # update mode re-emits a user's row each micro-batch that touches
    # it; n_events is strictly monotone per user, so max_by keeps the
    # final state regardless of how the file source batched
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "sum_value"), F.col("n_events")
            ).alias("_f")
        )
        .select(
            "user_id",
            F.col("_f.n_events").alias("n_events"),
            (F.col("_f.sum_value") / F.lit(100.0)).alias("sum_value"),
        )
    )


# NOT registered as a suite query (VERDICT r5 item 5): Spark 4's
# transformWithState Python runner ships state updates over a protobuf
# channel, and without the ``google.protobuf`` package the runner
# process crashes at initialization
# (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). This environment
# has no protobuf and installs are disallowed, so an environment-
# conditional registry entry could never earn a driver row — the
# registry now carries zero conditional entries. The operator itself
# (``streaming/stateful.py:running_user_totals_tws``) remains real and
# is exercised by ``tests/test_streaming.py`` wherever protobuf exists;
# the registered ``streaming_user_totals`` query covers the identical
# semantics on the applyInPandasWithState runtime, which needs no
# protobuf.
def _streaming_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.stateful import running_user_totals_tws
    from nhl_data_warehouse_spark.suite.registry import pin_session_defaults

    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_tws_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    ckpt = _fresh_dir("suite_tws_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_tws_", os.path.basename(ckpt).split("_")[-1]
    )

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(batch_schema).parquet(src_dir)
    # exact integer cents through the double-typed state slot (same
    # convention as streaming_user_totals: int64 pandas sums are
    # exact, and integer-valued doubles below 2^53 are exact)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    totals = running_user_totals_tws(
        stream.select("user_id", cents.cast("double").alias("value"))
    )
    # transformWithState requires the RocksDB state store provider
    # (the HDFS-backed default rejects its multi-variable state);
    # scope the conf to this query and restore after
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        with _stateful_shuffle(spark):
            q = (
                totals.writeStream.outputMode("update")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _drain(q)
    finally:
        if prior is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prior)
    # update mode re-emits a user's row each micro-batch that touches
    # it; n_events is strictly monotone per user, so max_by keeps the
    # final state regardless of how the file source batched
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "sum_value"), F.col("n_events")
            ).alias("_f")
        )
        .select(
            "user_id",
            F.col("_f.n_events").alias("n_events"),
            (F.col("_f.sum_value") / F.lit(100.0)).alias("sum_value"),
        )
    )




@register(
    "streaming_dedup_exactly_once",
    op_ids="§2.7 streaming exactly-once dedup EXECUTION: "
    "dropDuplicatesWithinWatermark over a stream that delivers every "
    "event twice — the at-least-once -> exactly-once repair, run for "
    "real and hash-matched against the batch distinct",
    description="the events file is fed to the stream TWICE (two "
    "symlinks); watermarked key dedup must emit each event exactly "
    "once, equal to the batch table",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def streaming_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.windows import dedup_events_stream
    from nhl_data_warehouse_spark.suite.registry import (
        normalize_timestamps,
        pin_session_defaults,
    )

    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_dedup_src_")
    # duplicate delivery: same physical file under two names
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events_a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events_b.parquet")
    ckpt = _fresh_dir("suite_dedup_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_dedup_", os.path.basename(ckpt).split("_")[-1]
    )

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # Correctness here must not depend on how the file source batches
    # the two deliveries (ADVICE r2): (a) maxFilesPerTrigger pins both
    # symlinks into one micro-batch even if a future option changes
    # availableNow's default draining, and (b) the watermark exceeds
    # the testdata's whole event-time span (30 days), so even under
    # multi-batch replay no duplicate's state has expired when its
    # twin arrives.
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(src_dir)
    )
    stream = normalize_timestamps(stream, "events")
    deduped = dedup_events_stream(stream, keys=["event_id"], watermark="2400 hours")
    with _stateful_shuffle(spark):
        q = (
            deduped.select("event_id", "ts", "user_id", "event_type", "value")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    return spark.table(name)


@register(
    "streaming_static_enrichment",
    op_ids="§2.7 stream-static join EXECUTION: events stream enriched "
    "against a broadcast dimension per micro-batch (the stream never "
    "shuffles; dim updates would be visible without restart)",
    description="every event joined to its user's nation name through "
    "the customer->nation dimension chain, computed by an actual "
    "streaming query over the events file source — left join keeps "
    "dimension-less users",
    oracle="""
        SELECT e.event_id, e.user_id, n.n_name AS nation_name
        FROM events e
        LEFT JOIN customer c ON e.user_id = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.joins import enrich_stream
    from nhl_data_warehouse_spark.suite.registry import (
        load as _load,
        normalize_timestamps,
        pin_session_defaults,
    )

    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_enr_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    ckpt = _fresh_dir("suite_enr_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_enr_", os.path.basename(ckpt).split("_")[-1]
    )

    customer, nation = _load(spark, sf_dir, "customer", "nation")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    ).join(
        nation.select("n_nationkey", F.col("n_name").alias("nation_name")),
        customer.c_nationkey == F.col("n_nationkey"),
        "left",
    ).select("user_id", "nation_name")

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(batch_schema).parquet(src_dir)
    stream = normalize_timestamps(stream, "events").select("event_id", "user_id")
    enriched = enrich_stream(stream, dim, on="user_id")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.table(name).select("event_id", "user_id", "nation_name")


@register(
    "streaming_foreachbatch_upsert",
    op_ids="§2.7+M2 streaming SINK EXECUTION: foreachBatch + keyed "
    "anti-join upsert — the exactly-once *sink-side* repair (idempotent "
    "writes), complementing dropDuplicatesWithinWatermark's source-side "
    "dedup; each micro-batch runs the same incremental_insert the "
    "batch pipeline uses (M2), so at-least-once delivery converges to "
    "exactly-once table state",
    description="the events file is delivered TWICE in two separate "
    "micro-batches (maxFilesPerTrigger=1); foreachBatch upserts each "
    "batch into a managed table via the left_anti incremental insert — "
    "the second delivery must append zero rows, leaving exactly one "
    "copy of every event",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from nhl_data_warehouse_spark import catalog
    from nhl_data_warehouse_spark.suite.registry import (
        normalize_timestamps,
        pin_session_defaults,
    )
    from nhl_data_warehouse_spark.write import incremental_insert

    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_fbu_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events_a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events_b.parquet")
    ckpt = _fresh_dir("suite_fbu_ckpt_")

    catalog.ensure_database(spark, "nhl_suite_stream")
    table = "nhl_suite_stream.fbu_events"
    # stale-location cleanup, same pattern as catalog_context_read
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/nhl_suite_stream.db/fbu_events", ignore_errors=True)

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # one file per trigger forces the duplicate delivery into a LATER
    # micro-batch, so the second upsert exercises the anti-join against
    # already-committed table state (not intra-batch dedup)
    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    stream = normalize_timestamps(stream, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        incremental_insert(batch_df.sparkSession, batch_df, table, key="event_id")

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.table(table)


@register(
    "streaming_sessionize",
    op_ids="§2.7 session-window streaming EXECUTION: gap-based "
    "sessionization via session_window run as a real microbatch query "
    "(merging-window state), drained with availableNow — the batch "
    "sessionize_events twin on the native stateful operator",
    description="30-minute-gap sessions per user computed by an actual "
    "streaming query over the events file source in complete mode; "
    "session_window merges events at most 30 minutes apart and ends "
    "each session at last_ts + gap, so the oracle is the batch "
    "gaps-and-islands form with session_end = MAX(ts) + 30 minutes",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS is_break
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts, value,
                   SUM(is_break) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM numbered
        GROUP BY user_id, session_id
    """,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.windows import sessionize
    from nhl_data_warehouse_spark.suite.registry import (
        normalize_timestamps,
        pin_session_defaults,
    )

    pin_session_defaults(spark)
    src_dir = _fresh_dir("suite_sess_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    ckpt = _fresh_dir("suite_sess_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_sess_", os.path.basename(ckpt).split("_")[-1]
    )

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(batch_schema).parquet(src_dir)
    stream = normalize_timestamps(stream, "events").withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    # complete mode: every session is in the final sink regardless of
    # where the closing watermark lands (append would hold back any
    # session still open against the final watermark)
    sessions = sessionize(stream, gap="30 minutes", streaming=True)
    with _stateful_shuffle(spark):
        q = (
            sessions.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    return spark.table(name).select(
        "session_start",
        "session_end",
        "user_id",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@register(
    "streaming_interval_join",
    op_ids="§2.7 stream-stream interval join EXECUTION: two live file "
    "streams joined on key within an event-time range (the "
    "ad-attribution shape), watermarked state, availableNow drain — "
    "the streaming twin of range_join_pairs, hash-matched against the "
    "batch range join",
    description="same-user event pairs within a 5-minute forward window, "
    "computed by an actual stream-stream inner join: both sides are "
    "the events file consumed as independent streams; inner matches "
    "emit as they pair, watermarks bound the buffered state",
    oracle="""
        SELECT e1.user_id AS user_id, e1.event_id AS a_id, e2.event_id AS b_id,
               CAST(epoch_us(e2.ts) - epoch_us(e1.ts) AS DOUBLE) / 1000000.0 AS gap_seconds
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.joins import interval_join_streams
    from nhl_data_warehouse_spark.suite.registry import (
        normalize_timestamps,
        pin_session_defaults,
    )

    pin_session_defaults(spark)
    left_dir = _fresh_dir("suite_ssj_left_")
    right_dir = _fresh_dir("suite_ssj_right_")
    os.symlink(f"{sf_dir}/events.parquet", f"{left_dir}/events.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{right_dir}/events.parquet")
    ckpt = _fresh_dir("suite_ssj_ckpt_")
    name = _fresh_memory_sink(
        spark, "stream_ssj_", os.path.basename(ckpt).split("_")[-1]
    )

    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # maxFilesPerTrigger pins each side's single file into one
    # micro-batch so no match can race a watermark-driven eviction;
    # the watermark itself (30 min >= the 5-min interval upper bound)
    # is what bounds the join state on an unbounded run
    left = normalize_timestamps(
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(left_dir),
        "events",
    ).select("user_id", "ts", "event_id")
    right = normalize_timestamps(
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 64)
        .parquet(right_dir),
        "events",
    ).select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    joined = interval_join_streams(
        left, right, key="user_id", upper="5 minutes", watermark="30 minutes"
    )
    gap_us = F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))
    out = joined.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("r_event_id").alias("b_id"),
        (gap_us.cast("double") / F.lit(1000000.0)).alias("gap_seconds"),
    )
    with _stateful_shuffle(spark):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    return spark.table(name)


# ---------------------------------------------------------------------------
# S10/S11: parameterized catalog read under session context
# ---------------------------------------------------------------------------


@register(
    "catalog_context_read",
    op_ids="S10,S11,M3 (ensure/use database + parameterized table read — "
    "the reference's Snowflake session-context pattern)",
    description="nation dimension written into a named database, then read "
    "back via the catalog under USE-database context (idempotent overwrite)",
    oracle="SELECT n_nationkey, n_name FROM nation",
)
def catalog_context_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark import catalog
    from nhl_data_warehouse_spark.write import overwrite_table

    import shutil

    (nation,) = load(spark, sf_dir, "nation")
    catalog.ensure_database(spark, "nhl_suite_ctx")
    # a stale location survives DROP when a prior session crashed (or a
    # fresh metastore doesn't know the old table): clear both
    spark.sql("DROP TABLE IF EXISTS nhl_suite_ctx.ctx_nation")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/nhl_suite_ctx.db/ctx_nation", ignore_errors=True)
    overwrite_table(
        nation.select("n_nationkey", "n_name"), "nhl_suite_ctx.ctx_nation"
    )
    catalog.use_database(spark, "nhl_suite_ctx")
    try:
        out = catalog.read_table(spark, "ctx_nation")
    finally:
        catalog.use_database(spark, "default")
    return out


# ---------------------------------------------------------------------------
# S9 + P2: file-pattern pruning (pathGlobFilter) with decoy files
# ---------------------------------------------------------------------------

_GLOB_FILES = {
    "wk1.csv": [
        ["2025-02-01", "19:00", "Colorado Avalanche", "3", "Dallas Stars",
         "4", "OT", "18532", "2:32"],
        ["2025-02-02", "20:00", "Winnipeg Jets", "2", "Dallas Stars",
         "1", "", "15000", "2:10"],
    ],
    "wk2.csv": [
        ["2025-02-03", "18:30", "Dallas Stars", "5", "Chicago Blackhawks",
         "2", "SO", "17111", "2:45"],
    ],
}

# same CSV shape, non-matching names: if the glob ever loosens, these
# rows appear in the output and the oracle hash breaks loudly
_GLOB_DECOYS = {
    "notes.txt": [
        ["1999-01-01", "12:00", "Decoy Team", "9", "Decoy Team", "9",
         "", "1", "9:59"],
    ],
    "wk1.csv.bak": [
        ["1999-01-02", "12:00", "Stale Backup", "8", "Stale Backup", "8",
         "", "1", "9:59"],
    ],
}


def _glob_expected() -> list[dict]:
    out = []
    for fname, rows in _GLOB_FILES.items():
        for r in rows:
            payload = "|".join(r)
            out.append(
                {
                    "source_file": fname,
                    "unique_key": hashlib.md5((fname + payload).encode()).hexdigest(),
                    "game_date": r[0],
                    "visitor": r[2],
                    "visitor_goals": int(r[3]),
                    "home": r[4],
                    "home_goals": int(r[5]),
                    "guests_in_attendance": int(r[7]),
                    "length_of_game_minutes": (
                        int(r[8].split(":")[0]) * 60 + int(r[8].split(":")[1])
                    ),
                }
            )
    return out


@register(
    "glob_pruned_csv_load",
    op_ids="S9,P2,S8 (file-pattern pruning: COPY's FILES pattern as "
    "pathGlobFilter, resolved at scan planning so non-matching files "
    "are never opened; OT/SO marker column present in the files but "
    "positionally skipped)",
    description="a landing dir holding two games CSVs plus two decoy "
    "files (.txt, .csv.bak) whose rows would poison the result if the "
    "glob ever loosened; only *.csv rows may surface",
    oracle=_values_sql(_glob_expected(), _GAMES_TYPES),
)
def glob_pruned_csv_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.sources.csv_source import load_games_csv

    landing = _fresh_dir("suite_glob_")
    header = ",".join(_GAMES_HEADER)
    for fname, rows in {**_GLOB_FILES, **_GLOB_DECOYS}.items():
        with open(os.path.join(landing, fname), "w") as f:
            f.write(header + "\n")
            for r in rows:
                f.write(",".join(r) + "\n")
    return load_games_csv(spark, landing).select(
        "source_file",
        "unique_key",
        "game_date",
        "visitor",
        "visitor_goals",
        "home",
        "home_goals",
        "guests_in_attendance",
        "length_of_game_minutes",
    )


# ---------------------------------------------------------------------------
# M5: orchestrated pipeline with a transient per-stage failure
# ---------------------------------------------------------------------------


@register(
    "runner_retry_pipeline",
    op_ids="M5 (topological model runner + per-stage retry — the "
    "reference's Airflow retries=1 policy — driven end-to-end: a "
    "3-model DAG over the testdata where the middle model fails "
    "transiently on its first attempt and must succeed on retry)",
    description="region -> nation-join -> per-region nation counts "
    "through PipelineRunner; the join stage raises once before "
    "building its DataFrame, so the emitted mart exists only if "
    "retry + topo ordering work",
    oracle="""
        SELECT r.r_name, COUNT(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def runner_retry_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.plans.runner import Model, PipelineRunner

    nation, region = load(spark, sf_dir, "nation", "region")
    attempts = {"n": 0}  # reset per invocation; closure shared by retries

    def dim_region(spark_, **_):
        return region.select("r_regionkey", "r_name")

    def stg_nations(spark_, dim_region, **_):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("transient stage failure (exercises M5 retry)")
        return nation.join(
            F.broadcast(dim_region),
            nation["n_regionkey"] == dim_region["r_regionkey"],
        ).select("n_nationkey", "r_name")

    def mart_region_counts(spark_, stg_nations, **_):
        return stg_nations.groupBy("r_name").agg(
            F.count(F.lit(1)).alias("n_nations")
        )

    runner = PipelineRunner(spark, retries=1, retry_delay_s=0.01)
    runner.register(Model("dim_region", dim_region))
    runner.register(Model("stg_nations", stg_nations, deps=["dim_region"]))
    runner.register(
        Model("mart_region_counts", mart_region_counts, deps=["stg_nations"])
    )
    results = runner.run()
    assert attempts["n"] == 2, "retry path did not run"
    return results["mart_region_counts"]


@register(
    "orc_roundtrip_agg",
    op_ids="beyond-reference columnar-format breadth (ORC sink + "
    "source: write the 1995 order slice as ORC, read it back, "
    "aggregate — the parquet-equivalent columnar path for stacks "
    "standardized on ORC; predicate/column pruning semantics carry "
    "over unchanged). Format-matrix terminal note (VERDICT r6 item "
    "8): Avro is the one remaining format and needs the external "
    "spark-avro artifact — ivy resolution of "
    "org.apache.spark:spark-avro_2.13:4.1.2 fails offline with "
    "'unresolved dependency: not found' (round-7 probe); only Avro "
    "CORE jars (avro-1.12.1) ship with pyspark, so format('avro') "
    "raises FAILED_TO_LOAD_DATA_SOURCE — unavailable by environment, "
    "not by design",
    description="orders for 1995 written to ORC and re-read, then "
    "aggregated per priority — value-identical to the same aggregate "
    "on the parquet source",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY o_orderpriority
    """,
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load(spark, sf_dir, "orders")
    out = _fresh_dir("suite_orc_")
    sliced = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    sliced.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "pythonsink_commit_roundtrip",
    op_ids="beyond-reference Spark 4 Python DataSource WRITER "
    "(transactional two-phase-commit JSONL sink: tasks stage files, "
    "the driver publishes an atomic manifest, aborts stay invisible — "
    "the COPY-grade all-or-nothing load the reference delegates to "
    "Snowflake, re-expressed on the custom-connector write API; the "
    "writer-side sibling of the restjson Python DataSource reader)",
    description="the 1995 order slice written through the jsonlcommit "
    "sink, read back strictly via its manifest, aggregated per "
    "priority — value-identical to the same aggregate on the parquet "
    "source; cents carried as exact integers through the JSON text",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY o_orderpriority
    """,
)
def pythonsink_commit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.sources import jsonlcommit_sink

    (orders,) = load(spark, sf_dir, "orders")
    jsonlcommit_sink.register(spark)
    out = _fresh_dir("suite_pysink_")
    # exact integer cents through the JSON text — double-formatted
    # JSON would reparse fine but integer cents need no float parsing
    # convention at all
    sliced = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    ).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    sliced.write.format("jsonlcommit").mode("append").save(out)
    back = jsonlcommit_sink.read_committed(
        spark, out, "o_orderkey long, o_orderpriority string, price_cents long"
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("price_cents").cast("double") / 100.0).alias("revenue"),
    )


@register(
    "xml_roundtrip_extract",
    op_ids="S1-adjacent structured-markup ingest breadth: native XML "
    "source (new in Spark 4.0) — one <supplier> element per record "
    "landed as XML files, re-read with rowTag record discovery and an "
    "explicit schema, then aggregated; the schema-on-read semantics "
    "(explicit types, permissive corrupt handling) mirror the CSV/JSON "
    "COPY loads",
    description="suppliers serialized to XML (deterministic per-row "
    "markup), re-read through spark.read.format('xml'), aggregated "
    "per nation — value-identical to the same aggregate on parquet",
    oracle="""
        SELECT s_nationkey AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal
        FROM supplier
        GROUP BY s_nationkey
    """,
)
def xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    (supplier,) = load(spark, sf_dir, "supplier")
    out = _fresh_dir("suite_xml_")
    # deterministic XML markup built in-engine (escape-free columns:
    # keys are numeric, acctbal re-emitted as exact integer cents).
    # Spark's XML reader requires each FILE to be one well-formed
    # document (a single root element — multiple top-level rowTags in
    # a file silently truncate), so the fixture concatenates all
    # records under one root via ordered listagg and lands it as one
    # file. Production XML arrives as MANY rooted files and the read
    # parallelizes per file, exactly like the CSV/JSON loads.
    markup = F.concat(
        F.lit("<supplier><key>"),
        F.col("s_suppkey").cast("string"),
        F.lit("</key><nationkey>"),
        F.col("s_nationkey").cast("string"),
        F.lit("</nationkey><acctbal_cents>"),
        (F.col("s_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .cast("string"),
        F.lit("</acctbal_cents></supplier>"),
    )
    supplier.select(markup.alias("x"), "s_suppkey").createOrReplaceTempView(
        "v_xml_supplier_markup"
    )
    doc = spark.sql(
        """
        SELECT concat('<suppliers>',
                      listagg(x, '') WITHIN GROUP (ORDER BY s_suppkey),
                      '</suppliers>') AS value
        FROM v_xml_supplier_markup
        """
    )
    doc.coalesce(1).write.mode("overwrite").text(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("key long, nationkey long, acctbal_cents long")
        .load(out)
    )
    return back.groupBy(F.col("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (F.sum("acctbal_cents").cast("double") / 100.0).alias("total_acctbal"),
    )


@register(
    "observed_quality_metrics",
    op_ids="A1 generalized to zero-cost gating: df.observe() metrics "
    "accumulated DURING the main action (one job, no separate "
    "quality scan — at 100 TB a standalone null_check pass re-reads "
    "the whole table; observation is free)",
    description="row count + null counts over events collected via "
    "the Observation API while the table is counted once; the gate "
    "then fires driver-side on the metrics dict",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_props,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_value
        FROM events
    """,
)
def observed_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nhl_data_warehouse_spark.plans.quality import observed_write

    (events,) = load(spark, sf_dir, "events")
    _, metrics = observed_write(
        events, action=lambda d: d.count(), null_cols=["props", "value"]
    )
    return spark.createDataFrame(
        [
            (
                int(metrics["n_rows"]),
                int(metrics["n_null_props"]),
                int(metrics["n_null_value"]),
            )
        ],
        "n_rows long, n_null_props long, n_null_value long",
    )


@register(
    "streaming_left_outer_join",
    op_ids="§2.7 stream-stream LEFT OUTER interval join EXECUTION: "
    "null-padded unmatched rows can only emit once the watermark "
    "passes their interval, so a far-future heartbeat row in a final "
    "micro-batch flushes the state (the sentinel/heartbeat pattern "
    "every finite or low-traffic outer-join stream needs)",
    description="every event left-outer-joined to same-user purchases "
    "within the next 5 minutes: matches emit as they pair, events "
    "with no purchase emit null-padded after the heartbeat advances "
    "the watermark; sentinel rows are filtered from the result",
    oracle="""
        SELECT e1.user_id AS user_id, e1.event_id AS a_id,
               e2.event_id AS b_id,
               CAST(epoch_us(e2.ts) - epoch_us(e1.ts) AS DOUBLE) / 1000000.0
                   AS gap_seconds
        FROM events e1
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') e2
          ON e1.user_id = e2.user_id
         AND e2.ts > e1.ts
         AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
    """,
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.streaming.joins import interval_join_streams
    from nhl_data_warehouse_spark.suite.registry import (
        normalize_timestamps,
        pin_session_defaults,
    )

    pin_session_defaults(spark)
    left_dir = _fresh_dir("suite_ssoj_left_")
    right_dir = _fresh_dir("suite_ssoj_right_")
    os.symlink(f"{sf_dir}/events.parquet", f"{left_dir}/events.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{right_dir}/events.parquet")

    # heartbeat sentinel: one far-future row per side, written NOW so
    # its mtime orders it into a second micro-batch after the data
    # file; it advances both sources' watermarks past every real
    # interval, flushing the buffered unmatched rows
    raw = read_parquet(spark, f"{sf_dir}/events.parquet")
    dtypes = dict(raw.dtypes)
    max_ts = raw.agg(F.max("ts")).first()[0]
    if dtypes["ts"] == "bigint":  # TIMESTAMP(NANOS) as long
        future = F.lit(int(max_ts) + 10 * 86400 * 10**9)
    else:
        import datetime

        future = F.lit(max_ts + datetime.timedelta(days=10))
    overrides = {
        "event_id": F.lit(-1),
        "user_id": F.lit(-1),
        "ts": future,
        "event_type": F.lit("purchase"),  # must pass the right filter
    }
    sentinel = raw.limit(1).select(
        *[
            overrides.get(c, F.col(c)).cast(dtypes[c]).alias(c)
            for c in raw.columns
        ]
    )
    import glob as _glob
    import shutil as _shutil

    scratch = _fresh_dir("suite_ssoj_sent_")
    sentinel.coalesce(1).write.mode("overwrite").parquet(scratch)
    (part,) = _glob.glob(os.path.join(scratch, "part-*.parquet"))
    for d in (left_dir, right_dir):
        # the stream source lists plain files in the dir — move the
        # part file up next to the data symlink (mtime = now, so it
        # orders into the second micro-batch)
        _shutil.copy(part, os.path.join(d, "zz_sentinel.parquet"))

    name = _fresh_memory_sink(
        spark, "stream_ssoj_", os.path.basename(left_dir).split("_")[-1]
    )
    ckpt = _fresh_dir("suite_ssoj_ckpt_")
    batch_schema = raw.schema
    # one file per micro-batch per source, oldest first: batch 1 holds
    # both data files, batch 2 both sentinels -> the final no-data
    # batch evicts state under the advanced watermark
    left = normalize_timestamps(
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(left_dir),
        "events",
    ).select("user_id", "ts", "event_id")
    right_all = normalize_timestamps(
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(right_dir),
        "events",
    )
    right = right_all.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    joined = interval_join_streams(
        left,
        right,
        key="user_id",
        upper="5 minutes",
        watermark="30 minutes",
        how="leftOuter",
    )
    gap_us = F.unix_micros(F.col("r_ts")) - F.unix_micros(F.col("ts"))
    out = joined.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("r_event_id").alias("b_id"),
        (gap_us.cast("double") / F.lit(1000000.0)).alias("gap_seconds"),
    )
    with _stateful_shuffle(spark):
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    # drop the sentinel's own (unmatched) output row
    return spark.table(name).filter(F.col("a_id") >= 0)


@register(
    "schema_evolution_read",
    op_ids="beyond-reference schema drift handling (S-family "
    "extension): two parquet batches with DIFFERENT schemas — the "
    "second adds a column — read together with mergeSchema=true; the "
    "union-compatible frame null-fills the missing column, and the "
    "aggregate proves columns absent in old batches behave as NULL "
    "(COUNT skips them) rather than failing the read. The "
    "add-a-column-without-backfill migration every long-lived "
    "warehouse lands on",
    description="per-priority counts over two schema-divergent "
    "parquet batches merged at read time; the late-added flag column "
    "counts only rows from the new batch",
    oracle="""
        WITH unioned AS (
            SELECT o_orderpriority, o_totalprice, NULL AS priority_flag
            FROM orders
            WHERE o_orderdate < TIMESTAMP '1996-01-01'
            UNION ALL
            SELECT o_orderpriority, o_totalprice,
                   CASE WHEN o_totalprice >= 200000 THEN 1 ELSE 0 END
                       AS priority_flag
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(priority_flag) AS BIGINT) AS n_flagged_rows,
               CAST(SUM(priority_flag) AS BIGINT) AS n_high_value,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM unioned GROUP BY o_orderpriority
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    (orders,) = load(spark, sf_dir, "orders")
    out = _fresh_dir("suite_schevo_")
    old = orders.filter(F.col("o_orderdate") < "1996-01-01").select(
        "o_orderpriority", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderdate") >= "1996-01-01").select(
        "o_orderpriority",
        "o_totalprice",
        (F.col("o_totalprice") >= 200000).cast("int").alias("priority_flag"),
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "batch=old"))
    new.write.mode("overwrite").parquet(os.path.join(out, "batch=new"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "batch=old"), os.path.join(out, "batch=new")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count("priority_flag").cast("long").alias("n_flagged_rows"),
        F.sum("priority_flag").cast("long").alias("n_high_value"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# binaryFile-source ingest: the opaque-payload landing path for
# multimodal corpora. The fixtures are REAL decodable PNGs from the
# deterministic stdlib generator (multimodal.png_payload), so the
# oracle states exact literals (size, md5, IHDR dims) derived from
# the same pure function at registration time.
_BINFILE_SIZES = [(3, 2), (5, 4), (8, 6), (13, 10), (21, 16), (34, 26)]


def _binaryfile_oracle() -> str:
    from nhl_data_warehouse_spark.operators.multimodal import png_payload

    rows = ", ".join(
        f"('img_{i:03d}.png', {len(p)}, '{hashlib.md5(p).hexdigest()}',"
        f" {w}, {h})"
        for i, (w, h) in enumerate(_BINFILE_SIZES)
        for p in [png_payload(w, h)]
    )
    return f"""
        SELECT file_name,
               CAST(file_bytes AS BIGINT) AS file_bytes,
               content_md5,
               CAST(width AS BIGINT) AS width,
               CAST(height AS BIGINT) AS height
        FROM (VALUES {rows})
             AS t(file_name, file_bytes, content_md5, width, height)
    """


@register(
    "binaryfile_ingest_meta",
    op_ids="S-surface beyond-reference: spark.read.format('binaryFile') "
    "landing ingest — whole files as (path, length, content) rows, "
    "with file identity (md5 of bytes) and image dimensions parsed "
    "JVM-SIDE from the PNG IHDR header via substring/hex/conv (no "
    "Python in the loop); completes the source matrix next to "
    "CSV/JSON/parquet/ORC/XML/text-wholetext",
    description="6 deterministic PNG fixtures landed on disk, read "
    "back through the binaryFile source: file name, byte length, "
    "content md5, and IHDR width/height per file",
    oracle=_binaryfile_oracle(),
)
def binaryfile_ingest_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nhl_data_warehouse_spark.operators.multimodal import png_payload

    landing = _fresh_dir("suite_binfile_")
    for i, (w, h) in enumerate(_BINFILE_SIZES):
        with open(os.path.join(landing, f"img_{i:03d}.png"), "wb") as f:
            f.write(png_payload(w, h))
    # decoy that the glob must skip (S9 pattern-pruning semantics)
    with open(os.path.join(landing, "notes.txt"), "wb") as f:
        f.write(b"not an image")
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(landing)
    )
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("file_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
        F.expr(
            "CAST(conv(hex(substring(content, 17, 4)), 16, 10) AS BIGINT)"
        ).alias("width"),
        F.expr(
            "CAST(conv(hex(substring(content, 21, 4)), 16, 10) AS BIGINT)"
        ).alias("height"),
    )


@register(
    "corrupt_record_quarantine",
    op_ids="S6-adjacent permissive-load semantics: PERMISSIVE CSV "
    "read with columnNameOfCorruptRecord — the COPY INTO "
    "ON_ERROR=CONTINUE analog the reference's Snowflake loads imply: "
    "malformed cells parse to NULL, the raw line rides along in the "
    "corrupt column for quarantine, good rows flow on unchanged; "
    "type-width errors (bad int, bad double, wrong column count) "
    "each exercised by one deterministic fixture line",
    description="6-line CSV batch (2 clean, 4 malformed in distinct "
    "ways) loaded permissively: parsed fields, a quarantine flag, "
    "and the raw line for flagged rows",
    oracle="""
        SELECT CAST(id AS BIGINT) AS id,
               CAST(qty AS BIGINT) AS qty,
               CAST(price AS DOUBLE) AS price,
               is_quarantined,
               corrupt_raw
        FROM (VALUES
            (1, 10, 3.5, FALSE, CAST(NULL AS VARCHAR)),
            (2, NULL, 4.25, TRUE, '2,abc,4.25'),
            (3, 30, NULL, TRUE, '3,30'),
            (4, 40, 5.0, TRUE, '4,40,5.00,extra'),
            (5, 50, NULL, TRUE, '5,50,xyz'),
            (6, 60, 6.75, FALSE, NULL)
        ) AS t(id, qty, price, is_quarantined, corrupt_raw)
    """,
)
def corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's PERMISSIVE contract (verified, pinned by the oracle):
    a malformed CELL nulls only that field while the parseable
    neighbors survive, and the untouched raw line lands in the
    corrupt column; wrong column counts are also quarantined. The
    post-load ``cache()`` is required — Spark refuses to execute a
    plan whose only projection is the internal corrupt column on an
    uncached raw scan."""
    import os

    landing = _fresh_dir("suite_quarantine_")
    lines = [
        "1,10,3.50",
        "2,abc,4.25",
        "3,30",
        "4,40,5.00,extra",
        "5,50,xyz",
        "6,60,6.75",
    ]
    with open(os.path.join(landing, "batch.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    raw = (
        spark.read.schema("id INT, qty INT, price DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(landing)
    )
    raw = raw.cache()
    return raw.select(
        F.col("id").cast("long").alias("id"),
        F.col("qty").cast("long").alias("qty"),
        F.col("price").cast("double").alias("price"),
        F.col("_corrupt_record").isNotNull().alias("is_quarantined"),
        F.col("_corrupt_record").alias("corrupt_raw"),
    )
