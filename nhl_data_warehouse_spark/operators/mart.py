"""Mart layer — ``seasonal_metrics_agg`` and real seasonal rollups.

The reference mart (``marts/seasonal_metrics_agg.sql:20-74``) is a
view: regular-season games joined to per-team season statistics by
visitor team, UNION (distinct) the same join by home team — one output
row per (game, participating team), 21 columns. Its literal SQL
references models that don't carry those columns (SURVEY.md §1.5 ⚠);
this implements the unambiguous *intended* semantics:

    regular_season ⋈ team_statistics ON visitor = team
    UNION
    regular_season ⋈ team_statistics ON home = team

Scale notes (100TB stance): team_statistics is a bounded dimension
(~32 rows/season) — both joins broadcast, so the only shuffle in the
whole mart is the UNION's distinct. For reference parity the distinct
is over the full 21-column tuple; `dropDuplicates` on the natural key
is exposed as an option for wide-row scale (SURVEY.md §7.4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import pin

GAME_COLS = [
    "game_date",
    "game_time",
    "visitor",
    "visitor_goals",
    "home",
    "home_goals",
    "guests_in_attendance",
    "length_of_game",
]

STAT_COLS = [
    "gp",
    "overall_wins",
    "overall_losses",
    "overtime_losses",
    "total_points",
    "points_percentage",
    "goals_for",
    "goals_against",
    "hockey_reference_srs",
    "strength_of_schedule",
    "points_percentage_in_regulation",
    "wins_in_regulation",
    "regulation_record",
]


def seasonal_metrics_agg(
    regular_season: DataFrame,
    team_statistics: DataFrame,
) -> DataFrame:
    """visitor-join ∪ home-join denormalized mart (J1, J2, U1).

    Reproduces SQL ``UNION`` exactly: distinct over the full tuple
    (reference ``seasonal_metrics_agg.sql:47``).
    """
    stats = F.broadcast(team_statistics.select("team", *STAT_COLS))
    games = regular_season.select(*GAME_COLS)

    visitor_branch = games.join(
        stats, on=games["visitor"] == stats["team"], how="inner"
    ).select(*GAME_COLS, *STAT_COLS)
    home_branch = games.join(
        stats, on=games["home"] == stats["team"], how="inner"
    ).select(*GAME_COLS, *STAT_COLS)

    return visitor_branch.unionByName(home_branch).distinct()


def seasonal_team_rollup(regular_season: DataFrame) -> DataFrame:
    """The aggregate the mart's *name* promises but never computes
    (A2, SURVEY.md §2.5): per-team per-season metrics from game
    results — goals for/against, wins, home/away splits.

    Built as a map-side-light two-branch union then one hash
    aggregation; partial aggregation (map-side combine) keeps the
    shuffle tiny at any scale.
    """
    season = F.year("game_date").alias("season_year")
    as_home = regular_season.select(
        season,
        F.col("home").alias("team"),
        F.col("home_goals").alias("goals_for"),
        F.col("visitor_goals").alias("goals_against"),
        (F.col("home_goals") > F.col("visitor_goals")).cast("long").alias("win"),
        F.lit(1).alias("is_home"),
    )
    as_visitor = regular_season.select(
        season,
        F.col("visitor").alias("team"),
        F.col("visitor_goals").alias("goals_for"),
        F.col("home_goals").alias("goals_against"),
        (F.col("visitor_goals") > F.col("home_goals")).cast("long").alias("win"),
        F.lit(0).alias("is_home"),
    )
    return (
        as_home.unionByName(as_visitor)
        .groupBy("season_year", "team")
        .agg(
            F.count(F.lit(1)).alias("games_played"),
            F.sum("goals_for").alias("goals_for"),
            F.sum("goals_against").alias("goals_against"),
            F.sum("win").alias("wins"),
            F.sum(F.when(F.col("is_home") == 1, F.col("win"))).alias("home_wins"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation: recency (days since the customer's
    last order, measured from the corpus's latest order date),
    frequency (order count) and monetary (exact cents sum), each
    split into equal-population quintiles, plus the combined
    ``rfm_code`` — the classic mart segmentation feeding campaign
    targeting and churn models. Tile 1 = most recent / least
    frequent / lowest spend (plain ascending NTILE; invert downstream
    if a 5-is-best score is wanted).

    Scale design: one keyed per-customer aggregate (map-side
    partials; amounts summed as exact integer cents so ranking ties
    are engine-stable), the corpus max date on a 1-row broadcast, and
    ONE ``layout.grouped_ntile`` pass ranking all three metrics with
    metric-partitioned windows — the scale-safe two-level-rank NTILE
    with no single-partition sort and no per-metric replanning.
    """
    from nhl_data_warehouse_spark.operators.layout import grouped_ntile

    per = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("_cents"),
    )
    cmax = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("_cmax"))
    per = (
        per.crossJoin(F.broadcast(cmax))
        .withColumn("recency_days", F.datediff("_cmax", "_last").cast("long"))
        .drop("_last", "_cmax")
    )
    # per feeds the melt AND the final join — persist; released by
    # the caller's cache_scope or session.release_cached
    per = pin(per)
    tiles = grouped_ntile(
        per,
        id_col="o_custkey",
        metric_cols=["recency_days", "frequency", "_cents"],
        n_tiles=n_tiles,
    ).select(
        "o_custkey",
        F.col("recency_days_tile").alias("r_tile"),
        F.col("frequency_tile").alias("f_tile"),
        F.col("_cents_tile").alias("m_tile"),
    )
    per = per.join(tiles, on="o_custkey")
    return per.select(
        "o_custkey",
        "recency_days",
        "frequency",
        (F.col("_cents").cast("double") / 100.0).alias("monetary"),
        F.col("r_tile").cast("int").alias("r_tile"),
        F.col("f_tile").cast("int").alias("f_tile"),
        F.col("m_tile").cast("int").alias("m_tile"),
        (F.col("r_tile") * 100 + F.col("f_tile") * 10 + F.col("m_tile"))
        .cast("int")
        .alias("rfm_code"),
    )
