"""Seeded generator of an NHL landing zone, with the counts a correct
ELT cycle over it must produce.

Layout (the reference's S3 prefixes, as in the test fixtures):

- ``csv/seasons/batch=initial/`` and ``csv/seasons/batch=new/``: one
  games-scrape CSV per season, with quoted numbers, padded times, OT/SO
  markers and unplayed games whose goals are empty. The ``new`` seasons
  are the incremental batch; a load of ``csv/seasons/`` sees both.
- ``csv/teams/``: standings scrapes with interleaved division-header
  rows (one of them lower-case).
- ``json/regular_season``: schedule API documents, one with an empty
  ``games`` payload.

Games are unique per (date, team) by construction and every standings
row carries a distinct ``goals_for``, so the mart's distinct never
collapses two rows and its expected row count is exact.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

MARKETS = [
    ("Anaheim", "Ducks", "ANA"), ("Boston", "Bruins", "BOS"), ("Buffalo", "Sabres", "BUF"),
    ("Calgary", "Flames", "CGY"), ("Carolina", "Hurricanes", "CAR"), ("Chicago", "Blackhawks", "CHI"),
    ("Colorado", "Avalanche", "COL"), ("Columbus", "Blue Jackets", "CBJ"), ("Dallas", "Stars", "DAL"),
    ("Detroit", "Red Wings", "DET"), ("Edmonton", "Oilers", "EDM"), ("Florida", "Panthers", "FLA"),
    ("Los Angeles", "Kings", "LAK"), ("Minnesota", "Wild", "MIN"), ("Montreal", "Canadiens", "MTL"),
    ("Nashville", "Predators", "NSH"), ("New Jersey", "Devils", "NJD"), ("New York", "Islanders", "NYI"),
    ("Ottawa", "Senators", "OTT"), ("Philadelphia", "Flyers", "PHI"), ("Pittsburgh", "Penguins", "PIT"),
    ("San Jose", "Sharks", "SJS"), ("Seattle", "Kraken", "SEA"), ("St. Louis", "Blues", "STL"),
    ("Tampa Bay", "Lightning", "TBL"), ("Toronto", "Maple Leafs", "TOR"), ("Utah", "Mammoth", "UTA"),
    ("Vancouver", "Canucks", "VAN"), ("Vegas", "Golden Knights", "VGK"), ("Washington", "Capitals", "WSH"),
    ("Winnipeg", "Jets", "WPG"), ("Arizona", "Coyotes", "ARI"),
]
# teams that play games but never appear in a standings scrape: their
# side of the mart's inner joins drops
GUESTS = [("Quebec", "Nordiques", "QUE"), ("Hartford", "Whalers", "HFD")]
DIVISIONS = ["Atlantic Division", "Metropolitan Division", "central division", "Pacific Division"]
LEAGUE = {"id": "fd560107", "alias": "NHL", "name": "National Hockey League"}
GAMES_HEADER = "game_date,game_time,visitor,visitor_goals,home,home_goals,ot_so,attendance,length_of_game"
STATS_HEADER = (
    "team,gp,overall_wins,overall_losses,overtime_losses,total_points,points_percentage,"
    "goals_for,goals_against,hockey_reference_srs,strength_of_schedule,"
    "points_percentage_in_regulation,wins_in_regulation,regulation_record"
)


@dataclass
class Expected:
    """What a correct ELT cycle over the landing zone yields."""

    initial_games: int = 0  # rows in the initial season files
    new_games: int = 0  # rows in the incremental batch
    team_stats: int = 0  # standings rows after the division rows drop
    mart_rows: int = 0  # seasonal_metrics_agg over the initial games
    schedule_docs: int = 0  # schedule documents with a games payload
    # data rows (CSV) or documents (JSON) per landing file name
    rows_per_file: dict[str, int] = field(default_factory=dict)


def _team_names() -> list[str]:
    return [f"{m} {n}" for m, n, _ in MARKETS]


def _season_games(rng: np.random.Generator, year: int, n_days: int) -> list[list[str]]:
    """One row per game; a team plays at most once a day."""
    teams = _team_names() + [f"{m} {n}" for m, n, _ in GUESTS]
    rows = []
    start = np.datetime64(f"{year}-10-08")
    for d in range(n_days):
        day = str(start + d)
        order = rng.permutation(len(teams))
        n_games = int(rng.integers(4, len(teams) // 2 + 1))
        for g in range(n_games):
            visitor, home = teams[order[2 * g]], teams[order[2 * g + 1]]
            hour = int(rng.integers(17, 22))
            game_time = f"{hour}:{int(rng.choice([0, 30])):02d}"
            if rng.random() < 0.1:
                game_time = f" {game_time} "
            if rng.random() < 0.03:  # scheduled, not yet played
                rows.append([day, game_time, visitor, "", home, "", "", "0", ""])
                continue
            vg, hg = int(rng.integers(0, 8)), int(rng.integers(0, 8))
            ot = str(rng.choice(["", "", "", "OT", "SO"]))
            vg_s = f'"{vg}"' if rng.random() < 0.2 else str(vg)
            attendance = str(int(rng.integers(9000, 21000)))
            if rng.random() < 0.2:
                attendance = f'"{attendance}"'
            length = f"{int(rng.integers(2, 4))}:{int(rng.integers(0, 60)):02d}"
            rows.append([day, game_time, visitor, vg_s, home, str(hg), ot, attendance, length])
    return rows


def _standings(rng: np.random.Generator, goals_for: list[int]) -> list[str]:
    """Standings CSV lines: 32 teams with division headers interleaved."""
    lines = [STATS_HEADER]
    names = _team_names()
    for i, name in enumerate(names):
        if i % 8 == 0:
            div = DIVISIONS[i // 8]
            lines.append(",".join([div] * 14))
        wins = int(rng.integers(20, 60))
        losses = int(rng.integers(15, 82 - wins + 1)) if wins < 67 else 15
        otl = 82 - wins - losses
        pts = 2 * wins + otl
        gf = goals_for.pop()
        ga = int(rng.integers(180, 300))
        reg_w = int(rng.integers(wins // 2, wins + 1))
        lines.append(
            ",".join(
                [
                    name, "82", str(wins), str(losses), str(otl), str(pts),
                    f"{pts / 164:.3f}".lstrip("0"), str(gf), str(ga),
                    f"{rng.normal(0, 0.6):.2f}", f"{rng.normal(0, 0.1):.2f}",
                    f"{reg_w / 82:.3f}".lstrip("0"), str(reg_w),
                    f"{reg_w}-{losses}-{82 - reg_w - losses}",
                ]
            )
        )
    return lines


def _schedule_doc(rng: np.random.Generator, year: int, n_games: int) -> dict:
    doc = {"league": LEAGUE, "season": {"id": f"s-{year}-REG", "year": year, "type": "REG"}}
    if n_games:
        games = []
        for g in range(n_games):
            h, a = rng.choice(len(MARKETS), 2, replace=False)
            games.append(
                {
                    "id": f"g-{year}-{g:04d}",
                    "status": "closed",
                    "scheduled": f"{year}-10-{int(rng.integers(8, 31)):02d}T00:00:00Z",
                    "home": {"id": f"t-{MARKETS[h][2].lower()}", "name": MARKETS[h][1], "alias": MARKETS[h][2]},
                    "away": {"id": f"t-{MARKETS[a][2].lower()}", "name": MARKETS[a][1], "alias": MARKETS[a][2]},
                    "home_points": int(rng.integers(0, 8)),
                    "away_points": int(rng.integers(0, 8)),
                    "venue": {"name": f"{MARKETS[h][0]} Arena", "city": MARKETS[h][0]},
                }
            )
        doc["games"] = games
    return doc


def write_landing(
    root: str,
    seed: int,
    initial_seasons: int = 3,
    new_seasons: int = 1,
    days_per_season: int = 90,
    standings_seasons: int = 2,
) -> Expected:
    """Write the landing zone under ``root``; return the expected counts."""
    rng = np.random.default_rng(seed)
    exp = Expected()
    dirs = {
        k: os.path.join(root, *k.split("/"))
        for k in ("csv/seasons/batch=initial", "csv/seasons/batch=new", "csv/teams",
                  "json/regular_season")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)

    def put(key: str, name: str, text: str, rows: int) -> None:
        with open(os.path.join(dirs[key], name), "w") as f:
            f.write(text)
        exp.rows_per_file[name] = rows

    first_year = 2000
    last_initial = first_year + initial_seasons - 1
    standings_years = list(range(last_initial - standings_seasons + 1, last_initial + 1))
    # distinct goals_for per standings row keeps the mart's tuples unique
    gf_pool = [int(x) for x in rng.permutation(np.arange(150, 400))[: 32 * standings_seasons]]
    stats_per_team: dict[str, int] = {}
    for year in standings_years:
        lines = _standings(rng, gf_pool)
        put("csv/teams", f"nhl_{year}_output_teams.csv", "\n".join(lines) + "\n", len(lines) - 1)
        for line in lines[1:]:
            team = line.split(",", 1)[0]
            if "DIVISION" not in team.upper():
                stats_per_team[team] = stats_per_team.get(team, 0) + 1
                exp.team_stats += 1

    for i in range(initial_seasons + new_seasons):
        year = first_year + i
        rows = _season_games(rng, year, days_per_season)
        text = GAMES_HEADER + "\n" + "\n".join(",".join(r) for r in rows) + "\n"
        if year <= last_initial:
            put("csv/seasons/batch=initial", f"nhl_{year}_output_seasons.csv", text, len(rows))
            exp.initial_games += len(rows)
            for r in rows:
                exp.mart_rows += stats_per_team.get(r[2], 0) + stats_per_team.get(r[4], 0)
        else:
            put("csv/seasons/batch=new", f"nhl_{year}_output_seasons.csv", text, len(rows))
            exp.new_games += len(rows)

    for year in standings_years:
        doc = _schedule_doc(rng, year, 60)
        put("json/regular_season", f"reg_{year}.json", json.dumps(doc, indent=2), 1)
        exp.schedule_docs += 1
    # the extractor's empty-payload case: the 'games' guard must drop it
    empty = _schedule_doc(rng, last_initial + 1, 0)
    put("json/regular_season", f"reg_{last_initial + 1}_empty.json", json.dumps(empty, indent=2), 1)
    return exp
