"""Extraction layer — the reference's two ingest front-ends, network-free
and injectable (SURVEY.md §2.1 S1-S4, §7.4.6).

- S1 HTML table scrape (reference ``dags/hockeyreference_dag.py:32-57``):
  GET the season games + standings pages, parse the FIRST ``<table>``
  of each into rows, land as ``nhl_{year}_output_{seasons,teams}.csv``.
  The reference uses ``fireducks.pandas.read_html``; that needs
  lxml/bs4 (absent here), so parsing is a dependency-free stdlib
  ``html.parser`` first-table extractor with the same observable
  behavior (header row from ``<th>``, one row per ``<tr>``).
- S2 REST JSON extract (reference ``dags/nhl_api_dag.py:76-106``):
  GET an endpoint, skip landing when the ``'games'`` key is absent
  (reference :97-98), else write the pretty-printed document
  (reference :100-101 uses ``json.dump(..., indent=4)``).
- S3/S4 landing: one ``land_*`` call writes the artifact into any
  directory; at deployment the landing root is an ``s3a://``-style
  URI and Spark reads it directly — no separate transfer operator
  (SURVEY.md §2.1 S4).

Every fetcher is an injectable callable so tests (and offline runs)
never touch the network — deliberately NOT reproducing the
reference's error-handling bugs (``raise f"..."``
``hockeyreference_dag.py:55``, ``raise logger.error(...)``
``nhl_api_dag.py:106``): failures raise real exceptions.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from html.parser import HTMLParser

# reference URL shapes (hockeyreference_dag.py:29-30,33-34;
# nhl_api_dag.py:83-92) — kept for documentation/default fetchers
GAMES_URL_TMPL = "https://www.hockey-reference.com/leagues/NHL_{year}_games.html"
STANDINGS_URL_TMPL = "https://www.hockey-reference.com/leagues/NHL_{year}.html"


class _FirstTableParser(HTMLParser):
    """Extract the first ``<table>`` as a list of rows (lists of cell
    strings). Header cells (``th``) and data cells (``td``) are both
    captured, matching ``read_html``'s default header inference."""

    def __init__(self) -> None:
        super().__init__()
        self.rows: list[list[str]] = []
        self._in_table = self._table_done = False
        self._row: list[str] | None = None
        self._cell: list[str] | None = None

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._table_done:
            return
        if tag == "table" and not self._in_table:
            self._in_table = True
        elif self._in_table and tag == "tr":
            self._row = []
        elif self._in_table and tag in ("td", "th"):
            self._cell = []

    def handle_endtag(self, tag: str) -> None:
        if self._table_done:
            return
        if tag == "table" and self._in_table:
            self._in_table, self._table_done = False, True
        elif self._in_table and tag == "tr" and self._row is not None:
            self.rows.append(self._row)
            self._row = None
        elif self._in_table and tag in ("td", "th") and self._cell is not None:
            if self._row is not None:
                self._row.append("".join(self._cell).strip())
            self._cell = None

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def parse_first_html_table(html: str) -> list[list[str]]:
    """First ``<table>`` of an HTML document as rows of cell strings
    (row 0 is the header when the table has one)."""
    p = _FirstTableParser()
    p.feed(html)
    return p.rows


def _default_fetch(url: str) -> str:
    import urllib.request

    with urllib.request.urlopen(url, timeout=30) as resp:  # pragma: no cover
        return resp.read().decode("utf-8", errors="replace")


_THOUSANDS_RE = re.compile(r"\d{1,3}(?:,\d{3})+(?:\.\d+)?")


def _normalize_cell(v: str) -> str:
    """Strip thousands separators from numeric cells — ``read_html``'s
    default ``thousands=','`` behavior, which the reference relies on
    (attendance renders as "18,532" on the page but loads as a
    NUMBER: ``copy_into_nhl_stats_seasons.sql:13``)."""
    if _THOUSANDS_RE.fullmatch(v):
        return v.replace(",", "")
    return v


def _csv_cell(v: str) -> str:
    if any(ch in v for ch in ',"\n'):
        return '"' + v.replace('"', '""') + '"'
    return v


def scrape_season_tables(
    year: int,
    landing_dir: str,
    fetch: Callable[[str], str] = _default_fetch,
) -> dict[str, str]:
    """S1: scrape the games + standings pages for ``year`` and land
    them as CSV, named exactly like the reference
    (``hockeyreference_dag.py:44,48``). Returns dataset -> file path.
    """
    out: dict[str, str] = {}
    for dataset, tmpl in (("seasons", GAMES_URL_TMPL), ("teams", STANDINGS_URL_TMPL)):
        rows = parse_first_html_table(fetch(tmpl.format(year=year)))
        if not rows:
            raise ValueError(f"no <table> found on {dataset} page for {year}")
        sub = "seasons" if dataset == "seasons" else "teams"
        os.makedirs(os.path.join(landing_dir, "csv", sub), exist_ok=True)
        path = os.path.join(
            landing_dir, "csv", sub, f"nhl_{year}_output_{dataset}.csv"
        )
        with open(path, "w", encoding="utf-8") as f:
            for row in rows:
                f.write(",".join(_csv_cell(_normalize_cell(c)) for c in row) + "\n")
        out[dataset] = path
    return out


# reference endpoint -> landing prefix map (nhl_api_dag.py:199-226)
API_ENDPOINTS = {
    "seasons": "json/seasons",
    "teams": "json/teams",
    "regular_season": "json/regular_season",
    "post_season": "json/post_season",
}


def extract_api_endpoint(
    endpoint: str,
    landing_dir: str,
    fetch_json: Callable[[str], dict],
    date_tag: str,
) -> str | None:
    """S2: fetch one API endpoint document and land it pretty-printed.

    The schedule endpoints carry the reference's empty-payload guard
    (``nhl_api_dag.py:97-98`` skips writing when ``'games'`` is
    absent). Returns the landed path, or None when the guard skipped
    the document.
    """
    if endpoint not in API_ENDPOINTS:
        raise ValueError(f"unknown endpoint {endpoint!r}")
    payload = fetch_json(endpoint)
    if endpoint in ("regular_season", "post_season") and "games" not in payload:
        return None
    prefix = os.path.join(landing_dir, API_ENDPOINTS[endpoint])
    os.makedirs(prefix, exist_ok=True)
    path = os.path.join(prefix, f"{endpoint}_{date_tag}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=4)
    return path
