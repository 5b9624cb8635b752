"""Runtime data-quality gates (SURVEY.md §2.5 A1).

The reference's single runtime check is a null-count on
``RAW.TEAM_STATS.TEAM`` that fails the pipeline when non-zero
(``hockeyreference_dag.py:141-149``). Generalized here to arbitrary
column checks computed in ONE aggregation pass (one job, no per-check
scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class QualityCheckError(AssertionError):
    """A data-quality gate failed; carries the offending counts."""


def null_check(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """Count NULLs per column in a single pass; raise if any count
    is not 0 (reference semantics: the
    SQLColumnCheckOperator null_check with equal_to=0).
    """
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns
    ]
    row = df.agg(*aggs).collect()[0]
    counts = {c: (row[c] or 0) for c in columns}
    bad = {c: n for c, n in counts.items() if n != 0}
    if bad:
        raise QualityCheckError(f"null_check failed (expected 0): {bad}")
    return counts


def row_count_check(df: DataFrame, at_least: int = 1) -> int:
    """Fail if the frame has fewer than ``at_least`` rows."""
    n = df.count()
    if n < at_least:
        raise QualityCheckError(f"row_count_check failed: {n} < {at_least}")
    return n


def unique_check(df: DataFrame, columns: list[str]) -> int:
    """Fail if any (columns) combination appears more than once — the
    dbt ``unique`` test the reference declared dbt_utils for but never
    wrote (SURVEY.md §5.4). One aggregation; returns duplicate-group
    count (0 on success). NULL keys group together, matching dbt."""
    dupes = (
        df.groupBy(*columns)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    # limit(5): enough to report, never collects a huge violation set
    sample = dupes.limit(5).collect()
    if sample:
        n_groups = dupes.count()
        raise QualityCheckError(
            f"unique_check failed on {columns}: {n_groups} duplicated keys, "
            f"e.g. {[tuple(r[c] for c in columns) for r in sample]}"
        )
    return 0


def accepted_values_check(
    df: DataFrame, column: str, values: list
) -> int:
    """Fail if ``column`` holds anything outside ``values`` (NULL is a
    violation — pair with null_check when NULLs are expected)."""
    bad = df.filter(~F.col(column).isin(values) | F.col(column).isNull())
    sample = [r[column] for r in bad.select(column).distinct().limit(5).collect()]
    if sample:
        raise QualityCheckError(
            f"accepted_values_check failed on {column}: unexpected {sample}"
        )
    return 0


def freshness_check(
    df: DataFrame, ts_col: str, max_age: str, now=None
) -> None:
    """Fail when the newest ``ts_col`` is older than ``max_age``
    (an INTERVAL string like '2 days') — the load-recency gate a
    scheduled warehouse needs. ``now`` defaults to current_timestamp;
    pass a literal for deterministic tests."""
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    row = df.agg(
        F.max(ts_col).alias("newest"),
        F.max(now_expr - F.expr(f"INTERVAL {max_age}")).alias("threshold"),
    ).collect()[0]
    if row.newest is None or row.newest < row.threshold:
        raise QualityCheckError(
            f"freshness_check failed: newest {ts_col}={row.newest} is older "
            f"than {max_age} before {row.threshold}"
        )


def quality_report(
    df: DataFrame,
    null_cols: list[str] | None = None,
    unique_cols: list[str] | None = None,
    accepted: tuple[str, list] | None = None,
    fresh: tuple[str, str] | None = None,
) -> DataFrame:
    """The no-collect twin of the raising gates: every requested check
    computed in ONE aggregation pass, returned as a report DataFrame
    (check_name, violations, passed) instead of an exception — the
    shape a quality dashboard or driver-side policy engine consumes.
    At any scale this is a single scan with map-side partial
    aggregation (the distinct-count check adds only the standard
    second phase of COUNT(DISTINCT)); the unpivot runs over the one
    aggregate row.

    ``unique_cols`` counts surplus rows as COUNT(*) - COUNT(DISTINCT
    key) (exact when the key columns are non-null — pair with a
    null check otherwise); ``fresh`` takes (ts_col, iso_threshold)
    with an explicit literal threshold so the report is deterministic.
    """
    aggs, names = [], []
    for c in null_cols or []:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"))
        names.append(f"null_{c}")
    if unique_cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in unique_cols]))
            .cast("long")
            .alias("duplicate_rows")
        )
        names.append("duplicate_rows")
    if accepted:
        col, values = accepted
        bad = ~F.col(col).isin(list(values)) | F.col(col).isNull()
        aggs.append(F.sum(bad.cast("long")).alias(f"unaccepted_{col}"))
        names.append(f"unaccepted_{col}")
    if fresh:
        ts_col, threshold = fresh
        aggs.append(
            (F.max(F.col(ts_col)) < F.lit(threshold).cast("timestamp"))
            .cast("long")
            .alias(f"stale_{ts_col}")
        )
        names.append(f"stale_{ts_col}")
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{n}', {n}" for n in names)
    return one.select(
        F.expr(f"stack({len(names)}, {stack_args}) AS (check_name, violations)")
    ).select(
        "check_name",
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def observed_write(
    df: DataFrame,
    action,
    null_cols: list[str] | None = None,
):
    """Quality metrics that ride the MAIN action via ``df.observe``:
    row count + per-column null counts are accumulated DURING whatever
    ``action`` executes (a write, a count, a collect), so the gate
    costs ZERO extra scans — at 100 TB the difference between this and
    a separate ``null_check`` pass is a full re-read of the table.

    ``action`` receives the observed DataFrame and must trigger
    execution (e.g. ``lambda d: d.write.parquet(path)``). Returns
    ``(action_result, metrics_dict)``; gate on the metrics afterwards
    with ``QualityCheckError`` as usual. The same Observation API
    attaches to streaming queries per micro-batch (metrics surface in
    ``StreamingQueryListener`` events).
    """
    from pyspark.sql import Observation

    null_cols = null_cols or []
    obs = Observation("quality")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"n_null_{c}")
        for c in null_cols
    ]
    observed = df.observe(obs, *aggs)
    result = action(observed)
    return result, obs.get


def table_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent content fingerprint of a relation — the
    reconciliation gate for copies, migrations, and engine swaps
    ("did the rows survive the move bit-for-bit?"): checksum equality
    plus row-count equality certifies content equality up to hash
    collision, with NO sort and NO row shuffle. This engine's own
    correctness harness is exactly this scenario (Spark vs DuckDB on
    the same parquet), so the fingerprint uses md5 — bit-identical in
    any engine — never an engine-private hash.

    Per row: the named columns are cast to string (callers must pick
    cross-engine-stable forms — integer cents for doubles, ISO dates;
    the suite convention), NULL becomes an explicit sentinel so
    ("a", NULL) and (NULL, "a") cannot collide through concat_ws\'s
    null-dropping, fields join on the unit separator \\x1f, and the
    first 12 hex of md5 (48 bits) become the row term. The checksum
    is the SUM of row terms — addition commutes, so the result is
    partitioning- and order-independent, and the aggregate is ONE
    map-side-combined pass. The sum accumulates in DECIMAL(38,0)
    (load-bearing: a BIGINT sum of 48-bit terms wraps past ~2^15
    rows) and is emitted modulo the Mersenne prime 2^61-1 as BIGINT
    (the driver-safe final type).

    Output one row: (n_rows, checksum).
    """
    sep = "\x1f"
    sent = "\x00"
    canon = F.concat_ws(
        sep,
        *[F.coalesce(F.col(c).cast("string"), F.lit(sent)) for c in cols],
    )
    term = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(term.cast("decimal(38,0)")) % F.lit(2305843009213693951))
        .cast("long")
        .alias("checksum"),
    )
