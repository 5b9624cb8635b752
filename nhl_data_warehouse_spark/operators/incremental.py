"""Incremental aggregate maintenance: algebraic partial states.

The 100 TB pattern behind "don't rescan history every night": keep
aggregates as ALGEBRAIC STATES (count / sum / sumsq / min / max per
group) instead of finished numbers. A new day's delta aggregates to
the same state shape, and merging states is itself a groupBy — counts
and sums add, mins/maxes fold — so the nightly cost is O(delta), not
O(history). Finished metrics (avg, variance) derive from the merged
state at read time with one double division each.

Everything is decimal-exact until the final derivations, so an
aggregate maintained through any number of incremental merges is
bit-identical to a from-scratch recompute — the suite query
``incremental_agg_merge`` proves it against a direct-aggregation
DuckDB oracle. (Median/percentiles are NOT algebraic — for those keep
a mergeable sketch, see ``approx_value_percentiles``.)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(28,2)"
DEC_SQ = "decimal(38,4)"
# per-row casts stay narrow so the decimal product (p1+p2 digits)
# fits every engine's 38-digit ceiling; sums re-widen afterwards
_ROW = "decimal(12,2)"
_ROW_SQ = "decimal(24,4)"


def algebraic_state(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """Aggregate raw rows to the mergeable state (n, sum, sumsq, min,
    max) per key group. Map-side combined; shuffle traffic is group
    cardinality, not row count."""
    v = F.col(value_col)
    vd = v.cast(_ROW)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).cast(DEC).alias("sum_v"),
        F.sum((vd * vd).cast(_ROW_SQ)).cast(DEC_SQ).alias("sumsq_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Merge any number of state tables (same schema): counts/sums
    add, extrema fold. This IS the incremental nightly step — and it
    is associative and commutative, so states can merge in any order
    or tree shape (per-day, per-region, per-shard)."""
    keys = [c for c in states[0].columns if c not in
            ("n", "sum_v", "sumsq_v", "min_v", "max_v")]
    unioned = reduce(lambda a, b: a.unionByName(b), states)
    return unioned.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").cast(DEC).alias("sum_v"),
        F.sum("sumsq_v").cast(DEC_SQ).alias("sumsq_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finish(state: DataFrame) -> DataFrame:
    """Derive read-time metrics from a state: avg (one double
    division) and population variance via the moment identity
    E[X^2] - E[X]^2 (each term one division, per suite determinism
    rules)."""
    n = F.col("n").cast("double")
    mean = F.col("sum_v").cast("double") / n
    ex2 = F.col("sumsq_v").cast("double") / n
    return state.select(
        *[c for c in state.columns],
        mean.alias("avg_v"),
        (ex2 - mean * mean).alias("var_v"),
    )


def join_view_delta(
    base_facts: DataFrame,
    delta_facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    group_col: str,
    value_col,
):
    """Insert-only incremental maintenance of a JOIN view's aggregate:
    V = SELECT g, SUM(v) FROM facts JOIN dim GROUP BY g, maintained as
    merge(agg(base ⋈ dim), agg(DELTA ⋈ dim)) — only the delta pays
    the join at refresh time, the O(delta) nightly pattern for
    join-bearing marts (``algebraic_state``/``merge_states`` cover
    the join-free aggregate half; this is the delta-propagation rule
    for joins: d(F ⋈ D) = dF ⋈ D when the dimension side is static).
    Exactly equal to the from-scratch recompute by distributivity of
    join over union and of SUM over disjoint parts — which is what
    the oracle checks (it recomputes directly).

    Scale shape: the base side's aggregate is assumed materialized in
    practice (here recomputed to keep the query self-contained); the
    delta join is delta-sized and broadcasts the dimension when
    small; the merge is a group-keyed SUM over two bounded aggregate
    relations. Decimal-exact sums; one cast at the end.
    """
    from pyspark.sql import functions as F

    def agg_side(facts):
        return (
            facts.join(dim, on=facts[fact_key] == dim[dim_key])
            .groupBy(group_col)
            .agg(F.sum(value_col).alias("_s"))
        )

    merged = (
        agg_side(base_facts)
        .unionByName(agg_side(delta_facts))
        .groupBy(group_col)
        .agg(F.sum("_s").alias("_t"))
    )
    return merged.select(group_col, F.col("_t").cast("double").alias("revenue"))
