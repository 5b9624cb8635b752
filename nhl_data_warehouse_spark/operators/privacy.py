"""Privacy / governance operators: differentially-private count
release (Laplace mechanism) and k-anonymity risk auditing.

The reference warehouse publishes aggregate marts with no disclosure
control; these are the two standard governance passes a warehouse
adds before sharing aggregates — a DP release for counts and an
equivalence-class audit for row-level quasi-identifier risk. Both are
pure keyed aggregates (grain = released groups / quasi-identifier
classes, bounded by domain cardinality, never rows), so they hold at
any corpus scale.

Cross-engine determinism: the "noise" is a SEEDED hash draw — md5 of
the salted group key supplies 32 uniform bits, u = (k + 0.5) / 2^32
(never exactly 0 or 1, and exact in binary), and the Laplace
inverse-CDF is one shared ln expression. A production DP release
would use a real RNG and drop the true counts; the seeded draw is
the reproducible test-harness form (same stance as the hash-Bernoulli
sampler in operators/sampling.py) and is stated in the output
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def laplace_noise_expr(b_repr: str) -> str:
    """Shared SQL text of the Laplace(b) inverse-CDF draw over the
    32-bit integer column ``kk``: u = (kk + 0.5)/2^32 in (0, 1), then
    F^-1(u) = b*ln(2u) below the median, -b*ln(2(1-u)) above — one
    ln per row, ROUNDED to 6dp (ln differs by 1 ulp between the
    JVM's and libc's libm for some inputs — measured on this very
    draw — and the km_survival 6dp recipe is the sanctioned fix:
    |noise| <= b*23 ln-range keeps round(x*1e6) far inside 2^53
    where both engines' ROUND agrees). ``b_repr`` must be the repr()
    of the scale (embedded via a string CAST so it parses as DOUBLE,
    not DECIMAL, on both engines)."""
    b = f"CAST('{b_repr}' AS DOUBLE)"
    u = "((CAST(kk AS DOUBLE) + 0.5) / 4294967296.0)"
    # + 0.0 folds a ROUND-produced -0.0 to 0.0 on both engines (the
    # negative-zero repr convention, verify notes round 2)
    return (
        f"(ROUND(CASE WHEN {u} < 0.5 THEN {b} * ln(2.0 * {u}) "
        f"ELSE -{b} * ln(2.0 * (1.0 - {u})) END, 6) + 0.0)"
    )


def dp_laplace_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
) -> DataFrame:
    """Laplace-mechanism count release (Dwork et al. 2006): per-group
    counts plus Laplace(1/epsilon) noise — counting queries have
    sensitivity 1, so the released noisy count is epsilon-DP under a
    real random draw.

    The draw here is SEEDED (md5 of salt + group key -> 32 uniform
    bits -> inverse CDF) so the release is reproducible and
    oracle-checkable; the true count ships alongside as this is the
    calibration/audit form (a production release drops ``true_count``
    and uses fresh randomness — the noise DISTRIBUTION is what the
    mechanism guarantees, and the audit form exists to validate scale
    and utility, not to be published). Output per group: the group
    key, true_count, noise, noisy_count, epsilon.

    Scale shape: one map-side-combined keyed aggregate at the release
    grain (bounded by the released domain, not rows); the noise is a
    pure per-row expression over that grain. NULL group values
    participate as their own released class; both engines' concat_ws
    SKIPS null elements, so their draws coincide with the
    corresponding shorter key (documented, harmless — the draw only
    needs determinism, not injectivity). Key columns must stringify
    format-stably across engines: ints/strings are safe, raw
    timestamps/doubles are NOT (extract the int field first).
    """
    b_repr = repr(1.0 / epsilon)
    eps_repr = repr(float(epsilon))
    per = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    keyed = per.withColumn(
        "kk",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit("dp-v1"),
                        *[F.col(c).cast("string") for c in group_cols],
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    noise = F.expr(laplace_noise_expr(b_repr))
    return keyed.select(
        *group_cols,
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).alias("noisy_count"),
        F.expr(f"CAST('{eps_repr}' AS DOUBLE)").alias("epsilon"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    ks: tuple[int, ...] = (2, 5, 10, 25),
) -> DataFrame:
    """k-anonymity risk report (Sweeney 2002) over a declared
    quasi-identifier set: rows whose equivalence class (exact
    quasi-identifier combination) holds fewer than k members are
    re-identifiable at confidence 1/class-size; the report states,
    per audit threshold k, how many classes and rows fall below it.

    All-integer: class sizes are one keyed aggregate; each threshold
    row is a conditional sum over the class-grain relation; the only
    double is the final at-risk row fraction. Output one row per k:
    (k, n_classes, n_rows, n_classes_below, n_rows_below,
    frac_rows_below).

    Scale shape: rows collapse map-side to the equivalence-class
    grain (bounded by the quasi-identifier domain); the small
    threshold list cross-joins THAT grain, never rows. NULL
    quasi-values form their own class (groupBy null-safe on both
    engines).
    """
    eq = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    kdf = eq.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(ks)], "k int"
    )
    return (
        eq.crossJoin(F.broadcast(kdf))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_classes_below"),
            F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0))
            .cast("long")
            .alias("n_rows_below"),
        )
        .select(
            "k",
            "n_classes",
            "n_rows",
            "n_classes_below",
            "n_rows_below",
            F.expr(
                "CAST(n_rows_below AS DOUBLE) / CAST(n_rows AS DOUBLE)"
            ).alias("frac_rows_below"),
        )
    )
