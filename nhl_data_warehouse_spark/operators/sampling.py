"""Deterministic sampling & corpus-mix operators for training-data
pipelines.

A 100TB corpus pipeline samples constantly — held-out splits, ablation
subsets, per-domain caps, language rebalancing — and at scale the only
sane sampling primitive is a **content-addressed hash threshold**:
``keep iff md5(salt || key) < threshold``. Unlike ``rand()`` it is

- reproducible across runs, engines, and partitionings (no RNG state),
- stable under data growth (a doc's fate never changes when its
  neighbors change — critical for incremental corpus builds),
- embarrassingly parallel (a narrow per-row filter, no shuffle), and
- mergeable across salts (disjoint samples via different salts).

The threshold is a hex-string prefix compare: rate r maps to the
8-hex-digit string for floor(r * 16^8), and a row survives iff the
first 8 hex chars of its md5 sort below it. Lexicographic order on
lowercase hex equals numeric order, so every operator here is exact,
portable SQL — the DuckDB oracles mirror it character for character.

No reference analog (the reference never samples); this family is a
beyond-reference extension per the engine charter (SURVEY.md §7.2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 8
_HEX_SPACE = 16**_HEX_DIGITS


def hash_bucket(key_cols: list[str], salt: str = "") -> F.Column:
    """First 8 hex chars of md5(salt|key...): a uniform draw in
    [0, 16^8) addressed by row content, not by RNG."""
    parts = [F.lit(salt), *[F.col(c).cast("string") for c in key_cols]]
    return F.substring(F.md5(F.concat_ws("|", *parts)), 1, _HEX_DIGITS)


def rate_threshold(rate: float) -> str:
    """The hex string h such that P[hash_bucket < h] == rate (to 1/16^8)."""
    assert 0.0 <= rate <= 1.0
    return format(min(int(rate * _HEX_SPACE), _HEX_SPACE - 1), f"0{_HEX_DIGITS}x")


def hash_sample(df: DataFrame, rate: float, salt: str = "") -> DataFrame:
    """Deterministic Bernoulli(rate) sample keyed on row content.
    Narrow per-row filter — no shuffle, no RNG, pushes down to the scan
    when the key is a stored column."""
    if rate >= 1.0:
        return df
    return df.filter(hash_bucket(["doc_id"], salt) < rate_threshold(rate))


def hash_split(
    df: DataFrame,
    key_cols: list[str],
    splits: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. train/val/test
    80/10/10) by hash range. Disjoint and exhaustive by construction;
    a narrow projection, so the assignment can be recomputed anywhere
    instead of stored."""
    total = sum(splits.values())
    assert abs(total - 1.0) < 1e-9, f"split fractions must sum to 1, got {total}"
    bucket = hash_bucket(key_cols, salt)
    expr = None
    cum = 0.0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = bucket < rate_threshold(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def group_cap(df: DataFrame, cap: int, salt: str = "") -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by hash order — a
    deterministic uniform subsample of each oversized group (the
    standard per-domain cap in corpus curation).

    One shuffle on the group key. Hash order (not stored order) makes
    the retained subset unbiased and stable; the full md5 plus the id
    itself breaks ties totally, so the cap is reproducible to the row.
    Skew note: a single giant group serializes onto one task's sort —
    for pathological domains pre-filter with ``hash_sample`` at
    ~cap/|group| to bound the sorted set, then cap exactly.
    """
    parts = [F.lit(salt), F.col("doc_id").cast("string")]
    order = [F.md5(F.concat_ws("|", *parts)), F.col("doc_id")]
    w = Window.partitionBy("source").orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def proportional_rebalance(
    df: DataFrame,
    target_shares: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Downsample groups so the surviving corpus approximates the
    target mix (e.g. rebalance languages to fixed shares) while keeping
    the bottleneck group whole — the largest corpus achievable under
    the target proportions, computed entirely in-engine:

        scale      = min over groups of count_g / share_g
        keep_g     = scale * share_g            (rows to keep)
        rate_g     = keep_g / count_g           (1.0 at the bottleneck)

    then a per-row hash-threshold filter at rate_g. Two tiny
    aggregations (group counts + a global min) broadcast back onto the
    fact table; the filter itself is narrow. Groups absent from
    ``target_shares`` are dropped (share 0).

    The achieved counts are hash-binomial around keep_g (exact-to-the-
    row quotas need ``group_cap`` at ceil(keep_g), which costs a sort);
    determinism is exact either way.
    """
    shares_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(k, float(v)) for k, v in target_shares.items()],
            "lang string, _share double",
        )
    )
    counts = df.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    # the global min over the per-group counts runs as an unpartitioned
    # window: the frame at this point is one row per group (bounded,
    # tiny at any data scale), so single-partition is correct, and it
    # costs one shuffle instead of a chain of broadcast rounds
    scale = F.min(F.col("_n") / F.col("_share")).over(Window.partitionBy())
    rates = (
        counts.join(shares_df, on="lang")
        .select(
            "lang",
            F.col("_n"),
            F.col("_share"),
            scale.alias("_scale"),
        )
        .select(
            "lang",
            ((F.col("_scale") * F.col("_share")) / F.col("_n")).alias("_rate"),
        )
    )
    return _keep_at_rate(df, rates, "lang", ["doc_id"], salt)


def _keep_at_rate(
    df: DataFrame, rates: DataFrame, group_col: str, id_cols: list[str], salt: str
) -> DataFrame:
    """Keep each row whose hash bucket falls under its group's
    ``_rate`` (per-group rates broadcast from ``rates``)."""
    bucket = hash_bucket(id_cols, salt)
    # in-engine threshold: lower/lpad(hex(floor(rate * 16^8))); the
    # bottleneck group's rate is exactly 1.0, which needs the explicit
    # always-keep branch (its threshold would be 9 hex digits and
    # string-compare breaks)
    threshold = F.lpad(
        F.lower(F.hex(F.floor(F.col("_rate") * F.lit(float(_HEX_SPACE))))),
        _HEX_DIGITS,
        "0",
    )
    return (
        df.join(F.broadcast(rates), on=group_col)
        .filter((F.col("_rate") >= 1.0) | (bucket < threshold))
        .drop("_rate")
    )


def temperature_rebalance(
    df: DataFrame,
    group_col: str,
    alpha: float,
    id_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled corpus mix (the mT5/XLM-R multilingual
    sampling rule): target share of group g is n_g^alpha / sum n^alpha
    — alpha=1 keeps natural proportions, alpha->0 approaches uniform,
    the usual 0.2-0.7 range boosts low-resource groups without
    flattening the mix. Shares are solved IN-ENGINE from the observed
    counts, then rows are kept by the same deterministic hash-threshold
    filter as ``proportional_rebalance`` (bottleneck group survives
    whole, no collect, no RNG).

    ``pow`` is libm work — rounded to 6 dp (the suite's ln()/cosine
    convention) so a last-ulp difference between engines cannot flip a
    row across the keep threshold.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    palpha = F.round(F.pow(F.col("_n").cast("double"), F.lit(alpha)), 6)
    # one row per group at this point — unpartitioned windows over the
    # bounded group set are the cheap way to get the two global scalars
    w = Window.partitionBy()
    with_share = counts.select(
        group_col,
        "_n",
        (palpha / F.sum(palpha).over(w)).alias("_share"),
    )
    scale = F.min(F.col("_n") / F.col("_share")).over(w)
    # _share holds a window SUM of doubles whose summation ORDER the
    # engine picks — a last-ulp drift there can shift floor(rate*16^8)
    # by one and flip a row sitting exactly on its hash threshold.
    # Rounding the final rate to 9 dp (both engines) absorbs the ulp
    # while keeping ~4.3 threshold units of resolution.
    rates = with_share.select(
        group_col,
        F.round((scale * F.col("_share")) / F.col("_n"), 9).alias("_rate"),
    )
    return _keep_at_rate(df, rates, group_col, id_cols, salt)


def weighted_sample_keys(
    df: DataFrame,
    weight_col: str,
    salt: str = "wsample",
) -> F.Column:
    """Efraimidis–Spirakis weighted-reservoir key: ``u^(1/w)`` with
    ``u`` derived from a content hash instead of an RNG — the top-k
    rows by this key are a weighted sample WITHOUT replacement, and
    like every sampler here it is reproducible on any engine or
    partitioning.

    ``u = (hex6(md5(salt||key)) + 1) / 16^6`` is exact in (0, 1]
    (integer numerator, one double division); the ``pow`` result is
    rounded to 9 dp so a 1-ulp libm difference can't reorder the
    top-k (same convention as the suite's ln()/cosine rounding);
    downstream top-k must tie-break on the key columns.
    """
    h = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    v = F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
    u = (v + 1).cast("double") / F.lit(float(16**6))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    # 9dp-rounded double (not DECIMAL): same value on both engines, and
    # a double final schema is what the driver's comparison can hash
    return F.round(F.pow(u, F.lit(1.0) / w), 9)


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sample of ``k`` rows without replacement (A-ES):
    heavier rows win proportionally more often. Plans as
    TakeOrderedAndProject — per-partition heaps, a k-row driver-side
    merge, no global sort; the key is a narrow per-row projection, so
    the whole op is one pass over the data at any scale.
    """
    key = weighted_sample_keys(df, weight_col, salt)
    out = df.withColumn("sample_key", key)
    return out.orderBy(
        F.col("sample_key").desc(), F.col("doc_id")
    ).limit(k)


def deterministic_shuffle(
    df: DataFrame,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Global deterministic training order: every row gets a dense
    1-based ``shuffle_pos`` by sorting on ``md5(salt|key...)`` (ties
    broken on the key columns). Training pipelines need the corpus in
    a reproducible pseudo-random order — content-addressed like every
    sampler here, so the order is stable across runs, engines, and
    repartitionings, and re-shuffles are just a new salt.

    Scale shape: the rank comes from ``layout.two_level_rank`` — the
    first 3 hex chars of the hash form 16^3 contiguous buckets of the
    lexicographic hash order (md5 is uniform, so buckets are balanced
    by construction); per-bucket ``row_number`` windows are
    partitioned, and only the 16^3 bucket totals cross a single
    partition. No global sort, no RNG.
    """
    from nhl_data_warehouse_spark.operators.layout import two_level_rank

    parts = [F.lit(salt), F.col("doc_id").cast("string")]
    h = F.md5(F.concat_ws("|", *parts))
    out = df.withColumn("__shuffle_hash", h).withColumn(
        "__hbucket",
        F.conv(F.substring("__shuffle_hash", 1, 3), 16, 10).cast("long"),
    )
    ranked = two_level_rank(
        out,
        "__hbucket",
        [F.col("__shuffle_hash"), F.col("doc_id")],
    )
    return ranked.withColumn("shuffle_pos", F.col("__rn")).drop(
        "__hbucket", "__shuffle_hash", "__lr", "__off", "__rn", "__total"
    )


def stratified_kfold(
    df: DataFrame,
    k: int,
) -> DataFrame:
    """Exactly-balanced stratified k-fold assignment: within every
    stratum the rows are ranked by content hash and folded round-robin
    ``fold = (rank - 1) % k`` — per-stratum fold sizes differ by at
    most one row, the property cross-validation needs that plain
    hash-mod assignment (binomially noisy) cannot give.

    Scale shape: the rank is a per-stratum two-level rank — rows get a
    hash-prefix bucket (16^d per stratum), ``row_number`` windows are
    partitioned by (stratum, bucket), and the bucket offsets come from
    a (stratum, bucket)-grouped count relation whose windows are
    partitioned by stratum. NO unpartitioned window at any scale, no
    RNG; the assignment is reproducible across engines and
    repartitionings (the bucket is the hash's own prefix, so bucket
    order + within-bucket hash order == full hash order).
    """
    if k < 2:  # not an assert: must survive `python -O`
        raise ValueError(f"stratified_kfold: k must be >= 2, got {k}")
    parts = [F.lit("kfold-v1"), F.col("doc_id").cast("string")]
    h = F.md5(F.concat_ws("|", *parts))
    out = df.withColumn("__h", h).withColumn(
        "__hb",
        F.conv(F.substring("__h", 1, 2), 16, 10).cast("long"),
    )
    counts = out.groupBy("lang", "__hb").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("__hb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "lang",
        "__hb",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
    )
    w_local = Window.partitionBy("lang", "__hb").orderBy(
        "__h", F.col("doc_id")
    )
    # no broadcast hint: the offsets relation is |strata| * 16^d rows,
    # unbounded when the stratum key is high-cardinality — AQE
    # broadcasts it at runtime when it is actually small and keeps the
    # co-partitioned join when it is not (a forced hint would pin the
    # wrong strategy at scale)
    return (
        out.withColumn("__lr", F.row_number().over(w_local))
        .join(offsets, on=["lang", "__hb"])
        .withColumn(
            "fold",
            ((F.col("__off") + F.col("__lr") - 1) % k).cast("int"),
        )
        .drop("__h", "__hb", "__lr", "__off")
    )


def _score_buckets(
    op: str,
    scored: DataFrame,
    score_col: str,
    salt: str,
    max_score: int,
    bucket_hex_digits: int,
) -> DataFrame:
    """``scored`` plus the content hash ``__h``, its ``__hb`` prefix
    bucket and the composite bucket ``__cb = (max_score - score) *
    16^d + __hb``, monotone in (score DESC, hash ASC). A score that is
    not an integer in [0, max_score] raises (naming ``op``) at
    execution instead of silently corrupting the order."""
    n_hb = 16**bucket_hex_digits
    h = F.md5(F.concat_ws("|", F.lit(salt), F.col("doc_id").cast("string")))
    s_raw = F.col(score_col)
    s_int = s_raw.cast("long")
    s_valid = (
        s_raw.isNotNull()
        & (s_int >= 0)
        & (s_int <= max_score)
        & (s_int.cast("double") == s_raw.cast("double"))
    )
    # coalesce evaluates left-to-right: valid rows never reach the
    # raise; __cb depends on it, so it cannot be pruned
    s_checked = F.coalesce(
        F.when(s_valid, s_int),
        F.raise_error(
            F.concat(
                F.lit(
                    f"{op}: {score_col} must be an integer in "
                    f"[0, {max_score}], got "
                ),
                F.coalesce(s_raw.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    )
    return (
        scored.withColumn("__h", h)
        .withColumn(
            "__hb",
            F.conv(F.substring("__h", 1, bucket_hex_digits), 16, 10).cast("long"),
        )
        .withColumn(
            "__cb",
            (F.lit(max_score) - s_checked) * n_hb + F.col("__hb"),
        )
    )


def budget_select(
    scored: DataFrame,
    score_col: str,
    weight_col: str,
    budget: int,
    max_score: int = 10,
) -> DataFrame:
    """Token-budget corpus selection: walk the corpus best-first
    (``score_col`` DESC, content-hash shuffled within each score tier)
    and keep documents while the running ``weight_col`` total stays
    within ``budget`` — the "fill the training-token budget with the
    highest-quality data" selection every budgeted pretraining run
    performs. Adds ``cum_weight`` (running total INCLUDING the row).

    Scale shape: a distributed prefix sum over the curriculum order —
    the composite bucket ``(max_score - score) * 16^d + hash_prefix``
    is monotone in (score DESC, hash ASC), so per-bucket weight sums
    roll up to exclusive bucket bases via one window over the bounded
    ``(max_score+1) * 16^d``-row totals relation; row-scale cumsum
    windows are partitioned by bucket. Same integer-score contract as
    ``curriculum_order``, ENFORCED the same way: an out-of-range /
    fractional / NULL score raises at execution instead of silently
    corrupting the bucket order. The keep decision is a per-row
    compare, so the filter is exact and engine-stable (integer
    weights, no float accumulation).
    """
    w = F.col(weight_col).cast("long")
    out = _score_buckets(
        "budget_select", scored, score_col, "tb-v1", max_score,
        2,
    )
    totals = out.groupBy("__cb").agg(F.sum(w).alias("__tot"))
    w_base = Window.orderBy("__cb").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.select(
        "__cb",
        F.coalesce(F.sum("__tot").over(w_base), F.lit(0)).alias("__base"),
    )
    w_cum = (
        Window.partitionBy("__cb")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        out.join(F.broadcast(bases), on="__cb")
        .withColumn("cum_weight", (F.col("__base") + F.sum(w).over(w_cum)).cast("long"))
        .filter(F.col("cum_weight") <= budget)
        .drop("__h", "__hb", "__cb", "__base")
    )


def curriculum_order(
    scored: DataFrame,
    score_col: str,
) -> DataFrame:
    """Curriculum schedule: a global training order that presents
    higher-``score_col`` documents first, pseudo-randomly shuffled
    WITHIN each score level (content-addressed md5, no RNG) — the
    quality-curriculum dataloader feed, reproducible across runs,
    engines and repartitionings.

    Scale shape: reuses ``layout.two_level_rank`` with a composite
    bucket ``(10 - score) * 16^3 + hash_bucket`` — monotone in
    (score DESC, hash ASC), so bucket ranges tile the global order.
    Rows shuffle once into partitioned windows; only the 11 * 16^3
    bucket totals cross a single partition. No
    global sort.

    Contract: ``score_col`` must be integer-valued in ``[0, 10]`` —
    the composite bucket is only monotone under
    that bound. Enforced in-plan: an out-of-range / fractional / NULL
    score raises at execution instead of silently corrupting the
    global order.
    """
    from nhl_data_warehouse_spark.operators.layout import two_level_rank

    out = _score_buckets(
        "curriculum_order", scored, score_col, "curr-v1", 10,
        3,
    )
    ranked = two_level_rank(out, "__cb", [F.col("__h"), F.col("doc_id")])
    return ranked.withColumn("curriculum_pos", F.col("__rn")).drop(
        "__h", "__hb", "__cb", "__lr", "__off", "__rn", "__total"
    )


def mixture_epoch_plan(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
    shares: dict[str, float],
    max_epochs: int = 4,
) -> DataFrame:
    """Epoch-aware mixture planning (the Dolma/LLaMA data-recipe math):
    given a token ``budget`` and target ``shares`` per group, how many
    FULL passes (epochs) over each group's data plus what fractional
    remainder achieves the mix — capped at ``max_epochs`` repeats
    (past which repetition hurts more than it helps). Emits one row
    per group: available tokens, wanted tokens, full epochs, the
    fractional-pass sampling rate, and achieved tokens after the cap.

    All arithmetic is exact integers (wants are floor(budget*share)
    with shares scaled to ppm) so the plan is engine-stable; the
    fractional pass is executed downstream by ``hash_sample`` at
    ``partial_rate`` — deterministic, so the planned and realized
    token counts agree to hash-binomial noise.

    Scale shape: ONE map-side-combined aggregate over the corpus (the
    per-group token totals) joined to a broadcast literal share table;
    every derived column is per-row arithmetic on the tiny group
    relation. The plan itself never touches row-scale data again.
    """
    shares_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(k, int(round(v * 1_000_000))) for k, v in shares.items()],
            f"{group_col} string, _share_ppm long",
        )
    )
    # HAVING > 0: a zero-token group has no epochs to plan and would
    # hit ANSI integer-div-by-zero downstream
    avail = (
        df.groupBy(group_col)
        .agg(F.sum(F.col(weight_col).cast("long")).alias("avail_tokens"))
        .filter(F.col("avail_tokens") > 0)
    )
    # exact integer arithmetic end-to-end (div, not /): engine-stable.
    # The multiply runs in DECIMAL(38,0): budget * ppm overflows LONG
    # for budgets above ~9.2e12 tokens (realistic pretraining scale) —
    # ANSI mode would raise, non-ANSI would silently wrap. The result
    # is <= budget, so the final BIGINT cast is safe for any budget
    # that fits a long.
    want = F.expr(
        f"CAST((CAST('{int(budget)}' AS DECIMAL(38,0)) * _share_ppm)"
        " div 1000000 AS BIGINT)"
    )
    plan = avail.join(shares_df, on=group_col).select(
        group_col,
        "avail_tokens",
        want.alias("want_tokens"),
    )
    capped = F.least(
        F.col("want_tokens"), F.lit(int(max_epochs)) * F.col("avail_tokens")
    )
    full = F.expr("achieved_tokens div avail_tokens")
    rem = F.col("achieved_tokens") % F.col("avail_tokens")
    return (
        plan.withColumn("achieved_tokens", capped)
        .withColumn("full_epochs", full.cast("int"))
        .withColumn(
            "partial_rate",
            F.round(rem / F.col("avail_tokens").cast("double"), 6) + F.lit(0.0),
        )
    )


# Poisson(1) CDF thresholds for the deterministic distributed
# bootstrap: a row's replicate weight is the number of thresholds at
# or below its hash draw. Exact double literals formatted into the
# 8-hex-digit space so Spark and any SQL oracle compare the SAME
# strings.
def _poisson1_cdf() -> list[float]:
    import math

    p = math.exp(-1.0)
    cdf, acc = [], 0.0
    for k in range(9):
        acc += p
        cdf.append(acc)
        p /= k + 1
    return cdf


POISSON1_HEX_THRESHOLDS: list[str] = [
    rate_threshold(c) for c in _poisson1_cdf()
]


def poisson_bootstrap_weight(
    key_cols: list[str], salt: str, window: int = 0
) -> F.Column:
    """Deterministic Poisson(1) bootstrap weight for one replicate:
    inverse-CDF over the content-addressed uniform draw. Weight w
    means the row appears w times in this replicate — the standard
    Poisson approximation to multinomial resampling that needs no
    coordination across rows or partitions.

    ``window`` selects one of the FOUR independent 8-hex draws inside
    a single md5 digest (32 hex chars), so 4 replicates share one
    hash — measured 2x on the 32-replicate bench query, where md5
    dominates."""
    parts = [F.lit(salt), *[F.col(c).cast("string") for c in key_cols]]
    bucket = F.substring(
        F.md5(F.concat_ws("|", *parts)), 1 + _HEX_DIGITS * window, _HEX_DIGITS
    )
    # ONE ascending CaseWhen instead of 9 chained indicator CaseWhens
    # summed: value-identical (w = count of thresholds <= bucket, and
    # the thresholds are sorted), but ~3x less generated code — the
    # 32-replicate bootstrap aggregate is codegen-COMPILE-bound (4 s
    # at sf0.001 with nil data work), and the common draws also exit
    # at the first branches (P(w=0) = 0.368) instead of evaluating
    # all 9 comparisons (guide §1.2 step 2: per-task work).
    w = None
    for i, t in enumerate(POISSON1_HEX_THRESHOLDS):
        w = F.when(bucket < F.lit(t), i) if w is None else w.when(bucket < F.lit(t), i)
    return w.otherwise(len(POISSON1_HEX_THRESHOLDS))


def poisson_bootstrap_means(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_replicates: int = 32,
    salt: str = "boot",
) -> DataFrame:
    """B bootstrap replicates of the mean of an integer-valued column
    in ONE narrow pass — the distributed bootstrap.

    Per replicate b, every row draws a deterministic Poisson(1)
    weight from md5(salt+b | key); the replicate mean is the ratio of
    two exact integer sums (sum(w*x) / sum(w)). All B replicates
    accumulate in a single map-side-combined aggregate — no explode,
    no shuffle of rows, no RNG state — so the full bootstrap costs
    one scan regardless of B. Sorting the B means gives percentile
    confidence intervals downstream.

    Output: (b, n_eff, mean_value) x B — exact integers and one
    double division per replicate, hash-stable on any engine.
    """
    from nhl_data_warehouse_spark.operators.dedup import scale_out

    x = F.col(value_col)
    aggs = []
    for b in range(n_replicates):
        w = poisson_bootstrap_weight(key_cols, f"{salt}{b // 4}", window=b % 4)
        aggs += [
            F.sum(w * x).cast("long").alias(f"sx{b}"),
            F.sum(w).cast("long").alias(f"sw{b}"),
        ]
    # ceil(B/4) md5 digests per ROW dominate this single map-side
    # pass; a one-file scan hands all of it to ONE task (1-row-group
    # parquet can't split), serializing the whole bootstrap onto one
    # core. scale_out re-spreads under-partitioned input (weights are
    # content-addressed — partitioning cannot change any value) and
    # no-ops at real scale where the file layout provides parallelism.
    st = scale_out(df).agg(*aggs)
    reps = [
        F.struct(
            F.lit(b).cast("long").alias("b"),
            F.col(f"sw{b}").alias("n_eff"),
            F.when(
                F.col(f"sw{b}") > 0,
                F.col(f"sx{b}").cast("double") / F.col(f"sw{b}").cast("double"),
            ).alias("mean_value"),
        )
        for b in range(n_replicates)
    ]
    return (
        st.select(F.explode(F.array(*reps)).alias("r"))
        .select("r.b", "r.n_eff", "r.mean_value")
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    size_col: str,
    budget: int,
) -> DataFrame:
    """Neyman (variance-optimal) stratified-sample allocation: split a
    sampling ``budget`` across strata proportionally to ``N_h *
    sigma_h`` — the allocation that minimizes the variance of the
    stratified mean for a fixed budget. The curation counterpart:
    heterogeneous strata (high within-stratum spread) deserve more
    sample than proportional allocation gives them; near-constant
    strata deserve less. Complements ``rebalance_langs``
    (proportional with caps) and ``temperature_mix`` (power
    interpolation), which allocate on counts alone.

    Determinism doctrine: per-stratum moments are exact integers
    (count / sum / DECIMAL(38,0) squared sum over the integer
    ``size_col``); sigma is ONE fixed-order double expression; the
    cross-stratum weight total folds in stratum order (the DCG
    ordered-fold recipe — sort_array + F.aggregate == DuckDB ``SUM(w
    ORDER BY g)``), so fractions and the floor'd allocations are
    bit-identical cross-engine. All-degenerate input (every stratum
    constant) yields explicit NULLs.

    Scale: one map-side-combined stratum aggregate (stratum-grain
    rows), one bounded fold on a single row, one broadcast join back.
    """
    vals = df.where(F.col(size_col).isNotNull()).select(
        F.col(stratum_col).alias("g"), F.col(size_col).cast("long").alias("v")
    )
    vdec = F.col("v").cast("decimal(38,0)")
    per = vals.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(vdec * vdec).cast("decimal(38,0)").alias("ssd"),
    )
    # Integer variance guard (ADVICE r10): once ssd-as-double passes
    # 2^53, a constant stratum's ssd/n - (s/n)^2 can go slightly
    # NEGATIVE in FP, making sigma NaN and silently poisoning tot_w.
    # The dow_seasonal_anomalies recipe decides positivity EXACTLY on
    # integers (n*ssd > s*s in DECIMAL(38,0)) and emits sigma = 0.0
    # for degenerate (constant) strata, keeping the all-degenerate
    # case on the documented explicit-NULL path (tot_w = 0).
    var_pos = (
        F.col("n").cast("decimal(38,0)") * F.col("ssd")
        > F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
    )
    sigma = F.when(
        var_pos,
        F.expr(
            "sqrt(CAST(ssd AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
        ),
    ).otherwise(F.lit(0.0))
    weighted = per.select(
        "g",
        "n",
        sigma.alias("sigma"),
        (F.col("n").cast("double") * sigma).alias("w"),
    )
    tot = weighted.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("g", "w"))),
                lambda st: st["w"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("tot_w")
    )
    return weighted.crossJoin(F.broadcast(tot)).select(
        F.col("g").alias(stratum_col),
        F.col("n").alias("n_docs"),
        "sigma",
        F.expr(
            "CASE WHEN tot_w = 0.0 THEN CAST(NULL AS DOUBLE)"
            " ELSE w / tot_w END"
        ).alias("alloc_frac"),
        F.expr(
            "CASE WHEN tot_w = 0.0 THEN CAST(NULL AS BIGINT)"
            f" ELSE CAST(floor({float(budget)} * w / tot_w) AS BIGINT) END"
        ).alias("n_alloc"),
    )
