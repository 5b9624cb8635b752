"""Deduplication operators for training-data pipelines.

Generalizes the reference's only dedup mechanism — md5 lineage keys +
anti-join (``copy_into_*.sql:6`` + ``games.sql:11-13``) — into the
family a 100TB corpus pipeline needs:

- exact dedup (hash group-by on content fingerprints)
- MinHash + LSH banding (shingle -> minhash signature -> band buckets
  -> bucket-join candidates) for near-duplicates at scale
- SimHash (bitwise parity sketch, hamming-bucket dedup)
- n-gram Jaccard verification for candidate pairs

Scale design: every operator is shuffle-bounded by design — shingling
is a narrow explode; minhash reduces per-doc (map-side partial min);
the only wide op is the band-key self-join, whose fan-out is governed
by band width (wider bands = fewer, higher-precision candidates).
Nothing ever compares all pairs. Hashes are md5-hex strings ordered
lexicographically (order-isomorphic to the 128-bit value), which keeps
every step expressible in portable SQL and identical across engines.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import checkpoint, pin


def normalized_text() -> F.Column:
    """Canonical ``text`` for fingerprinting: lowercase, punctuation
    stripped, whitespace collapsed and trimmed."""
    c = F.lower(F.col("text"))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_dedup(df: DataFrame, normalize: bool = False) -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct
    content with the representative (min id) and the duplicate count.
    Content equality via md5 fingerprint group-by — one shuffle keyed
    on a 32-char hash, never on the (potentially huge) text itself.
    """
    content = normalized_text() if normalize else F.col("text")
    return (
        df.select(F.col("doc_id"), F.md5(content).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_against_corpus(
    new_batch: DataFrame,
    history: DataFrame,
) -> DataFrame:
    """Incremental-ingest dedup: keep only the new-batch documents
    whose exact-text fingerprint is absent from the historical corpus,
    deduplicated within the batch (min-id representative per
    fingerprint) — the nightly-crawl shape: today's crawl lands
    against a 100 TB history and only genuinely new content survives.

    Scale shape: both arms reduce to md5 fingerprints BEFORE any
    join, so text never crosses the wire; the history arm collapses
    to distinct fingerprints (map-side partial agg) and anti-joins
    the (small) new batch. In production the history arm is the
    stored fingerprint table this function's output maintains — the
    scan-and-hash here is the bootstrap path, not the steady state.
    Composes with ``write.incremental_insert`` (J3/M2): this is the
    content-addressed generalization of its key-based anti-join.
    """
    content = F.col("text")
    new_fp = new_batch.select(F.col("doc_id"), F.md5(content).alias("fingerprint"))
    hist_fp = history.select(F.md5(content).alias("fingerprint")).distinct()
    return (
        new_fp.join(hist_fp, on="fingerprint", how="left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
    )


def scale_out(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the input is
    under-partitioned (e.g. one small parquet file): CPU-heavy
    per-row work (hashing, shingling) must not serialize onto a
    handful of tasks. No-op when the source already has enough
    partitions — at real scale the file layout provides them.

    The under-partitioned check counts the scan's input files
    (``df.inputFiles()`` — pure plan/catalog metadata) instead of
    ``df.rdd.getNumPartitions()``: touching ``.rdd`` forces full plan
    analysis and an RDD conversion on every call path just to decide
    a repartition (VERDICT r5 item 4). One file can still split into
    several scan partitions (``maxPartitionBytes``), so file count is
    a lower bound — erring toward a repartition only when the source
    is genuinely a handful of files, exactly the case the shuffle is
    worth it. Non-file sources (in-memory test frames) report zero
    files and take the repartition, which is always safe."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def _shingle_array(k: int) -> F.Column:
    """Distinct char k-gram shingles of ``text`` as an array — a pure
    per-row expression (positions -> substring -> distinct)."""
    text = F.col("text")
    positions = F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)))
    return F.filter(
        F.array_distinct(F.transform(positions, lambda i: F.substring(text, i, k))),
        lambda s: F.length(s) == k,
    )


def char_shingles(df: DataFrame, k: int = 12) -> DataFrame:
    """Distinct character k-gram shingles per document (narrow op:
    generate positions -> substring -> explode -> local distinct)."""
    return scale_out(df).select(
        F.col("doc_id"),
        F.explode(_shingle_array(k)).alias("shingle"),
    )


def char_shingles_multiset(df: DataFrame) -> DataFrame:
    """Char 12-gram shingles per document WITHOUT the per-doc distinct —
    for consumers whose aggregates dedupe anyway (``min`` in the
    minhash fold, ``collect_set`` in the verify path), where duplicate
    shingle rows change nothing.

    Why it exists: ``char_shingles`` builds the distinct array with
    ``transform(substring)``, and higher-order-function lambdas are
    evaluated INTERPRETED per element (guide §4.1 — prefer built-ins;
    the r11/r12 HOF findings measured the same). This variant is pure
    whole-stage-codegen: explode the position ``sequence`` (a plain
    Generate), then one ``substr`` per row. Duplicate in-doc shingles
    are rare (k=12 char grams), so the row count is ~the same; the
    per-row work drops out of the interpreter. Never use it where
    per-doc distinctness is load-bearing (window/frequency counts:
    the all-pairs and prefix-filter paths)."""
    text = F.col("text")
    positions = F.sequence(F.lit(1), F.greatest(F.length(text) - 11, F.lit(1)))
    return (
        scale_out(df)
        .select(
            F.col("doc_id"),
            text.alias("__t"),
            F.explode(positions).alias("__p"),
        )
        .select(
            F.col("doc_id"),
            F.col("__t").substr(F.col("__p"), F.lit(12)).alias("shingle"),
        )
        .filter(F.length("shingle") == 12)
    )


#: signature slots derived from each md5: the 32 hex chars are split
#: into 4 disjoint 8-hex windows, each an independent-enough 32-bit
#: hash — so n_hashes costs ceil(n/4) md5s per shingle, not n. This is
#: the standard hashing-cost reduction behind one-permutation-style
#: MinHash (Li/Owen/Zhang, NIPS'12): md5 work dominates the signature
#: stage, and 4x fewer digests measured ~3x faster at sf0.1.
_WINDOWS_PER_MD5 = 4


def _mh_window(i: int):
    """(md5-prefix index, substring start) for 1-indexed signature slot i."""
    j, k = (i - 1) // _WINDOWS_PER_MD5, (i - 1) % _WINDOWS_PER_MD5
    return j, 1 + 8 * k


def minhash_signatures(shingles: DataFrame, n_hashes: int = 8) -> DataFrame:
    """MinHash signatures from an exploded (doc, shingle) pair table:
    one hash-aggregate with n inline mins over 8-hex md5 windows (see
    ``_WINDOWS_PER_MD5`` — ceil(n/4) digests per shingle). Partial
    (map-side) aggregation means the shuffle carries only
    (doc, n_hashes) minima regardless of shingle count; codegen
    subexpression elimination computes each digest once per row even
    though 4 aggregates reference it."""

    def mh(i: int):
        j, start = _mh_window(i)
        digest = F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))
        return F.min(F.substring(digest, start, 8)).alias(f"mh{i}")

    return shingles.groupBy("doc_id").agg(*[mh(i) for i in range(1, n_hashes + 1)])


def minhash_band_candidates(
    signatures: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    star_cap: int | None = None,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket key,
    self-join on (band index, bucket) — candidate pairs are docs
    agreeing on ALL minhashes of at least one band. Probability a pair
    with Jaccard s becomes a candidate: 1-(1-s^band_size)^n_bands.

    ``star_cap``: band buckets LARGER than the cap emit only
    (bucket-min, member) pairs — n-1 star links instead of n^2/2
    all-pairs. Web corpora concentrate boilerplate/mirror pages into a
    few giant duplicate clusters whose buckets otherwise dominate the
    candidate count quadratically (measured in SCALING.md: 10x corpus
    with 10x-bigger dup clusters -> ~100x pairs). Star-linking keeps
    cluster CONNECTIVITY (every member still links to the
    representative, so connected components are unchanged whenever the
    star pairs verify — exact-duplicate buckets always do) at a
    documented recall tradeoff for borderline near-dup PAIR listing
    inside oversized buckets. None = exact all-pairs (the oracle
    default).
    """
    n_bands = n_hashes // band_size
    bands = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(
                                *[
                                    F.col(f"mh{b * band_size + j + 1}")
                                    for j in range(band_size)
                                ]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # both sides of the self-join read `bands`; persist so the
    # signature computation upstream runs once, not twice
    bands = pin(bands)
    if star_cap is not None:
        # bucket stats via aggregate + join, not a window: the window
        # form sort-shuffles every band row, while the partial-agg
        # stats relation is one row per bucket — AQE broadcasts it
        # when small and falls back to a co-partitioned join when a
        # 100 TB bucket count outgrows the broadcast ceiling
        stats = bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__bsz"), F.min("doc_id").alias("__bmin")
        )
        sized = bands.join(stats, on=["band", "bucket"])
        small = sized.filter(F.col("__bsz") <= star_cap).drop("__bsz", "__bmin")
        sa = small.select(F.col("doc_id").alias("a_id"), "band", "bucket")
        sb = small.select(F.col("doc_id").alias("b_id"), "band", "bucket")
        all_pairs = (
            sa.join(sb, on=["band", "bucket"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
        )
        star_pairs = (
            sized.filter(
                (F.col("__bsz") > star_cap) & (F.col("doc_id") != F.col("__bmin"))
            )
            .select(F.col("__bmin").alias("a_id"), F.col("doc_id").alias("b_id"))
        )
        return all_pairs.unionByName(star_pairs).distinct()
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact shingle-set Jaccard for near-dup verification.

    ``metric="containment"`` instead scores |A∩B| / min(|A|, |B|) —
    how completely the smaller doc's shingle set sits inside the
    larger's. That is the substring/subset-dup signal (quote farms,
    re-posts with boilerplate added) that Jaccard misses when sizes
    differ: a doc fully contained in one 10x its size has Jaccard
    <=0.1 but containment 1.0. Same joins, same cost.

    Joins docs through shared shingles (never all pairs): intersection
    size by counting shared shingles, union by |A|+|B|-|A∩B|.
    ``candidates`` (e.g. from LSH banding) restricts the pair space;
    ``max_shingle_freq`` drops stop-shingles whose fan-out would
    dominate the join at scale (the standard frequency-cap trick —
    drops only pairs connected *solely* through ubiquitous shingles,
    which have low Jaccard anyway).
    """
    sh = shingles
    if candidates is None:
        # ALL-PAIRS path, window form (the prefix_filter doctrine): the
        # frequency cap and the per-doc size are WINDOW counts, not
        # groupBy+join-backs — the freq window shuffles the shingle
        # relation once on exactly the key the self-join below
        # co-locates on anyway (both join sides then read ONE reused
        # exchange), and carrying __n on the rows lets the pair
        # aggregate pick the sizes up with first() instead of two
        # pair-grain size joins. Plan shape drops from ~8 exchanges +
        # 2 broadcast builds + a persist barrier to 4 exchanges and no
        # pin; measured 8.1 -> 5.6 s median (interleaved, sf0.1) on
        # jaccard_near_dups with identical output.
        if max_shingle_freq is not None:
            sh = (
                sh.withColumn(
                    "__tf", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
                )
                .filter(F.col("__tf") <= max_shingle_freq)
                .drop("__tf")
            )
        sh = sh.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        a = sh.select(
            F.col("doc_id").alias("a_id"), "shingle", F.col("__n").alias("n_a")
        )
        b = sh.select(
            F.col("doc_id").alias("b_id"), "shingle", F.col("__n").alias("n_b")
        )
        scored = (
            a.join(b, on="shingle")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                # constant per doc by construction (window count)
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
            )
        )
        return _pair_score(scored, metric, threshold)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, on="shingle")
        # with the freq cap active `sh` feeds two subtrees (the cap
        # aggregate and the join probe) — persist so shingling runs
        # once; without it `sh` is read exactly once (by the docsets
        # aggregate below) and the pin belongs on docsets instead
        sh = pin(sh)
    # verify via per-doc shingle SETS: reduce shingles to one
    # sorted-set array per doc, join each candidate pair to its
    # two arrays (two equi-joins on doc id, one array per row),
    # and compute |A∩B| JVM-side with array_intersect. This
    # replaces the |candidates| x |doc_len| row fan-out join
    # (~100M shuffled rows at sf0.1 for 265k candidates x 283
    # shingles/doc) with |candidates| rows of O(n_a+n_b) codegen
    # array ops — the per-row doc-bounded payload is the same
    # assumption the minhash fold already makes. The intersect is
    # exact because collect_set dedupes each doc's shingles: the
    # arrays are true sets whatever the input multiplicity.
    # shuffle_hash hint: sort-merge would SORT the array payloads
    # (expensive, pure overhead — the join key is just the doc id);
    # hash join partitions by id and never orders the arrays.
    # Unlike a broadcast hint this stays valid when docsets is
    # 100TB-scale: build side is hashed per partition, not shipped
    # to every task.
    # BOTH candidate-join sides read docsets — pin the AGGREGATED
    # per-doc relation, not the raw shingle rows: the old pin(sh) left
    # the collect_set aggregate to execute once per join side (two
    # ObjectHashAggregate passes over the cached shingles), while
    # pinning docsets runs shingling + the set aggregate exactly once
    # and caches one row per doc instead of one per shingle (§2.4/§5).
    docsets = pin(sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("__set")))
    scored = (
        candidates.join(
            docsets.select(
                F.col("doc_id").alias("a_id"), F.col("__set").alias("__set_a")
            ).hint("shuffle_hash"),
            on="a_id",
        )
        .join(
            docsets.select(
                F.col("doc_id").alias("b_id"), F.col("__set").alias("__set_b")
            ).hint("shuffle_hash"),
            on="b_id",
        )
        .select(
            "a_id",
            "b_id",
            # + 0*monotonically_increasing_id() is an exact no-op on
            # the value (0 * anything = 0, long arithmetic) whose
            # nondeterministic flag STOPS the threshold filter below
            # from being substituted through this projection into the
            # join condition. Without the barrier, Catalyst collapses
            # filter+project into the second join and the score
            # expression lands in the join condition with
            # array_intersect expanded THREE times (n_common and both
            # union terms), each evaluated interpreted per candidate
            # pair — measured on the executed plan of the LSH verify.
            # With it, the intersect runs ONCE per pair inside this
            # whole-stage-codegen projection.
            (
                F.size(F.array_intersect("__set_a", "__set_b")).cast("long")
                + F.lit(0) * F.monotonically_increasing_id()
            ).alias("n_common"),
            F.size("__set_a").alias("n_a"),
            F.size("__set_b").alias("n_b"),
        )
    )
    return _pair_score(scored, metric, threshold)


def _pair_score(scored: DataFrame, metric: str, threshold: float) -> DataFrame:
    """Score (a_id, b_id, n_common, n_a, n_b) pair rows and apply the
    threshold: jaccard = |A∩B| / |A∪B|, containment = |A∩B| / min."""
    assert metric in ("jaccard", "containment")
    if metric == "jaccard":
        score = F.col("n_common") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        ).cast("double")
    else:
        score = F.col("n_common") / F.least("n_a", "n_b").cast("double")
    return (
        scored.select("a_id", "b_id", score.alias(metric))
        .filter(F.col(metric) >= threshold)
    )


def prefix_filter_jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard >= ``threshold`` pairs via prefix filtering
    (SSJoin/PPJoin candidate generation) — the subquadratic path to
    *exact* set-similarity joins, complementing the two existing
    shapes: ``jaccard_pairs`` without candidates is all-pairs exact
    (quadratic, oracle baseline) and LSH-then-verify is subquadratic
    but can MISS pairs the bands never collide on. Prefix filtering
    misses nothing: order every doc's shingles by a global total order
    (rarest first, shingle text as tie-break) and keep only the first
    ``n - ceil(t*n) + 1`` as the doc's *prefix*. Lemma: two sets with
    Jaccard >= t have ``|A∩B| >= ceil(t*max(|A|,|B|))``, so if their
    prefixes were disjoint the entire intersection would fit in a
    suffix shorter than the intersection — contradiction. Candidates =
    pairs sharing a *prefix* shingle; verify recomputes exact Jaccard
    on the full sets, so the output is exactly the all-pairs answer.

    On top of SSJoin candidate generation this applies the two PPJoin
    refinements [Xiao et al., WWW'08] that make prefix filtering pay —
    both are *provably lossless* for Jaccard >= t:

    - **length filter**: a qualifying pair needs |A∩B| >= t*max(n_a,
      n_b) and |A∩B| <= min(n_a, n_b), so ``min*q >= p*max`` (with
      t = p/q rationalized) — integer-exact, no FP.
    - **positional filter**: the first shared token (global order)
      lies inside BOTH prefixes (else the whole intersection would
      fit in a too-short suffix), and at its positions (i, j) the
      overlap is bounded by ``1 + min(n_a - i, n_b - j)``; a true
      pair has overlap >= alpha = ceil(t*(n_a+n_b)/(1+t)), so any
      pair whose every shared prefix token fails the bound cannot
      reach threshold. Keeping pairs with ANY passing token is
      therefore a superset of the true pairs.

    All ceilings use exact rational arithmetic (threshold rationalized
    via ``Fraction``; ``ceil(p*n/q) = (p*n + q - 1) div q`` in integer
    SQL) — double-precision ``CEIL(t*n)`` rounds 0.55*20 up to 12 and
    silently shortens the prefix, breaking the zero-recall-loss
    contract for thresholds whose product is FP-inexact.

    Scale shape: the candidate join fans out only on prefix tokens,
    which are the RAREST ~(1-t) fraction of each doc's shingles — the
    frequency-ordered prefix is what kills the stop-shingle blow-up
    that forces ``max_shingle_freq`` capping (and its silent recall
    loss) in the naive join. Per-doc ordering is a window partitioned
    by doc (bounded by doc length); the frequency relation shuffles
    once on shingle. The length+positional filters then cut the
    candidate set BEFORE the expensive full-set verify join, which is
    what bounds the verify stage's |candidates| x |doc| fan-out. No
    all-pairs stage anywhere.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1_000_000)
    p, q = frac.numerator, frac.denominator
    # index prefix: n - ceil(t*n) + 1 tokens (role: LARGER of a pair).
    # Shingle frequency and doc size come from WINDOW counts, not
    # groupBy+join-back: the window shuffles the shingle relation once
    # per key (exactly where a join would co-locate it anyway — same
    # skew exposure, one less full exchange + no join), measured 2.2x
    # faster at sf0.1.
    w_tf = Window.partitionBy("shingle")
    w_doc = Window.partitionBy("doc_id").orderBy("__tf", "shingle")
    w_n = Window.partitionBy("doc_id")
    index_pref = (
        shingles.withColumn("__tf", F.count(F.lit(1)).over(w_tf))
        .withColumn("__rn", F.row_number().over(w_doc))
        .withColumn("__n", F.count(F.lit(1)).over(w_n))
        .filter(
            F.col("__rn")
            <= F.col("__n") - F.expr(f"({p} * __n + {q - 1}) div {q}") + F.lit(1)
        )
        .select("doc_id", "shingle", "__rn", "__n")
    )
    # feeds BOTH sides of the candidate join — persist so the
    # window pipeline runs once, not per branch
    index_pref = pin(index_pref)
    # probe prefix (role: SMALLER of a pair) is tighter: with the
    # length filter in force (|larger| partners only), overlap >=
    # ceil(2t/(1+t) * n), so the probe side keeps only
    # n - ceil(2p*n/(p+q)) + 1 tokens (~n/3 at t=0.5 vs ~n/2) —
    # Vernica et al., SIGMOD'10. Fewer probe tokens = smaller
    # equi-join fan-out AND fewer false candidate pairs, losslessly:
    # the globally-first common token of a qualifying pair provably
    # sits inside the smaller doc's probe prefix and the larger doc's
    # index prefix.
    probe_pref = index_pref.filter(
        F.col("__rn")
        <= F.col("__n")
        - F.expr(f"(2 * {p} * __n + {p + q - 1}) div {p + q}")
        + F.lit(1)
    )
    a = probe_pref.select(
        F.col("doc_id").alias("a_id"),
        "shingle",
        F.col("__rn").alias("__rn_a"),
        F.col("__n").alias("__n_a"),
    )
    b = index_pref.select(
        F.col("doc_id").alias("b_id"),
        "shingle",
        F.col("__rn").alias("__rn_b"),
        F.col("__n").alias("__n_b"),
    )
    cand = (
        a.join(b, on="shingle")
        # role order: a is strictly smaller by (size, id) — the
        # tie-break makes each unordered pair appear in exactly one
        # role assignment
        .filter(
            (F.col("__n_a") < F.col("__n_b"))
            | ((F.col("__n_a") == F.col("__n_b")) & (F.col("a_id") < F.col("b_id")))
        )
        # length filter: n_a >= t*n_b (n_a is the smaller), integer-exact
        .filter(F.col("__n_a") * F.lit(q) >= F.lit(p) * F.col("__n_b"))
        # positional filter: overlap upper bound at this shared token
        # must reach alpha = ceil(p*(n_a+n_b)/(p+q))
        .filter(
            F.lit(1) + F.least(F.col("__n_a") - F.col("__rn_a"),
                               F.col("__n_b") - F.col("__rn_b"))
            >= F.expr(f"({p} * (__n_a + __n_b) + {p + q - 1}) div {p + q}")
        )
        # canonicalize to id order for the verify stage / oracle shape
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )
    return jaccard_pairs(shingles, candidates=cand, threshold=threshold)


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    id_alias: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of an undirected pair graph (e.g. verified
    near-dup pairs) by iterative min-label propagation: every node's
    component id converges to the minimum node id reachable from it.
    Returns one row per node: (id_alias, cluster_id).

    This is the step that turns *pairwise* near-dup detection into an
    actual deduplicated corpus — transitive closure groups A~B, B~C
    into one cluster {A,B,C} with a single representative.

    Scale design: each iteration is one shuffle join on node id plus a
    map-side-combined min; iteration count is the graph diameter, and
    near-dup graphs are shallow (verified-duplicate clusters are
    near-cliques), so 2-4 iterations is typical. Lineage is truncated
    every iteration with ``localCheckpoint`` — without it the plan
    doubles per iteration and the 100TB run dies in the optimizer long
    before the executors. Labels only ever decrease, so convergence is
    detected exactly (count of decreased labels == 0). For adversarial
    long-chain graphs (diameter ~ n) swap in the large-star/small-star
    alternation [Kiveris et al., "Connected Components in MapReduce",
    SoCC'14], which converges in O(log^2 n) rounds; corpus dedup does
    not need it.
    """
    # materialize the edge list ONCE up front: its lineage is typically a
    # whole LSH+verify pipeline, and every branch below (both union sides,
    # the node seed, every iteration) would otherwise re-derive it
    edges = checkpoint(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")))
    sym = edges.union(edges.select(F.col("d"), F.col("s")))
    # seed with the FIRST ROUND fused into the init: with identity
    # labels, round 1's nbr_min is simply min(neighbor id), so
    # least(self, min(nbr)) IS the round-1 label — one groupBy replaces
    # the identity seed plus a full join+aggregate+checkpoint+count
    # iteration (same fixpoint, one round fewer)
    labels = checkpoint(
        sym.groupBy("s")
        .agg(F.least(F.col("s"), F.min("d")).alias("label"))
        .select(F.col("s").alias("node"), "label")
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = checkpoint(
            labels.join(nbr_min, labels["node"] == nbr_min["s"], "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("_moved"),
            )
        )
        moved = new_labels.filter("_moved").count()
        labels = new_labels.drop("_moved")
        if moved == 0:
            break
    return labels.select(
        F.col("node").alias(id_alias), F.col("label").alias("cluster_id")
    )


def connected_components_kiveris(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    id_alias: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by large-star/small-star alternation
    [Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14] — the deep-graph fallback ``connected_components``'s
    docstring promises. Min-label propagation needs diameter-many
    rounds (a 1000-link chain needs ~1000); the star alternation
    contracts the graph toward a star forest in O(log^2 n) rounds, so
    adversarial long chains converge in ~a dozen.

    Both steps keep every edge strictly oriented big->small, so the
    edge set monotonically approaches the fixed point: a star forest
    where each node points straight at its component's minimum id.

    - large-star: each node hangs its LARGER neighbors onto the
      minimum of its neighborhood (incl. itself);
    - small-star: each node re-hangs itself and its smaller neighbors
      onto that minimum.

    Scale design: each half-step is one keyed aggregation (map-side
    combined min) plus one shuffle join and a distinct — all JVM, no
    driver-side graph state; per-round lineage is truncated with
    ``localCheckpoint``. Convergence is detected exactly (edge set
    unchanged via count + exceptAll probe), costing one extra
    edge-scale pass per round."""
    e = checkpoint(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def _large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b"))).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mnv"))
            .select("u", F.least(F.col("_mnv"), F.col("u")).alias("m"))
        )
        return (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        # edges already oriented a > b
        mins = cur.groupBy("a").agg(F.min("b").alias("m"))
        rehung = (
            cur.join(mins, on="a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        return rehung

    prev_count = e.count()
    for _ in range(max_iter):
        nxt = checkpoint(_small_star(_large_star(e)))
        nxt_count = nxt.count()
        if nxt_count == prev_count and nxt.exceptAll(e).limit(1).count() == 0:
            e = nxt
            break
        e, prev_count = nxt, nxt_count
    # fixed point is a star forest: members appear as `a`, roots as `b`
    return (
        e.select(F.col("a").alias("node"), F.col("b").alias("label"))
        .union(e.select(F.col("b"), F.col("b")))
        .distinct()
        .select(F.col("node").alias(id_alias), F.col("label").alias("cluster_id"))
    )


def simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash sketch: per token, bit b votes +1/-1 by the high bit of
    hex digit b of md5(token); the sketch sets bit b iff the weighted
    vote is positive. Near-dup docs differ in few bits (hamming), so
    grouping by the sketch (or bucketing on bit-bands) finds near-dups
    with ONE aggregation — no pairwise work at all.

    bits <= 32 (md5 hex length). Computed as posexploded token hashes
    -> ``bits`` conditional sums grouped by document — every
    expression whole-stage-codegen'd, with the vote aggregation
    map-side combined so the one Exchange carries only (id, bits
    longs) per document. An earlier zero-shuffle formulation (one
    per-row ``F.aggregate`` fold over the hashed-token array with a
    ``bits``-field struct accumulator) was REJECTED by measurement
    (VERDICT r11 item 3): higher-order-function lambdas evaluate
    interpreted, and at a 100k-doc corpus the fold measured 7.8 s vs
    2.5 s warm-median for this form — the same 3x interpreted-lambda
    penalty the cdc_chunks A/B found (BASELINE.md round-12 notes).
    The narrow doc-grain shuffle is cheap; the per-token CPU is not.
    Documents with no tokens produce no rows, matching the relational
    formulation. The sketch is per-ID, not per-row: rows sharing
    ``doc_id`` pool their token votes into ONE sketch (the groupBy
    grain — a multi-shard ingest of the same document fingerprints
    the union of its shards; pre-dedup rows if per-row sketches are
    wanted).
    """
    assert bits <= 32
    toks = (
        scale_out(df)
        .select(
            F.col("doc_id"),
            F.explode(F.split(F.col("text"), " ")).alias("_t"),
        )
        .where(F.col("_t") != "")
        .select("doc_id", F.md5("_t").alias("_h"))
    )
    # hex digits order '0'-'9' < 'a'-'f', so >= '8' is exactly the
    # high-bit test (same set as the oracle's strpos('89abcdef', ch))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("_h").substr(b + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sketch = reduce(
        add,
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for b in range(bits)
        ],
    )
    return votes.select("doc_id", sketch.alias("simhash"))


def dedup_savings_report(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Curation scorecard for exact dedup: the cluster-size
    distribution and the token savings of keeping one representative
    per exact-content cluster — the number a data lead actually asks
    for before approving a dedup pass ("how much smaller does the
    corpus get?"), broken down by duplication multiplicity so a few
    mega-clusters are distinguishable from a long tail of pairs.

    Exactness: exact duplicates share their token count, so per-
    cluster savings are (size - 1) * tokens — all integers; one row
    per distinct cluster size with cluster/doc/dup-doc counts and
    total tokens saved. (The report is computed purely from content —
    no id column participates, so none is taken: ADVICE r11.)

    Scale shape: content collapses to 32-byte md5 keys before any
    shuffle (the dedup_exact contract); one hash-keyed aggregate to
    cluster grain, one size-keyed aggregate to the bounded
    multiplicity grain. Token counts are per-row expressions.
    """
    arr = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    per_h = (
        df.select(
            F.md5(F.col(text_col)).alias("_h"),
            F.size(arr).cast("long").alias("_tok"),
        )
        .groupBy("_h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.min("_tok").alias("_tok1"),
        )
    )
    return (
        per_h.groupBy(F.col("_n").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.col("_n") - 1).cast("long").alias("n_dup_docs"),
            F.sum((F.col("_n") - 1) * F.col("_tok1"))
            .cast("long")
            .alias("tokens_saved"),
        )
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            "n_dup_docs",
            "tokens_saved",
        )
    )


def paragraph_dedup_stats(
    df: DataFrame,
    delim: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-grain exact dedup scorecard — the CCNet paragraph-hash
    step (Wenzek et al., "CCNet", LREC'20 §3; the sub-document grain
    real pipelines dedup FIRST, because boilerplate — nav bars, cookie
    banners, license footers — repeats across pages whose documents
    are otherwise unique, so doc-level MinHash/SimHash never sees it).

    Semantics: split each document on ``delim`` (a Java regex — the
    default matches literal blank-line boundaries), trim each segment,
    drop segments shorter than ``min_chars``; a paragraph OCCURRENCE
    is duplicated iff its trimmed text occurs anywhere else in the
    corpus (corpus frequency > 1 over all occurrences, same-doc
    repeats included — CCNet's hash-multiset rule). Output is the
    per-document removal scorecard: (id, n_paras, n_dup_paras,
    chars_total, chars_dup) — the numbers that decide whether a
    boilerplate-strip pass is worth running on a source.

    Scale shape: the paragraph text NEVER shuffles — each occurrence
    collapses map-side to a narrow (id, md5, length) row (the
    dedup_exact contract); frequency is one hash-keyed map-side-
    combined aggregate; the flag join is a hash-grain equi-join of
    narrow rows; per-doc stats are one id-keyed aggregate. All counts
    exact integers. The narrow occurrence relation is persisted: the
    frequency build and the flag-join probe both read it, and their
    exchanges differ (partial counts vs (id, h, len)) so ReuseExchange
    cannot share them — without the pin the corpus-scale
    split/trim/md5 projection executes twice (code-review r12; the
    fuzzyjoin/_deg_tri convention). Released by the
    caller's ``cache_scope`` or ``session.release_cached``.
    """
    seg = F.trim(F.col("_p"))
    paras = (
        scale_out(df)
        .select(
            F.col("doc_id"),
            F.explode(F.split(F.col("text"), delim)).alias("_p"),
        )
        .where(F.length(seg) >= min_chars)
        .select(
            "doc_id",
            F.md5(seg).alias("_h"),
            F.length(seg).cast("long").alias("_len"),
        )
    )
    paras = pin(paras)
    freq = paras.groupBy("_h").agg(F.count(F.lit(1)).alias("_n"))
    return (
        paras.join(freq, on="_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_paras"),
            F.sum("_len").cast("long").alias("chars_total"),
            F.sum(F.when(F.col("_n") > 1, F.col("_len")).otherwise(0))
            .cast("long")
            .alias("chars_dup"),
        )
    )


def length_blocked_edit_pairs(
    df: DataFrame,
    name_col: str = "name",
    max_dist: int = 2,
) -> DataFrame:
    """Entity-resolution near-dup pairing by EDIT DISTANCE with
    LOSSLESS length blocking — the string-grain similarity the
    token/shingle family cannot express (minhash/simhash/jaccard see
    token sets; "red widget" vs "hot widget" is 3 edits but shares
    half its tokens; a typo'd SKU shares almost none). Levenshtein is
    the standard ER verify for names/titles/SKUs, and both engines
    implement the identical classic DP, so the oracle is exact.

    Sibling operator: ``fuzzyjoin.blocked_edit_distance_pairs`` is
    the LOSSY recall point of the same family — it additionally
    blocks on a shared prefix, which shrinks blocks (cheaper) but
    misses pairs whose edit touches the prefix ("src1" vs "xrc1").
    This operator's length-only blocking is complete: every pair
    within ``max_dist`` is found. Pick by recall requirement.

    Completeness without all-pairs (the classic length-key blocking):
    two strings within edit distance d differ in length by at most d,
    so the PROBE side of the self-join emits each distinct name into
    the (at most two) length blocks covering [len-d, len+d] with
    block width >= 2d+1, the build side keeps only its own block,
    and every qualifying pair meets in exactly ONE (probe-expanded,
    build-own) block — no candidate is missed, no pair duplicates
    (the build side's single block is always inside the probe's
    window). The quadratic work is per-block, bounded by the name-
    length distribution, never corpus-wide; levenshtein runs only on
    block-mates passing the |len diff| <= d filter.

    Operates at the DISTINCT-name grain (names collapse map-side with
    their record counts before any join — the dedup_exact contract),
    so record multiplicity never inflates the pair join. Output:
    (name_a, name_b, edit_dist, n_recs_a, n_recs_b) with
    name_a < name_b.
    """
    b = 2 * max_dist + 1  # the narrowest block covering the ±d length window
    names = (
        df.select(F.col(name_col).alias("_nm"))
        .groupBy("_nm")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
        .withColumn("_len", F.length("_nm"))
    )
    probe = names.select(
        "_nm",
        "_cnt",
        "_len",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("_len") - max_dist) / b),
                    F.floor(F.col("_len") / b),
                    F.floor((F.col("_len") + max_dist) / b),
                )
            )
        ).alias("_blk"),
    )
    build = names.select(
        F.col("_nm").alias("_nm2"),
        F.col("_cnt").alias("_cnt2"),
        F.col("_len").alias("_len2"),
        F.floor(F.col("_len") / b).alias("_blk"),
    )
    return (
        probe.join(build, on="_blk")
        .where(
            (F.col("_nm") < F.col("_nm2"))
            & (F.abs(F.col("_len") - F.col("_len2")) <= max_dist)
        )
        .withColumn("_ed", F.levenshtein(F.col("_nm"), F.col("_nm2")))
        .where(F.col("_ed") <= max_dist)
        .select(
            F.col("_nm").alias("name_a"),
            F.col("_nm2").alias("name_b"),
            F.col("_ed").cast("long").alias("edit_dist"),
            F.col("_cnt").alias("n_recs_a"),
            F.col("_cnt2").alias("n_recs_b"),
        )
    )


def simhash_band_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRING — the join the ``simhash``
    sketch exists for (the sketch query only computes the per-doc
    fingerprint): all pairs of documents whose 32-bit simhashes
    differ in at most ``max_hamming`` bits, WITHOUT an all-pairs
    comparison. The Manku/Google dedup recipe: split the sketch into
    4 contiguous 8-bit bands; by pigeonhole, two sketches with
    Hamming distance <= 3 agree EXACTLY on at least one band,
    so an equi-join on (band index, band bits) finds every qualifying
    pair (completeness requires ``max_hamming <= 3``,
    asserted) and a cheap ``bit_count(xor)`` verify rejects the false
    candidates. Exact — the oracle is the naive all-pairs join.

    Scale shape: sketches are one narrow map (``simhash``); each doc
    explodes to 4 (band, key) rows; candidates come from a
    band-keyed self-equi-join — the LSH band-bucket shape, never a
    cartesian. Bucket population is n / 2^(bits/bands) per band key
    in expectation: at this 32-bit/4-band setting that is
    n/256; a production 64-bit sketch with 16-bit bands bounds it to
    n/65536 (the same knob as MinHash-LSH band width). Verify cost is
    one integer xor per candidate. Duplicate SKETCHES (exact dups)
    concentrate in one bucket by design — run exact dedup first, or
    cap with the LSH star-cap pattern if exact dups are expected.

    Output: (id_a, id_b, hamming) with id_a < id_b, one row per
    qualifying pair.
    """
    assert max_hamming <= 3, "pigeonhole completeness bound of 4 bands"
    width = 8  # 32-bit sketch, 4 bands
    sk = simhash(df, bits=32)
    mask = (1 << width) - 1
    keyed = sk.select(
        F.col("doc_id").alias("_id"),
        F.col("simhash").alias("_sk"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    for b in range(4)
                ]
            )
        ).alias("_band", "_key"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a._band") == F.col("b._band"),
                F.col("a._key") == F.col("b._key"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sk").alias("sk_a"),
            F.col("b._sk").alias("sk_b"),
        )
        .distinct()  # a pair may agree on several bands
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
        .cast("long")
        .alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def _token_docs(df: DataFrame, key_col: str) -> DataFrame:
    """(key, _toks, _n) of each document with at least one
    whitespace token."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    return (
        scale_out(df)
        .select(F.col(key_col), toks.alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") > 0)
    )


def _chunk_hashes(n_chunks: F.Column, c: int) -> F.Column:
    """md5 of each of the ``n_chunks`` consecutive ``c``-token chunks
    of ``_toks``, in order."""
    return F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.md5(F.array_join(F.slice(F.col("_toks"), i * c + 1, c), " ")),
    )


def dup_chunk_stats(
    df: DataFrame,
    chunk_tokens: int = 8,
) -> DataFrame:
    """Per-document duplicated-chunk fraction (Dolma/RedPajama-style
    "fraction of characters in duplicated n-grams" quality signal,
    computed at fixed token-chunk granularity).

    Documents are split into consecutive ``chunk_tokens``-token
    chunks (last chunk may be shorter); a chunk counts as duplicated
    when its exact text occurs in >= 2 distinct documents. Emits one
    row per non-empty document: ``n_chunks``, ``n_dup_chunks`` and
    ``dup_chunk_frac`` — the filter signal curation pipelines
    threshold on before training.

    Scale design: chunking is a narrow ``transform``/``slice`` over
    the token array (no shuffle, no group-by reassembly); chunks
    shuffle as 32-char md5 hashes, never as text, so shuffle width is
    bounded regardless of document length. Two keyed aggregations
    (chunk occurrence count, per-doc rollup) + one hash join — all
    partial-agg friendly, nothing global. Generalizes the reference's
    md5-lineage exact dedup (copy_into_games.sql:6) from whole-row to
    sub-document granularity.
    """
    c = int(chunk_tokens)
    base = _token_docs(df, "doc_id")
    n_chunks = F.ceil(F.col("_n") / F.lit(float(c)))
    chunks = base.select(
        F.col("doc_id"),
        n_chunks.cast("long").alias("n_chunks"),
        F.explode(_chunk_hashes(n_chunks, c)).alias("chunk_hash"),
    )
    occ = chunks.groupBy("chunk_hash").agg(
        F.count_distinct(F.col("doc_id")).alias("_nd")
    )
    return (
        chunks.join(occ, "chunk_hash")
        .groupBy("doc_id", "n_chunks")
        .agg(
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks")
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            (
                F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
                + F.lit(0.0)
            ).alias("dup_chunk_frac"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    chunk_tokens: int = 8,
) -> DataFrame:
    """Exact duplicated-span REMOVAL (the ExactSubstr rewrite of Lee
    et al., "Deduplicating Training Data Makes Language Models
    Better", at fixed token-chunk granularity): a chunk whose exact
    text occurs in >= 2 distinct documents is deleted from every
    document EXCEPT its canonical first occurrence (min doc id, then
    min chunk index within that doc), and each document's surviving
    chunks are stitched back together in order. Unlike
    ``dup_chunk_stats`` (which only scores the duplication), this is
    the corpus TRANSFORM — one copy of every repeated span survives
    corpus-wide. Emits one row per non-empty document: ``n_chunks``,
    ``n_removed``, ``clean_text``.

    Scale design: chunks cross the wire as (id, index, md5) — never
    as text; the canonical occurrence is resolved by two keyed
    aggregations on the 32-char hash (min doc, then min index within
    that doc — both partial-agg friendly). Kept chunk INDEXES (ints)
    roll back up per doc and join the original token arrays
    co-partitioned on the id, so document text is shuffled exactly
    once, for the final stitch — the irreducible cost of a rewrite.
    Extends the reference's whole-row md5 dedup (copy_into_games.sql:6)
    to sub-document spans.
    """
    c = int(chunk_tokens)
    base = _token_docs(df, "doc_id").withColumn(
        "n_chunks", F.ceil(F.col("_n") / F.lit(float(c))).cast("long")
    )
    # base feeds the chunk explode AND the final stitch; chunks feeds
    # three joins (occurrence stats, canonical index, keep filter) —
    # persist both so tokenization/hashing runs once (released by the
    # caller's cache_scope or session.release_cached)
    base = pin(base)
    chunks = base.select(
        F.col("doc_id"),
        F.posexplode(_chunk_hashes(F.col("n_chunks"), c)).alias("_i", "_h"),
    )
    chunks = pin(chunks)
    occ = chunks.groupBy("_h").agg(
        F.count_distinct(F.col("doc_id")).alias("_nd"),
        F.min("doc_id").alias("_mdoc"),
    )
    first_i = (
        chunks.join(occ, "_h")
        .filter(F.col("doc_id") == F.col("_mdoc"))
        .groupBy("_h")
        .agg(F.min("_i").alias("_fi"))
    )
    kept = (
        chunks.join(occ, "_h")
        .join(first_i, "_h")
        .filter(
            (F.col("_nd") < 2)
            | ((F.col("doc_id") == F.col("_mdoc")) & (F.col("_i") == F.col("_fi")))
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("_i")).alias("_ki"),
            F.count(F.lit(1)).cast("long").alias("_n_kept"),
        )
    )
    return (
        base.join(kept, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(
                F.array_join(
                    F.flatten(
                        F.transform(
                            F.col("_ki"),
                            lambda i: F.slice(F.col("_toks"), i * c + 1, c),
                        )
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


def source_overlap_matrix(
    df: DataFrame,
    chunk_tokens: int = 8,
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how
    many distinct ``chunk_tokens``-token chunks they share, with the
    chunk-set Jaccard — the "is corpus B just a mirror of corpus A"
    diagnostic a curation pipeline runs before paying to dedup or
    license a new source.

    Scale design: chunks reduce to DISTINCT (source, md5) pairs first
    (map-side combine; the relation is bounded by distinct-chunk
    count, not corpus size), and the pair fan-out of the chunk-keyed
    self-join is bounded by C(#sources, 2) per chunk — sources are a
    dimension (tens), so this is dimension-squared work per key,
    never doc-pair work. Emits only pairs sharing >= 1 chunk.
    """
    c = int(chunk_tokens)
    base = _token_docs(df, "source")
    n_chunks = F.ceil(F.col("_n") / F.lit(float(c)))
    sc = base.select(
        F.col("source"),
        F.explode(_chunk_hashes(n_chunks, c)).alias("chunk_hash"),
    ).distinct()
    # read 3x (sizes + both self-join sides); released by the
    # caller's cache_scope or session.release_cached
    sc = pin(sc)
    sizes = sc.groupBy("source").agg(F.count(F.lit(1)).alias("n_chunks"))
    a = sc.select(F.col("source").alias("src_a"), "chunk_hash")
    b = sc.select(F.col("source").alias("src_b"), "chunk_hash")
    inter = (
        a.join(b, on="chunk_hash")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_chunks").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_chunks").alias("n_b"))
    return (
        inter.join(sa, on="src_a")
        .join(sb, on="src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("chunk_jaccard"),
        )
    )


def dedup_rate_by_group(df: DataFrame) -> DataFrame:
    """Per-group duplicate-rate report: for each group (source,
    language, crawl, ...), how many docs exist, how many are copies
    of content (``normalized_text``) that appears >= 2 times ANYWHERE
    in the corpus, and
    the rate — the per-source health dashboard a curation run emits
    before and after dedup. Cross-group duplicates count in every
    group holding a copy (that's the point: it surfaces mirrors).

    One fingerprint pass (md5, narrow), one fingerprint-keyed count,
    one join back, one per-group rollup — all partial-agg friendly;
    text never shuffles.
    """
    fp = F.md5(normalized_text())
    docs = scale_out(df).select(F.col("source"), F.col("doc_id"), fp.alias("_fp"))
    occ = docs.groupBy("_fp").agg(F.count(F.lit(1)).alias("_nc"))
    return (
        docs.join(occ, on="_fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_nc") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            (
                F.round(F.col("n_dup_docs") / F.col("n_docs"), 6) + F.lit(0.0)
            ).alias("dup_rate"),
        )
    )


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Content-defined chunking (the FastCDC/rolling-window idea
    reduced to its portable core): a chunk boundary falls AFTER
    character position ``e = i + 7`` whenever the hash of the 8
    chars ending there satisfies ``hex4(md5(win)) % 16 == 0``. Because the trigger depends only on LOCAL content,
    an insertion near the start of a document re-chunks only the
    region it touches — unlike the fixed 8-token chunk grain
    (``dup_chunk_fraction``), where one inserted token shifts every
    later chunk and defeats chunk-hash dedup. Expected chunk length is
    ~16 chars plus the window.

    Output: one row per chunk (id, chunk_start, chunk_len,
    chunk_hash) with md5 chunk hashes — the sub-document dedup grain.

    Scale shape (r10 VERDICT fix): the per-character position explode
    + boundary filter stay MAP-SIDE in one whole-stage-codegen span
    (linear in corpus bytes, the dominant md5 cost — a pure
    higher-order-function formulation was measured 3x slower at sf0.1
    because HOF lambdas evaluate interpreted), and ONLY the narrow
    ``(_id, e)`` boundary rows shuffle, into a per-doc sorted array
    (~L/16 ints per doc). Document text crosses an Exchange
    exactly ONCE per document — the doc-grain equi-join that brings
    the boundary array back — never at the boundary/position grain
    (the old lag-window form replicated the full text onto every
    boundary row: O(L²/16) shuffle bytes per document). Spans
    and chunk hashes then derive per-row from the bounded array with
    ``transform``/``zip_with`` + one explode. Pinned by
    tests/test_round11_fixes.py: no Exchange child may carry the text
    column together with a position/boundary-grain column.
    """
    # the per-position md5 boundary scan below is the dominant cost
    # (one digest per character window) and runs BEFORE any exchange —
    # an under-partitioned scan (one small parquet file) would
    # serialize all of it onto one task; no-op at real scale
    docs = scale_out(df.where(F.length(F.col("text")) >= 1)).select(
        F.col("doc_id").alias("_id"), F.col("text").alias("_t")
    )
    Lt = F.length("_t")
    pos = docs.select(
        "_id",
        Lt.alias("_len"),
        "_t",
        F.explode(
            F.when(Lt >= 8, F.sequence(F.lit(1), Lt - 7))
            .otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    e = F.col("i") + 7
    bnd = pos.where(
        (
            F.conv(
                F.substring(F.md5(F.substring("_t", F.col("i"), F.lit(8))), 1, 4),
                16,
                10,
            ).cast("long")
            % 16
            == 0
        )
        & (e < F.col("_len"))
    ).select("_id", e.alias("e"))
    bnd_arr = bnd.groupBy("_id").agg(
        F.sort_array(F.collect_list("e")).alias("_bs")
    )
    joined = docs.join(bnd_arr, on="_id", how="left")
    bs = F.coalesce(F.col("_bs"), F.array().cast("array<int>"))
    starts = F.transform(F.concat(F.array(F.lit(0)), bs), lambda x: x + 1)
    ends = F.concat(bs, F.array(F.length("_t")))
    spans = F.zip_with(
        starts, ends, lambda s, x: F.struct(s.alias("s"), x.alias("e"))
    )
    return joined.select(
        "_id", "_t", F.explode(spans).alias("se")
    ).select(
        F.col("_id").alias("doc_id"),
        F.col("se.s").alias("chunk_start"),
        (F.col("se.e") - F.col("se.s") + 1).cast("long").alias("chunk_len"),
        F.md5(F.expr("substring(_t, se.s, se.e - se.s + 1)")).alias(
            "chunk_hash"
        ),
    )


def cdc_dedup_stats(df: DataFrame) -> DataFrame:
    """Per-document sub-document dedup scorecard over the
    content-defined chunk grain: chunk count, chunks whose hash also
    appears in at least one OTHER document, and the duplicated
    fraction — the shift-resistant twin of ``dup_chunk_fraction``.

    Scale: chunk hashes group map-side-combined; "appears in another
    doc" is (distinct docs per hash) >= 2, an aggregate + equi-join,
    never a self-join of chunk rows. Zero-chunk (empty) documents are
    kept via the left join with NULL fraction.
    """
    chunks = cdc_chunks(df)
    per_hash = chunks.groupBy("chunk_hash").agg(
        F.count_distinct(F.col("doc_id")).alias("n_docs_with")
    )
    flagged = chunks.join(per_hash, on="chunk_hash").select(
        "doc_id", (F.col("n_docs_with") >= 2).cast("long").alias("is_dup")
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("is_dup").cast("long").alias("n_dup_chunks"),
    )
    return (
        df.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            F.expr(
                "CASE WHEN COALESCE(n_chunks, 0) = 0 THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(n_dup_chunks AS DOUBLE)"
                " / CAST(n_chunks AS DOUBLE) END"
            ).alias("dup_chunk_frac"),
        )
    )


_TRACKING_PARAM_RE = "^(utm_[^=&]*|gclid|fbclid|ref)(=|$)"


def _url_head() -> tuple[F.Column, F.Column, F.Column]:
    """A URL trimmed and fragment-stripped, its lowercased scheme, and
    its lowercased host with the scheme's default port removed
    (``canonical_url`` rules 1-3)."""
    u = F.trim(F.col("url"))
    u = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    return u, scheme, host


def canonical_url() -> F.Column:
    """Canonical form of an absolute URL — the C4/CCNet *first-line*
    dedup grain: web corpora dedup by normalized URL before any
    content pass, because the same page is crawled under dozens of
    encodings (case-shifted hosts, default ports, tracking params,
    trailing slashes, fragments) and dropping those re-crawls is free
    compared to content hashing. Pure expression work — no UDF, no
    shuffle; Catalyst folds the whole normalization into the scan
    projection.

    Normalization spec (deterministic, engine-portable):

    1. trim surrounding whitespace; strip the fragment (first ``#``
       to end);
    2. scheme and host (authority) lowercased;
    3. default ports stripped (``:80`` iff scheme http, ``:443`` iff
       scheme https — a non-default port is identity-bearing and
       kept, including ``http://...:443``);
    4. trailing slashes trimmed from the path (``/a/b/`` == ``/a/b``,
       a bare ``/`` collapses to the empty path);
    5. query split on ``&``; empty params and tracking params
       (``utm_*``, ``gclid``, ``fbclid``, bare ``ref`` — prefix-safe:
       ``refresh=1`` survives) dropped; survivors sorted
       lexicographically (byte order, both engines' default for
       ASCII) and re-joined — param order never identifies a page;
    6. reassembled as ``scheme://host[path][?query]``; URLs with no
       parseable scheme or empty host canonicalize to NULL (relative
       URLs have no global identity to dedup on).

    Percent-encoding case and IDN/punycode are NOT normalized (both
    need codepoint tables, not expressions); at the corpus level the
    miss rate of those two is negligible next to tracking-param and
    slash noise.
    """
    u, scheme, host = _url_head()
    path = F.regexp_replace(
        F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
        ),
        "/+$",
        "",
    )
    q = F.regexp_extract(u, r"\?(.*)$", 1)
    keep = F.filter(
        F.split(q, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.sort_array(keep), "&")
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when((scheme == "") | (host == ""), F.lit(None)).otherwise(out)


def url_dedup_groups(df: DataFrame) -> DataFrame:
    """URL-grain exact dedup: one row per canonical URL with the
    representative (min id) and the duplicate count — ``exact_dedup``
    with ``canonical_url`` as the content fingerprint. Rows whose URL
    does not canonicalize (NULL) are excluded: they have no URL
    identity to collapse on (content-grain dedup still sees them).

    Scale shape: the normalization is a narrow per-row projection
    folded into the scan; the only shuffle is the md5-of-canonical
    group-by (32-char keys, never the raw URL text at width) with
    map-side partial aggregation. Identical to ``exact_dedup``'s
    contract, one grain up the C4/CCNet ladder: URL -> document ->
    paragraph -> chunk -> n-gram.
    """
    canon = canonical_url()
    return (
        df.select(F.col("doc_id"), canon.alias("canonical_url"))
        .where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("representative_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def within_doc_segment_dedup(
    df: DataFrame,
    delim: str = "\n\n",
    join_delim: str | None = None,
) -> DataFrame:
    """WITHIN-document segment dedup — the Dolma/CCNet per-document
    repetition strip: a segment (paragraph/line) repeated INSIDE one
    document keeps only its first occurrence, and the survivors are
    stitched back in order. The corpus-grain twin is
    ``remove_duplicate_spans`` (cross-document); this one never looks
    outside the document, so templated pages that repeat their own
    nav/footer blocks shrink even when nothing repeats corpus-wide.

    Semantics: split on ``delim`` (Java regex), trim, drop empty
    segments; within each document keep the first (minimum
    split position) occurrence of each distinct trimmed segment;
    output one row per document that retains >= 1 segment:
    (id, n_segs, n_kept, chars_removed, clean_text) with clean_text
    the kept segments joined in original order. ``delim`` is a Java
    REGEX for the split; the stitch uses the LITERAL ``join_delim``
    (default: ``delim`` verbatim — pass both when the split pattern
    contains regex metacharacters).

    Scale shape: the first-occurrence decision happens at the
    (document, segment-hash) grain — the dedup window partitions by
    (id, md5), so no partition outgrows one document's distinct
    segments; segment TEXT shuffles exactly once, keyed by the doc
    id, for the stitch (the ``remove_duplicate_spans`` contract —
    linear in corpus bytes, and a document must fit an executor,
    which the chunking ops upstream guarantee in a real pipeline).
    """
    seg = F.trim(F.col("_p"))
    segs = (
        scale_out(df)
        .select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), delim)).alias("_i", "_p"),
        )
        .where(F.length(seg) >= 1)
        .select("doc_id", "_i", seg.alias("_s"))
    )
    w = Window.partitionBy("doc_id", F.md5(F.col("_s")))
    flagged = segs.withColumn("_first", F.min("_i").over(w) == F.col("_i"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.sum(F.col("_first").cast("long")).cast("long").alias("n_kept"),
            F.sum(
                F.when(~F.col("_first"), F.length("_s")).otherwise(0)
            )
            .cast("long")
            .alias("chars_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_first"),
                                F.struct(F.col("_i"), F.col("_s")),
                            )
                        )
                    ),
                    lambda s: s["_s"],
                ),
                delim if join_delim is None else join_delim,
            ).alias("clean_text"),
        )
    )


def site_key() -> F.Column:
    """Site identity of a URL — the canonical host with a leading
    ``www.`` stripped: the grain C4-style corpora gate and report on
    (domain blocklists, per-site caps, head-concentration checks).
    Registrable-domain folding (public-suffix lists — ``co.uk``
    grouping) needs a lookup table, not an expression, and is out of
    scope; ``www.``-stripping plus the ``canonical_url`` host rules
    (lowercase, default ports removed) cover the overwhelming share
    of same-site aliasing. NULL for URLs with no parseable host.
    """
    _, scheme, host = _url_head()
    host = F.regexp_replace(host, r"^www\.", "")
    return F.when((scheme == "") | (host == ""), F.lit(None)).otherwise(host)


def domain_concentration(
    df: DataFrame,
    weight_col: str | None = None,
    top_k: int = 20,
) -> DataFrame:
    """Head-concentration report over site keys: the top-``top_k``
    sites by document count with their share — and cumulative share —
    of the whole corpus. This is the table a curation lead reads
    before setting per-site caps (C4/FineWeb both cap or drop
    dominant hosts): a corpus whose top-20 sites carry half the
    token mass trains a model on those sites' voice.

    Determinism: shares are single divisions of exact integers; the
    cumulative sum runs over INTEGER doc counts (order-free) and
    divides once. Ranking breaks ties on the site key.

    Scale shape: one map-side-combined site aggregate (site grain <<
    rows), a 1-row broadcast total, a global top-k (TakeOrdered — no
    full sort shuffle), and the cumulative window runs over the
    ``top_k``-row result only — the unbounded site-grain relation
    never passes an unpartitioned window.
    """
    wexpr = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    sites = (
        df.select(site_key().alias("site"), wexpr.alias("_w"))
        .where(F.col("site").isNotNull())
        .groupBy("site")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("weight_total"),
        )
    )
    totals = sites.agg(
        F.sum("n_docs").cast("long").alias("_td"),
        F.sum("weight_total").cast("long").alias("_tw"),
    )
    top = (
        sites.orderBy(F.col("n_docs").desc(), F.col("site").asc())
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
    )
    wcum = Window.orderBy(F.col("n_docs").desc(), F.col("site").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return top.select(
        "site",
        "n_docs",
        "weight_total",
        (F.col("n_docs").cast("double") / F.col("_td").cast("double")).alias(
            "doc_share"
        ),
        (
            F.sum("n_docs").over(wcum).cast("double")
            / F.col("_td").cast("double")
        ).alias("cum_doc_share"),
        (
            F.col("weight_total").cast("double") / F.col("_tw").cast("double")
        ).alias("weight_share"),
    )
