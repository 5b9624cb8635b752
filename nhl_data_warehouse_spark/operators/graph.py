"""Iterative graph algorithms on DataFrames.

``connected_components`` (operators/dedup.py) covers the dedup-
clustering case; this module adds weighted PageRank — the canonical
"iterate a sparse matrix-vector product" shape. Each iteration is one
join + one aggregate; ranks are a tiny per-node table that BROADCASTS
into the edge join, so the edge list (the 100 TB side) never
re-shuffles across iterations — pre-partition it once on ``src`` and
every iteration's join is partition-local.

Determinism under distributed summation: per-edge contributions are
rounded to 12 dp and summed as DECIMAL (exact, order-free), and each
iteration's rank is rounded to 6 dp — so 3 iterations on Spark equal
3 unrolled CTEs on any other engine bit-for-bit (the suite oracle
does exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nhl_data_warehouse_spark.operators.caching import checkpoint, pin


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank, ``n_iter`` fixed iterations, simplified
    dangling handling (dangling mass is dropped, the standard
    tutorial formulation — ranks need not sum to 1). Returns
    (node, rank) with rank = round((1-d)/N + d * sum_in, 6).
    """
    n_nodes = nodes.count()  # driver-side scalar: node table is tiny
    base = round((1.0 - damping) / n_nodes, 12)
    out_w = edges.groupBy(src).agg(F.sum(weight).alias("__out_w"))
    # normalized transition weight; edges is the big side, compute once
    trans = edges.join(out_w, on=src).select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        (F.col(weight).cast("double") / F.col("__out_w").cast("double")).alias(
            "__p"
        ),
    )
    trans = checkpoint(trans)  # reused every iteration
    init = round(1.0 / n_nodes, 6)
    # rank is carried as double (6dp-rounded each iteration): exactness
    # lives in the per-edge DECIMAL partial sums below; a double final
    # schema is what the driver's oracle comparison can hash (W1)
    ranks = nodes.select(
        F.col(node_col).alias("__node"),
        F.lit(init).cast("double").alias("rank"),
    )
    for _ in range(n_iter):
        contrib = (
            trans.join(
                F.broadcast(ranks.withColumnRenamed("__node", "__src")),
                on="__src",
            )
            .select(
                "__dst",
                F.round(F.col("rank").cast("double") * F.col("__p"), 12)
                .cast("decimal(24,12)")
                .alias("__c"),
            )
            .groupBy("__dst")
            .agg(F.sum("__c").alias("__sum"))
        )
        ranks = (
            ranks.join(
                contrib.withColumnRenamed("__dst", "__node"), on="__node", how="left"
            )
            .select(
                "__node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("__sum").cast("double"), F.lit(0.0)),
                    6,
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("__node").alias(node_col), "rank")


def triangle_counts(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts on an undirected graph,
    via degree-ordered edge orientation (the MapReduce scheme of
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11).

    Each undirected edge is oriented from the (degree, id)-smaller
    endpoint to the larger, so every triangle {x<y<z} is generated
    exactly once as a wedge at its smallest vertex plus one closing
    edge check. Orientation bounds out-degree by O(sqrt(m)) even on
    power-law graphs, which caps the wedge blow-up — the reason this
    beats a naive 3-way self-join at 100 TB: the wedge join shuffles
    O(sum deg_out^2) = O(m^1.5) instead of the last reducer drowning
    in a celebrity node's O(deg^2).

    Input may contain duplicates / both directions / self-loops; it is
    canonicalized first. Output: (node, n_triangles) for nodes in >= 1
    triangle.

    Broadcast-size assumption: the degree table is |V|-sized and is
    broadcast into both lookups — valid while |V| fits Spark's ~8 GB
    broadcast ceiling (dimension-scale node sets). For billion-node
    graphs remove the hints and let AQE choose shuffle joins.

    The shared core pins two relations; a library caller releases
    them with ``cache_scope`` (``operators/caching.py``).
    """
    return _canonical_deg_tri(edges, a, b, assume_canonical)[1]


def _canonical_deg_tri(
    edges: DataFrame,
    a: str,
    b: str,
    assume_canonical: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of ``triangle_counts`` / ``clustering_coefficients``:
    canonicalize once (persisted — read by the degree aggregate AND
    the orientation join), return (degrees as (node, degree),
    per-node triangle counts). Sharing the persisted relation is what
    keeps the coefficient operator from executing an expensive
    upstream edge projection twice (measured 6.9 -> 5.2-6.1 s warm on
    the co-supply graph at sf0.1 — parity with the bare triangle
    count's 5.3 s; the remaining cost IS the shared wedge machinery)."""
    if assume_canonical:
        # caller guarantees a < b, no duplicates, no self-loops (e.g.
        # edges born from a groupBy(a, b) with an a < b join filter) —
        # skip the canonicalize exchange + distinct aggregate outright
        # (guide §2.4: a distinct on data that is already unique is a
        # pure-overhead shuffle, and here it also costs a codegen stage)
        e = edges.select(F.col(a).alias("_a"), F.col(b).alias("_b"))
    else:
        e = (
            edges.select(
                F.least(F.col(a), F.col(b)).alias("_a"),
                F.greatest(F.col(a), F.col(b)).alias("_b"),
            )
            .filter(F.col("_a") < F.col("_b"))
            .distinct()
        )
    e = pin(e)  # read 3x: two degree projections + the orient join
    deg = (
        e.select(F.col("_a").alias("_n"))
        .unionAll(e.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    # degree table is |V|-sized (small vs edges) -> broadcast both lookups
    o = (
        e.join(
            F.broadcast(deg.select(F.col("_n").alias("_a"), F.col("_deg").alias("_da"))),
            on="_a",
        )
        .join(
            F.broadcast(deg.select(F.col("_n").alias("_b"), F.col("_deg").alias("_db"))),
            on="_b",
        )
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))),
                F.struct(
                    F.col("_a").alias("src"),
                    F.col("_b").alias("dst"),
                    F.col("_db").alias("dst_deg"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("_b").alias("src"),
                    F.col("_a").alias("dst"),
                    F.col("_da").alias("dst_deg"),
                )
            )
            .alias("_o")
        )
        .select("_o.src", "_o.dst", "_o.dst_deg")
    )
    # read 3x (wedge self-join both sides + closing-edge probe): pin it
    # so canonicalize/degree/orient runs once, not three times. The
    # repartition spreads the cached relation to the cluster
    # parallelism BEFORE the persist: the wedge stage below is a
    # broadcast join whose parallelism is exactly the cached probe
    # side's partition count, and an |E|-sized relation is small in
    # BYTES while its wedge fan-out is O(sum deg_out^2) rows — the
    # byte-based partitioning a tiny cached relation would otherwise
    # keep serializes the whole wedge generation onto a few tasks
    # (guide §2.5: size heuristics misjudge fan-out stages).
    from nhl_data_warehouse_spark.operators.dedup import scale_out

    o = pin(scale_out(o))
    o1, o2 = o.alias("o1"), o.alias("o2")
    lt = (F.col("o1.dst_deg") < F.col("o2.dst_deg")) | (
        (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    # broadcast the build side of the wedge join: the oriented edge
    # relation already fits the same broadcast ceiling the closing-edge
    # probe below assumes, and broadcasting keeps the wedge stage a
    # NARROW map over the repartitioned cache instead of re-exchanging
    # both sides by src (two shuffles fewer, and the fan-out stage
    # inherits the cache's full parallelism).
    wedges = o1.join(
        F.broadcast(o2), (F.col("o1.src") == F.col("o2.src")) & lt
    ).select(
        F.col("o1.src").alias("apex"),
        F.col("o1.dst").alias("x"),
        F.col("o2.dst").alias("y"),
    )
    # closing edge respects the same total order, so it is oriented
    # x->y. Broadcast the edge side: the wedge set is O(sum deg^2) =
    # the big relation here, and shuffling it to meet an |E|-sized
    # probe table inverts the size relationship a hash join wants.
    # Valid while |E| fits the broadcast ceiling (same dimension-scale
    # assumption as the degree table above); for larger graphs drop
    # the hint and AQE picks a shuffled join.
    tri = wedges.join(
        F.broadcast(o.select(F.col("src").alias("x"), F.col("dst").alias("y"))),
        on=["x", "y"],
    )
    tri_counts = (
        tri.select(
            F.explode(F.array(F.col("apex"), F.col("x"), F.col("y"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    degrees = deg.select(
        F.col("_n").alias("node"), F.col("_deg").cast("long").alias("degree")
    )
    return degrees, tri_counts


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Minimum hop distance from a seed set over a directed edge list,
    bounded breadth-first expansion (<= ``max_hops`` levels).

    Classic frontier BFS: each level joins the (small) frontier into
    the edge list and anti-joins already-visited nodes, so a node is
    emitted at its first (= minimum) hop. The frontier/visited tables
    are node-sized — broadcast into the edge join — so the 100 TB edge
    list is scanned, never re-shuffled, and each level is one
    broadcast join. ``localCheckpoint`` pins each level's frontier to
    keep the loop's lineage flat. Early-exits when a frontier drains.

    Broadcast-size assumption: frontier/visited are |V|-sized tables;
    this caps at Spark's broadcast ceiling (~8 GB), fine for graphs up
    to low-billions of edges over dimension-scale node sets. Beyond
    that, drop the explicit hints and let AQE pick shuffle joins.

    Returns (node, hop) with hop 0 for seeds, named ``node_col``.
    """
    # pin the edge list: every level's join + isEmpty() is an action,
    # and an unpinned edge DataFrame re-runs its whole derivation
    # (often a multi-join aggregate) once per level
    edges = pin(edges)
    visited = seeds.select(
        F.col(node_col).alias("node"), F.lit(0).alias("hop")
    ).distinct()  # duplicate seed rows must not duplicate hop-0 output
    frontier = checkpoint(visited)
    for h in range(1, max_hops + 1):
        fr = F.broadcast(frontier.select(F.col("node").alias("_fn")))
        nxt = checkpoint(
            fr.join(edges, fr["_fn"] == edges[src])
            .select(F.col(dst).alias("node"), F.lit(h).alias("hop"))
            .distinct()
            .join(visited.select("node"), on="node", how="left_anti")
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.select(F.col("node").alias(node_col), "hop")


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    top_k: int | None = None,
) -> DataFrame:
    """Bipartite co-occurrence projection (market-basket mining): count
    how many groups contain each unordered item pair — the
    recommendation / collocation shape (orders x parts here; documents
    x entities, sessions x pages elsewhere).

    Distinct (group, item) first, then a self-equi-join on the group
    key with ``item_a < item_b`` so each pair counts once per group.
    Scale: the join co-partitions both sides on the group key (one
    shuffle each, and AQE handles residual skew); per-group output is
    C(n_items, 2), so bounded basket sizes keep it linear in groups —
    cap or sample oversized groups (``sampling.group_cap``) before
    projecting when group size is unbounded.

    ``top_k`` orders by (count desc, item_a, item_b) — a deterministic
    total order, so the selected set is reproducible.
    """
    items = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("item_a")
    ).distinct()
    pairs = items.join(
        items.select(F.col("_g"), F.col("item_a").alias("item_b")),
        on="_g",
    ).filter(F.col("item_a") < F.col("item_b"))
    counts = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    if top_k is not None:
        counts = counts.orderBy(
            F.col("n_groups").desc(), F.col("item_a").asc(), F.col("item_b").asc()
        ).limit(top_k)
    return counts


def degree_assortativity(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_shared: int = 2,
) -> DataFrame:
    """Degree assortativity coefficient (Newman's r) of the
    co-occurrence projection graph: the Pearson correlation of the
    endpoint DEGREES over the edge list — do well-connected items
    link to other hubs (r > 0, assortative) or to the periphery
    (r < 0, disassortative, the hub-and-spoke signature)? The one
    scalar that summarizes whether a near-dup/co-occurrence graph is
    a few giant stars (dedup clusters that will chain badly) or a
    flat mesh — checked before running connected components at scale.

    Edges are item pairs sharing >= ``min_shared`` groups (the
    ``neighbor_jaccard`` pruning), degrees counted WITHIN that graph.
    Exactness: over the directed edge list (each undirected edge in
    both orientations, M = 2m rows) symmetry gives Sx = Sy and
    Sxx = Syy, so r = (M*Sxy - Sx^2) / (M*Sxx - Sx^2) with every sum
    an exact integer accumulated in DECIMAL(38,0) — numerator and
    denominator cast to double once, ONE final division. Degenerate
    graphs (no edges, or all degrees equal => zero denominator) emit
    explicit NULL.

    Scale shape: the projection self-join co-partitions on the group
    key (cap oversized groups upstream, the cooccurrence_pairs
    doctrine); degrees are one map-side-combined aggregate on the
    node key; the degree lookup is two node-keyed equi-joins; the
    moment reduction is one bounded aggregate. No window, no
    all-pairs beyond the capped projection.
    """
    items = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    edges = (
        items.join(
            items.select("_g", F.col("_i").alias("_j")), on="_g"
        )
        .filter(F.col("_i") < F.col("_j"))
        .groupBy("_i", "_j")
        .agg(F.count(F.lit(1)).alias("_ng"))
        .where(F.col("_ng") >= min_shared)
        .select("_i", "_j")
    )
    directed = edges.unionByName(
        edges.select(F.col("_j").alias("_i"), F.col("_i").alias("_j"))
    )
    deg = directed.groupBy(F.col("_i").alias("_n")).agg(
        F.count(F.lit(1)).cast("long").alias("_d")
    )
    du = deg.select(F.col("_n").alias("_i"), F.col("_d").alias("_du"))
    dv = deg.select(F.col("_n").alias("_j"), F.col("_d").alias("_dv"))
    moments = (
        directed.join(du, on="_i")
        .join(dv, on="_j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m2"),
            F.sum(F.col("_du").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sx"),
            F.sum(
                F.col("_du").cast("decimal(38,0)") * F.col("_dv")
            )
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(
                F.col("_du").cast("decimal(38,0)") * F.col("_du")
            )
            .cast("decimal(38,0)")
            .alias("sxx"),
        )
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return moments.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        F.expr("CAST(m2 DIV 2 AS BIGINT)").alias("n_edges"),
        F.expr(
            "CASE WHEN m2 = 0 OR m2 * sxx - sx * sx = 0"
            " THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(m2 * sxy - sx * sx AS DOUBLE)"
            " / CAST(m2 * sxx - sx * sx AS DOUBLE) END"
        ).alias("assortativity"),
    )


def label_propagation(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_shared: int = 2,
    rounds: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al.) over the co-occurrence projection — the DENSITY
    community structure the connectivity operators cannot see:
    connected components (``near_dup_clusters_*``) merge everything
    reachable, LPA converges to locally-dominant labels, splitting a
    chain of weakly-bridged dense groups into its groups. The
    pre-clustering view a curation pipeline wants when CC returns one
    giant component.

    Determinism (LPA is notoriously order-sensitive; this form is
    not): updates are SYNCHRONOUS (round t+1 reads only round t) for
    a FIXED round count, the new label is the most frequent neighbor
    label with ties broken by SMALLEST label — a total order, so the
    result is a pure function of the graph. Labels start as the node
    id. Fixed rounds rather than convergence detection keeps the
    plan static (and the oracle unrollable); components shows the
    converged-connectivity alternative.

    Scale shape per round: one node-keyed equi-join (neighbor
    labels), one map-side-combined (node, label) count, one window
    PARTITIONED by node over per-node label counts (bounded by
    degree). ``rounds`` is a fixed small constant — the plan is
    ``rounds`` such stages; for big graphs localCheckpoint between
    rounds caps lineage (the kiveris doctrine).
    """
    items = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    edges = (
        items.join(items.select("_g", F.col("_i").alias("_j")), on="_g")
        .filter(F.col("_i") < F.col("_j"))
        .groupBy("_i", "_j")
        .agg(F.count(F.lit(1)).alias("_ng"))
        .where(F.col("_ng") >= min_shared)
        .select("_i", "_j")
    )
    directed = edges.unionByName(
        edges.select(F.col("_j").alias("_i"), F.col("_i").alias("_j"))
    )
    labels = directed.select(F.col("_i").alias("_n")).distinct().select(
        "_n", F.col("_n").alias("_lbl")
    )
    w = Window.partitionBy("_v").orderBy(
        F.col("_cnt").desc(), F.col("_lbl").asc()
    )
    for _ in range(rounds):
        nb = directed.join(
            labels, on=F.col("_j") == F.col("_n")
        ).select(F.col("_i").alias("_v"), "_lbl")
        labels = (
            nb.groupBy("_v", "_lbl")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("_v").alias("_n"), "_lbl")
        )
    return labels.select(
        F.col("_n").alias(item_col), F.col("_lbl").alias("community")
    )


def kcore_peel(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """k-core decomposition by synchronous peeling (Matula & Beck's
    algorithm, bounded rounds): repeatedly delete nodes of degree < k;
    what survives is the maximal subgraph where every node keeps >= k
    neighbors — the density QA gauge the other graph ops lack.
    Triangles/clustering score LOCAL density and LPA finds dominant
    labels; the k-core answers "is there a mutually-dense SUBGRAPH
    here at all" — in dedup-cluster QA, template farms survive high-k
    peeling while organic near-dup pairs fall out immediately.

    Determinism / bounded plan (the label_propagation doctrine):
    peeling runs a FIXED ``rounds`` synchronous iterations (round t+1
    reads only round t's survivor set), so the result is a pure
    function of the graph with a static, oracle-unrollable plan. At
    convergence (no node removed in a round) this IS the exact
    k-core; on graphs needing more rounds the fixed-round result is a
    documented superset (each round only shrinks). Output: (node,
    core_degree) for nodes surviving all rounds, with their degree
    in the surviving edge set.

    Scale shape per round: one map-side-combined degree aggregate
    over the current edge set and two semi-joins against the
    |V|-sized survivor relation (broadcast — same dimension-scale
    assumption as triangle_counts; drop the hints past the ~8 GB
    ceiling and AQE picks shuffle joins). Edges only ever shrink.
    Each round's survivor edge set is ``localCheckpoint``-ed (the
    kiveris/bfs doctrine): the degree pass and the semi-join both
    read round t's edges, and round t+1 reads their output, so an
    unpinned loop re-executes the whole upstream projection
    ~2^rounds times — measured 235 s -> 9 s at sf0.01 on the
    co-purchase graph when the checkpoint was added. The checkpoint
    blocks are released by the caller's ``cache_scope`` or the
    session's ``release_cached`` sweep.
    """
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("_a"),
            F.greatest(F.col(a), F.col(b)).alias("_b"),
        )
        .filter(F.col("_a") < F.col("_b"))
        .distinct()
    )

    def _deg(cur: DataFrame) -> DataFrame:
        return (
            cur.select(F.col("_a").alias("_n"))
            .unionAll(cur.select(F.col("_b").alias("_n")))
            .groupBy("_n")
            .agg(F.count(F.lit(1)).alias("_deg"))
        )

    e = checkpoint(e)
    for _ in range(rounds):
        keep = _deg(e).where(F.col("_deg") >= k).select("_n")
        e = checkpoint(
            e.join(
                F.broadcast(keep.select(F.col("_n").alias("_a"))), on="_a"
            ).join(F.broadcast(keep.select(F.col("_n").alias("_b"))), on="_b")
        )
    return _deg(e).select(
        F.col("_n").alias("node"), F.col("_deg").cast("long").alias("core_degree")
    )


def association_rules(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 3,
    top_k: int = 30,
) -> DataFrame:
    """Association-rule mining over the co-occurrence projection:
    support, directional confidence and lift per item pair — the
    market-basket step after pair counting that turns counts into a
    ranked recommendation signal (lift > 1 = the pair co-occurs more
    than independence predicts).

    Every ratio is one fixed-order division of exact integers (pair /
    item / basket counts), so the doubles are engine-stable without
    rounding and the lift-desc ordering is deterministic (item-pair
    tie-break). Scale: reuses the bounded-fan-out pair join of
    ``cooccurrence_pairs``; item counts and the 1-row basket total
    join back by broadcast; ``min_pair_count`` prunes the long tail
    before the joins.
    """
    items = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    items = pin(items)  # pair join (both sides) + item counts + N
    item_counts = items.groupBy("_i").agg(F.count(F.lit(1)).alias("_n_item"))
    total = items.select("_g").distinct().agg(
        F.count(F.lit(1)).alias("_n_groups")
    )
    pairs = (
        items.join(
            items.select(F.col("_g"), F.col("_i").alias("_j")), on="_g"
        )
        .filter(F.col("_i") < F.col("_j"))
        .groupBy(F.col("_i").alias("item_a"), F.col("_j").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
    )
    na = item_counts.select(
        F.col("_i").alias("item_a"), F.col("_n_item").alias("n_a")
    )
    nb = item_counts.select(
        F.col("_i").alias("item_b"), F.col("_n_item").alias("n_b")
    )
    out = (
        pairs.join(F.broadcast(na), on="item_a")
        .join(F.broadcast(nb), on="item_b")
        .join(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab") / F.col("_n_groups").cast("double")).alias("support"),
            (F.col("n_ab") / F.col("n_a").cast("double")).alias("conf_a_to_b"),
            (F.col("n_ab") / F.col("n_b").cast("double")).alias("conf_b_to_a"),
            (
                (F.col("n_ab").cast("double") * F.col("_n_groups"))
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(top_k)


def neighbor_jaccard(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_shared: int = 2,
    top_k: int | None = 30,
) -> DataFrame:
    """Bipartite node similarity: Jaccard of two items' GROUP sets,
    ``|G_a ∩ G_b| / (|G_a| + |G_b| - |G_a ∩ G_b|)`` — the
    degree-normalized form of ``cooccurrence_pairs`` (raw co-counts
    favor popular items; Jaccard surfaces items that co-occur
    *specifically* with each other). The entity-linking / related-item
    shape.

    Scale: intersections come from the same group-keyed self-equi-join
    as cooccurrence_pairs (one shuffle per side, fan-out bounded by
    group size — cap oversized groups with ``sampling.group_cap``
    first when baskets are unbounded); degrees are one
    map-side-combined aggregate over the distinct (group, item) pairs,
    equi-joined back (AQE broadcasts the item-cardinality relation
    when small). ``min_shared`` prunes the long tail BEFORE the degree
    joins. The Jaccard is one double division of exact integers, so
    the (jaccard desc, item_a, item_b) order is a deterministic total
    order on any engine.
    """
    items = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("item_a")
    ).distinct()
    inter = (
        items.join(
            items.select("_g", F.col("item_a").alias("item_b")), on="_g"
        )
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    if min_shared > 1:
        inter = inter.filter(F.col("n_shared") >= min_shared)
    deg = items.groupBy("item_a").agg(
        F.count(F.lit(1)).cast("long").alias("deg_a")
    )
    out = (
        inter.join(deg, on="item_a")
        .join(
            deg.select(
                F.col("item_a").alias("item_b"), F.col("deg_a").alias("deg_b")
            ),
            on="item_b",
        )
        .select(
            "item_a",
            "item_b",
            "deg_a",
            "deg_b",
            "n_shared",
            F.expr(
                "CAST(n_shared AS DOUBLE)"
                " / CAST(deg_a + deg_b - n_shared AS DOUBLE)"
            ).alias("jaccard"),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("jaccard").desc(), F.col("item_a").asc(), F.col("item_b").asc()
        ).limit(top_k)
    return out


def clustering_coefficients(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node LOCAL clustering coefficient cc(v) = 2*T(v) /
    (deg(v)*(deg(v)-1)) — how close each node's neighborhood is to a
    clique, the node-level density gauge that turns the raw triangle
    counts (``triangle_counts``) into a comparable [0,1] score
    (assortativity summarizes the whole graph in one scalar; this is
    the per-node field: dedup-cluster cores score ~1, bridge nodes
    ~0). Nodes of degree < 2 have no defined coefficient — explicit
    NULL.

    Exactness: one division of exact integers per node (2*T and
    deg*(deg-1) both exact); everything else is counts.

    Scale shape: inherits the O(m^1.5) degree-ordered wedge scheme
    from ``triangle_counts``; degrees are one map-side-combined
    aggregate over the canonicalized edge relation; the final join is
    node-keyed. Same |V|-broadcast assumption as triangle_counts.
    Degrees and triangles come from ONE shared canonicalized (and
    persisted) edge relation (``_canonical_deg_tri``) — a separate
    degree pass would execute the expensive upstream edge projection
    (the co-supply self-join) a second time (measured 6.9 -> 5.2-6.1 s
    warm at sf0.1, parity with triangle_cosupply's 5.3 s).
    """
    deg, tri = _canonical_deg_tri(edges, a, b, assume_canonical)
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "CASE WHEN degree < 2 THEN CAST(NULL AS DOUBLE)"
                " ELSE CAST(2 * COALESCE(n_triangles, 0) AS DOUBLE)"
                " / CAST(degree * (degree - 1) AS DOUBLE) END"
            ).alias("clustering_coeff"),
        )
    )
