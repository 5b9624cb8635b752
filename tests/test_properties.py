"""Property-based tests (hypothesis): the distributed formulations
must agree with naive single-node references on arbitrary inputs —
the SURVEY.md §5 upgrade over the reference's structural-only tests.

Example counts are kept small (each example runs Spark jobs); the
generators bias toward the hard cases: duplicate timestamps, equal
keys, boundary gaps.
"""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.asof import as_of_join
from nhl_data_warehouse_spark.operators.rangejoin import range_join_pairs
from nhl_data_warehouse_spark.operators.sessions import sessionize_batch
from nhl_data_warehouse_spark.operators.skew import salted_agg

EPOCH = datetime.datetime(2024, 1, 1)

# few keys + coarse timestamps => collisions and boundary gaps are common
keys = st.integers(min_value=1, max_value=3)
minutes = st.integers(min_value=0, max_value=30)


def _ts(m: int) -> datetime.datetime:
    return EPOCH + datetime.timedelta(minutes=m)


@settings(max_examples=8, deadline=None)
@given(
    left=st.lists(st.tuples(keys, minutes), min_size=1, max_size=8),
    right=st.lists(st.tuples(keys, minutes, st.integers(0, 99)), min_size=0, max_size=8),
)
def test_asof_join_matches_naive(spark, left, right):
    # right side time-unique per key (the documented contract for
    # attribute determinism under ties)
    rmap = {(k, m): v for k, m, v in right}
    rrows = [(k, m, v) for (k, m), v in rmap.items()]

    ldf = spark.createDataFrame(
        [(k, _ts(m), i) for i, (k, m) in enumerate(left)],
        "k long, t timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, _ts(m), v) for k, m, v in rrows] or [(99, _ts(0), 0)],
        "k long, t timestamp, v long",
    )
    out = {
        r.lid: r.asof_v
        for r in as_of_join(
            ldf, rdf, left_on="k", right_on="k", left_time="t", right_time="t", payloads=["v"]
        ).collect()
    }
    assert set(out) == set(range(len(left)))  # left-outer: every left row survives
    for i, (k, m) in enumerate(left):
        prior = [(rm, v) for rk, rm, v in rrows if rk == k and rm <= m]
        expected = max(prior)[1] if prior else None
        assert out[i] == expected


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(keys, minutes), min_size=0, max_size=10, unique=True))
def test_range_join_matches_naive_quadratic(spark, rows):
    data = [(k, i, _ts(m)) for i, (k, m) in enumerate(rows)]
    df = spark.createDataFrame(
        data or [(0, -1, _ts(0))], "user_id long, event_id long, ts timestamp"
    )
    got = sorted(
        (r.a_id, r.b_id)
        for r in range_join_pairs(df).collect()
    )
    gap = datetime.timedelta(minutes=5)
    expected = sorted(
        (a_id, b_id)
        for (ka, a_id, ta) in data
        for (kb, b_id, tb) in data
        if ka == kb and ta < tb <= ta + gap
    )
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(st.tuples(keys, minutes), min_size=1, max_size=10))
def test_sessionize_partitions_events_correctly(spark, rows):
    data = [(k, i, _ts(m)) for i, (k, m) in enumerate(rows)]
    df = spark.createDataFrame(data, "user_id long, event_id long, ts timestamp")
    sessions = sessionize_batch(df, gap_minutes=5).collect()
    # every event is in exactly one session
    assert sum(s.n_events for s in sessions) == len(data)
    by_key: dict[int, list] = {}
    for s in sessions:
        by_key.setdefault(s.user_id, []).append(s)
    gap = datetime.timedelta(minutes=5)
    for k, ss in by_key.items():
        ss = sorted(ss, key=lambda s: s.session_start)
        # sessions are ordered, non-overlapping, and separated by > gap
        for s in ss:
            assert s.session_start <= s.session_end
        for prev, nxt in zip(ss, ss[1:]):
            assert nxt.session_start - prev.session_end > gap
        # naive break count: sorted per-key times, breaks where gap exceeded
        times = sorted(t for (kk, _i, t) in data if kk == k)
        breaks = sum(1 for a, b in zip(times, times[1:]) if b - a > gap)
        assert len(ss) == breaks + 1


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["hot", "a", "b"]), st.integers(-5, 5)),
        min_size=0,
        max_size=12,
    )
)
def test_salted_agg_equals_plain_groupby(spark, rows):
    df = spark.createDataFrame(
        [(k, float(v)) for k, v in rows] or [("z", 0.0)], "k string, v double"
    )
    plain = {
        r.k: (r.c, str(r.s))
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"), F.sum(F.col("v").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    salted = {
        r.k: (r.count_n, str(r.sum_v))
        for r in salted_agg(
            df,
            keys=["k"],
            aggs={
                "count_n": F.count(F.lit(1)),
                "sum_v": F.sum(F.col("v").cast("decimal(18,2)")),
            },
            n_salts=4,
        ).collect()
    }
    assert salted == plain


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from nhl_data_warehouse_spark.operators.dedup import connected_components

    # naive single-node union-find reference
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r.doc_id: r.cluster_id for r in connected_components(df).collect()}
    assert got == expected


@settings(max_examples=4, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
def test_kiveris_components_match_union_find(spark, edges):
    from nhl_data_warehouse_spark.operators.dedup import connected_components_kiveris

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components_kiveris(df).collect()
    }
    assert got == expected


def test_kiveris_converges_on_deep_chain(spark):
    # the adversarial case min-label propagation can't touch: a
    # 1000-link chain has diameter 1000, so label propagation needs
    # ~1000 rounds; the star alternation must finish in max_iter=30
    from nhl_data_warehouse_spark.operators.dedup import connected_components_kiveris

    chain = [(i, i + 1) for i in range(1000)]
    df = spark.createDataFrame(chain, "a_id long, b_id long")
    out = connected_components_kiveris(df, max_iter=30).collect()
    assert len(out) == 1001
    assert {r.cluster_id for r in out} == {0}


@settings(max_examples=6, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    fractions=st.lists(
        st.integers(min_value=1, max_value=10), min_size=2, max_size=4
    ),
)
def test_hash_split_partitions_every_row_exactly_once(spark, n, fractions):
    from nhl_data_warehouse_spark.operators.sampling import hash_split

    total = sum(fractions)
    splits = {f"s{i}": f / total for i, f in enumerate(fractions)}
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = hash_split(df, ["doc_id"], splits).collect()
    assert len(out) == n                      # exhaustive
    assert {r["split"] for r in out} <= set(splits)  # only declared labels
    # and deterministic: same inputs, same assignment
    again = hash_split(df, ["doc_id"], splits).collect()
    assert {r.doc_id: r["split"] for r in out} == {r.doc_id: r["split"] for r in again}


@settings(max_examples=8, deadline=None)
@given(
    left=st.lists(st.tuples(keys, minutes), min_size=1, max_size=8),
    right=st.lists(st.tuples(keys, minutes, st.integers(0, 99)), min_size=0, max_size=8),
)
def test_asof_forward_matches_naive(spark, left, right):
    # time-unique right side per key (same determinism contract as backward)
    seen, uniq = set(), []
    for k, m, v in right:
        if (k, m) not in seen:
            seen.add((k, m))
            uniq.append((k, m, v))
    ldf = spark.createDataFrame(
        [(i, k, _ts(m)) for i, (k, m) in enumerate(left)],
        "event_id long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, _ts(m), v) for k, m, v in uniq], "k long, rts timestamp, payload long"
    )
    out = as_of_join(
        ldf, rdf, left_on="k", right_on="k", left_time="ts", right_time="rts",
        payloads=["payload"], direction="forward",
    )
    got = {r.event_id: r.asof_payload for r in out.collect()}
    for i, (k, m) in enumerate(left):
        nxt = [(m2, v) for k2, m2, v in uniq if k2 == k and m2 >= m]
        expected = min(nxt)[1] if nxt else None
        assert got[i] == expected, (i, k, m)


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 1000)),
        min_size=1,
        max_size=20,
    ),
    split_at=st.integers(0, 20),
)
def test_incremental_merge_equals_direct_aggregate(spark, rows, split_at):
    from nhl_data_warehouse_spark.operators.incremental import (
        algebraic_state,
        merge_states,
    )

    df = spark.createDataFrame(rows, "k string, v long")
    direct = {
        r.k: (r.n, r.sum_v, r.sumsq_v, r.min_v, r.max_v)
        for r in algebraic_state(df, ["k"], "v").collect()
    }
    a = spark.createDataFrame(rows[:split_at] or [], "k string, v long")
    b = spark.createDataFrame(rows[split_at:] or [], "k string, v long")
    parts = [algebraic_state(x, ["k"], "v") for x in (a, b) if not x.isEmpty()]
    merged = {
        r.k: (r.n, r.sum_v, r.sumsq_v, r.min_v, r.max_v)
        for r in merge_states(*parts).collect()
    }
    assert merged == direct


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=1, max_size=6),
        min_size=1,
        max_size=6,
    )
)
def test_tfidf_matches_naive(spark, docs):
    import math

    from nhl_data_warehouse_spark.operators.text import tfidf_top_terms

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.term): (r.tf, r.df_docs, r.term_rank)
        for r in tfidf_top_terms(df, k=2).collect()
    }
    n = len(docs)
    dfreq: dict = {}
    for toks in docs:
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1
    want = {}
    for i, toks in enumerate(docs):
        scored = []
        for t in set(toks):
            tf = toks.count(t)
            idf = round(math.log((n + 1) / (dfreq[t] + 1)), 6)
            scored.append((-tf * idf, t, tf))
        scored.sort()
        for rank, (_, t, tf) in enumerate(scored[:2], start=1):
            want[(i, t)] = (tf, dfreq[t], rank)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    terms=st.lists(st.sampled_from(list("abcdefgh")), min_size=1, max_size=30)
)
def test_countmin_never_underestimates_and_bounds_error(spark, terms):
    from nhl_data_warehouse_spark.operators.sketches import countmin_estimates

    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {r.term: (r.true_count, r.cms_estimate) for r in
           countmin_estimates(df).collect()}
    assert set(got) == set(terms)
    for t in set(terms):
        true, est = got[t]
        assert true == terms.count(t)
        assert true <= est <= len(terms)  # CMS lower/upper bounds


@settings(max_examples=6, deadline=None)
@given(
    obs=st.dictionaries(
        st.integers(1, 9), st.integers(0, 50), min_size=0, max_size=5
    )
)
def test_gap_fill_matches_naive(spark, obs):
    import datetime

    from nhl_data_warehouse_spark.operators.timeseries import gap_fill

    base = datetime.date(2024, 3, 1)
    rows = [("k", base + datetime.timedelta(days=d - 1), v) for d, v in obs.items()]
    if not rows:
        return  # spine needs at least one key; empty daily = no keys
    df = spark.createDataFrame(rows, "k string, day date, v long")
    out = {
        str(r.day): (r.v, r.v_ffill, r.is_gap)
        for r in gap_fill(
            df, "k", "day", "2024-03-01", "2024-03-09",
            zero_fill=["v"], ffill=["v"],
        ).collect()
    }
    last = None
    for d in range(1, 10):
        day = str(base + datetime.timedelta(days=d - 1))
        if d in obs:
            last = obs[d]
            assert out[day] == (obs[d], obs[d], 0)
        else:
            assert out[day] == (0, last, 1)


# --- chunk_documents: coverage/overlap invariants on arbitrary docs ---

words = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=40
)


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(words, min_size=1, max_size=4),
       chunk=st.integers(2, 8), ov=st.integers(0, 6))
def test_chunking_covers_every_token_exactly(spark, docs, chunk, ov):
    from nhl_data_warehouse_spark.operators.packing import chunk_documents

    ov = min(ov, chunk - 1)
    stride = chunk - ov
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_size=chunk, overlap=ov).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, ws in enumerate(docs):
        n = len(ws)
        got = sorted(by_doc.get(i, []), key=lambda r: r.chunk_index)
        if n == 0:
            assert got == []
            continue
        # every token covered, starts on the stride grid, chunk text
        # round-trips, and consecutive chunks overlap by exactly `ov`
        # (except a short tail)
        covered = set()
        for r in got:
            assert r.start_token % stride == 0
            assert r.chunk_text == " ".join(
                ws[r.start_token : r.start_token + r.n_chunk_tokens]
            )
            covered.update(range(r.start_token, r.start_token + r.n_chunk_tokens))
        assert covered == set(range(n))


# --- blocked fuzzy matching: soundness + in-block completeness ---

fuzzy_words = st.lists(
    st.text(alphabet="abx", min_size=1, max_size=4), min_size=1, max_size=10
)


@settings(max_examples=8, deadline=None)
@given(vals=fuzzy_words)
def test_fuzzy_pairs_sound_and_complete_within_block(spark, vals):
    from nhl_data_warehouse_spark.operators.fuzzyjoin import (
        blocked_edit_distance_pairs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        (r.a, r.b): r.dist
        for r in blocked_edit_distance_pairs(df, "v").collect()
    }
    uniq = sorted(set(vals))
    expected = {}
    for i, a in enumerate(uniq):
        for b in uniq[i + 1 :]:
            if a[0] == b[0] and abs(len(a) - len(b)) <= 1 and lev(a, b) <= 1:
                expected[(a, b)] = lev(a, b)
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(keys, st.integers(0, 50), st.integers(-100, 100)),
        min_size=1,
        max_size=12,
    )
)
def test_grouped_ols_matches_exact_rational_fit(spark, rows):
    from fractions import Fraction

    from nhl_data_warehouse_spark.operators.regression import grouped_ols

    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {r.g: r for r in grouped_ols(df, "g", "x", "y").collect()}
    by_g: dict[int, list[tuple[int, int]]] = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((x, y))
    for g, pts in by_g.items():
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        den = n * sxx - sx * sx
        assert got[g].n == n
        if den == 0:
            assert got[g].slope is None and got[g].intercept is None
        else:
            exact = Fraction(n * sxy - sx * sy, den)
            assert abs(got[g].slope - float(exact)) < 1e-9


@settings(max_examples=6, deadline=None)
@given(
    durations=st.lists(
        st.tuples(st.integers(0, 8), st.booleans()), min_size=1, max_size=12
    )
)
def test_km_survival_matches_naive_product(spark, durations):
    import math

    from nhl_data_warehouse_spark.operators.timeseries import km_survival

    df = spark.createDataFrame(
        [(d, 1 if obs else 0) for d, obs in durations],
        "duration long, observed int",
    )
    got = {r.duration: r for r in km_survival(df).collect()}
    times = sorted({d for d, _ in durations})
    log_s = 0.0
    dead = False
    for t in times:
        n = sum(1 for d, _ in durations if d >= t)
        dt = sum(1 for d, obs in durations if d == t and obs)
        assert got[t].n_at_risk == n and got[t].n_events == dt
        if dt == n:
            dead = True
        elif dt > 0:
            log_s += round(math.log(1 - dt / n), 6)
        if dead:
            assert got[t].log_survival is None
        else:
            assert got[t].log_survival is not None
            assert abs(got[t].log_survival - log_s) < 1e-9
        # survival never increases
    vals = [got[t].log_survival for t in times if got[t].log_survival is not None]
    assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 9)), min_size=1, max_size=15
    )
)
def test_grouped_ntile_matches_global_ntile_property(spark, vals):
    from pyspark.sql.window import Window

    from nhl_data_warehouse_spark.operators.layout import grouped_ntile

    rows = [(i, a, b) for i, (a, b) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = {
        r.id: (r.a_tile, r.b_tile)
        for r in grouped_ntile(df, "id", ["a", "b"], n_tiles=3).collect()
    }
    for m, idx in (("a", 0), ("b", 1)):
        w = Window.orderBy(F.col(m), F.col("id"))
        ref = {
            r.id: r.t
            for r in df.select("id", F.ntile(3).over(w).alias("t")).collect()
        }
        assert {k: v[idx] for k, v in got.items()} == ref


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-8, max_value=8, allow_nan=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_gram_matrix_matches_fixed_point_reference(spark, vecs):
    from nhl_data_warehouse_spark.operators.similarity import gram_matrix

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.i, r.j): r.gram for r in gram_matrix(df).collect()}
    # reference: exact integer arithmetic on the same fixed-pointing.
    # NB rounding must be HALF-AWAY-FROM-ZERO (Spark round / DuckDB
    # std::round), NOT python's banker's round — hypothesis found the
    # exact-half case [1.5, 1.546875] where they differ
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    def f32(x):  # the float32 value Spark stores
        return struct.unpack("f", struct.pack("f", x))[0]

    def half_up(v, digits):
        q = Decimal(1).scaleb(-digits)
        return float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))

    scaled = [
        [int(half_up(f32(x) * 1_000_000, 0)) for x in v] for v in vecs
    ]
    d = 3
    for i in range(d):
        for j in range(i, d):
            s = sum(row[i] * row[j] for row in scaled)
            expect = half_up(float(s) / 1e12, 6) + 0.0
            assert got[(i, j)] == expect


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=9),
        min_size=1,
        max_size=6,
    )
)
def test_dup_chunk_counts_and_bounds(spark, docs):
    from nhl_data_warehouse_spark.operators.dedup import dup_chunk_stats

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dup_chunk_stats(df, chunk_tokens=3).collect()}
    # reference: exact chunking in python
    chunks_by_doc = {}
    for i, words in enumerate(docs):
        if not words:
            continue
        chunks_by_doc[i] = [
            " ".join(words[k : k + 3]) for k in range(0, len(words), 3)
        ]
    from collections import Counter

    owners = Counter()
    for i, cs in chunks_by_doc.items():
        for c in set(cs):
            owners[c] += 1
    assert set(got) == set(chunks_by_doc)
    for i, cs in chunks_by_doc.items():
        # duplicated = chunk text present in >= 2 DISTINCT docs
        n_dup = sum(1 for c in cs if owners[c] >= 2)
        assert got[i].n_chunks == len(cs)
        assert got[i].n_dup_chunks == n_dup
        assert abs(got[i].dup_chunk_frac - round(n_dup / len(cs), 6)) < 1e-12


# ---------------------------------------------------------------------------
# round-4 operators vs naive references
# ---------------------------------------------------------------------------

import hashlib


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 9)), min_size=1, max_size=12
    ),
    budget=st.integers(min_value=1, max_value=60),
)
def test_budget_select_matches_naive_prefix(spark, rows, budget):
    from nhl_data_warehouse_spark.operators.sampling import budget_select

    data = [(i, s, w) for i, (s, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, score long, w long")
    got = {
        r.doc_id: r.cum_weight
        for r in budget_select(df, "score", "w", budget=budget, max_score=2).collect()
    }
    # naive: sort by (score desc, md5('tb-v1|'+id), id), prefix-sum, cut
    order = sorted(data, key=lambda t: (-t[1], _md5(f"tb-v1|{t[0]}"), t[0]))
    cum, want = 0, {}
    for i, _s, w in order:
        cum += w
        if cum > budget:
            break
        want[i] = cum
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcxy"), min_size=0, max_size=9),
        min_size=1,
        max_size=6,
    )
)
def test_span_removal_conserves_and_keeps_one_copy(spark, docs):
    from nhl_data_warehouse_spark.operators.dedup import remove_duplicate_spans

    c = 2
    data = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicate_spans(df, chunk_tokens=c).collect()}

    def chunks(toks):
        return [" ".join(toks[j : j + c]) for j in range(0, len(toks), c)]

    all_chunks = {}
    for i, toks in enumerate(docs):
        for j, ch in enumerate(chunks(toks)):
            all_chunks.setdefault(ch, []).append((i, j))
    for i, toks in enumerate(docs):
        if not toks:
            assert i not in out  # empty docs drop, like dup_chunk_stats
            continue
        row = out[i]
        kept = [
            ch
            for j, ch in enumerate(chunks(toks))
            if len({d for d, _ in all_chunks[ch]}) < 2
            or min(all_chunks[ch]) == (i, j)
        ]
        assert row.clean_text == " ".join(kept)
        assert row.n_removed == row.n_chunks - len(kept)
    # every duplicated chunk text still exists in exactly one doc's output
    for ch, occs in all_chunks.items():
        if len({d for d, _ in occs}) >= 2:
            assert sum(1 for r in out.values() if ch in chunks(r.clean_text.split())) >= 1


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 40)), min_size=2, max_size=20
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_kfold_matches_naive_rank(spark, rows, k):
    from nhl_data_warehouse_spark.operators.sampling import stratified_kfold

    data = [(i, f"s{s}") for i, (s, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, lang string")
    got = {
        r.doc_id: r.fold
        for r in stratified_kfold(df, k).collect()
    }
    by = {}
    for i, lang in data:
        by.setdefault(lang, []).append(i)
    for lang, ids in by.items():
        order = sorted(ids, key=lambda i: (_md5(f"kfold-v1|{i}"), i))
        for rank, i in enumerate(order):
            assert got[i] == rank % k


# --- round-5 operators ------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    ),
    ps=st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_exact_quantiles_matches_sorted_reference(spark, vals, ps):
    import math

    from nhl_data_warehouse_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = {r.p: r.quantile for r in exact_quantiles(df, "v", ps).collect()}
    s = sorted(vals)
    n = len(s)
    for p in ps:
        kf = (n - 1) * p
        lo = s[math.floor(kf)]
        hi = s[min(math.floor(kf) + 1, n - 1)]
        want = lo + (hi - lo) * (kf - math.floor(kf))
        assert got[p] == want, (p, got[p], want)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.integers(0, 12), min_size=1, max_size=10, unique=True),
        min_size=2,
        max_size=8,
    ),
    t=st.sampled_from([0.3, 0.5, 0.55, 0.7]),
)
def test_prefix_filter_jaccard_matches_brute_force(spark, docs, t):
    from nhl_data_warehouse_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rows = [(i, f"s{tok}") for i, toks in enumerate(docs) for tok in toks]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in prefix_filter_jaccard_pairs(sh, threshold=t).collect()
    }
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = set(docs[a]), set(docs[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want[(a, b)] = j
    assert set(got) == set(want), (sorted(got), sorted(want))
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(st.integers(-50, 50), min_size=1, max_size=30),
    k=st.integers(-5, 5),
)
def test_cusum_closed_form_matches_recursion(spark, xs, k):
    from nhl_data_warehouse_spark.operators.timeseries import cusum_positive

    df = spark.createDataFrame(
        [(i, x, k) for i, x in enumerate(xs)], "t long, x long, k long"
    )
    got = {
        r.t: r.cusum for r in cusum_positive(df, "t", "x").collect()
    }
    s = 0
    for i, x in enumerate(xs):
        s = max(0, s + x - k)
        assert got[i] == s


@settings(max_examples=6, deadline=None)
@given(
    pts=st.lists(st.integers(0, 100), min_size=0, max_size=20),
    ranges=st.lists(
        st.tuples(st.integers(0, 100), st.integers(0, 40)),
        min_size=0,
        max_size=6,
    ),
    w=st.sampled_from([1.0, 7.0, 64.0]),
)
def test_interval_lookup_matches_brute_force(spark, pts, ranges, w):
    from nhl_data_warehouse_spark.operators.rangejoin import interval_lookup_join

    pdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(pts)] or [(0, -1.0)],
        "pid long, v double",
    )
    rdf = spark.createDataFrame(
        [(str(i), float(lo), float(lo + width)) for i, (lo, width) in enumerate(ranges)]
        or [("x", -10.0, -5.0)],
        "label string, lo double, hi double",
    )
    got = {
        (r.pid, r.label)
        for r in interval_lookup_join(pdf, rdf, value_col="v", cell_width=w).collect()
    }
    want = set()
    use_pts = list(enumerate(pts)) or [(0, -1.0)]
    use_rng = (
        [(str(i), lo, lo + width) for i, (lo, width) in enumerate(ranges)]
        or [("x", -10.0, -5.0)]
    )
    for pid, v in use_pts:
        for label, lo, hi in use_rng:
            if lo <= v < hi:
                want.add((pid, label))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_fim_split_reassembles_any_unicode(spark, texts):
    from nhl_data_warehouse_spark.operators.text import fim_split

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in fim_split(df, min_len=10).collect()}
    for i, t in enumerate(texts):
        r = out[i]
        assert r.prefix + r.middle + r.suffix == t
        assert r.mode == ("fim" if len(t) >= 10 else "plain")


@settings(max_examples=8, deadline=None)
@given(
    a=st.lists(
        st.decimals(
            min_value=-1000, max_value=1000, places=2, allow_nan=False
        ),
        min_size=2,
        max_size=10,
    ),
    b=st.lists(
        st.decimals(
            min_value=-1000, max_value=1000, places=2, allow_nan=False
        ),
        min_size=2,
        max_size=10,
    ),
)
def test_welch_matches_closed_form(spark, a, b):
    import math

    from nhl_data_warehouse_spark.operators.regression import welch_ab_stats

    a = [float(x) for x in a]
    b = [float(x) for x in b]
    rows = [("A", v) for v in a] + [("B", v) for v in b]
    df = spark.createDataFrame(rows, "variant string, value double")
    r = welch_ab_stats(df).collect()[0]
    na, nb = len(a), len(b)
    # closed form in the exact cents domain, same op order
    ca = [round(v * 100) for v in a]
    cb = [round(v * 100) for v in b]
    ma, mb = sum(ca) / na, sum(cb) / nb
    va = sum(c * c for c in ca) / na - ma * ma
    vb = sum(c * c for c in cb) / nb - mb * mb
    assert r.n_a == na and r.n_b == nb
    assert r.mean_a == ma / 100.0 and r.mean_b == mb / 100.0
    denom = va / na + vb / nb
    if denom > 0:
        assert r.z_score == (ma - mb) / math.sqrt(denom)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.booleans()), min_size=2, max_size=24
    ).filter(lambda r: any(y for _, y in r) and any(not y for _, y in r))
)
def test_rank_auc_matches_naive_pairwise(spark, rows):
    """Tie-heavy random inputs: the midrank-histogram AUC must equal
    the O(n^2) pairwise definition exactly (scores are integers/10 so
    the fixed-point grain is lossless)."""
    from nhl_data_warehouse_spark.operators.stats import rank_auc

    df = spark.createDataFrame(
        [(s / 10.0, y) for s, y in rows], "s double, y boolean"
    )
    (out,) = rank_auc(df, "s", F.col("y"), scale=10).collect()
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    assert out.n_pos == len(pos) and out.n_neg == len(neg)
    assert out.auc == wins / (len(pos) * len(neg))


@settings(max_examples=6, deadline=None)
@given(
    seen=st.sets(st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=1, max_size=20),
    m_exp=st.integers(7, 10),
    k=st.integers(1, 4),
)
def test_bloom_never_false_negative(spark, seen, m_exp, k):
    """Structural Bloom guarantee on arbitrary key sets and filter
    geometries: every recorded key probes as a member."""
    from nhl_data_warehouse_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    m_bits = 1 << m_exp
    keys = spark.createDataFrame([(s,) for s in seen], "k string")
    bloom = bloom_build(keys, "k", m_bits=m_bits, k=k)
    probe = keys.withColumn("pid", F.monotonically_increasing_id())
    rows = bloom_probe(
        probe, bloom, key_col="k", id_col="pid", m_bits=m_bits, k=k
    ).collect()
    assert len(rows) == len(seen)
    assert all(r.bloom_member for r in rows)


# --- round-8 statistics: arbitrary-input agreement with naive forms ---

_xy_lists = st.lists(
    st.tuples(st.integers(1, 5), st.integers(0, 6)), min_size=2, max_size=24
)


def _midrank_map(vals):
    s = sorted(vals)
    out = {}
    for v in set(vals):
        i = s.index(v)
        c = s.count(v)
        out[v] = i + (c + 1) / 2
    return out


@settings(max_examples=8, deadline=None)
@given(pairs=_xy_lists)
def test_spearman_matches_naive(spark, pairs):
    import math

    from nhl_data_warehouse_spark.operators.stats import spearman_rho

    xs = [p[0] for p in pairs]
    ys = [p[1] for p in pairs]
    df = spark.createDataFrame(
        [(x, float(y)) for x, y in pairs], "x long, y double"
    )
    got = spearman_rho(df, "x", "y", y_scale=1).first().rho
    rx, ry = _midrank_map(xs), _midrank_map(ys)
    ax = [rx[v] for v in xs]
    ay = [ry[v] for v in ys]
    n = len(xs)
    mx, my = sum(ax) / n, sum(ay) / n
    dx = math.sqrt(sum((a - mx) ** 2 for a in ax))
    dy = math.sqrt(sum((b - my) ** 2 for b in ay))
    if dx == 0 or dy == 0:
        assert got is None
    else:
        want = sum((a - mx) * (b - my) for a, b in zip(ax, ay)) / (dx * dy)
        assert abs(got - want) < 1e-9


@settings(max_examples=8, deadline=None)
@given(pairs=_xy_lists)
def test_kendall_tau_b_matches_naive(spark, pairs):
    import collections
    import math

    from nhl_data_warehouse_spark.operators.stats import kendall_tau_b

    xs = [p[0] for p in pairs]
    ys = [p[1] for p in pairs]
    df = spark.createDataFrame(
        [(x, float(y)) for x, y in pairs], "x long, y double"
    )
    got = kendall_tau_b(df, "x", "y", y_scale=1).first().tau_b
    n = len(xs)
    nc = nd = 0
    for i in range(n):
        for j in range(i + 1, n):
            d = (xs[i] - xs[j]) * (ys[i] - ys[j])
            if d > 0:
                nc += 1
            elif d < 0:
                nd += 1
    n0 = n * (n - 1) // 2
    n1 = sum(c * (c - 1) // 2 for c in collections.Counter(xs).values())
    n2 = sum(c * (c - 1) // 2 for c in collections.Counter(ys).values())
    if n0 == n1 or n0 == n2:
        assert got is None
    else:
        want = (nc - nd) / (math.sqrt(n0 - n1) * math.sqrt(n0 - n2))
        assert abs(got - want) < 1e-9


@settings(max_examples=8, deadline=None)
@given(vals=st.lists(st.integers(0, 9), min_size=1, max_size=20))
def test_gini_matches_naive(spark, vals):
    from nhl_data_warehouse_spark.operators.stats import gini_coefficient

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = gini_coefficient(df, "v", scale=1).first().gini
    n, total = len(vals), sum(vals)
    if total == 0:
        assert got is None
    else:
        s = sorted(vals)
        want = 2 * sum((i + 1) * v for i, v in enumerate(s)) / (n * total) - (
            n + 1
        ) / n
        assert abs(got - want) < 1e-9


@settings(max_examples=6, deadline=None)
@given(
    ivals=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 25)),
        min_size=1,
        max_size=10,
    )
)
def test_interval_overlap_join_matches_naive(spark, ivals):
    import datetime as _dt

    from nhl_data_warehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    rows = [
        (i, s * 60, (s + d) * 60) for i, (s, d) in enumerate(ivals)
    ]
    df = spark.createDataFrame(rows, "id long, s long, e long").select(
        "id",
        F.timestamp_micros(F.col("s") * 1_000_000).alias("st"),
        F.timestamp_micros(F.col("e") * 1_000_000).alias("en"),
    )
    out = interval_overlap_join(df, df, "st", "en", cell_minutes=7)
    got = sorted(
        (r.a_id, r.b_id)
        for r in out.where(F.col("a_id") < F.col("b_id")).collect()
    )
    want = sorted(
        (a[0], b[0])
        for ai, a in enumerate(rows)
        for b in rows[ai + 1 :]
        if a[1] <= b[2] and b[1] <= a[2]
    )
    assert got == want
