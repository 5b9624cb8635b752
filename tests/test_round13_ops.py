"""Round-13 operator tests: URL-canonicalization dedup (the C4/CCNet
first-line URL grain), the held-out add-k unigram LM score (CCNet
KenLM-gate shape), and the per-group quantile bucket report (CCNet
head/middle/tail) — each vs a pure-Python reference, plus plan-shape
scale pins."""

from __future__ import annotations

import math
import re
from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark fixture)

ADVERSARIAL_URLS = [
    "https://Example.COM:443/a/b/?utm_source=x&q=1#frag",
    "https://example.com/a/b?q=1",
    "HTTPS://EXAMPLE.com/a/b/?q=1&utm_campaign=y&",
    "https://example.com:443/a/b?gclid=z&q=1#x",
    "http://example.com:80/x",
    "http://example.com:443/x",  # non-default port for http: kept
    "https://example.com:8080/x",
    "https://example.com",
    "https://example.com/",
    "https://example.com/a//",
    "  https://example.com/a  ",
    "https://example.com/a?",
    "https://example.com/a?z=1&a=2",
    "https://example.com/a?ref=x&refresh=1",  # prefix-safety of `ref`
    "https://example.com/a?utm=1",  # utm without underscore: kept
    "https://example.com/a?b=2#x?y",
    "example.com/x",  # no scheme -> NULL
    "ftp://Files.example.org:21/pub/",
    "https://example.com/a?fbclid=abc",
    "https://example.com/a?ref",  # bare tracking key, no '='
    "https://a.b/p?x=%2F&X=1",
    "http://EXAMPLE.com:80/?utm_medium=email",
    "https://example.com/#",
    "https://example.com/##two",
    "https://example.com/a?a=1&a=1",  # duplicate param survives twice
    "not a url at all",
    "://missing.scheme/x",
]


def _ref_canonical(url: str) -> str | None:
    """Independent reference canonicalizer (urlsplit-flavored regex
    split + the documented spec), kept deliberately different in
    structure from the Spark expression chain."""
    u = re.sub("#.*$", "", url.strip())
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?(.*))?$", u)
    if not m:
        return None
    scheme = m.group(1).lower()
    host = m.group(2).lower()
    path = m.group(3)
    q = m.group(4) or ""
    if scheme == "http" and host.endswith(":80"):
        host = host[:-3]
    if scheme == "https" and host.endswith(":443"):
        host = host[:-4]
    if not host:
        return None
    path = re.sub("/+$", "", path)
    params = sorted(
        p
        for p in q.split("&")
        if p and not re.match(r"^(utm_[^=&]*|gclid|fbclid|ref)(=|$)", p)
    )
    return scheme + "://" + host + path + (("?" + "&".join(params)) if params else "")


class TestCanonicalUrl:
    def test_parity_with_reference_on_adversarial_urls(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import canonical_url

        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(ADVERSARIAL_URLS)], "i long, url string"
        )
        got = {
            r.i: r.c
            for r in df.select("i", canonical_url().alias("c")).collect()
        }
        for i, u in enumerate(ADVERSARIAL_URLS):
            assert got[i] == _ref_canonical(u), repr(u)

    def test_urlsplit_agrees_on_component_split(self):
        # the regex reference must split like urllib for well-formed
        # absolute URLs (sanity of the reference itself)
        for u in ADVERSARIAL_URLS:
            s = urlsplit(u.strip())
            if s.scheme and s.netloc and re.match(r"^[A-Za-z]", s.scheme):
                m = re.match(
                    r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)",
                    re.sub("#.*$", "", u.strip()),
                )
                assert m and m.group(2).lower() == s.netloc.lower(), u

    def test_dedup_groups_collapse_variants(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import url_dedup_groups

        rows = [
            (1, "https://Example.COM:443/p?utm_source=a&x=1"),
            (2, "https://example.com/p/?x=1#f"),
            (3, "HTTPS://example.com/p?x=1&gclid=g"),
            (4, "https://example.com/q?x=1"),  # different path
            (5, "relative/no-scheme"),  # NULL: excluded
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {
            r.canonical_url: (r.representative_id, r.n_copies)
            for r in url_dedup_groups(df).collect()
        }
        assert got == {
            "https://example.com/p?x=1": (1, 3),
            "https://example.com/q?x=1": (4, 1),
        }

    def test_plan_one_exchange_no_python(self, spark):
        """Scale pin: the whole normalization folds into the scan
        projection — one hash-grain Exchange (the group-by), no
        Python eval node, no join."""
        from nhl_data_warehouse_spark.operators.dedup import url_dedup_groups

        df = spark.createDataFrame(
            [(i, f"https://example.com/{i % 3}") for i in range(20)],
            "doc_id long, url string",
        )
        plan = (
            url_dedup_groups(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange") == 1, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _nll_ref(ref_docs, tgt_docs, k=1):
    """Pure-Python held-out add-k unigram NLL."""
    from collections import Counter

    toks = lambda t: [w for w in t.split(" ") if w != ""]
    c = Counter(w for _, t in ref_docs for w in toks(t))
    n, v = sum(c.values()), len(c)
    out = {}
    for i, t in tgt_docs:
        ws = toks(t)
        if not ws:
            continue
        logps = [round(math.log((c.get(w, 0) + k) / (n + k * (v + 1))), 6) for w in ws]
        oov = sum(1 for w in ws if w not in c)
        out[i] = (len(ws), oov, -sum(logps) / len(ws))
    return out


class TestHeldoutUnigramNll:
    REF = [(100, "the cat sat"), (101, "the dog sat the")]
    TGT = [
        (1, "the cat"),  # all in-vocab
        (2, "quantum flux the"),  # two OOV
        (3, ""),  # no tokens: no row
        (4, "zzz"),  # all OOV
    ]

    def test_matches_python_reference(self, spark):
        from nhl_data_warehouse_spark.operators.text import heldout_unigram_nll

        ref = spark.createDataFrame(self.REF, "doc_id long, text string")
        tgt = spark.createDataFrame(self.TGT, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.oov_tokens, r.avg_nll)
            for r in heldout_unigram_nll(tgt, ref).collect()
        }
        exp = _nll_ref(self.REF, self.TGT)
        assert set(got) == set(exp) == {1, 2, 4}
        for i in exp:
            assert got[i][0] == exp[i][0], i
            assert got[i][1] == exp[i][1], i
            assert got[i][2] == pytest.approx(exp[i][2], abs=1e-9), i

    def test_oov_scores_below_any_seen_token(self, spark):
        # an all-OOV doc must score strictly worse (higher NLL) than a
        # doc of the reference's commonest token
        from nhl_data_warehouse_spark.operators.text import heldout_unigram_nll

        ref = spark.createDataFrame(self.REF, "doc_id long, text string")
        tgt = spark.createDataFrame(
            [(1, "the the"), (2, "qq qq")], "doc_id long, text string"
        )
        got = {r.doc_id: r.avg_nll for r in heldout_unigram_nll(tgt, ref).collect()}
        assert got[2] > got[1]

    def test_cache_scope_release(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.text import heldout_unigram_nll

        jsc = spark.sparkContext._jsc
        ref = spark.createDataFrame(self.REF, "doc_id long, text string")
        tgt = spark.createDataFrame(self.TGT, "doc_id long, text string")
        before = set(jsc.getPersistentRDDs().keySet())
        with cache_scope():
            heldout_unigram_nll(tgt, ref).collect()
            pinned = set(jsc.getPersistentRDDs().keySet()) - before
            assert len(pinned) == 1  # the reference vocab
        assert not pinned & set(jsc.getPersistentRDDs().keySet())


def _bucket_ref(rows, n_buckets=3, scale=1_000_000):
    """Pure-Python quantile_bucket_report: rows = (group, score, w)."""
    from collections import defaultdict

    by_g = defaultdict(list)
    for g, s, w in rows:
        by_g[g].append((round(s * scale), w))
    out = {}
    for g, cells in by_g.items():
        cells.sort()
        ng = len(cells)
        distinct = sorted({c for c, _ in cells})
        cum = {}
        running = 0
        for c in distinct:
            running += sum(1 for cc, _ in cells if cc == c)
            cum[c] = running
        bounds = [
            min(c for c in distinct if cum[c] * n_buckets >= i * ng)
            for i in range(1, n_buckets)
        ]
        for c, w in cells:
            b = 1 + sum(1 for bi in bounds if c > bi)
            key = (g, b)
            n, ws = out.get(key, (0, 0))
            out[key] = (n + 1, ws + w)
    return out


class TestQuantileBucketReport:
    def test_matches_python_reference(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            quantile_bucket_report,
        )

        rows = [
            ("en", 1.0, 10),
            ("en", 2.0, 20),
            ("en", 3.0, 30),
            ("en", 4.0, 40),
            ("en", 5.0, 50),
            ("en", 6.0, 60),
            ("fr", 1.5, 5),
            ("fr", 1.5, 7),  # tie cell: must land in ONE bucket
            ("fr", 9.0, 9),
        ]
        df = spark.createDataFrame(rows, "lang string, s double, w long")
        got = {
            (r.lang, r.bucket): (r.n_docs, r.weight_total)
            for r in quantile_bucket_report(df, "lang", "s", weight_col="w").collect()
        }
        assert got == _bucket_ref(rows)

    def test_tie_cell_single_bucket(self, spark):
        # 4 rows of one value + 2 of another: the tied cell covers
        # >1/3 of the group and must NOT split across buckets
        from nhl_data_warehouse_spark.operators.stats import (
            quantile_bucket_report,
        )

        rows = [("g", 1.0, 1)] * 4 + [("g", 2.0, 1)] * 2
        df = spark.createDataFrame(rows, "g string, s double, w long")
        got = {
            r.bucket: r.n_docs
            for r in quantile_bucket_report(df, "g", "s", weight_col="w").collect()
        }
        assert got == {1: 4, 3: 2}  # bucket 2 empty: value-grain cut

    def test_default_weight_is_rowcount(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            quantile_bucket_report,
        )

        rows = [("g", float(i), 99) for i in range(9)]
        df = spark.createDataFrame(rows, "g string, s double, w long")
        for r in quantile_bucket_report(df, "g", "s").collect():
            assert r.weight_total == r.n_docs == 3

    def test_single_cell_group_all_bucket_one(self, spark):
        from nhl_data_warehouse_spark.operators.stats import (
            quantile_bucket_report,
        )

        df = spark.createDataFrame(
            [("g", 2.5, 1)] * 5, "g string, s double, w long"
        )
        got = quantile_bucket_report(df, "g", "s").collect()
        assert len(got) == 1 and got[0].bucket == 1 and got[0].n_docs == 5

    def test_window_runs_over_bounded_cell_grain(self, spark):
        """Scale pin (the KS/W1 contract): the cumulative window's
        input is the (group, cell) HISTOGRAM — a HashAggregate on
        (_g, _c) must sit below the Window, so nothing row-scale
        passes the window."""
        from nhl_data_warehouse_spark.operators.stats import (
            quantile_bucket_report,
        )

        df = spark.createDataFrame(
            [("g", float(i % 4), 1) for i in range(40)],
            "g string, s double, w long",
        )
        plan = (
            quantile_bucket_report(df, "g", "s")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        lines = plan.splitlines()
        win_at = min(i for i, ln in enumerate(lines) if "Window" in ln)
        agg_below = [
            i
            for i, ln in enumerate(lines)
            if "HashAggregate" in ln and "_c#" in ln and i > win_at
        ]
        assert agg_below, "cell histogram must feed the window from below"


def _within_ref(docs, delim=" | ", min_chars=1):
    out = {}
    for i, t in docs:
        segs = [s.strip() for s in t.split(delim)]
        segs = [(p, s) for p, s in enumerate(segs) if len(s) >= min_chars]
        seen, kept, removed = set(), [], 0
        for _, s in segs:
            if s in seen:
                removed += len(s)
            else:
                seen.add(s)
                kept.append(s)
        if segs:
            out[i] = (len(segs), len(kept), removed, delim.join(kept))
    return out


class TestWithinDocSegmentDedup:
    DOCS = [
        (1, "alpha | beta | alpha | gamma"),  # one in-doc repeat
        (2, "x | x | x"),  # all same: keep one
        (3, "unique one | unique two"),  # nothing removed
        (4, " |  | "),  # only empty segments: no row
        (5, "a | b | a | b | a"),  # interleaved repeats
    ]

    def test_matches_python_reference(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import (
            within_doc_segment_dedup,
        )

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_segs, r.n_kept, r.chars_removed, r.clean_text)
            for r in within_doc_segment_dedup(
                df, delim=" \\| ", join_delim=" | "
            ).collect()
        }
        exp = _within_ref(self.DOCS)
        assert got == exp
        assert 4 not in got  # empty-only doc drops out

    def test_corpus_wide_repeats_untouched(self, spark):
        # the SAME segment in two different docs is kept in both —
        # this operator is strictly within-document
        from nhl_data_warehouse_spark.operators.dedup import (
            within_doc_segment_dedup,
        )

        df = spark.createDataFrame(
            [(1, "shared"), (2, "shared")], "doc_id long, text string"
        )
        got = {
            r.doc_id: r.n_kept
            for r in within_doc_segment_dedup(
                df, delim=" \\| ", join_delim=" | "
            ).collect()
        }
        assert got == {1: 1, 2: 1}

    def test_window_partitioned_by_doc_and_hash(self, spark):
        """Scale pin: the first-occurrence window must partition by
        (id, segment-hash) — no unpartitioned window, no partition
        larger than one document's occurrences of one segment."""
        from nhl_data_warehouse_spark.operators.dedup import (
            within_doc_segment_dedup,
        )

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        plan = (
            within_doc_segment_dedup(df, delim=" \\| ", join_delim=" | ")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        win = [ln for ln in plan.splitlines() if "Window" in ln and "partition" in ln.lower() or "Window [" in ln]
        assert win, plan
        assert all("doc_id" in ln for ln in win), win


class TestSiteKeyAndConcentration:
    def test_site_key_folds_variants(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import site_key

        rows = [
            (1, "https://www.Site1.Example.ORG/p/1"),
            (2, "https://site1.example.org:443/p/2?x=1"),
            (3, "http://SITE1.example.org:80/p/3#f"),
            (4, "https://wwwx.example.org/p"),  # not a www. prefix
            (5, "nonsense"),
        ]
        df = spark.createDataFrame(rows, "i long, url string")
        got = {r.i: r.s for r in df.select("i", site_key().alias("s")).collect()}
        assert got[1] == got[2] == got[3] == "site1.example.org"
        assert got[4] == "wwwx.example.org"
        assert got[5] is None

    def test_concentration_shares_and_topk(self, spark):
        from nhl_data_warehouse_spark.operators.dedup import (
            domain_concentration,
        )

        rows = (
            [(f"https://big.org/{i}", 10) for i in range(6)]
            + [(f"https://mid.org/{i}", 5) for i in range(3)]
            + [("https://small.org/x", 1)]
        )
        df = spark.createDataFrame(rows, "url string, w long")
        out = domain_concentration(df, weight_col="w", top_k=2).collect()
        assert [r.site for r in out] == ["big.org", "mid.org"]
        assert out[0].doc_share == pytest.approx(6 / 10)
        assert out[0].cum_doc_share == pytest.approx(6 / 10)
        assert out[1].cum_doc_share == pytest.approx(9 / 10)
        # shares are of the WHOLE corpus, not the top-k slice
        assert out[0].weight_share == pytest.approx(60 / 76)


def _interp_ref(ref_docs, tgt_docs, lam=0.75, k=1):
    """Pure-Python interpolated bigram NLL reference."""
    from collections import Counter

    toks = lambda t: [w for w in t.split(" ") if w != ""]
    uni = Counter(w for _, t in ref_docs for w in toks(t))
    n, v = sum(uni.values()), len(uni)
    bi = Counter()
    left = Counter()
    for _, t in ref_docs:
        ws = toks(t)
        for a, b in zip(ws, ws[1:]):
            bi[(a, b)] += 1
            left[a] += 1
    out = {}
    for i, t in tgt_docs:
        ws = toks(t)
        if len(ws) < 2:
            continue
        logps, unseen = [], 0
        for a, b in zip(ws, ws[1:]):
            p_bi = bi.get((a, b), 0) / (left.get(a) or 1)
            p_uni = (uni.get(b, 0) + k) / (n + k * (v + 1))
            logps.append(round(math.log(lam * p_bi + (1 - lam) * p_uni), 6))
            unseen += (a, b) not in bi
        out[i] = (len(logps), unseen, -sum(logps) / len(logps))
    return out


class TestHeldoutInterpBigram:
    REF = [(100, "a b c a b"), (101, "b c d")]
    TGT = [
        (1, "a b c"),  # all grams seen
        (2, "a b x"),  # unseen w2 (pure OOV backoff)
        (3, "c a d"),  # seen words, one unseen gram
        (4, "solo"),  # <2 tokens: no row
        (5, "q q"),  # unseen context AND unseen word
    ]

    def test_matches_python_reference(self, spark):
        from nhl_data_warehouse_spark.operators.text import (
            heldout_interp_bigram_nll,
        )

        ref = spark.createDataFrame(self.REF, "doc_id long, text string")
        tgt = spark.createDataFrame(self.TGT, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_bigrams, r.unseen_bigrams, r.avg_interp_nll)
            for r in heldout_interp_bigram_nll(tgt, ref).collect()
        }
        exp = _interp_ref(self.REF, self.TGT)
        assert set(got) == set(exp) == {1, 2, 3, 5}
        for i in exp:
            assert got[i][:2] == exp[i][:2], i
            assert got[i][2] == pytest.approx(exp[i][2], abs=1e-9), i

    def test_never_ln_zero(self, spark):
        # a fully-unseen doc still gets a finite score via the
        # unigram arm's OOV slot
        from nhl_data_warehouse_spark.operators.text import (
            heldout_interp_bigram_nll,
        )

        ref = spark.createDataFrame(self.REF, "doc_id long, text string")
        tgt = spark.createDataFrame(
            [(1, "zz yy xx")], "doc_id long, text string"
        )
        row = heldout_interp_bigram_nll(tgt, ref).collect()[0]
        assert math.isfinite(row.avg_interp_nll)
        assert row.unseen_bigrams == row.n_bigrams == 2

    def test_cache_scope_two_pins(self, spark):
        from nhl_data_warehouse_spark.operators.caching import cache_scope
        from nhl_data_warehouse_spark.operators.text import (
            heldout_interp_bigram_nll,
        )

        jsc = spark.sparkContext._jsc
        ref = spark.createDataFrame(self.REF, "doc_id long, text string")
        tgt = spark.createDataFrame(self.TGT, "doc_id long, text string")
        before = set(jsc.getPersistentRDDs().keySet())
        with cache_scope():
            heldout_interp_bigram_nll(tgt, ref).collect()
            pinned = set(jsc.getPersistentRDDs().keySet()) - before
            assert len(pinned) == 2  # the vocab and the bigram counts
        assert not pinned & set(jsc.getPersistentRDDs().keySet())
