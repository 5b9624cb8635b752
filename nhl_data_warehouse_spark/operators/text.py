"""Text analysis operators for corpus curation.

All JVM-side expression work (split/regexp/len arithmetic) — no
Python UDFs, so these run at scan speed inside whole-stage codegen.
Per-row ratios are plain double arithmetic (deterministic IEEE ops).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf string hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nhl_data_warehouse_spark.operators.caching import pin
from pyspark.sql.window import Window

# whitespace tokens vs BPE-ish units: words OR single non-space symbols
BPE_ISH_PATTERN = r"\w+|[^\w\s]"

# marker stopwords per language for the n-gram/stopword language-ID
# heuristic; real pipelines plug in fastText etc. — the *operator
# shape* (vectorized scoring + argmax) is what matters here.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
    "zh": ["的", "是", "了", "在", "和"],
}


def token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting both ways: whitespace tokens and BPE-ish regex
    units, plus char length — the standard size gates for corpus
    filtering."""
    ws_tokens = F.split(F.col(text_col), r"\s+")
    bpe_tokens = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    return df.select(
        id_col,
        F.length(text_col).alias("n_chars"),
        F.size(F.filter(ws_tokens, lambda t: t != "")).alias("n_ws_tokens"),
        F.size(bpe_tokens).alias("n_bpe_tokens"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features + a composite 0-10 score: length
    band, punctuation density, stopword presence, mean token length —
    the usual cheap pre-filters before model-based scoring.

    All outputs are integers and every threshold is an integer
    cross-multiplication (``n_punct*10 < n_chars`` instead of
    ``n_punct/n_chars < 0.1``): exact in any engine, no
    floating-point rounding to disagree about. Consumers derive float
    ratios from the counts when they want them.
    """
    text = F.col(text_col)
    tokens = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    n_tokens = F.size(tokens)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_stop = F.size(
        F.filter(tokens, lambda t: F.lower(t).isin(*LANG_MARKERS["en"]))
    )
    sum_tok_len = F.aggregate(tokens, F.lit(0), lambda acc, t: acc + F.length(t))
    length_ok = (n_chars >= 100) & (n_chars <= 20000)
    punct_ok = n_punct * 10 < n_chars  # punct ratio < 0.1
    stop_ok = n_stop > 0
    tok_len_ok = (sum_tok_len >= 3 * n_tokens) & (sum_tok_len <= 10 * n_tokens)
    score = (
        length_ok.cast("long") * 4
        + punct_ok.cast("long") * 2
        + stop_ok.cast("long") * 2
        + tok_len_ok.cast("long") * 2
    )
    return df.select(
        id_col,
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        n_stop.cast("long").alias("n_stop"),
        sum_tok_len.cast("long").alias("sum_tok_len"),
        score.alias("quality_decile"),
    )


def lang_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-marker language ID: score each language by how many of
    its marker words occur (distinct presence), predict the argmax
    (ties broken by language code order, deterministic)."""
    tokens = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    )
    scores = [
        F.size(F.array_intersect(tokens, F.array(*[F.lit(m) for m in markers]))).alias(
            f"score_{lang}"
        )
        for lang, markers in LANG_MARKERS.items()
    ]
    scored = df.select(id_col, *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    # first language (in declaration order) achieving the max wins;
    # build the CASE back-to-front
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.select(id_col, *[f"score_{l}" for l in langs], pred.alias("pred_lang"))


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 12
) -> DataFrame:
    """Document fingerprints: md5 of normalized text (exact identity)
    plus the minimum hashed char k-gram (a 1-hash MinHash — the
    rolling-hash winnowing idea reduced to its portable core)."""
    from nhl_data_warehouse_spark.operators.dedup import normalized_text, scale_out

    norm = normalized_text(text_col)
    positions = F.sequence(F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1)))
    shingle_hashes = F.transform(
        positions, lambda i: F.md5(F.substring(F.col(text_col), i, k))
    )
    return scale_out(df).select(
        id_col,
        F.md5(norm).alias("content_fingerprint"),
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
    )


# PII scrubbing patterns, applied in order (URLs first so emails/IPs
# embedded in a URL are swallowed whole, not partially). Portable
# regex subset only — character classes, bounded repeats, \b — so the
# exact same pattern runs under Java regex (Spark) and RE2 (DuckDB,
# and Go/Rust scrubbers elsewhere in a pipeline); no lookaround, no
# backreferences.
PII_PATTERNS: list[tuple[str, str]] = [
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}"),
]


def redact_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Scrub PII-shaped spans (URLs, emails, IPv4s, phone numbers) to
    typed placeholders (``<URL>`` etc.), with a per-row count of each
    redaction type — the audit trail a corpus pipeline keeps.

    Pure JVM-side ``regexp_replace``/``regexp_extract_all`` chain: a
    narrow per-row projection at scan speed, no shuffle, no Python.
    Counts are taken on the progressively-redacted text so a span
    never counts twice (an email inside an already-redacted URL is
    gone before the email pass looks).
    """
    cur = F.col(text_col)
    cols = [F.col(id_col)]
    for name, pat in PII_PATTERNS:
        cols.append(F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, f"<{name.upper()}>")
    cols.append(cur.alias(out_col))
    return df.select(*cols)


def remove_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 10,
    sep: str = ". ",
) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/RefinedWeb trick):
    split docs into sentences, drop every sentence that appears in more
    than ``max_df`` distinct documents (headers, footers, cookie
    banners, nav chrome), reassemble the rest in order. Returns
    (id, clean_text, n_sentences).

    Two shuffles total at any scale: the sentence-frequency aggregate
    (map-side combined, keyed on the md5 of the sentence so the wide
    text never shuffles) and the per-doc reassembly. Order is restored
    with ``array_sort`` over (pos, sentence) structs — collect_list is
    partition-order-nondeterministic, the sort makes the output not be.
    """
    sents = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), r"[.!?]")).alias("pos", "sent"),
        )
        .select(id_col, "pos", F.trim("sent").alias("sent"))
        .filter(F.col("sent") != "")
        .withColumn("fp", F.md5("sent"))
    )
    sents = pin(sents)  # feeds the frequency agg AND the keep-join
    freq_ok = (
        sents.groupBy("fp")
        .agg(F.count_distinct(id_col).alias("df_"))
        .filter(F.col("df_") <= max_df)
        .select("fp")
    )
    kept = sents.join(freq_ok, on="fp")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                lambda x: x["sent"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_sentences"),
    )


def _ws_tokens(text_col: str):
    """Non-empty whitespace tokens as an array column (space split —
    the suite's portable tokenization, same as DuckDB string_split)."""
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k salient terms per document by TF-IDF — the keyword/topic
    extraction pass a corpus pipeline runs for routing and mixing.

    idf = ln((N+1)/(df+1)) (smoothed, non-negative since df <= N),
    rounded to 6 dp and carried as DECIMAL so tfidf = tf * idf is
    exact from there on — rank order and hash comparisons cannot be
    perturbed by a 1-ulp libm difference (same convention as
    ``unigram_logprob_score``). Ties break on the term itself, so
    top-k is fully deterministic.

    Scale: tf is one map-side-combined aggregate over (doc, term); df
    is an aggregate over tf's output (already deduplicated per doc —
    no count_distinct shuffle); N broadcasts as a 1-row join; top-k is
    a window partitioned by doc (parallel).
    """
    toks = df.select(F.col(id_col), F.explode(_ws_tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = pin(tf)  # feeds df-counts AND the scored join
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df_docs") + 1).cast("double")),
        6,
    ).cast("decimal(12,6)")
    scored = (
        tf.join(dfreq, on="term")
        .join(F.broadcast(n_docs))
        .select(id_col, "term", "tf", "df_docs", (F.col("tf") * idf).alias("tfidf"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    # rank on the exact decimal; the final projection is double (the
    # driver floats oracle decimals, so DECIMAL outputs never hash-match)
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df_docs",
            F.col("tfidf").cast("double").alias("tfidf"),
            "term_rank",
        )
    )


def word_ngrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Distinct word n-grams per document, one row per (id, gram).
    Docs shorter than ``n`` tokens produce no rows. Pure array
    expressions (sequence/transform/slice) inside codegen — the
    shuffle-free building block for overlap/contamination checks."""
    arr = _ws_tokens(text_col)
    grams = F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram")
    )


def contamination_check(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    benchmark_every: int = 50,
    flag_pct: int = 20,
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the PaLM/GPT-3
    eval-leakage check): docs with ``id % benchmark_every == 0`` stand
    in for the held-out benchmark; every other doc is scored by how
    many of its distinct word n-grams also appear anywhere in the
    benchmark set, and flagged when >= ``flag_pct`` percent overlap.

    Counts are integers and the flag is an integer cross-
    multiplication (``n_shared*100 >= n_grams*flag_pct``) — exact in
    any engine; the reported ratio is one double division of exact
    ints. Scale: the benchmark gram set is tiny relative to the corpus
    -> broadcast it; the corpus side is a shuffle-free scan + explode,
    then one aggregate keyed on the doc.
    """
    grams = word_ngrams(df, id_col, text_col, n)
    grams = pin(grams)  # bench subset + corpus subset both read it
    bench = (
        grams.filter(F.col(id_col) % benchmark_every == 0).select("gram").distinct()
    )
    corpus = grams.filter(F.col(id_col) % benchmark_every != 0)
    counts = corpus.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        corpus.join(F.broadcast(bench), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0))
    return counts.join(shared, on=id_col, how="left").select(
        id_col,
        "n_grams",
        n_shared.alias("n_shared"),
        (n_shared.cast("double") / F.col("n_grams").cast("double")).alias(
            "contamination_ratio"
        ),
        (n_shared * 100 >= F.col("n_grams") * flag_pct)
        .cast("int")
        .alias("is_contaminated"),
    )


def novelty_curve(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    n_batches: int = 8,
) -> DataFrame:
    """Marginal-novelty curve of a growing corpus — the
    diminishing-returns diagnostic a data-acquisition pipeline runs
    before paying for more of the same source: docs arrive in id
    order, split into ``n_batches`` equal id-range batches, and each
    batch is scored by how many of its distinct word n-grams were
    NEVER seen in any earlier batch (Heaps-law vocabulary growth at
    the n-gram grain; a flattening cum_vocab / falling novelty_rate
    says new data is redundant with what is already held).

    Batch assignment is pure integer arithmetic —
    ``least((id * B) DIV (max_id + 1), B - 1)`` — so both engines
    agree exactly. First-occurrence is a gram-keyed MIN aggregate
    (map-side combined; never a window over rows); the only window is
    the cumulative vocabulary sum over <= n_batches rows. Scale: two
    gram-keyed aggregates over the exploded distinct-gram relation,
    both map-side combined — O(corpus tokens), no pairwise work.

    Output per batch: n_docs, distinct_grams, new_grams,
    novelty_rate, cum_vocab.
    """
    mx = df.agg(F.max(id_col).alias("mx"))
    # batch is a pure function of (id, max_id): attach it to the GRAM
    # relation directly — no id-keyed join back to the docs, and the
    # 1-row scalar broadcast appears exactly twice (grams + doc
    # counts), not once per downstream branch
    batch_expr = (
        F.least(
            F.expr(f"({id_col} * {n_batches}) DIV (mx + 1)"),
            F.lit(n_batches - 1),
        )
        .cast("int")
        .alias("batch")
    )
    bg = (
        word_ngrams(df, id_col, text_col, n)
        .crossJoin(F.broadcast(mx))
        .select(batch_expr, "gram")
        .distinct()
    )
    dist = bg.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_grams")
    )
    newg = (
        bg.groupBy("gram")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("long").alias("new_grams"))
    )
    nd = (
        df.crossJoin(F.broadcast(mx))
        .select(batch_expr)
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    joined = (
        nd.join(dist, on="batch", how="left")
        .join(newg, on="batch", how="left")
        .select(
            "batch",
            "n_docs",
            F.coalesce(F.col("distinct_grams"), F.lit(0)).alias(
                "distinct_grams"
            ),
            F.coalesce(F.col("new_grams"), F.lit(0)).alias("new_grams"),
        )
    )
    wc = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "batch",
        "n_docs",
        "distinct_grams",
        "new_grams",
        F.when(
            F.col("distinct_grams") > 0,
            F.col("new_grams").cast("double")
            / F.col("distinct_grams").cast("double"),
        ).alias("novelty_rate"),
        F.sum("new_grams").over(wc).cast("long").alias("cum_vocab"),
    )


def span_contamination(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    benchmark_mod: int = 2,
    flag_pct: int = 20,
) -> DataFrame:
    """Exact substring contamination at the long-n-gram grain with
    TOKEN-SPAN COVERAGE — the decontamination recipe real training
    corpora use (VERDICT r8 item 8, extending ``contamination_check``):
    a doc is removed not when it shares many short grams but when a
    large FRACTION OF ITS TOKENS is covered by some >= n-token span
    that also appears verbatim in the benchmark. Long grams (n=50)
    make exact matching equivalent to a suffix-automaton substring
    check at that grain — no automaton needed: every shared >= n-token
    substring is a union of shared n-grams, so the union of matched
    gram spans IS the contaminated region.

    Positions covered = COUNT(DISTINCT token index in any matched
    span): computing the interval union as a distinct-count keeps both
    engines on set semantics (no sweep-line fold to order). Per-doc
    blowup is bounded: matched grams <= n_tokens, each exploding to n
    positions, and ONLY matched grams explode — contamination is rare
    by construction, so the explode is O(contaminated tokens), not
    O(corpus).

    Scale shape: grams hash to md5 (32-byte join keys, never raw
    50-token strings on the wire); the benchmark gram set joins
    without an explicit broadcast hint — a REAL benchmark is tiny and
    AQE broadcasts it, while the parity split used by the suite query
    keeps both sides large enough that a forced broadcast would be
    wrong. Docs shorter than ``n`` tokens have no grams and are
    excluded (they cannot contain a 50-token substring).

    Output per eval doc: n_tokens, n_grams, n_matched (matched gram
    positions), covered_tokens, covered_frac, is_contaminated
    (integer cross-multiplication at ``flag_pct``%).
    """
    arr = _ws_tokens(text_col)
    docs = df.select(
        F.col(id_col), arr.alias("arr"), F.size(arr).cast("long").alias("n_tokens")
    ).where(F.size(F.col("arr")) >= n)
    grams = docs.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                lambda i: F.struct(
                    i.alias("i"),
                    F.md5(F.concat_ws(" ", F.slice("arr", i, n))).alias("g"),
                ),
            )
        ).alias("ig"),
    ).select(id_col, "n_tokens", F.col("ig.i").alias("i"), F.col("ig.g").alias("g"))
    bench = (
        grams.where(F.col(id_col) % benchmark_mod == 0).select("g").distinct()
    )
    ev = grams.where(F.col(id_col) % benchmark_mod != 0)
    counts = ev.groupBy(id_col).agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    matched = ev.join(bench, on="g").select(id_col, "i")
    n_matched = matched.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    covered = (
        matched.select(
            id_col, F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("pos")
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0))
    nm = F.coalesce(F.col("n_matched"), F.lit(0))
    return (
        counts.join(n_matched, on=id_col, how="left")
        .join(covered, on=id_col, how="left")
        .select(
            id_col,
            "n_tokens",
            "n_grams",
            nm.alias("n_matched"),
            cov.alias("covered_tokens"),
            (cov.cast("double") / F.col("n_tokens").cast("double")).alias(
                "covered_frac"
            ),
            (cov * 100 >= F.col("n_tokens") * flag_pct)
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def tf_norm_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Length-normalized term-frequency retrieval arm: score =
    round(query-term hits / doc length, 6) — the deliberately simple
    lexical arm used to exercise rank FUSION (``ranking.rrf_fuse``)
    against BM25; its ranking differs from BM25's exactly where
    BM25's saturation and idf matter, which is what makes the fused
    list a real test. Entirely per-row expressions (token array size
    + a filtered count — no explode, no shuffle) followed by one
    distributed TakeOrdered; docs with zero hits drop out (they have
    no rank in this arm).
    """
    arr = _ws_tokens(text_col)
    terms_arr = F.array(*[F.lit(t) for t in query_terms])
    scored = (
        df.select(
            F.col(id_col),
            F.size(arr).alias("dl"),
            F.size(
                F.filter(arr, lambda t: F.array_contains(terms_arr, t))
            ).alias("tf_hits"),
        )
        .where((F.col("dl") > 0) & (F.col("tf_hits") > 0))
        .select(
            id_col,
            "dl",
            "tf_hits",
            (
                F.round(
                    F.col("tf_hits").cast("double")
                    / F.col("dl").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("tf_norm"),
        )
    )
    return scored.orderBy(
        F.col("tf_norm").desc(), F.col(id_col).asc()
    ).limit(k)


def bloom_span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    history_mod: int = 2,
    flag_pct: int = 20,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Bloom-accelerated EXACT substring dedup at the short-n-gram
    grain (n=13, the RefinedWeb/CCNet recipe) — the incremental twin
    of ``span_contamination`` (n=50, eval-vs-benchmark): here the
    question is "which spans of a BATCH doc appear verbatim anywhere
    in the HISTORY corpus", and at 13 tokens the gram set is ~4x
    denser than at 50, so the exact gram-keyed join against the full
    history gram set — fine for a tiny benchmark — becomes the
    dominant shuffle. The standard lakehouse short-circuit applies
    unchanged at the GRAM grain: build a deterministic Bloom bitmap
    relation over the history's distinct gram hashes
    (``membership.bloom_build``), probe each DISTINCT batch gram
    (``membership.bloom_probe``), and let only the maybe-seen slice —
    true duplicated grams plus the filter's FPR — pay the exact
    verify join. Definitely-new grams (the overwhelming majority of a
    healthy batch) never shuffle against history at all.

    EXACTNESS is preserved, not approximated: the Bloom has no false
    negatives by construction, so every truly-shared gram reaches the
    exact verify, and false positives are rejected there — the
    matched-span set is provably identical to the plain exact join
    (pinned by tests/test_round11_ops.py against the
    ``span_contamination``-style direct join on adversarial input).
    The DuckDB oracle is therefore plain exact SQL; the bitmap is
    invisible to semantics.

    Scale shape: grams hash to md5 map-side (32-byte keys, raw
    n-token windows never shuffle); the probe explodes k=3 bit
    positions per DISTINCT gram and joins the (word, bits) bitmap
    relation on ``word`` (m_bits/64 rows — AQE broadcasts it while
    small; co-partitioned at the 2^33-bit scale); the verify join and
    the span-coverage distinct-count run only on matched grams, so
    the position explode is O(duplicated tokens), not O(corpus) —
    the span_contamination doctrine.

    Output per batch doc (>= n tokens): n_tokens, n_grams,
    n_dup_grams (exact-verified gram positions shared with history),
    covered_tokens (union of their n-token spans), dup_frac,
    is_flagged (integer cross-multiplication at ``flag_pct``%).
    """
    from .membership import bloom_build, bloom_probe

    arr = _ws_tokens(text_col)
    docs = df.select(
        F.col(id_col),
        arr.alias("arr"),
        F.size(arr).cast("long").alias("n_tokens"),
    ).where(F.size(F.col("arr")) >= n)
    grams = docs.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                lambda i: F.struct(
                    i.alias("i"),
                    F.md5(F.concat_ws(" ", F.slice("arr", i, n))).alias("g"),
                ),
            )
        ).alias("ig"),
    ).select(
        id_col, "n_tokens", F.col("ig.i").alias("i"), F.col("ig.g").alias("g")
    )
    hist = (
        grams.where(F.col(id_col) % history_mod == 0).select("g").distinct()
    )
    batch = grams.where(F.col(id_col) % history_mod != 0)
    bloom = bloom_build(hist, "g", m_bits=m_bits, k=k)
    maybe = (
        bloom_probe(
            batch.select("g").distinct(),
            bloom,
            key_col="g",
            id_col="g",
            m_bits=m_bits,
            k=k,
        )
        .where(F.col("bloom_member"))
        .select("g")
    )
    # exact verify: only the maybe-seen grams meet the history set
    dup_g = maybe.join(hist, on="g")
    matched = batch.join(dup_g, on="g").select(id_col, "i")
    counts = batch.groupBy(id_col).agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    n_dup = matched.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_grams")
    )
    covered = (
        matched.select(
            id_col,
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0))
    nd = F.coalesce(F.col("n_dup_grams"), F.lit(0))
    return (
        counts.join(n_dup, on=id_col, how="left")
        .join(covered, on=id_col, how="left")
        .select(
            id_col,
            "n_tokens",
            "n_grams",
            nd.alias("n_dup_grams"),
            cov.alias("covered_tokens"),
            (cov.cast("double") / F.col("n_tokens").cast("double")).alias(
                "dup_frac"
            ),
            (cov * 100 >= F.col("n_tokens") * flag_pct)
            .cast("int")
            .alias("is_flagged"),
        )
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 20,
) -> DataFrame:
    """Inverted index build: term -> document frequency, total term
    frequency, and the first ``max_postings`` doc ids (ascending) as a
    comma-joined posting string. ``collect_list`` order is partition-
    nondeterministic, so the list is sorted before slicing — output is
    exact. One aggregate keyed on the term; posting truncation bounds
    per-term state, and hot terms (stopwords) are exactly the rows a
    real indexer drops via a df cap."""
    toks = df.select(F.col(id_col), F.explode(_ws_tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_docs"),
        F.sum("tf").alias("total_tf"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.array_sort(F.collect_list(id_col)), 1, max_postings),
                lambda d: d.cast("string"),
            ),
        ).alias("postings"),
    )


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity-style quality score from a unigram LM trained on the
    corpus itself (the CCNet idea with the KenLM swapped for the
    in-corpus unigram distribution — the operator *shape* is the
    point: train-on-corpus then score-per-doc, two aggregations and
    one token join, all JVM-side).

    Returns (id, n_tokens, avg_neg_logprob); high scores = tokens the
    corpus finds surprising (gibberish, rare-symbol soup), the usual
    filter axis. Determinism: each token's ln p is rounded to 6 dp
    and summed as DECIMAL (exact, order-free); the mean divides once
    as double — same convention as the suite's cosine scores, and the
    rounding also swallows any 1-ulp libm-vs-JVM ln() difference.

    Scale: vocab counts are a map-side-combined aggregate; the
    score join shuffles on the token — for a Zipf-heavy 100TB corpus
    broadcast the head of the vocabulary and join only the tail.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != "")).alias(
            "tok"
        ),
    )
    toks = pin(toks)  # feeds vocab counts AND the score join
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    logp = vocab.join(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("c").cast("double") / F.col("n").cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("logp"),
    )
    return (
        toks.join(logp, on="tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-(F.sum("logp").cast("double")) / F.count(F.lit(1))).alias(
                "avg_neg_logprob"
            ),
        )
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (nats) — the
    repetitiveness axis of quality filtering: near-zero entropy is
    keyword stuffing / boilerplate loops, high entropy is diverse
    text. H = -sum p·ln p over within-doc term frequencies.

    Two keyed aggregates (doc,term) -> doc; each p·ln p term is
    rounded to 12 dp and summed as DECIMAL so the distributed sum is
    order-free, then H rounds to 6 dp — the suite's libm-proofing
    convention. Everything shuffles on ids/terms, never text.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(_ws_tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    totals = tf.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_terms"),
    )
    p = F.col("tf").cast("double") / F.col("n_tokens").cast("double")
    term_h = F.round(p * F.log(p), 12).cast("decimal(24,12)")
    return (
        tf.join(totals, on=id_col)
        .groupBy(id_col, "n_tokens", "n_distinct_terms")
        .agg(
            # + 0.0 maps IEEE -0.0 to +0.0: Spark's round() clamps tiny
            # negatives to 0.0 while DuckDB's keeps -0.0, and the
            # driver's repr-based hash distinguishes them (a doc whose
            # tokens are all identical has entropy exactly -0.0 there)
            (F.round(-F.sum(term_h).cast("double"), 6) + F.lit(0.0)).alias(
                "entropy_nats"
            )
        )
        .select(id_col, "n_tokens", "n_distinct_terms", "entropy_nats")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 retrieval scoring of every document against a fixed query
    term set — the ranking half of the search stack the inverted index
    (``inverted_index``) builds storage for.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Robertson-Sparck
    Jones form, always positive), rounded to 6 dp and carried as
    DECIMAL; each term's contribution idf * tf(k1+1)/(tf + k1(1-b +
    b·dl/avgdl)) is one fixed-association chain of IEEE double ops
    rounded to 12 dp, summed as DECIMAL so the distributed sum is
    order-free (suite libm-proofing convention).

    Scale: tokens are filtered to the query terms BEFORE the (doc,
    term) aggregate, so the shuffle carries only query-term hits —
    O(matches), not O(corpus tokens). The doc length rides through
    that aggregate as a (functionally id-dependent) group key, so no
    row-scale dl relation is ever joined back — the r3 plan paid a
    full-corpus shuffle there for one long column. N/sum_dl is a
    1-row broadcast; per-term df is an aggregate of the already-tiny
    tf relation; the final top-k is TakeOrderedAndProject (no global
    sort).
    """
    arr = _ws_tokens(text_col)
    base = df.select(F.col(id_col), arr.alias("toks"))
    base = pin(base)  # corpus stats + per-doc tf both read it
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("sum_dl"),
    )
    toks = base.select(
        F.col(id_col), F.size("toks").alias("dl"), F.explode("toks").alias("term")
    ).filter(F.col("term").isin(*query_terms))
    tf = toks.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_d = F.col("n_docs").cast("double")
    df_d = F.col("df_docs").cast("double")
    idf = (
        F.round(F.log(F.lit(1.0) + (n_d - df_d + 0.5) / (df_d + 0.5)), 6)
        .cast("decimal(12,6)")
        .alias("idf")
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    contrib = F.round(
        (F.col("idf").cast("double") * (tf_d * (k1 + 1.0)))
        / (tf_d + k1 * ((1.0 - b) + (b * dl_d) / avgdl)),
        12,
    ).cast("decimal(24,12)")
    idf_by_term = dfreq.join(F.broadcast(stats)).select("term", idf)
    scored = (
        tf.join(F.broadcast(idf_by_term), on="term")
        .join(F.broadcast(stats))
        .select(F.col(id_col), F.col("dl"), contrib.alias("contrib"))
    )
    return (
        scored.groupBy(id_col, "dl")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.round(F.sum("contrib").cast("double"), 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _word_bigrams(text_col: str):
    """Consecutive (not distinct) word bigrams as 'w1 w2' strings."""
    arr = _ws_tokens(text_col)
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat_ws(" ", F.slice(arr, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def pmi_bigrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 30,
) -> DataFrame:
    """Collocation extraction by pointwise mutual information over
    corpus-wide word bigrams: PMI = ln(p(w1 w2) / (p(w1)·p(w2))) with
    bigram probabilities over total bigram occurrences and unigram
    probabilities over total token occurrences — the phrase-mining
    pass a tokenizer-training pipeline runs to pick merge candidates.

    The inner ratio is a fixed-association chain of IEEE double ops
    (deterministic cross-engine); only ln is rounded (6 dp). Top-k by
    PMI desc with (w1, w2) tiebreak is fully deterministic.

    Scale: bigram counting is one map-side-combined aggregate; the
    ``min_count`` filter shrinks the bigram relation to frequent
    phrases BEFORE the unigram-count joins, and corpus totals ride a
    1-row broadcast. Nothing shuffles raw text.
    """
    uni = df.select(F.explode(_ws_tokens(text_col)).alias("w"))
    uni = pin(uni)  # total count + per-term counts
    bi = df.select(F.explode(_word_bigrams(text_col)).alias("gram"))
    bi = pin(bi)  # per-gram counts + corpus total (one tokenize pass)
    c_uni = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    c_bi = (
        bi.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
        .select(
            F.split("gram", " ").getItem(0).alias("w1"),
            F.split("gram", " ").getItem(1).alias("w2"),
            "c_ab",
        )
    )
    totals = uni.agg(F.count(F.lit(1)).alias("t_uni")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("t_bi"))
    )
    joined = (
        c_bi.join(c_uni.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_w1"), on="w1")
        .join(c_uni.withColumnRenamed("w", "w2").withColumnRenamed("c_w", "c_w2"), on="w2")
        .join(F.broadcast(totals))
    )
    p_ab = F.col("c_ab").cast("double") / F.col("t_bi").cast("double")
    p_a = F.col("c_w1").cast("double") / F.col("t_uni").cast("double")
    p_b = F.col("c_w2").cast("double") / F.col("t_uni").cast("double")
    # + 0.0 normalizes -0.0 (ratio just under 1): see token_entropy
    pmi = F.round(F.log(p_ab / (p_a * p_b)), 6) + F.lit(0.0)
    return (
        joined.select("w1", "w2", "c_ab", "c_w1", "c_w2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Gopher-style within-document repetition metrics: the fraction
    of word ``n``-grams that are duplicates of an earlier occurrence,
    and the share of bigram slots taken by the single most frequent
    bigram — the two strongest cheap signals for looped boilerplate
    and keyword stuffing (Rae et al. 2021 repetition filters).

    Fractions are one double division of exact integer counts
    (deterministic cross-engine). Docs shorter than ``n`` tokens have
    no n-gram slots and are excluded (nothing to measure).

    Scale: both metrics are (doc, gram) map-side-combined aggregates
    that shuffle hashed gram keys only; no all-pairs work, no text
    movement, and the two per-doc summaries co-partition on the doc
    id for the final join.
    """
    arr = _ws_tokens(text_col)
    grams_n = F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(arr, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gn = df.select(F.col(id_col), F.explode(grams_n).alias("gram"))
    ng = (
        gn.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct_grams"),
        )
    )
    bg = df.select(F.col(id_col), F.explode(_word_bigrams(text_col)).alias("gram"))
    nb = (
        bg.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_count"))
    )
    dup_frac = (F.col("n_grams") - F.col("n_distinct_grams")).cast(
        "double"
    ) / F.col("n_grams").cast("double")
    top_bi_frac = F.col("top_bigram_count").cast("double") / F.col(
        "n_bigrams"
    ).cast("double")
    return ng.join(nb, on=id_col).select(
        id_col,
        "n_grams",
        "n_distinct_grams",
        dup_frac.alias("dup_ngram_frac"),
        "n_bigrams",
        "top_bigram_count",
        top_bi_frac.alias("top_bigram_frac"),
    )


def bpe_merge_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide adjacent symbol-pair frequencies — the inner loop of
    BPE tokenizer training (Sennrich et al. 2016): each iteration picks
    the most frequent adjacent pair and merges it. This operator is one
    such counting pass over the base (character) vocabulary; a training
    loop re-runs it on the re-segmented corpus after each merge.

    Segmentation: whitespace words, each split into characters; pairs
    never cross word boundaries (the standard end-of-word convention).
    Top-k by (count desc, pair asc) — a deterministic total order.

    Scale: words explode to (pair) rows and one map-side-combined
    count aggregate shuffles only the pair vocabulary (bounded by
    |alphabet|^2 on the first iteration, merge-vocab-sized later) —
    the same aggregate shape a 100 TB corpus pass needs; top-k plans
    as TakeOrderedAndProject.
    """
    words = df.select(F.explode(_ws_tokens(text_col)).alias("w"))
    chars = F.split(F.col("w"), "")
    pairs = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.concat_ws(" ", F.slice(chars, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(k)
    )


def hashed_linear_quality(
    df: DataFrame,
    n_buckets: int = 256,
    bias: float = 0.0,
    threshold: float = 0.5,
    salt: str = "hlq-v1",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText/CCNet-style hashed-feature linear quality classifier:
    score = sigmoid(mean over tokens of w[bucket(token)] + bias), with
    the hashing trick collapsing the unbounded vocabulary into
    ``n_buckets`` feature dimensions. The weight vector here is a
    deterministic stand-in derived from the bucket id (hash -> [-1, 1],
    6dp); swap in trained weights as a broadcast lookup table without
    touching the plan shape — this operator is the *serving* half every
    model-based quality filter needs at corpus scale.

    Determinism: bucket = hex4(md5(salt|token)) mod n_buckets; weight =
    2*hex6(md5(salt|'w'|bucket))/16^6 - 1 rounded 6dp and carried as
    DECIMAL so the per-doc sum is exact on any engine/partitioning; the
    mean-margin is rounded 9dp BEFORE the sigmoid so a 1-ulp division
    difference cannot flip the rounded score (suite libm convention).

    Scale: tokenize-explode is a narrow 1->N map; the only shuffle is
    the per-doc partial-aggregated sum; weights need no join at all
    (hash-derived) — one pass however large the corpus.
    """
    toks = df.select(id_col, F.explode(_ws_tokens(text_col)).alias("tok"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col("tok"))), 1, 4),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    wv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|w|"), bucket.cast("string"))), 1, 6
        ),
        16,
        10,
    ).cast("long")
    weight = F.round(
        wv.cast("double") / F.lit(float(16**6)) * 2 - 1, 6
    ).cast("decimal(12,6)")
    per_doc = (
        toks.select(id_col, weight.alias("_w"))
        .groupBy(id_col)
        .agg(F.sum("_w").alias("_sw"), F.count(F.lit(1)).alias("n_tokens"))
    )
    out = df.select(id_col).join(per_doc, on=id_col, how="left")
    margin = F.round(
        F.coalesce(F.col("_sw").cast("double") / F.col("n_tokens"), F.lit(0.0))
        + F.lit(bias),
        9,
    )
    out = out.select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        margin.alias("margin"),
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6) + F.lit(
        0.0
    )
    return out.select(
        id_col,
        "n_tokens",
        "margin",
        score.alias("quality_score"),
        (score >= F.lit(threshold)).alias("keep"),
    )


def chi2_term_selection(
    df: DataFrame,
    label_col: str = "lang",
    k: int = 3,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chi-square term-label association — the feature-selection pass a
    corpus pipeline runs to find terms characteristic of a label
    (language, domain, quality tier): for each (term, label) the 2x2
    presence contingency [a=docs with term in label, b=with term
    elsewhere, c=label without term, d=rest] scores
    chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)); top-k terms per
    label by score. ``min_df`` drops rare terms (their chi2 is noise).

    All contingency cells are exact integer counts assembled from
    three aggregates (term-label, term, label) joined on their keys —
    the per-doc presence explode is the only row-scale work, and every
    aggregate is map-side combined. chi2 is one fixed-order double
    expression rounded 6dp; the top-k window partitions by label.
    """
    from pyspark.sql.window import Window

    present = df.select(
        id_col, label_col, F.explode(F.array_distinct(_ws_tokens(text_col))).alias("term")
    )
    n_total = df.select(F.count(F.lit(1)).alias("__n"))
    tl = present.groupBy("term", label_col).agg(
        F.count(F.lit(1)).alias("a")
    )
    # terms in EVERY doc (and labels covering every doc) make a
    # zero-width margin — chi2 is undefined and the feature carries no
    # information; exclude them rather than divide by zero under ANSI
    t = (
        present.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term"))
        .crossJoin(F.broadcast(n_total))
        .filter((F.col("n_term") >= min_df) & (F.col("n_term") < F.col("__n")))
        .drop("__n")
    )
    lab = (
        df.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("n_label"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("n_label") < F.col("__n"))
        .drop("__n")
    )
    j = (
        tl.join(t, on="term")
        .join(F.broadcast(lab), on=label_col)
        .crossJoin(F.broadcast(n_total))
    )
    a = F.col("a")
    b = F.col("n_term") - a
    c = F.col("n_label") - a
    d = F.col("__n") - F.col("n_term") - c
    diff = a * d - b * c
    chi2 = F.round(
        (F.col("__n") * diff * diff).cast("double")
        / (F.col("n_term") * (F.col("__n") - F.col("n_term"))).cast("double")
        / (F.col("n_label") * (F.col("__n") - F.col("n_label"))).cast("double"),
        6,
    ) + F.lit(0.0)
    scored = j.select(
        label_col, "term", a.alias("n_with"), "n_term", "n_label",
        chi2.alias("chi2"),
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("chi2").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(label_col, "term", "n_with", "n_term", "n_label", "chi2", "rank")
    )


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 64,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` token vocabulary — the tokenizer-coverage
    signal (what fraction of a document a fixed vocab cannot
    represent) curation pipelines use to spot noise, wrong-language
    and encoding-damaged documents before training.

    Scale design: the vocabulary is a distributed top-k
    (``orderBy().limit()`` = per-partition TakeOrdered + driver merge
    of vocab_size rows, never a global sort) and is broadcast back —
    the corpus-side token stream is aggregated per doc with one keyed
    shuffle. Ties at the vocabulary boundary break lexicographically
    so the vocab set is engine-deterministic.
    """
    toks = df.select(
        F.col(id_col), F.explode(_ws_tokens(text_col)).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("term").asc())
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_inv"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            (F.round(F.col("n_oov") / F.col("n_tokens"), 6) + F.lit(0.0)).alias(
                "oov_rate"
            ),
        )
    )


def bigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc average negative log-probability under an add-one-
    smoothed bigram LM trained on the corpus itself — one model order
    beyond ``unigram_logprob_score``, the CCNet-style fluency axis:
    a doc of common words in *uncommon sequence* (shuffled text,
    keyword soup) scores high here while passing the unigram filter.

    P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V), with c(w1·) the count
    of bigrams starting with w1 and V the unigram vocabulary size.
    Determinism: each ln is rounded to 6 dp and summed as DECIMAL
    (order-free); one double division for the mean — the suite's
    libm-proofing convention. Docs with < 2 tokens emit no row.

    Scale: bigram counting is map-side combined; the left-context
    counts derive from the (much smaller) bigram-count relation, not
    a second corpus pass; V rides a 1-row broadcast. The score join
    shuffles on the bigram key — broadcast the frequent head for a
    Zipf-heavy corpus, as with the unigram scorer.
    """
    bi = df.select(
        F.col(id_col), F.explode(_word_bigrams(text_col)).alias("gram")
    )
    bi = pin(bi)  # corpus counts AND the score join
    c_bi = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("c_ab"))
    c_left = (
        c_bi.groupBy(F.split("gram", " ").getItem(0).alias("w1"))
        .agg(F.sum("c_ab").alias("c_w1"))
    )
    v = df.select(F.explode(_ws_tokens(text_col)).alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    logp = (
        c_bi.withColumn("w1", F.split("gram", " ").getItem(0))
        .join(c_left, on="w1")
        .join(F.broadcast(v))
        .select(
            "gram",
            F.round(
                F.log(
                    (F.col("c_ab") + 1).cast("double")
                    / (F.col("c_w1") + F.col("v")).cast("double")
                ),
                6,
            )
            .cast("decimal(12,6)")
            .alias("logp"),
        )
    )
    return (
        bi.join(logp, on="gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-(F.sum("logp").cast("double")) / F.count(F.lit(1))).alias(
                "avg_neg_logprob2"
            ),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 128,
) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    ln(frequency) on ln(rank) over the top-``top_n`` terms — healthy
    natural-language corpora sit near slope -1; template/boilerplate
    or synthetic corpora bend away. One number summarizing corpus
    shape, cheap enough to track per ingest batch.

    Determinism: both logs are rounded to 6 dp (libm-proofing) and
    fixed-pointed to int64 (x1e6), then fed to
    ``regression.grouped_ols`` — exact integer sufficient statistics,
    no further rounding. Scale: term counts are one map-side-combined
    aggregate; the top-n cut is a distributed TakeOrdered; everything
    after runs on <= top_n rows.
    """
    from pyspark.sql.window import Window

    from nhl_data_warehouse_spark.operators.regression import grouped_ols

    counts = (
        df.select(F.explode(_ws_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(top_n)
    )
    # rank window over the <= top_n cut only
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    pts = counts.select(
        F.lit(1).alias("_g"),
        F.round(F.round(F.log(F.row_number().over(w).cast("double")), 6) * 1e6, 0)
        .cast("long")
        .alias("_lnrank"),
        F.round(F.round(F.log(F.col("c").cast("double")), 6) * 1e6, 0)
        .cast("long")
        .alias("_lnfreq"),
    )
    return grouped_ols(pts, "_g", "_lnrank", "_lnfreq").select(
        F.col("n").alias("n_terms"),
        (F.col("slope")).alias("zipf_slope"),
        F.col("intercept").alias("zipf_intercept"),
    )


def dsir_logratio_weights(
    df: DataFrame,
    target_pred: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its tokens are under the TARGET
    slice's hashed-unigram distribution than under the full corpus's —
    the select-web-data-that-looks-like-the-target move. ``target_pred``
    is a boolean Column defining the target slice (e.g. curated docs);
    both distributions are estimated from the corpus itself, so no
    side model is needed.

    Tokens hash into ``n_buckets`` buckets (first 4 hex chars of md5,
    mod B — collisions are the point: the feature space stays bounded
    regardless of vocabulary size). Bucket log-probs are add-one
    smoothed, each ln rounded to 6 dp (the suite's decimal-ln
    convention) so the per-doc sum is exact and order-free; a document
    is ``selected`` when its tokens are net more target-like than
    corpus-like (log ratio sum > 0).

    Scale design: ONE token explode feeds both distribution arms (a
    conditional aggregate per bucket — map-side combined, B-bounded)
    and the scoring join; the B-row log-ratio table broadcasts back,
    so the only row-scale shuffles are the explode's per-doc rollup.
    No vocabulary-sized state crosses the wire, unlike the
    unsmoothed-vocab variant in ``unigram_logprob_score``.
    """
    b_total = int(n_buckets)
    toks = df.select(
        F.col(id_col),
        target_pred.alias("_is_t"),
        F.explode(_ws_tokens(text_col)).alias("tok"),
    ).withColumn(
        "_b",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
        % b_total,
    )
    toks = pin(toks)  # feeds the bucket counts AND the score join
    counts = toks.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cs"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_ct"),
    )
    # the totals are a window over the <= B-row bucket relation —
    # bounded by construction, so unpartitioned is correct
    w = Window.partitionBy()
    lr = counts.select(
        "_b",
        (
            F.round(
                F.log(
                    (F.col("_ct") + 1).cast("double")
                    / (F.sum("_ct").over(w) + b_total).cast("double")
                ),
                6,
            ).cast("decimal(12,6)")
            - F.round(
                F.log(
                    (F.col("_cs") + 1).cast("double")
                    / (F.sum("_cs").over(w) + b_total).cast("double")
                ),
                6,
            ).cast("decimal(12,6)")
        ).alias("_lr"),
    )
    return (
        toks.join(F.broadcast(lr), on="_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lr").cast("double").alias("dsir_logratio"),
        )
        .withColumn("selected", F.col("dsir_logratio") > 0.0)
    )


def nfc_normalize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Unicode NFC normalization — the canonical-composition pass a
    multilingual corpus needs before ANY hashing/dedup/tokenization
    (the same text can arrive composed or decomposed; é as one
    codepoint or e+combining-acute hash differently but render
    identically, silently defeating exact dedup and splitting token
    counts). Emits the normalized text plus a ``changed`` flag so the
    pipeline can measure how much of a source is affected.

    Arrow-batched scalar pandas UDF over stdlib ``unicodedata`` — a
    narrow per-row projection (no shuffle) whose cost is linear in
    bytes; Python is the right tool here because the JVM exposes no
    normalization builtin and the table form (java.text.Normalizer via
    a JVM UDF) would need custom jars. Cross-engine: utf8proc-based
    engines (DuckDB ``nfc_normalize``) produce identical output —
    NFC is a Unicode-standard fixpoint, not an implementation choice.
    """
    from pyspark.sql.functions import pandas_udf

    # type-hint style (Series -> Series infers SCALAR); the strings
    # produced by postponed annotation evaluation resolve because pd
    # is imported at module scope, where get_type_hints looks
    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        # pandas' vectorized normalizer (unicodedata under the hood);
        # NULLs propagate as NaN -> null
        return s.str.normalize("NFC")

    out = df.select(
        F.col(id_col), F.col(text_col), _nfc(F.col(text_col)).alias(out_col)
    )
    return out.select(
        id_col,
        out_col,
        (F.col(out_col) != F.col(text_col)).alias("changed"),
    )


def fim_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
) -> DataFrame:
    """Deterministic fill-in-the-middle (FIM) transformation — the
    infilling-objective data prep [Bavarian et al., "Efficient
    Training of Language Models to Fill in the Middle", 2022]: split
    each document into (prefix, middle, suffix) at two content-derived
    cut points and render the PSM (prefix-suffix-middle) training
    form. Content-hash cut points (md5 of the text, two 8-hex
    windows mod L+1) make the split reproducible across engines,
    partitionings, and reruns — no RNG, same contract as
    ``sampling.hash_sample``.

    Documents shorter than ``min_len`` chars pass through unsplit
    (``mode='plain'``) — infilling degenerates on tiny inputs.

    Narrow per-row projection: no shuffle, no UDF; every function
    (md5, conv, substring, concat) is JVM codegen and has an exact
    SQL mirror.
    """
    t = F.col(text_col)
    L = F.length(t)
    h = F.md5(t)
    a = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % (L + 1)
    b = F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % (L + 1)
    c1, c2 = F.least(a, b), F.greatest(a, b)
    is_fim = L >= min_len
    prefix = F.when(is_fim, F.substring(t, 1, c1)).otherwise(t)
    middle = F.when(is_fim, t.substr(c1 + 1, c2 - c1)).otherwise(F.lit(""))
    suffix = F.when(is_fim, t.substr(c2 + 1, L - c2)).otherwise(F.lit(""))
    return df.select(
        F.col(id_col),
        F.when(is_fim, F.lit("fim")).otherwise(F.lit("plain")).alias("mode"),
        prefix.alias("prefix"),
        middle.alias("middle"),
        suffix.alias("suffix"),
        F.concat(
            F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix, F.lit("<MID>"), middle
        ).alias("psm"),
    )


# the "at least two of these English words" Gopher presence list —
# fixed published set, distinct from LANG_MARKERS (which is the
# suite's language-ID marker table)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_gates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style rule gates per document (the published pre-filter
    recipe for web-scale training corpora): word-count band, mean word
    length band, alphabetic-word fraction, symbol-to-word ratio, and
    the two-of-eight stopword presence check — one boolean per rule
    plus the conjunction, alongside the integer counts they derive
    from.

    Complements ``quality_score`` (a composite 0-10 decile used as the
    heuristic label) — these are the hard REJECT gates a pipeline
    applies before any scoring. Same exactness doctrine: every
    threshold is an integer cross-multiplication (``5 * n_alpha_words
    >= 4 * n_words`` instead of a float ratio), so the booleans are
    bit-identical on any engine.

    Scale: one map-only projection — array expressions over the token
    split, no shuffle, no UDF; filters on the output push down to the
    parquet scan of the boolean columns once materialized.
    """
    text = F.col(text_col)
    tokens = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    n_words = F.size(tokens).cast("long")
    sum_tok_len = F.aggregate(
        tokens, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("long")
    n_alpha = F.size(
        F.filter(tokens, lambda t: t.rlike("[a-zA-Z]"))
    ).cast("long")
    n_symbols = (
        (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit(""))))
        + (F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit(""))))
    ).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.transform(tokens, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    g_words = (n_words >= 50) & (n_words <= 100_000)
    g_mwl = (sum_tok_len >= 3 * n_words) & (sum_tok_len <= 10 * n_words)
    g_alpha = 5 * n_alpha >= 4 * n_words
    g_sym = 10 * n_symbols <= n_words
    g_stop = stop_hits >= 2
    return df.select(
        id_col,
        n_words.alias("n_words"),
        n_alpha.alias("n_alpha_words"),
        n_symbols.alias("n_symbols"),
        stop_hits.alias("n_stop_hits"),
        g_words.alias("gate_word_count"),
        g_mwl.alias("gate_mean_word_len"),
        g_alpha.alias("gate_alpha_ratio"),
        g_sym.alias("gate_symbol_ratio"),
        g_stop.alias("gate_stopwords"),
        (g_words & g_mwl & g_alpha & g_sym & g_stop).alias("pass_gopher"),
    )


def type_token_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Lexical-diversity features per document: type-token ratio
    (distinct lowercased tokens / tokens) and hapax fraction (tokens
    occurring exactly once / types) — low TTR flags template/spam
    text that repetition_signals' line/ngram detectors miss, high
    hapax fraction flags OCR noise and gibberish.

    Scale: explode -> map-side-combined groupBy on (doc, token) ->
    per-doc aggregate -> equi left-join back to keep empty documents.
    The term-frequency grain is the same one token_entropy builds; no
    windows, no UDFs. Ratios are single double divisions of exact
    counts (engine-stable), NULL on empty docs.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
            )
        ).alias("tok"),
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    per = tf.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    joined = df.select(id_col).join(per, on=id_col, how="left")
    return joined.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_types", F.lit(0)).alias("n_types"),
        F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
        F.expr(
            "CASE WHEN COALESCE(n_tokens, 0) = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) END"
        ).alias("ttr"),
        F.expr(
            "CASE WHEN COALESCE(n_types, 0) = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) END"
        ).alias("hapax_ratio"),
    )


def cross_lang_gram_overlap(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 4,
) -> DataFrame:
    """Cross-language n-gram overlap: for every unordered language
    pair, the count and Jaccard of distinct word n-grams occurring in
    BOTH languages' documents — the translation-leak / boilerplate
    screen that per-split decontamination misses (a benchmark
    translated into another language shares no 8-gram with the
    original, but mechanically inserted boilerplate and code spans
    do; a cross-lang overlap spike localizes which pair to audit).

    Scale shape: distinct (lang, gram) is one map-side-combined
    aggregate over the ``word_ngrams`` explode; the pair join is
    gram-keyed equi with per-gram fan-out bounded by the LANGUAGE
    COUNT (not corpus size), and per-language gram counts equi-join
    back. One double division per pair.
    """
    # carry the language through the explode instead of joining it
    # back onto the gram relation afterwards: the old shape shuffled
    # the EXPLODED (id, gram) rows through a doc-keyed equi-join just
    # to pick up one dim column that was sitting on the source row all
    # along (guide §2.4: remove shuffles outright)
    gl = word_ngrams(
        df.select(F.col(lang_col).alias("lg"), F.col(text_col)),
        id_col="lg",
        text_col=text_col,
        n=n,
    ).distinct()
    counts = gl.groupBy("lg").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    a = gl.select(F.col("lg").alias("lang_a"), "gram")
    b = gl.select(F.col("lg").alias("lang_b"), "gram")
    pairs = (
        a.join(b, on="gram")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ca = counts.select(
        F.col("lg").alias("lang_a"), F.col("n_grams").alias("n_grams_a")
    )
    cb = counts.select(
        F.col("lg").alias("lang_b"), F.col("n_grams").alias("n_grams_b")
    )
    return (
        pairs.join(ca, on="lang_a")
        .join(cb, on="lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            F.expr(
                "CAST(n_shared AS DOUBLE)"
                " / CAST(n_grams_a + n_grams_b - n_shared AS DOUBLE)"
            ).alias("jaccard"),
        )
    )


def heldout_unigram_nll(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: int = 1,
) -> DataFrame:
    """Per-doc mean negative log-likelihood under an add-k-smoothed
    unigram LM trained on a HELD-OUT reference corpus — the CCNet
    quality gate shape (Wenzek et al., LREC'20 §4.3: score the crawl
    against an LM trained on a trusted corpus, then gate on
    perplexity). The two in-corpus scorers
    (``unigram_logprob_score``/``bigram_logprob_score``) ask "is this
    doc typical of THIS corpus"; this one asks "does this doc look
    like the REFERENCE" — the form that needs real smoothing, because
    target tokens can be absent from the reference vocabulary:

        p(w) = (c_ref(w) + k) / (N_ref + k * (V_ref + 1))

    (one extra vocabulary slot absorbs all OOV mass; any unseen token
    scores p = k / (N + k(V+1)) > 0). Returns (id, n_tokens,
    oov_tokens, avg_nll); perplexity is exp(avg_nll). High avg_nll =
    unlike the reference (gibberish, wrong language, boilerplate).

    Determinism: counts are exact integers; each token's ln p is one
    fixed-order double expression rounded to 6 dp and summed as
    DECIMAL (order-free); the mean divides once as double — the
    suite's libm-proofing convention.

    Scale shape: the reference pass is one map-side-combined vocab
    count; (N, V) ride a 1-row broadcast; the score join shuffles
    target tokens against the (much smaller) vocab relation on the
    token key — for a Zipf-heavy corpus broadcast the vocabulary head
    and join only the tail, as with the in-corpus scorers. OOV
    handling is a LEFT join + coalesce, not a second pass.
    """
    vocab = (
        ref_df.select(
            F.explode(_ws_tokens(text_col)).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # feeds the (N, V) totals AND the score join — persist so the
    # reference corpus is scanned once, not twice
    vocab = pin(vocab)
    totals = vocab.agg(
        F.sum("c").cast("long").alias("n_ref"),
        F.count(F.lit(1)).cast("long").alias("v_ref"),
    )
    toks = df.select(
        F.col(id_col), F.explode(_ws_tokens(text_col)).alias("tok")
    )
    denom = (
        F.col("n_ref") + F.lit(add_k) * (F.col("v_ref") + 1)
    ).cast("double")
    scored = (
        toks.join(vocab, on="tok", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.col("c").isNull().cast("long").alias("_oov"),
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(add_k)).cast(
                        "double"
                    )
                    / denom
                ),
                6,
            )
            .cast("decimal(12,6)")
            .alias("_logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_oov").cast("long").alias("oov_tokens"),
        (-(F.sum("_logp").cast("double")) / F.count(F.lit(1))).alias(
            "avg_nll"
        ),
    )


def heldout_interp_bigram_nll(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.75,
    add_k: int = 1,
) -> DataFrame:
    """Per-doc mean NLL under a Jelinek-Mercer INTERPOLATED bigram LM
    trained on a held-out reference — one model order beyond
    ``heldout_unigram_nll``, the standard backoff recipe when the
    higher order is sparse: p(w2|w1) = lam * p_bi + (1-lam) * p_uni
    with p_bi the reference's unsmoothed ML conditional
    c(w1 w2)/c(w1 .) (0 when the context or gram is unseen) and p_uni
    the add-k unigram WITH the extra OOV slot — strictly positive, so
    the interpolation never takes ln(0). This is the practical shape
    of the CCNet/KenLM gate at order 2 (real KenLM is 5-gram
    Kneser-Ney; the interpolation structure, context sparsity, and
    OOV handling — the parts that change the PLAN — are all here).

    ``lam`` should be dyadic (default 0.75) so lam and 1-lam are
    exact doubles; every probability is a single division of exact
    integer counts and the interpolation is one fixed-order
    fused-free expression, identical on any engine; ln rounds to
    6 dp, sums as DECIMAL, one final division (suite convention).
    Docs with < 2 tokens emit no row. Returns (id, n_bigrams,
    unseen_bigrams, avg_interp_nll).

    Scale shape: reference bigram/unigram counts are map-side
    combined; left-context counts derive from the (small) bigram
    relation, not a second corpus pass; (N, V) ride a 1-row
    broadcast; scoring is three token-keyed LEFT equi-joins (gram,
    context, unigram) — the Zipf-head broadcast stance of the other
    LM scorers applies to all three.
    """
    one_minus = 1.0 - lam
    vocab = (
        ref_df.select(F.explode(_ws_tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = pin(vocab)  # totals + the w2 join
    totals = vocab.agg(
        F.sum("c").cast("long").alias("n_ref"),
        F.count(F.lit(1)).cast("long").alias("v_ref"),
    )
    cb = (
        ref_df.select(F.explode(_word_bigrams(text_col)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    cb = pin(cb)  # left-context derivation + gram join
    cl = cb.groupBy(
        F.split("gram", " ").getItem(0).alias("w1")
    ).agg(F.sum("c_ab").alias("c_w1"))
    tgt = df.select(
        F.col(id_col), F.explode(_word_bigrams(text_col)).alias("gram")
    ).select(
        id_col,
        "gram",
        F.split("gram", " ").getItem(0).alias("w1"),
        F.split("gram", " ").getItem(1).alias("w2"),
    )
    p_bi = F.coalesce(F.col("c_ab"), F.lit(0)).cast("double") / F.coalesce(
        F.col("c_w1"), F.lit(1)
    ).cast("double")
    p_uni = (
        F.coalesce(F.col("c"), F.lit(0)) + F.lit(add_k)
    ).cast("double") / (
        F.col("n_ref") + F.lit(add_k) * (F.col("v_ref") + 1)
    ).cast("double")
    scored = (
        tgt.join(cb, on="gram", how="left")
        .join(cl, on="w1", how="left")
        .join(vocab.withColumnRenamed("tok", "w2"), on="w2", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.col("c_ab").isNull().cast("long").alias("_unseen"),
            F.round(
                F.log(F.lit(lam) * p_bi + F.lit(one_minus) * p_uni), 6
            )
            .cast("decimal(12,6)")
            .alias("_logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("_unseen").cast("long").alias("unseen_bigrams"),
        (-(F.sum("_logp").cast("double")) / F.count(F.lit(1))).alias(
            "avg_interp_nll"
        ),
    )
