"""Sequence packing for LM training-data builds.

Two packing shapes a pretraining pipeline needs over a tokenized
corpus (reference has no analogue — these are beyond-reference
training-data operators, SURVEY.md §2 "training pipeline" family):

1. ``token_spans`` — concat-then-chunk: all documents are laid end to
   end in a deterministic order and cut into fixed-size blocks; each
   doc gets its absolute token span and the block range it straddles.
   This is the classic GPT-style pretraining layout. Implemented as a
   **two-level distributed prefix sum** so it scales: a global window
   over all rows would drag 100 TB through one partition; instead we
   prefix-sum within coarse buckets of the order key (parallel,
   partition-local) and add per-bucket base offsets computed from a
   tiny bucket-totals aggregate (broadcast join).

2. ``pack_next_fit`` — greedy next-fit bin packing: walk docs in order
   within each group, keep appending to the current bin until the next
   doc would overflow ``budget``, then open a new bin. Sequential by
   definition, so it runs as an Arrow-batched ``applyInPandas`` per
   group — groups pack in parallel, the scan inside a group is a tight
   pandas loop. At 100 TB the group key (source/shard) bounds state to
   one group's rows; no global order is required across groups.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def token_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    block_size: int = 512,
    bucket_width: int = 1024,
) -> DataFrame:
    """Absolute token offsets + block spans under concat-then-chunk.

    ``df`` has one row per doc with an integer ``n_tokens``; docs are
    concatenated in ascending ``id_col`` order. Returns the input plus
    ``start_offset``, ``first_block``, ``last_block``, ``n_blocks``.

    Distributed prefix sum: ``bucket = id div bucket_width`` preserves
    the global order between buckets, so
    ``start = bucket_base + within_bucket_prefix - own_weight`` where
    ``bucket_base`` comes from a cumulative sum over the (tiny) bucket
    totals. The only single-partition window runs over ~n_rows/
    bucket_width rows; everything row-scale is partitioned by bucket.

    Empty docs (weight 0) occupy no tokens; their block span collapses
    to the block containing their start offset (``greatest(w,1)``
    keeps the arithmetic in non-negative integers, where truncating
    and flooring division agree across engines).
    """
    w = F.col("n_tokens").cast("long")
    bucketed = df.withColumn("__bucket", F.expr(f"{id_col} div {bucket_width}"))
    totals = bucketed.groupBy("__bucket").agg(F.sum(w).alias("__tot"))
    base_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = totals.select(
        "__bucket",
        F.coalesce(F.sum("__tot").over(base_w), F.lit(0)).alias("__base"),
    )
    within_w = (
        Window.partitionBy("__bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        bucketed.join(F.broadcast(bases), on="__bucket")
        .withColumn("__cum", F.sum(w).over(within_w))
        .withColumn("start_offset", F.col("__base") + F.col("__cum") - w)
    )
    start = F.col("start_offset")
    first = F.expr(f"start_offset div {block_size}")
    last = F.expr(
        f"(start_offset + greatest(cast(n_tokens as long), 1L) - 1) "
        f"div {block_size}"
    )
    return out.select(
        *[c for c in df.columns],
        start,
        first.alias("first_block"),
        last.alias("last_block"),
        (last - first + 1).alias("n_blocks"),
    )


def block_segments(
    df: DataFrame,
    block_size: int = 512,
    bucket_width: int = 1024,
) -> DataFrame:
    """Materialized concat-then-chunk assembly map: one row per
    (block, doc) segment saying which in-doc token range fills which
    fixed-size training sequence — the GPT-style layout where
    sequences CROSS document boundaries (what ``token_spans`` locates,
    this one enumerates). A sequence builder joins this map back to
    the tokenized docs and slices; every block except the final one is
    exactly ``block_size`` tokens by construction.

    Plan: the two-level prefix sum of ``token_spans`` plus one narrow
    1->N explode over each doc's straddled block range (fan-out =
    n_blocks per doc, bounded by doc length / block_size) — no extra
    shuffle beyond the prefix sum's one. Zero-weight docs contribute
    no segments.
    """
    spans = token_spans(df, "doc_id", block_size, bucket_width)
    w = F.col("n_tokens").cast("long")
    blocks = F.sequence(F.col("first_block"), F.col("last_block"))
    seg = spans.filter(w > 0).select(
        "doc_id",
        "start_offset",
        w.alias("__w"),
        F.explode(blocks).alias("block_id"),
    )
    seg_start = F.greatest(
        F.lit(0).cast("long"),
        F.col("block_id") * block_size - F.col("start_offset"),
    )
    seg_end = F.least(
        F.col("__w"), (F.col("block_id") + 1) * block_size - F.col("start_offset")
    )
    return seg.select(
        "block_id",
        "doc_id",
        seg_start.alias("seg_start"),
        (seg_end - seg_start).alias("n_seg_tokens"),
    )


def pack_next_fit(
    df: DataFrame,
    budget: int = 128,
) -> DataFrame:
    """Greedy next-fit packing: within each ``source``, docs in
    ascending ``doc_id`` order are appended to the current bin while
    their ``n_tokens`` fit in ``budget`` tokens; otherwise a new bin
    opens (an oversized doc gets a bin to itself and overflows it —
    next-fit never splits docs). Returns (group, id, weight, bin) with bins
    numbered from 0 per group.

    The scan is inherently sequential per group, so it runs as one
    Arrow batch per group under ``applyInPandas``; only the narrow
    (group, id, weight) projection is shuffled, never document text.
    """
    narrow = df.select(
        F.col("source").cast("string").alias("group_key"),
        F.col("doc_id").cast("long").alias("item_id"),
        F.col("n_tokens").cast("long").alias("weight"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("item_id").reset_index(drop=True)
        bins = []
        cur_bin, fill = 0, 0
        for i, wt in enumerate(pdf["weight"]):
            if i == 0:
                fill = wt
            elif fill + wt <= budget:
                fill += wt
            else:
                cur_bin += 1
                fill = wt
            bins.append(cur_bin)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        return pdf

    return narrow.groupBy("group_key").applyInPandas(
        pack, "group_key string, item_id long, weight long, bin long"
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Overlapping token-window chunking — the RAG / long-context
    preprocessing shape: each document becomes ceil((n - overlap) /
    stride) windows of ``chunk_size`` tokens with ``overlap`` tokens
    shared between neighbors, so no boundary-spanning fact is lost to
    a hard cut. Returns (id, chunk_index, start_token, n_chunk_tokens,
    chunk_text).

    Pure array expressions (split -> sequence of stride starts ->
    slice) inside whole-stage codegen: a narrow 1->N per-row explode,
    no shuffle, no Python — the chunk fan-out is bounded by
    n_tokens/stride per document. Empty documents produce no chunks;
    a final short window is kept (standard convention) unless it is
    fully contained in the previous one.
    """
    from nhl_data_warehouse_spark.operators.text import _ws_tokens

    assert 0 <= overlap < chunk_size
    stride = chunk_size - overlap
    # the suite's one canonical tokenization (same as the oracles'
    # string_split contract) — chunk offsets must agree with every
    # text operator's token counts
    toks = _ws_tokens("text")
    n = F.size(toks)
    # starts: 0, stride, 2*stride, ... while start < n and (start == 0
    # or start + overlap < n)  — the containment condition drops a
    # trailing window that would add no new tokens
    n_chunks = F.when(
        n <= chunk_size, F.when(n > 0, F.lit(1)).otherwise(F.lit(0))
    ).otherwise(F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"))
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("int").alias("chunk_index"),
                s.cast("long").alias("start_token"),
                F.least(n - s, F.lit(chunk_size)).cast("long").alias(
                    "n_chunk_tokens"
                ),
                F.concat_ws(" ", F.slice(toks, s + 1, chunk_size)).alias(
                    "chunk_text"
                ),
            ),
        ),
    ).otherwise(F.array().cast(
        "array<struct<chunk_index:int,start_token:bigint,"
        "n_chunk_tokens:bigint,chunk_text:string>>"
    ))
    return df.select(F.col("doc_id"), F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_index", "c.start_token", "c.n_chunk_tokens", "c.chunk_text"
    )


def length_bucket_padding_stats(
    df: DataFrame,
    weight_col: str = "n_tokens",
) -> DataFrame:
    """Padding-efficiency report for length-bucketed batching: assign
    every doc to the power-of-two bucket that covers its length and
    measure, per bucket, how many pad tokens batching-to-bucket-top
    would burn. This is the planning query behind bucketed batch
    samplers (pad to the bucket boundary instead of the global max):
    the report quantifies the win and finds degenerate buckets.

    Bucket top = smallest power of two >= weight, computed with
    integer bit arithmetic (``1 << length(bin(w-1))``) — never
    ``ceil(log2)``, whose FP rounding misclassifies exact powers of
    two. One keyed aggregate (map-side combined, ~60 buckets total);
    the padding fraction is the single double division at the end.
    """
    w = F.col(weight_col).cast("long")
    # SQL shiftleft: the DataFrame F.shiftleft only takes a literal
    # bit count, the SQL form shifts by an expression
    top = F.when(w <= 1, F.lit(1).cast("long")).otherwise(
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), "
            f"length(bin(CAST({weight_col} AS BIGINT) - 1)))"
        )
    )
    agg = (
        df.select(top.alias("bucket_top"), w.alias("__w"))
        .groupBy("bucket_top")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__w").cast("long").alias("sum_tokens"),
        )
    )
    padded = F.col("n_docs") * F.col("bucket_top") - F.col("sum_tokens")
    return agg.select(
        "bucket_top",
        "n_docs",
        "sum_tokens",
        padded.alias("pad_tokens"),
        (
            padded.cast("double")
            / (F.col("n_docs") * F.col("bucket_top")).cast("double")
        ).alias("pad_fraction"),
    )
