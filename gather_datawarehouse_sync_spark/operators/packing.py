"""Sequence packing: concat-and-chunk token-budget layout for training.

Driver-mandated extension surface (SURVEY §2.14); the reference has no
notion of token budgets (it syncs file inventories,
``src/DataWarehouse.js:99``) — this is the training-pipeline step that
turns a curated corpus into fixed-size model batches: documents are
concatenated in a deterministic order into one token stream, and the
stream is cut into ``chunk_tokens``-sized chunks (GPT-style packing).
Per document we report where it lands: its start offset in the stream
and the first/last chunk it touches.

Scale design
------------
The naive plan is ``SUM(tokens) OVER (ORDER BY doc_id)`` — a GLOBAL
ordered window, which Spark executes in a single partition: fine at test
scale, fatal at 100 TB.  :func:`exclusive_prefix_sum` decomposes it
hierarchically instead:

1. per-group partial sums (``groupBy`` — fully parallel, map-side
   combined);
2. an ordered window over the *group* rows only (``n / group_size``
   rows — the only sequential step, 4096× smaller than the data; for
   10B+ docs recurse once more);
3. broadcast the group offsets back and run the within-group window
   (partitioned by group — fully parallel).

Net: one small sequential window instead of a full-data one; everything
row-scale is a narrow groupBy or a partitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.functions.text import ascii_tokens


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "offset",
    group_size: int = 4096,
) -> DataFrame:
    """Exclusive running sum of ``val_col`` in ``order_col`` order,
    without a global single-partition window (see module docstring).

    ``order_col`` must be numeric and unique (a doc id); groups are
    ``floor(order_col / group_size)`` so group membership is a pure
    row-local expression — no ntile/repartition bookkeeping, and the
    same formula is expressible in plain SQL for the oracle."""
    if group_size <= 0:
        raise ValueError("group_size must be positive")
    with_gid = df.withColumn("_gid", F.floor(F.col(order_col) / group_size))
    gsums = with_gid.groupBy("_gid").agg(F.sum(val_col).alias("_gsum"))
    wg = Window.orderBy("_gid").rowsBetween(Window.unboundedPreceding, -1)
    goff = gsums.select(
        "_gid", F.coalesce(F.sum("_gsum").over(wg), F.lit(0)).alias("_goff")
    )
    win = (
        Window.partitionBy("_gid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_gid.join(F.broadcast(goff), "_gid")
        .withColumn(
            out_col, F.col("_goff") + F.coalesce(F.sum(val_col).over(win), F.lit(0))
        )
        .drop("_gid", "_goff")
    )


def pack_chunks(
    df: DataFrame,
    order_col: str,
    token_col: str,
    chunk_tokens: int,
    group_size: int = 4096,
) -> DataFrame:
    """Concat-and-chunk packing: lay documents end-to-end in
    ``order_col`` order and cut the stream every ``chunk_tokens`` tokens.

    Adds ``start`` (exclusive prefix sum of ``token_col``),
    ``first_chunk``/``last_chunk`` (chunk ids the document spans) and
    ``n_chunks``; a zero-token document spans no chunk (``n_chunks`` 0,
    ``last_chunk`` = ``first_chunk`` - 1, the empty interval)."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    out = exclusive_prefix_sum(df, order_col, token_col, "start", group_size)
    first = F.floor(F.col("start") / chunk_tokens)
    n = F.when(
        F.col(token_col) > 0,
        F.floor((F.col("start") + F.col(token_col) - F.lit(1)) / chunk_tokens)
        - first
        + F.lit(1),
    ).otherwise(F.lit(0))
    return (
        out.withColumn("first_chunk", first)
        .withColumn("n_chunks", n)
        .withColumn("last_chunk", F.col("first_chunk") + F.col("n_chunks") - F.lit(1))
        .select(*out.columns, "first_chunk", "last_chunk", "n_chunks")
    )


def chunk_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 256,
    stride: int = 128,
) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window prep):
    cut each document into ``chunk_tokens``-token windows every
    ``stride`` tokens (trailing partial windows kept).

    Fully relational — tokenize once per document (a single generator;
    naively re-referencing the token array per chunk would re-run the
    tokenizer per output row, the CollapseProject trap), then each token
    computes which chunks it belongs to as a row-local interval
    (overlap factor ``chunk_tokens/stride`` rows per token) and chunks
    reassemble with one shuffle on (doc, chunk).  No driver loops, no
    UDFs, no per-doc state: scales with token count."""
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = ascii_tokens(F.col(text_col))
    tok_rows = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    lo = F.greatest(
        F.ceil((F.col("pos") - F.lit(chunk_tokens - 1)) / F.lit(stride)), F.lit(0)
    ).cast("long")
    hi = (F.col("pos") / F.lit(stride)).cast("long")
    # sequence(lo, hi) DESCENDS when lo > hi (it never yields empty), which
    # happens for tokens in the gap between windows when stride > chunk_tokens;
    # guard so those tokens belong to no chunk (explode of NULL emits no row).
    memb = tok_rows.select(
        id_col,
        "pos",
        "tok",
        F.explode(F.when(lo <= hi, F.sequence(lo, hi))).alias("chunk_seq"),
    )
    return (
        memb.groupBy(id_col, "chunk_seq")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .withColumn("start_pos", F.col("chunk_seq") * stride)
    )
