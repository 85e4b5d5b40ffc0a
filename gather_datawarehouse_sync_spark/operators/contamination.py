"""Benchmark-contamination detection (LLM-pipeline extension surface).

No reference counterpart (the reference's notion of overlap is exact
md5 equality, ``src/DataWarehouse.js:558``); this is the standard
pretraining-hygiene operator: flag corpus documents whose word-n-gram
shingles are substantially contained in a benchmark/eval set, so they
can be dropped before training.

Shape and scale:

- the benchmark side is deduped to a distinct shingle set and
  **broadcast** — eval sets are tiny next to a 100 TB corpus, so the
  corpus never shuffles: one narrow explode + a broadcast hash join +
  one per-doc aggregation;
- per-doc shingles are distinct (set containment, matching the MinHash
  tier's Jaccard convention);
- containment = |doc_shingles ∩ benchmark| / |doc_shingles| as an
  exact integer ratio — both join count and set size are integers, so
  the double division is bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.functions.text import ascii_tokens
from gather_datawarehouse_sync_spark.operators.dedup import shingles_from_tokens


def ngram_containment(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document benchmark containment.

    Returns (``id_col``, ``n_shingles``, ``n_hit``, ``containment``)
    for every corpus document with at least one shingle;
    ``containment`` ∈ [0,1] is the fraction of the document's distinct
    word ``n``-grams that appear anywhere in the benchmark.
    """
    # token projections below each explode (r19): GenerateExec
    # re-evaluates the tokenizer per reference (3× per doc inlined) —
    # see functions.text.ngrams_from_tokens
    bench = (
        benchmark.select(ascii_tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    from gather_datawarehouse_sync_spark.session import spread

    # shingling is the heavy map stage; spread under-partitioned scans
    # so it parallelizes (no-op on a well-partitioned corpus)
    corp = (
        spread(corpus)
        .select(F.col(id_col), ascii_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("sh"),
        )
    )
    per_doc = (
        corp.join(F.broadcast(bench), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return per_doc.withColumn(
        "containment", F.col("n_hit") / F.col("n_shingles")
    )
