"""Model-based quality classification (fastText-style linear text
classifier) for the LLM-pipeline extension surface (SURVEY §2.14).

Modern training-data pipelines follow the heuristic-rule stage
(``quality_score`` / C4 rules) with a *model-based* filter: a cheap
linear classifier over bag-of-words features scores every document and
the pipeline keeps the top band.  This module provides that stage as a
pure-expression Spark operator with EXACT integer arithmetic so the
score is reproducible bit-for-bit across engines (the DuckDB oracle
runs the same sum).

No reference counterpart — the reference (``src/DataWarehouse.js``)
does no text scoring; this is part of the training-data extension
surface the build brief mandates.

Two physical realizations of the same score, chosen by vocabulary
size:

* :func:`classifier_score_milli` — the weight table is inlined as a
  LITERAL MAP expression; each document's tokens are looked up per
  element and summed.  Zero shuffle, zero join, one narrow pass — the
  right layout while the vocabulary fits comfortably in the plan
  (≲ 10⁴ entries; the map literal travels inside the serialized plan
  to every task).
* :func:`classifier_score_join` — tokens explode to rows and
  broadcast-hash-join the weight table, then re-aggregate per doc.
  The fastText regime (10⁵-10⁶ vocabulary entries) wants this: the
  weight table ships once per executor as a broadcast relation rather
  than once per task inside the plan, and the per-doc sum is a
  map-side-combinable aggregate.  Costs one shuffle (the groupBy on
  doc id) — at 100 TB that shuffle carries only (id, partial-sum)
  rows, not text.

Both return BIGINT milli-scores; parity is pinned in
``tests/test_classify.py``.

Weights are integer "milli" units (score = Σ weight_milli + bias) so
the aggregate is exact under any summation order — float weights would
make the score order-dependent and break cross-engine hash comparison
(same reasoning as x_quality_int's basis points, ``queries.py``).

Tokenization is pluggable: the default is the unicode-aware
:func:`...text.tokens`; oracle-compared paths pass
:func:`...text.ascii_tokens` (re-exported here), whose split regex is
byte-identical to the DuckDB oracle's — with any other tokenizer the
cross-engine sum is only guaranteed on corpora where the tokenizations
coincide.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.functions.scalar import lit_map

# ascii_tokens is re-exported: callers pass it as the classifier's
# oracle-parity tokenizer and import it from here
from gather_datawarehouse_sync_spark.functions.text import (  # noqa: F401
    ascii_tokens,
    tokens,
)

#: Demo weight table: a tiny "educational value" lexicon in milli-units.
#: A real deployment trains these (fastText / logistic regression) and
#: loads them from a table; the operator contract is identical.
DEMO_WEIGHTS_MILLI: dict[str, int] = {
    "table": 40,
    "sort": 35,
    "merge": 30,
    "window": 25,
    "hash": 20,
    "scan": 15,
    "key": 10,
    "value": 5,
    "the": -5,
    "a": -10,
    "slow": -25,
}

DEMO_BIAS_MILLI = 100


def classifier_score_milli(
    text: Column,
    weights_milli: dict[str, int] | None = None,
    bias_milli: int = DEMO_BIAS_MILLI,
    tokenizer: Callable[[Column], Column] = tokens,
) -> Column:
    """Linear classifier score (BIGINT milli-units) of ``text`` under a
    literal vocabulary→weight map: ``bias + Σ weight[token]`` with
    unknown tokens contributing 0.  NULL text scores ``bias`` (no
    tokens), matching the join realization's left-join semantics.

    The map lookup (`element_at`) is evaluated inside the tokens array
    transform — a narrow expression, no join, no shuffle.  Two caveats
    bound the vocabulary: higher-order functions evaluate interpreted
    (outside whole-stage codegen), and Catalyst's GetMapValue on a
    literal map is a LINEAR key scan, so per-token cost grows with |V|
    (measured elsewhere in this repo: ~40 s of pure key scanning at
    V=931 on a 5 k-doc corpus — see jaccard_pairs_bitset).  For a
    few dozen weights this still beats shipping every token through an
    exchange; for anything larger use :func:`classifier_score_join`.

    ``tokenizer`` defaults to the unicode-aware :func:`...text.tokens`;
    pass :func:`ascii_tokens` when the score must hash-match a DuckDB
    oracle (the registered queries do).
    """
    toks = F.coalesce(tokenizer(text), F.array().cast("array<string>"))
    return _score_tokens_milli(toks, weights_milli, bias_milli)


def _score_tokens_milli(
    toks: Column,
    weights_milli: dict[str, int] | None,
    bias_milli: int,
) -> Column:
    """Score an already-tokenized (non-null) array — shared by
    :func:`classifier_score_milli` and :func:`classify_documents`, so a
    caller that also needs ``n_tokens`` tokenizes ONCE instead of
    paying the regex split twice per document (Catalyst does not CSE
    the two independently built expression trees)."""
    w = weights_milli if weights_milli is not None else DEMO_WEIGHTS_MILLI
    wmap = lit_map(w)
    per_token = F.transform(
        toks, lambda t: F.coalesce(wmap[t], F.lit(0)).cast("long")
    )
    return F.aggregate(
        per_token,
        F.lit(bias_milli).cast("long"),
        lambda acc, x: acc + x,
    )


def classify_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights_milli: dict[str, int] | None = None,
    bias_milli: int = DEMO_BIAS_MILLI,
    keep_threshold_milli: int = 0,
    tokenizer: Callable[[Column], Column] = tokens,
) -> DataFrame:
    """Per-document classifier verdicts via the map-literal realization:
    (id, n_tokens, score_milli, keep) — the standard "score then gate"
    quality-filter stage.  One narrow projection; composes with
    ``pipelines.curate`` ahead of dedup.  NULL text behaves as an empty
    document (0 tokens, bias score)."""
    # tokenize ONCE into a materialized column; score and n_tokens both
    # derive from it (the two-call form paid the regex split twice)
    toks_df = df.select(
        F.col(id_col),
        F.coalesce(
            tokenizer(F.col(text_col)), F.array().cast("array<string>")
        ).alias("__toks"),
    )
    score = _score_tokens_milli(F.col("__toks"), weights_milli, bias_milli)
    return toks_df.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        score.alias("score_milli"),
        (score >= F.lit(keep_threshold_milli)).alias("keep"),
    )


def classifier_score_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: DataFrame | None = None,
    weights_milli: dict[str, int] | None = None,
    bias_milli: int = DEMO_BIAS_MILLI,
    tokenizer: Callable[[Column], Column] = tokens,
) -> DataFrame:
    """Broadcast-join realization of the same score for large
    vocabularies: explode tokens → broadcast-hash-join the weight
    table → per-doc sum.

    ``weights`` is a (token STRING, weight_milli BIGINT) DataFrame —
    at 100 TB this is the trained-model table read from storage and
    broadcast once per executor.  Docs with zero tokens (including
    NULL text — explode emits nothing) still get a row: the token side
    aggregates per doc and left-joins back onto the corpus ids, so
    they score ``bias``, matching the map realization's NULL handling.

    CONTRACT: ``id_col`` must uniquely identify rows — the per-doc
    groupBy folds every row sharing an id into one sum and fans it
    back to each, where the map realization scores rows independently.
    (Same uniqueness contract as every dedup canonical pick.)

    Returns (id, score_milli) — exactly :func:`classifier_score_milli`
    under the same weights and tokenizer (parity-pinned in tests)
    because the sum is integer arithmetic, associative under any
    shuffle order.
    """
    spark = df.sparkSession
    if weights is None:
        w = weights_milli if weights_milli is not None else DEMO_WEIGHTS_MILLI
        weights = spark.createDataFrame(
            [(k, v) for k, v in w.items()], "token string, weight_milli long"
        )
    tok = df.select(
        F.col(id_col), F.explode(tokenizer(F.col(text_col))).alias("token")
    )
    sums = (
        tok.join(F.broadcast(weights), "token")
        .groupBy(id_col)
        .agg(F.sum("weight_milli").alias("__wsum"))
    )
    return df.select(id_col).join(sums, id_col, "left").select(
        F.col(id_col),
        (F.coalesce(F.col("__wsum"), F.lit(0)) + F.lit(bias_milli))
        .cast("long")
        .alias("score_milli"),
    )
