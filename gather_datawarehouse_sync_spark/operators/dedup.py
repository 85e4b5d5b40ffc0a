"""Deduplication operators.

Exact dedup matches the reference's duplicate-marking semantics
(``_markDuplicates``, ``src/DataWarehouse.js:312-348``): group rows by a
content hash, pick one canonical row per group, annotate the canonical
with the list of duplicate ids and every other row with an ``alias``
pointer to the canonical.  The reference is O(n²) (``indexOf`` per row at
``:325``) and nondeterministic (canonical = first in watcher discovery
order); the engine is one shuffle (window over the hash) and
deterministic (canonical = minimum of ``order_col`` — SURVEY §7).

The fuzzy family (MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine)
is the driver-mandated LLM-pipeline extension; none of it exists in the
reference.  All variants are pure DataFrame compositions — shuffle-based,
no driver materialization — so they scale with the cluster.
"""

from __future__ import annotations

import math
from fractions import Fraction
from functools import reduce

import numpy as np
import pandas as pd
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gather_datawarehouse_sync_spark.functions.text import (
    ascii_tokens,
    ngrams_from_tokens,
)


# ---------------------------------------------------------------------------
# Exact dedup (D1)
# ---------------------------------------------------------------------------

def mark_duplicates(
    df: DataFrame,
    hash_col: str = "md5",
    id_col: str = "ino",
    order_col: str | None = None,
    alias_col: str = "alias",
    duplicates_col: str = "duplicates",
) -> DataFrame:
    """Annotate duplicate groups (D1, ``src/DataWarehouse.js:312-348``).

    Per ``hash_col`` group: the row with the smallest ``order_col``
    (default: ``id_col``) is canonical.  The canonical row gets
    ``duplicates`` = sorted ids of the *other* rows (empty group ⇒ null,
    matching the reference where singletons are never touched,
    ``:330-339``); every other row gets ``alias`` = canonical id
    (``:338``).  Single shuffle on ``hash_col``; no O(n²) ``indexOf``.
    """
    order_col = order_col or id_col
    w = Window.partitionBy(hash_col).orderBy(order_col, id_col)
    grp = Window.partitionBy(hash_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(grp))
        .withColumn("__canon", F.first(F.col(id_col)).over(w))
        .withColumn(
            alias_col,
            F.when(F.col("__rn") > 1, F.col("__canon")),
        )
        .withColumn(
            duplicates_col,
            F.when(
                (F.col("__rn") == 1) & (F.col("__cnt") > 1),
                F.array_sort(
                    F.array_remove(
                        F.collect_list(F.col(id_col)).over(grp), F.col(id_col)
                    )
                ),
            ),
        )
        .drop("__rn", "__cnt", "__canon")
    )


def canonical_first_sort(
    df: DataFrame,
    hash_col: str = "md5",
    duplicates_col: str = "duplicates",
    order_col: str = "file",
) -> DataFrame:
    """O1 (ref ``src/DataWarehouse.js:109-120``): order by hash; within a
    hash group the canonical row (bearing ``duplicates``) sorts first.
    The reference's comparator returns 0 among aliases (insertion-order
    ties); the engine totalizes with ``order_col`` — deterministic."""
    return df.orderBy(
        F.col(hash_col),
        F.col(duplicates_col).isNull(),  # false (canonical) sorts first
        F.col(order_col),
    )


def exact_dedup(df: DataFrame, *cols: str, keep_order: str | None = None) -> DataFrame:
    """Keep one row per distinct combination of ``cols``.

    With ``keep_order`` set, keeps the row minimizing that column
    (deterministic); otherwise a hash-aggregate ``dropDuplicates`` (faster:
    partial map-side combine, no window sort).
    """
    if keep_order is None:
        return df.dropDuplicates(list(cols))
    w = Window.partitionBy(*cols).orderBy(keep_order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# spread() lives in session.py; re-exported here because the
# dedup/similarity operators historically import it from this module.
from gather_datawarehouse_sync_spark.session import spread  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Shared text shingling helpers (JVM-side expressions only — no Python UDFs)
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word ``n``-gram shingles over a token-array column
    (:func:`...functions.text.ngrams_from_tokens`, deduplicated):
    empty for documents shorter than ``n`` tokens.  Project
    ``ascii_tokens(text).alias("__toks")`` first and shingle
    ``F.col("__toks")`` — see ``ngrams_from_tokens`` for why the token
    array must be an attribute."""
    return F.array_distinct(ngrams_from_tokens(toks, n))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) — small-scale oracle for the fuzzy family
# ---------------------------------------------------------------------------

def jaccard_pairs_cached(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
    cache_path: str | None = None,
    cache_threshold: float | None = None,
) -> DataFrame:
    """:func:`jaccard_pairs` served from a persisted artifact — the
    materialized-view form for pair tables that several queries (or the
    same recurring report) keep recomputing.

    Built ONCE at ``cache_threshold`` (≤ ``threshold``; default =
    ``threshold``) and stored via ``cached_parquet`` (corpus-fingerprint
    keyed — a regenerated corpus misses and rebuilds), then tightened to
    ``threshold`` with the tier's own integer-exact compare over the
    stored ``(shared, na, nb)`` columns: pairs at a stricter threshold
    are a subset of the looser table, and ``Fraction.limit_denominator``
    reproduces exactly the rational the live tier would use, so the
    filtered table is ROW-IDENTICAL to a from-scratch run — one loose
    pair scan serves a whole threshold sweep (the x_dedup_recall
    protocol, now reusable).  ``cache_path`` must encode ngram and the
    BUILT threshold plus a version suffix (artifact_path contract).
    """
    base_t = threshold if cache_threshold is None else cache_threshold
    if cache_path is None:
        raise ValueError("jaccard_pairs_cached: cache_path is required")
    if base_t - threshold > 1e-12:
        raise ValueError(
            f"jaccard_pairs_cached: cache_threshold {base_t} is stricter "
            f"than threshold {threshold} — a strict table cannot be "
            "loosened (missing pairs were never stored); build at the "
            "loosest threshold you will serve"
        )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
    )

    stored = cached_parquet(
        df.sparkSession,
        cache_path,
        lambda: jaccard_pairs(df, id_col, text_col, base_t, ngram),
    )
    if base_t == threshold:
        return stored
    num, den = _ratio(threshold)
    return stored.filter(
        F.col("shared") * den >= (F.col("na") + F.col("nb") - F.col("shared")) * num
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
    bitset_vocab_limit: int = 1024,
) -> DataFrame:
    """EXACT token-set Jaccard-similar pairs ≥ ``threshold`` (Q42).

    Adaptive strategy, both branches exact (see :func:`_jaccard_join`
    for the gate):

    - **tiny vocabulary AND dense sets** (≤ ``bitset_vocab_limit``
      distinct shingles, average set covering ≥ ¼ of them): the corpus
      is inherently dense — every token hits a large fraction of
      documents, candidate pruning cannot work, and the true output is
      itself near-quadratic.  Use :func:`jaccard_pairs_bitset`: encode
      each token set as a fixed-width bitmask and run an all-pairs
      broadcast nested-loop join with popcount intersection — pure
      whole-stage-codegen compute, no token-explosion shuffle.
    - **everything else**: prefix filtering (PPJoin-family,
      :func:`jaccard_pairs_prefix`).

    Returns (a, b, shared, na, nb, jaccard) with a < b.
    """
    return _jaccard_join((df,), id_col, text_col, threshold, ngram, bitset_vocab_limit)


def jaccard_pairs_between(
    new: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
    bitset_vocab_limit: int = 1024,
) -> DataFrame:
    """EXACT cross-corpus token-set Jaccard pairs ≥ ``threshold``: one
    row per (new doc, reference doc) match — the exact tier of
    incremental "new crawl vs existing corpus" dedup (the sketch tier is
    :func:`minhash_dedup_against`).

    The same join and gate as :func:`jaccard_pairs`, limited to the
    NEW × REFERENCE grid — computing the within-side pairs and
    filtering them away would do ~3× the popcount work on a 60/40 split
    and shuffle rows that are discarded by construction.  Both tiers
    see the union of the two corpora: the bitmask tier indexes the
    UNION vocabulary (both sides must index tokens identically) and
    broadcasts the reference side; the prefix tier orders tokens by
    document frequency over the union, so both sides share one total
    order (any consistent order is correct; rarity maximizes pruning).

    Returns (a, b, shared, na, nb, jaccard) with a = new id, b =
    reference id (no a < b constraint — the sides orient the pair).
    """
    return _jaccard_join(
        (new, reference), id_col, text_col, threshold, ngram, bitset_vocab_limit
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (PPJoin-family) — the
    prefix tier of :func:`jaccard_pairs`, without the gate.

    Returns (a, b, shared, na, nb, jaccard) with a < b.
    """
    return _prefix_pairs(_side_tokens((df,), id_col, text_col, ngram), True, threshold)


def jaccard_pairs_bitset(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
    _vocab: list[str] | None = None,
) -> DataFrame:
    """EXACT Jaccard pairs for tiny vocabularies via bitmask
    intersection — the bitset tier of :func:`jaccard_pairs`, without
    the gate.  ``_vocab`` is the corpus vocabulary when the caller
    already holds it (otherwise one job collects it).

    Returns (a, b, shared, na, nb, jaccard) with a < b.
    """
    tok = _side_tokens((df,), id_col, text_col, ngram)
    vocab = _vocab if _vocab is not None else _vocabulary(df, text_col, ngram)
    return _bitset_pairs(tok, True, threshold, vocab)


def _ratio(threshold: float) -> tuple[int, int]:
    """``threshold`` as the integer rational ``(num, den)`` behind every
    exact-Jaccard compare, ``shared·den ≥ union·num`` — integer-exact,
    so results hash-match a SQL oracle computing the same ratio."""
    frac = Fraction(threshold).limit_denominator(10_000)
    return frac.numerator, frac.denominator


def _vocabulary(
    texts: DataFrame, text_col: str, ngram: int, limit: int | None = None
) -> list[str]:
    """Distinct shingles of ``texts``, at most ``limit`` of them — ONE
    job: partial-distinct runs map-side and the limit stops the job
    early on huge vocabularies, so the bounded probe costs about what an
    ``approx_count_distinct`` would.  The tokenizer runs in its own
    projection below the explode (``GenerateExec`` has no subexpression
    elimination)."""
    vocab = (
        texts.select(ascii_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.explode(shingles_from_tokens(F.col("__toks"), ngram)).alias("tok")
        )
        .distinct()
    )
    if limit is not None:
        vocab = vocab.limit(limit)
    return [r["tok"] for r in vocab.collect()]


def _side_tokens(
    frames: tuple[DataFrame, ...], id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(side, id, toks): the documents of both tiers, tokenized and
    tagged by join side — side 0 is the whole corpus of a self-join or
    ``new`` of a cross join, side 1 is ``reference``.  Token-less
    documents pair with nothing and are dropped here.

    The tokens are projected first and the shingle set is built inside
    a 1:1 ``explode(array(...))`` Generate (the :func:`_token_set_base`
    barrier): filters on ``toks`` — this one, and the ``size > 0``
    that every downstream ``explode("toks")`` infers — would otherwise
    be pushed below the projections with the aliases substituted,
    putting the tokenizer back inside the shingle lambda."""
    return reduce(
        DataFrame.unionByName,
        (
            spread(df)
            .select(
                F.lit(side).alias("side"),
                F.col(id_col).alias("id"),
                ascii_tokens(F.col(text_col)).alias("__toks"),
            )
            .select(
                "side",
                "id",
                F.explode(
                    F.array(shingles_from_tokens(F.col("__toks"), ngram))
                ).alias("toks"),
            )
            .filter(F.size("toks") > 0)
            for side, df in enumerate(frames)
        ),
    )


def _join_sides(frame: DataFrame, self_join: bool) -> tuple[DataFrame, DataFrame]:
    """The (a, b) inputs of a pair join: a self-join reads both from
    the same frame, a cross join splits it by side tag."""
    if self_join:
        return frame, frame
    return frame.filter(F.col("side") == 0), frame.filter(F.col("side") == 1)


def _pair_filter(self_join: bool, num: int, den: int) -> Column:
    """Exact pre-verification filter shared by both tiers: the size
    filter t·max(na, nb) ≤ min(na, nb) (⇔ num·max ≤ den·min), plus
    a < b on a self-join so each unordered pair is scored once."""
    size_ok = F.greatest("na", "nb") * num <= F.least("na", "nb") * den
    return (F.col("a") < F.col("b")) & size_ok if self_join else size_ok


def _verified(pairs: DataFrame, shared: Column, num: int, den: int) -> DataFrame:
    """Score candidate ``pairs`` by their exact intersection ``shared``
    and keep those at ``shared·den ≥ union·num``."""
    return (
        pairs.withColumn("shared", shared)
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("shared"))
        .filter(F.col("shared") * den >= F.col("union_n") * num)
        .withColumn("jaccard", F.col("shared") / F.col("union_n"))
        .select("a", "b", "shared", "na", "nb", "jaccard")
    )


def _jaccard_join(
    frames: tuple[DataFrame, ...],
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int,
    bitset_vocab_limit: int,
) -> DataFrame:
    """The exact-Jaccard pair join behind :func:`jaccard_pairs` (one
    frame: a self-join) and :func:`jaccard_pairs_between` (``new``,
    ``reference``): gate, then one of two exact tiers.

    Vocabulary size alone is NOT the right gate: 2-gram shingles over a
    31-word vocab give V = 931 (under any sane limit) but sets of ~50 —
    5 % density — where all-pairs wastes its n²/2 popcounts on pairs a
    selective prefix join never generates (measured at sf0.1, 5 000
    docs, t=0.9: bitset 43 s vs prefix 13 s).  At 80 % density the same
    corpus at 1-grams measures the other way (bitset ~1.5 s vs prefix
    ~17 s at t=0.8) — the ¼ cutoff splits the measured endpoints.

    The vocabulary probe is ONE bounded job over the union of the
    frames' text (:func:`_vocabulary`).  The density probe is a second
    bounded job over a 10 k-doc limit sample (a heuristic plan choice,
    not a correctness input — both branches are exact), and it only
    runs when the mask would span MULTIPLE words: at V ≤ 64 the NLJ
    costs one AND+popcount per pair and bitset wins at any density, so
    the common tiny-vocab regime pays zero extra jobs.  When the gate
    passes, the probe's rows ARE the vocabulary the bitset tier
    indexes, so it needs no collect of its own.
    """
    texts = reduce(DataFrame.unionByName, (f.select(F.col(text_col)) for f in frames))
    vocab = _vocabulary(texts, text_col, ngram, bitset_vocab_limit + 1)
    tok = _side_tokens(frames, id_col, text_col, ngram)
    self_join = len(frames) == 1
    if 0 < len(vocab) <= bitset_vocab_limit:
        dense = len(vocab) <= 64
        if not dense:
            # filter on the token count (same rows as n > 0): a filter
            # on n would be pushed down with the tokenizer substituted
            # into the shingle lambda
            avg_set = (
                texts.select(ascii_tokens(F.col(text_col)).alias("__toks"))
                .filter(F.size("__toks") >= max(ngram, 1))
                .select(
                    F.size(shingles_from_tokens(F.col("__toks"), ngram)).alias("n")
                )
                .limit(10_000)
                .agg(F.avg("n"))
                .collect()[0][0]
            )
            dense = avg_set is not None and avg_set * 4 >= len(vocab)
        if dense:
            return _bitset_pairs(tok, self_join, threshold, vocab)
    return _prefix_pairs(tok, self_join, threshold)


def _prefix_pairs(tok: DataFrame, self_join: bool, threshold: float) -> DataFrame:
    """Prefix-filter tier (PPJoin-family) over :func:`_side_tokens`.

    1. order every document's token set by ascending document frequency
       over all sides (rare tokens first — any consistent total order is
       correct; rarity maximizes pruning);
    2. two documents can only reach Jaccard ≥ t if their *prefixes* of
       length ``n - ceil(t·n) + 1`` share a token, so the pair join runs
       on exploded prefixes only — the O(df²) blowup on stop-words never
       happens because frequent tokens land at the ends of the ordering;
    3. candidates additionally pass the size and positional filters;
    4. exact verification via ``array_intersect`` on the full (distinct)
       token arrays — per-pair linear, no extra shuffle.
    """
    num, den = _ratio(threshold)
    ex = tok.select("side", "id", F.explode("toks").alias("tok"))
    docfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(docfreq, "tok")
        .groupBy("side", "id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("df"), F.col("tok")))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
        # feeds THREE consumers (prefixes + both verification sides):
        # without a checkpoint the shingle+docfreq+sort subtree runs
        # once per consumer (measured at sf0.1 2-grams: 16 s → 13 s —
        # modest here because the corpus is small; the subtree scales
        # with the corpus, the saving with it)
        .localCheckpoint(eager=False)
    )
    # prefix length p = n - ceil(t*n) + 1, computed in integer arithmetic
    p = F.expr(f"n - ((n * {num} + {den} - 1) DIV {den}) + 1")
    prefixes = ordered.select(
        "side", "id", "n", F.posexplode(F.slice("toks", 1, p)).alias("pos", "tok")
    )
    pa, pb = _join_sides(prefixes, self_join)
    a = pa.select(
        F.col("id").alias("a"), F.col("n").alias("na"), F.col("pos").alias("pa"), "tok"
    )
    b = pb.select(
        F.col("id").alias("b"), F.col("n").alias("nb"), F.col("pos").alias("pb"), "tok"
    )
    # candidate pairs carry only (id, id, n, n): on clique-heavy corpora a
    # pair surfaces once per shared prefix token, and deduping narrow rows
    # is far cheaper than shuffling full token arrays per duplicate.
    # PPJoin positional filter (exact): a (pair, token) row where the
    # shared token sits at 0-based positions (pa, pb) can reach overlap at
    # most min(na-pa, nb-pb); the threshold needs shared ≥
    # num·(na+nb)/(num+den), so rows below that bound are dropped BEFORE
    # the dedup shuffle — on clique-heavy corpora this halves the raw
    # candidate volume without losing any pair (a qualifying pair always
    # survives via its earliest shared prefix token).
    cand = (
        a.join(b, "tok")
        .filter(
            _pair_filter(self_join, num, den)
            # positional filter: ubound·(num+den) ≥ num·(na+nb)
            & (
                F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                * (num + den)
                >= (F.col("na") + F.col("nb")) * num
            )
        )
        .select("a", "b", "na", "nb")
        .dropDuplicates(["a", "b"])
    )
    # re-attach token arrays for verification; the docs side is one row
    # per document (no explosion), so AQE broadcasts it when small
    oa, ob = _join_sides(ordered, self_join)
    ta = oa.select(F.col("id").alias("a"), F.col("toks").alias("ta"))
    tb = ob.select(F.col("id").alias("b"), F.col("toks").alias("tb"))
    return _verified(
        cand.join(ta, "a").join(tb, "b"),
        F.size(F.array_intersect("ta", "tb")),
        num,
        den,
    )


def _bitset_pairs(
    tok: DataFrame, self_join: bool, threshold: float, vocab: list[str]
) -> DataFrame:
    """Bitmask tier over :func:`_side_tokens`, for tiny vocabularies.

    Token sets over a vocabulary of V distinct shingles (``vocab``, the
    union over all sides, so both sides index tokens identically) are
    encoded as ``ceil(V/64)`` 64-bit words; the pair join is a broadcast
    nested-loop all-pairs join whose per-pair cost is a handful of
    AND+popcount ops inside whole-stage codegen.  When V is tiny the
    true result is near-quadratic anyway, so all-pairs *is* the output
    complexity — the win over the token-explosion plan is removing the
    O(Σ df²) shuffle entirely.
    """
    num, den = _ratio(threshold)
    tok2idx = {t: i for i, t in enumerate(sorted(vocab))}
    width = max(1, (len(tok2idx) + 63) // 64)
    if width == 1:
        # single-word vocab (V ≤ 64): the mask is a FLAT PROJECTION —
        # one codegen'd array_contains per vocab word OR-summed into
        # the word (bits disjoint, so + is |) — straight off the token
        # arrays.  No explode, no token→index lookup, no groupBy: the
        # former explode → literal-map index → collect_set aggregate
        # shuffled every token just to rebuild per-doc sets the array
        # already was (r18; the mask checkpoint job becomes a narrow
        # scan).  n = size(toks): shingles_from_tokens is distinct and
        # the vocabulary covers it by construction.  Per-doc cost is
        # V·|toks| codegen string compares — bounded by 64·|toks|.
        masks = tok.select(
            "side",
            "id",
            F.array(
                sum(
                    (
                        F.when(
                            F.array_contains(F.col("toks"), w),
                            F.lit(1 << i).cast("long"),
                        ).otherwise(F.lit(0).cast("long"))
                        for w, i in sorted(tok2idx.items())
                    ),
                    start=F.lit(0).cast("long"),
                )
            ).alias("mask"),
            F.size("toks").alias("n"),
        )
    else:
        # multi-word vocab: broadcast hash join against the collected
        # index — O(1) per token, one tiny broadcast, no shuffle
        vocab_df = tok.sparkSession.createDataFrame(
            list(tok2idx.items()), "tok string, idx int"
        )
        idxed = (
            tok.select("side", "id", F.explode("toks").alias("tok"))
            .join(F.broadcast(vocab_df), "tok")
            .groupBy("side", "id")
            .agg(F.collect_set("idx").alias("idxs"))
        )
        # SQL expr because pyspark's shiftleft() wrapper rejects Column
        # numBits
        mask = F.expr(
            f"transform(sequence(0, {width - 1}), w -> "
            "aggregate(filter(idxs, i -> i div 64 = w), 0L, "
            "(acc, i) -> acc | shiftleft(1L, int(i % 64))))"
        )
        masks = idxed.select(
            "side", "id", mask.alias("mask"), F.size("idxs").alias("n")
        )
    # materialize the narrow mask table once: it feeds BOTH sides of the
    # all-pairs join below, and a checkpointed RDD makes the spread()
    # partition probe free
    ma, mb = _join_sides(masks.localCheckpoint(eager=True), self_join)
    # AQE coalesces the small post-shuffle doc table to one partition,
    # which would serialize the O(n²) popcount loop onto a single core —
    # spread the probe side so the broadcast NLJ fans out
    a = spread(ma).select(
        F.col("id").alias("a"), F.col("mask").alias("ma"), F.col("n").alias("na")
    )
    b = mb.select(
        F.col("id").alias("b"), F.col("mask").alias("mb"), F.col("n").alias("nb")
    )
    # popcount as an UNROLLED sum over the mask words — ``width`` is known
    # at plan time, so this stays a flat whole-stage-codegen expression.
    # The zip_with/aggregate formulation computes the same thing but
    # higher-order functions never enter codegen: they evaluate
    # interpreted per pair, which at n² pairs is the whole runtime
    # (measured at sf0.1, 3 935 docs / width 1: NLJ 1.9 s → 0.6 s)
    shared = sum(
        (
            F.bit_count(
                F.col("ma").getItem(w).bitwiseAND(F.col("mb").getItem(w))
            )
            for w in range(1, width)
        ),
        start=F.bit_count(F.col("ma").getItem(0).bitwiseAND(F.col("mb").getItem(0))),
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(_pair_filter(self_join, num, den))
    return _verified(pairs, shared, num, den)


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB fuzzy-dedup path)
# ---------------------------------------------------------------------------

#: Prime for the universal hash family h(x) = (a*x + b) mod p.  2^31-1
#: keeps a·x + b < 2^62 — inside signed-64 range, so ANSI-mode Spark
#: (overflow-checking since 4.0) never trips on the multiply.
_MERSENNE_PRIME = (1 << 31) - 1


def minhash_min_agree(threshold: float, num_hashes: int = 64) -> int:
    """Smallest agreement count the banded path's float ``est >=
    threshold`` compare accepts — probed with the SAME IEEE division
    (``a/num_hashes``), so an epsilon'd ceil can never land one lane
    off.  ONE source of truth shared by minhash_dedup_against's kernel
    gate and the portable-mode DuckDB oracle generators."""
    return next(
        (a for a in range(num_hashes + 1) if a / num_hashes >= threshold),
        num_hashes + 1,
    )


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The seed-determined affine permutation coefficients (aᵢ, bᵢ) of
    the MinHash family — ONE source of truth shared by the signature
    kernel and the portable-mode DuckDB oracle generator
    (queries._minhash_lanes_sql), so the inlined SQL literals can never
    drift from what the Spark side computes."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_PRIME), rng.randrange(0, _MERSENNE_PRIME))
        for _ in range(num_hashes)
    ]

#: Working-grid cell budget for the broadcast agreement kernel in
#: :func:`minhash_dedup_against` — B×K int16 cells per chunk (≈128 MB at
#: the default).  Module-level so tests can shrink it to exercise the
#: chunked path on small corpora.
_KERNEL_GRID_CELLS = 64 * 1024 * 1024


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    ngram: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """Per-document MinHash signature (array<bigint> of length
    ``num_hashes``) over word ``ngram`` shingles.

    Shingling and base hashing (xxhash64 mod p) stay JVM-side inside
    codegen; the ``num_hashes``-lane affine-min crosses to Python once as
    an Arrow batch and is computed as a single flattened numpy
    segment-reduce (see ``_minhash`` below).  The pure-JVM per-lane
    formulation — 64 separate ``array_min(transform(...))`` expressions —
    is catastrophically slower: Catalyst's CollapseProject inlines the
    shared shingle/hash subexpression into every lane, re-tokenizing and
    re-hashing the document 64 times (measured 62 s for 5k docs at sf0.1).

    ``hash_mode`` picks the BASE gram hash: ``"xxhash"`` (default — the
    fast JVM path for production corpora) or ``"portable"`` — 60 bits of
    ``md5(gram)`` mod p, re-derivable in DuckDB/Python
    (``CAST(('0x' || substr(md5(g),1,15)) AS BIGINT) % p`` — the same
    contract as ``sampling._portable_bucket``), which is what lets the
    registry's minhash queries carry FULL value oracles: the affine
    coefficients are seed-determined Python literals an oracle can
    inline, so with a portable base hash the entire signature is
    engine-reproducible integer arithmetic.  Signatures from the two
    modes are mutually incompatible — persisted sketch artifacts must
    key the mode.
    """
    if hash_mode not in ("xxhash", "portable"):
        raise ValueError(f"minhash_signatures: unknown hash_mode {hash_mode!r}")
    coeffs = minhash_coeffs(num_hashes, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.uint64)
    B = np.array([b for _, b in coeffs], dtype=np.uint64)

    # shingling + hashing stay JVM-side (string work in codegen); only the
    # (num_hashes × n_shingles) modular arithmetic crosses into Python,
    # where numpy vectorizes it.  a,x < 2^31 keeps a·x+b exactly
    # representable in uint64 — no overflow, no float rounding.  The whole
    # Arrow batch is flattened into ONE (num_hashes × Σ n_shingles) matrix
    # and segment-reduced with ``np.minimum.reduceat`` — a per-row numpy
    # loop spends ~2.5 ms/row on small-array dispatch overhead (measured
    # 12.5 s for 5k docs at sf0.1; this formulation: <1 s).
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _minhash(base: pd.Series) -> pd.Series:
        n_rows = len(base)
        sizes = np.fromiter(
            (0 if a is None else len(a) for a in base),
            dtype=np.int64,
            count=n_rows,
        )
        out = np.empty(n_rows, dtype=object)
        valid = np.flatnonzero(sizes > 0)
        if len(valid) == 0:
            return pd.Series(out)
        # bound the (num_hashes × Σ shingles) intermediate: one
        # unbounded flatten would allocate lanes × batch-total-shingles
        # uint64 cells — gigabytes per core on shingle-heavy batches.
        # Slice the valid rows so each slice's flattened matrix stays
        # ≤ ~64M cells (512 MB); each slice is the SAME flatten +
        # reduceat, so the signature is bit-identical at any slice size.
        max_cells = 1 << 26
        max_shingles = max(1, max_cells // max(1, len(A)))
        start = 0
        while start < len(valid):
            stop = start
            tot = 0
            while stop < len(valid) and (
                tot + sizes[valid[stop]] <= max_shingles or stop == start
            ):
                tot += sizes[valid[stop]]
                stop += 1
            vs = valid[start:stop]
            flat = np.concatenate(
                [np.asarray(base.iat[i], dtype=np.uint64) for i in vs]
            )
            offsets = np.zeros(len(vs), dtype=np.int64)
            np.cumsum(sizes[vs][:-1], out=offsets[1:])
            hashed = (A[:, None] * flat[None, :] + B[:, None]) % np.uint64(
                _MERSENNE_PRIME
            )
            mins = np.minimum.reduceat(hashed, offsets, axis=1).T.astype(
                np.int64
            )
            for j, i in enumerate(vs):
                out[i] = mins[j]
            start = stop
        return pd.Series(out)

    # the UDF IS deterministic, but Catalyst must not know that: a
    # downstream filter on the signature column otherwise gets pushed
    # below the spread-Exchange with a DUPLICATED ArrowEvalPython — the
    # whole minhash then runs twice, once single-partition (measured 1 s →
    # 8 s warm).  asNondeterministic() pins one evaluation above the
    # exchange.
    _minhash = _minhash.asNondeterministic()

    sh = shingles_from_tokens(F.col("__toks"), ngram)
    if hash_mode == "portable":
        base = F.transform(
            sh,
            lambda s: F.pmod(
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
                F.lit(_MERSENNE_PRIME),
            ),
        )
    else:
        base = F.transform(
            sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_PRIME))
        )
    # tokenize in its own projection: shingling over the token COLUMN
    # keeps the regex split out of the slice lambda (one split per
    # document instead of one per gram — see shingles_from_tokens)
    return (
        spread(df)
        .select(
            F.col(id_col).alias("id"), ascii_tokens(F.col(text_col)).alias("__toks")
        )
        .select("id", _minhash(base).alias("signature"))
    )


def _band_buckets(bands: int, rows_per_band: int) -> Column:
    """``posexplode`` of the ``signature`` column's LSH band buckets —
    (band, bucket) rows, one per band.

    bucket = xxhash64 over the band's lane VALUES directly (variadic
    long hashing, r18): the former form rendered every lane to a
    string and concatenated before hashing — 64 long→string casts and
    a string build per signature, pure runtime overhead.  Equal bands
    hash equal either way; unequal-band collisions stay in the same
    documented 2⁻⁶⁴ budget the banding tier always had (the DuckDB
    oracles band by exact lane equality, unchanged)."""
    return F.posexplode(
        F.array(
            *[
                F.xxhash64(
                    *[
                        F.element_at(F.col("signature"), i * rows_per_band + j + 1)
                        for j in range(rows_per_band)
                    ]
                )
                for i in range(bands)
            ]
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Split each signature into ``bands`` bands of ``num_hashes/bands``
    rows; hash each band; documents sharing any band bucket are
    candidates.  The band-bucket groupBy is the only shuffle and its
    fan-out is bounded by bucket sizes — the standard web-scale dedup
    layout (one shuffle + per-bucket pair expansion), not an all-pairs
    join.  Returns distinct candidate pairs (a < b) with their estimated
    Jaccard (signature agreement rate).
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # materialize the signatures once: the plan below fans out into four
    # branches (two join sides of the banding self-join + two signature
    # re-attachments) and each would otherwise re-run the scan + shingle +
    # minhash pipeline.  On a cluster this is "persist the sketch table
    # before the LSH join" — standard web-dedup practice.
    sig = (
        minhash_signatures(
            df, id_col, text_col, num_hashes, ngram, seed, hash_mode
        )
        .filter(F.col("signature").isNotNull())
        .localCheckpoint(eager=True)
    )
    banded = sig.select(
        "id", _band_buckets(bands, rows_per_band).alias("band", "bucket")
    )
    # candidate pairs stay NARROW (id, id): on clique-heavy corpora the
    # same pair collides in many bands and every band bucket of size k
    # emits k²/2 raw pairs — shuffling 64-element signatures per raw pair
    # is what turns minutes into hours.  Dedup ids first, re-attach
    # signatures afterwards (doc-side is one row per doc; AQE broadcasts)
    a = banded.select(F.col("id").alias("a"), "band", "bucket")
    b = banded.select(F.col("id").alias("b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sig_a = sig.select(F.col("id").alias("a"), F.col("signature").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("b"), F.col("signature").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        cand.join(sig_a, "a")
        .join(sig_b, "b")
        .select("a", "b", (agree / F.size(F.col("sig_a"))).alias("est_jaccard"))
    )


def minhash_dedup_against(
    new: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    broadcast_new_max: int = 100_000,
    reference_signatures: DataFrame | None = None,
    validate_signatures: bool = True,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """INCREMENTAL fuzzy dedup: flag rows of ``new`` that near-duplicate
    any ``reference`` document — the "new crawl vs existing corpus"
    operation, distinct from :func:`minhash_dedup`'s within-corpus
    self-join.

    Banding join is NEW × REFERENCE only (no self-pairs, no N² within
    either side); at 100 TB the reference side's signatures/bands are a
    persisted table computed once per corpus version, so each crawl
    increment costs one signature pass over the increment plus a
    band-bucket equi-join against the persisted sketch.  That persisted
    path is the ``reference_signatures`` parameter: pass a
    (``id_col``, signature) table produced by
    :func:`minhash_signatures` **with the same num_hashes/ngram/seed**
    and the reference text is never read — only the increment is
    sketched.  :func:`minhash_signatures` names its id column ``id``;
    that name is accepted as-is when ``id_col`` is absent from the
    table, so its output needs no rename.  A sketch built with a
    different ``num_hashes`` is rejected at entry (signature length is
    probed on one row) — a silent mismatch would either null-pad the
    agreement count on the banding path or crash inside the broadcast
    kernel.  Identical verdicts to the recompute path by
    construction (signatures are deterministic; parity-pinned in
    tests).  Exactly one of ``reference`` / ``reference_signatures``
    may be omitted.

    Returns (``id_col``, ``ref_match``, ``est_jaccard``): one row per
    NEW doc with at least one match ≥ ``threshold``; best match wins
    (max agreement, ties to min reference id).

    The join runs over DISTINCT signatures, not documents: a doc's match
    depends only on its signature, so identical-signature groups are
    collapsed to one representative before matching and the verdict fans
    back to members afterwards.  On corpora with heavy exact/near-exact
    repetition this is the difference between the join scaling with
    |distinct sketches|² locally and |docs|² — at 100 TB the persisted
    reference sketch table is stored signature-deduped for the same
    reason.  Group keys are ``xxhash64(signature)`` — a 64-bit
    fingerprint over ≪ 2³² distinct sketches, the standard collision
    budget sketch pipelines accept.

    TWO physical strategies, chosen adaptively (both produce the same
    rows):

    * **broadcast kernel** — when the NEW side has at most
      ``broadcast_new_max`` distinct signatures AND
      ``num_hashes - ceil(threshold·num_hashes) < bands``, collect the
      new reps into a numpy matrix (bounded:
      ``broadcast_new_max × num_hashes × 8 B``, the same driver budget
      as IVF's centroid collect) and stream the reference reps through a
      vectorized ``mapInPandas`` agreement kernel.  The threshold
      condition is what makes this EXACT w.r.t. the banded plan: a pair
      at agreement ≥ ``ceil(threshold·num_hashes)`` lanes has at most
      ``num_hashes − that`` mismatched lanes, each of which can break at
      most one band, so at least one band survives intact and the pair
      is guaranteed to be a banding candidate — the two strategies
      return identical sets.  (At threshold ≤ 1 − bands/num_hashes the
      kernel would *find more* pairs than banding, so it is gated off.)
    * **banding join** — the general scale path: band-bucket equi-join
      of new reps × reference reps, candidate-pair dedup, then score.

    The kernel exists because the banded plan's constants are wrong for
    a small-increment crawl on a self-similar corpus: at sf0.1 (5k docs,
    1k new, word unigrams) banding emits 5.7 M bucket collisions → 1.6 M
    candidate pairs — 67 % of ALL rep pairs — and scoring them with
    array ``zip_with`` (higher-order functions do not enter whole-stage
    codegen; they evaluate interpreted per row) costs 10-15 s.  The
    kernel scores the full 0.8 K × 3 K rep grid as 64 vectorized numpy
    lane-compares instead — whole query 10.4 s → 1.9 s (BENCH_DETAIL,
    round 5) — emitting only above-threshold pairs.  At a real 100 TB
    increment the gate fails and the banded join — whose candidate set
    is then a vanishing fraction of the grid — takes over.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # smallest agreement count the banded path's `est >= threshold`
    # double-compare accepts: a/num_hashes is the same IEEE-754 division
    # there and here, so probing it directly is exact by construction —
    # a ceil(threshold*num_hashes) with an epsilon can land one lane off
    # in either direction and break the two strategies' identical-rows
    # contract
    min_agree = minhash_min_agree(threshold, num_hashes)

    def _side(df: DataFrame, side: str) -> DataFrame:
        # tag the id with its side so ONE signature pass can cover both
        # inputs (ids may overlap between new and reference)
        return df.select(
            F.struct(F.lit(side).alias("side"), F.col(id_col).alias("orig")).alias(
                "__tid"
            ),
            F.col(text_col).alias("__ttext"),
        )

    def _banded(reps: DataFrame, alias: str) -> DataFrame:
        return reps.select(
            F.col("skey").alias(alias),
            _band_buckets(bands, rows_per_band).alias("band", "bucket"),
        )

    if reference is None and reference_signatures is None:
        raise ValueError(
            "minhash_dedup_against: pass reference or reference_signatures"
        )
    if reference is not None and reference_signatures is not None:
        # a stale sketch silently shadowing a fresh reference table is
        # the exact trap duplicate_spans_against rejects — fail loudly
        # here too instead of quietly preferring one side
        raise ValueError(
            "minhash_dedup_against: pass reference OR reference_signatures, "
            "not both (ambiguous which corpus version wins)"
        )
    if reference_signatures is None:
        # ONE signature pass over new ∪ reference: the Arrow UDF pipeline
        # (worker spin-up, batch transfer, checkpoint materialization) is
        # a fixed cost, and two separate passes pay it twice.  Every
        # consumer below (rep collapse on both sides, member fan-out)
        # re-reads the single checkpoint with a cheap filter+aggregate,
        # never the UDF.
        sig_all = (
            minhash_signatures(
                _side(new, "n").unionByName(_side(reference, "r")),
                "__tid",
                "__ttext",
                num_hashes,
                ngram,
                hash_mode=hash_mode,
            )
            .filter(F.col("signature").isNotNull())
            .withColumn("skey", F.xxhash64("signature"))
            .localCheckpoint(eager=True)
        )
        sig_n = sig_all.filter(F.col("id.side") == "n").select(
            F.col("id.orig").alias("id"), "signature", "skey"
        )
        # per ref signature group only the min id can ever be the answer
        # (equal signatures ⇒ equal agreement), so fold the tie-break
        # into the collapse
        reps_r = (
            sig_all.filter(F.col("id.side") == "r")
            .groupBy("skey")
            .agg(
                F.first("signature").alias("signature"),
                F.min(F.col("id.orig")).alias("rid"),
            )
        )
        rid_dtype = reference.schema[id_col].dataType
    else:
        # persisted-sketch path: only the increment is sketched; the
        # reference side is the stored signature table (its text is
        # never read).  sig_n feeds reps_n AND the member fan-out, so
        # it gets the checkpoint the union otherwise carries.
        if id_col not in reference_signatures.columns:
            # minhash_signatures names its id column "id" — accept it
            # directly instead of forcing callers to rename
            if "id" not in reference_signatures.columns:
                raise ValueError(
                    "minhash_dedup_against: reference_signatures has "
                    f"neither {id_col!r} nor 'id' column"
                )
            reference_signatures = reference_signatures.withColumnRenamed(
                "id", id_col
            )
        # probe ONE row's signature length: a sketch built with a
        # different num_hashes must fail loudly here, not null-pad the
        # zip_with agreement count or IndexError in the kernel.
        # validate_signatures=False skips the (driver-blocking) probe
        # job for callers that validated once already — e.g. the
        # streaming path, which would otherwise pay it per micro-batch
        # for a property that cannot change between batches.
        if validate_signatures:
            probe = (
                reference_signatures.filter(F.col("signature").isNotNull())
                .select(F.size("signature").alias("n"))
                .limit(1)
                .collect()
            )
            if probe and probe[0]["n"] != num_hashes:
                raise ValueError(
                    "minhash_dedup_against: reference_signatures was built "
                    f"with num_hashes={probe[0]['n']}, expected {num_hashes}"
                )
        sig_n = (
            minhash_signatures(
                new, id_col, text_col, num_hashes, ngram, hash_mode=hash_mode
            )
            .filter(F.col("signature").isNotNull())
            .withColumn("skey", F.xxhash64("signature"))
            .localCheckpoint(eager=True)
        )
        reps_r = (
            reference_signatures.select(
                F.col(id_col).alias("__rid"), F.col("signature")
            )
            .filter(F.col("signature").isNotNull())
            .withColumn("skey", F.xxhash64("signature"))
            .groupBy("skey")
            .agg(
                F.first("signature").alias("signature"),
                F.min("__rid").alias("rid"),
            )
        )
        rid_dtype = reference_signatures.schema[id_col].dataType
    reps_n = sig_n.groupBy("skey").agg(F.first("signature").alias("signature"))

    kernel_used = False
    if num_hashes - min_agree < bands:
        # kernel is exact w.r.t. banding (docstring) — try it.  limit()
        # bounds the collect: if the new side has more reps than the
        # broadcast budget we learn that from ONE over-fetched row and
        # fall back, never materializing the full rep set on the driver.
        rep_rows = reps_n.limit(broadcast_new_max + 1).collect()
        if len(rep_rows) <= broadcast_new_max and rep_rows:
            nkeys = np.array([r["skey"] for r in rep_rows], dtype=np.int64)
            nsigs = np.array(
                [r["signature"] for r in rep_rows], dtype=np.int64
            )
            bc = new.sparkSession.sparkContext.broadcast((nkeys, nsigs))
            rid_type = rid_dtype
            out_schema = T.StructType(
                [
                    T.StructField("nkey", T.LongType()),
                    T.StructField("rid", rid_type),
                    T.StructField("est_jaccard", T.DoubleType()),
                ]
            )

            # bound the working grid: B (Arrow batch rows) × K (new reps)
            # int16 cells.  At the broadcast gate's ceiling (100k reps ×
            # 10k-row batches) an unchunked grid is 2 GB per task — chunk
            # K so the grid stays ≤ ~64 M cells (128 MB) regardless of
            # parameters
            grid_cells = _KERNEL_GRID_CELLS

            def _score(batches):
                nk, ns = bc.value
                lanes = ns.shape[1]
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    rs = np.array(
                        [np.asarray(s) for s in pdf["signature"]],
                        dtype=np.int64,
                    )
                    rid = pdf["rid"].to_numpy()
                    k_step = max(1, grid_cells // max(len(rs), 1))
                    for k0 in range(0, len(nk), k_step):
                        nchunk = ns[k0 : k0 + k_step]
                        # lane-by-lane accumulate: never materializes the
                        # (B × K × lanes) boolean cube, only the (B × K)
                        # int16 agreement grid
                        agree = np.zeros((len(rs), len(nchunk)), dtype=np.int16)
                        for lane in range(lanes):
                            agree += rs[:, lane : lane + 1] == nchunk[None, :, lane]
                        ri, ni = np.nonzero(agree >= min_agree)
                        if len(ri) == 0:
                            continue
                        yield pd.DataFrame(
                            {
                                "nkey": nk[k0 + ni],
                                "rid": rid[ri],
                                "est_jaccard": agree[ri, ni] / float(lanes),
                            }
                        )

            scored = reps_r.mapInPandas(_score, out_schema)
            kernel_used = True
        elif not rep_rows:
            # empty new side ⇒ empty result, skip all remaining jobs
            return sig_n.select(
                F.col("id").alias(id_col),
                F.lit(None).cast(rid_dtype).alias(
                    "ref_match"
                ),
                F.lit(None).cast("double").alias("est_jaccard"),
            ).limit(0)
        else:
            scored = None
    else:
        scored = None

    if scored is None:
        # general scale path: band-bucket equi-join over the collapsed
        # reps.  Dedup collisions to distinct candidate pairs BEFORE
        # attaching signatures: a pair collides in up to ``bands`` bands,
        # and scoring each collision (two array attaches + an interpreted
        # ``zip_with`` lane compare) costs more than the one narrow
        # (nkey, rkey) dedup shuffle.
        agree = F.size(
            F.filter(
                F.zip_with(F.col("sig_n"), F.col("sig_r"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        cand = (
            _banded(reps_n, "nkey")
            .join(_banded(reps_r, "rkey"), ["band", "bucket"])
            .select("nkey", "rkey")
            .dropDuplicates(["nkey", "rkey"])
        )
        scored = (
            cand.join(
                reps_n.select(
                    F.col("skey").alias("nkey"), F.col("signature").alias("sig_n")
                ),
                "nkey",
            )
            .join(
                reps_r.select(
                    F.col("skey").alias("rkey"),
                    F.col("signature").alias("sig_r"),
                    "rid",
                ),
                "rkey",
            )
            .select(
                "nkey", "rid", (agree / F.size(F.col("sig_n"))).alias("est_jaccard")
            )
            .filter(F.col("est_jaccard") >= threshold)
        )

    # best match as ONE hash aggregate (map-side partials) instead of a
    # row_number window: min over (-est, rid) = max agreement, ties to
    # min reference id.  Only the double est is negated, so reference
    # ids keep working for ANY orderable type (string URLs/hashes
    # included)
    verdicts = scored.groupBy("nkey").agg(
        F.min_by(
            F.struct(F.col("rid"), F.col("est_jaccard")),
            F.struct((-F.col("est_jaccard")).alias("ne"), F.col("rid")),
        ).alias("b")
    ).select(
        "nkey",
        F.col("b.rid").alias("ref_match"),
        F.col("b.est_jaccard").alias("est_jaccard"),
    )
    # under the kernel gate verdicts is bounded by ``broadcast_new_max``
    # rows, so the member fan-out can be pinned shuffle-free; on the
    # general path its size is data-dependent and AQE decides
    if kernel_used:
        verdicts = F.broadcast(verdicts)
    return sig_n.join(
        verdicts, sig_n["skey"] == verdicts["nkey"]
    ).select(F.col("id").alias(id_col), "ref_match", "est_jaccard")


def _union_find_local(g: DataFrame, id_type: "T.DataType", spark) -> DataFrame:
    """Bounded driver-side closure over a collected edge list — the
    LOCAL FINISH of :func:`connected_components`.  Returns the same
    ``(id, h)`` mapping shape as one distributed contraction round,
    covering every edge-touched node, with ``h`` = the component's
    minimum id.

    The edge list crosses as ONE Arrow table (no Row materialization)
    and components resolve by numpy min-label propagation with pointer
    jumping — labels are indices into the SORTED unique-node array, so
    the per-component minimum index IS the minimum id.  Any orderable
    id type works: ``np.unique`` sorts string ids (an object array) by
    Python ``<``, i.e. by code point, which matches Spark's UTF-8 byte
    order because UTF-8 preserves code point order."""
    tbl = g.toArrow()
    a = tbl.column("a").to_numpy(zero_copy_only=False)
    b = tbl.column("b").to_numpy(zero_copy_only=False)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a):]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        m = np.minimum(label[ea], label[eb])
        before = label.copy()
        np.minimum.at(label, ea, m)
        np.minimum.at(label, eb, m)
        while True:  # pointer jumping: full path compression
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            break
    # Arrow path back too (r19): a Python list of tuples through the
    # pickle serializer cost ~0.4 s per call at a few thousand nodes
    # (row-by-row conversion + schema verification); a pandas frame
    # under the session's Arrow flag crosses as one batch
    mapping_pdf = pd.DataFrame({"id": nodes, "h": nodes[label]})
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("h", id_type)]
    )
    return spark.createDataFrame(mapping_pdf, schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    local_edges_max: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list (columns
    ``a``, ``b``) via **min-contraction**: each round every node picks
    ``h(v) = min({v} ∪ N(v))``, the graph is contracted along ``h``
    (edges rewritten to ``(h(a), h(b))``, self-loops dropped, multi-edges
    deduped), and the node→component mapping composes one level.

    Contraction is the property that matters on near-dup corpora: a
    near-clique of k nodes with k²/2 edges collapses to a handful of
    star edges after ONE round, so round 2+ touches thousands of rows
    where plain min-label propagation would re-shuffle all k²/2 edges
    every round (measured on the sf0.1 documents corpus: 3.0 M pairs /
    3 879 nodes — propagation 8.5 s, contraction ≈ the cost of round 1
    alone).  Rounds are O(log diameter) (each round at least halves
    path distances) with geometrically shrinking edge sets.

    Iterative self-joins grow lineage, so every round is
    ``localCheckpoint``-ed (SURVEY §7 watch list); the mapping table is
    tiny next to the edge set and AQE broadcasts it into the contraction
    joins.  Termination = the contracted graph has no edges, which is
    also the correctness certificate: the quotient graph of a connected
    component stays connected, so an edgeless quotient means every
    component contracted to a single label — the component minimum,
    which is a fixed point of ``h`` and survives every round.  Returns
    (``id``, ``component``) with component = min id in the cluster.

    **Local finish** (r18 optimization round): contraction shrinks the
    edge set geometrically (measured at sf0.1: 28 865 → 888 → 72 → 7),
    so the tail rounds of the distributed loop process a few hundred
    rows while paying full job-scheduling cost each (isEmpty + two
    checkpoint materializations per round).  Once the live edge count
    is ≤ ``local_edges_max`` the remaining closure runs as ONE bounded
    driver-side pass (:func:`_union_find_local`: Arrow-collected numpy
    min-label propagation, any orderable id type) whose result plugs
    into the same label-composition step a distributed round would —
    identical output by the min invariant (pinned against the
    distributed path in tests).  Driver memory is
    bounded by the threshold (~16 MB of int64 edge arrays at the 1M
    default), the same bounded-metadata class as the engine's other
    gated collects; at
    100 TB the initial edge set far exceeds the threshold and the
    distributed rounds run exactly as before, finishing locally only
    after contraction has shrunk the graph to trivia.  The loop guard
    is the COUNT captured by each round's own materialization job —
    the former per-round ``isEmpty()`` probe (a take(1) that escalates
    over empty partitions) was one to four extra jobs per round for
    information the checkpoint job already knew.
    """
    # materialize the edge list BEFORE symmetrizing: the union's two
    # branches each re-execute the (often expensive) pair-generation plan
    # otherwise — Spark does not share common subtrees across union arms.
    # Lazy checkpoint + count(): ONE job both materializes the blocks and
    # captures the loop guard (an eager checkpoint runs the same job but
    # throws the count away, forcing a separate isEmpty probe).
    g = edges.select("a", "b").filter(F.col("a") != F.col("b"))
    g = g.localCheckpoint(eager=False)
    n_edges = g.count()
    spark = edges.sparkSession
    id_type = g.schema["a"].dataType
    labels = None
    for _ in range(max_iter):
        if n_edges == 0:
            break
        if n_edges <= local_edges_max:
            h = _union_find_local(g, id_type, spark)
            if labels is None:
                labels = h.select("id", F.col("h").alias("component"))
            else:
                labels = (
                    labels.join(h, labels.component == h.id, "left")
                    .select(
                        labels.id,
                        F.coalesce(h.h, labels.component).alias("component"),
                    )
                    .localCheckpoint(eager=False)
                )
            n_edges = 0
            break
        sym = g.union(g.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # h(v) = min over {v} ∪ N(v)
        h = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select(F.col("a").alias("id"), F.least("a", "mb").alias("h"))
            .localCheckpoint(eager=True)
        )
        # compose the global mapping: nodes whose current component label
        # is still a live graph node follow it one contraction level down.
        # Round 1's h IS the initial mapping — its key set is exactly the
        # edge-touched nodes, so a separate identity-labels distinct pass
        # would be a wasted shuffle + job.  LAZY checkpoint thereafter:
        # within the loop nothing branches on labels (only the next
        # round's compose reads it), so an eager materialization per
        # round is a wasted job — the chain of left-joins against
        # eagerly-checkpointed h frames evaluates once, at the terminal
        # read, and truncates its lineage then.
        if labels is None:
            labels = h.select("id", F.col("h").alias("component"))
        else:
            labels = (
                labels.join(h, labels.component == h.id, "left")
                .select(
                    labels.id, F.coalesce(h.h, labels.component).alias("component")
                )
                .localCheckpoint(eager=False)
            )
        ha = h.select(F.col("id").alias("a"), F.col("h").alias("ha"))
        hb = h.select(F.col("id").alias("b"), F.col("h").alias("hb"))
        g = (
            g.join(ha, "a")
            .join(hb, "b")
            # canonical orientation before distinct so (x,y)/(y,x)
            # multi-edges collapse to one row
            .select(
                F.least("ha", "hb").alias("a"),
                F.greatest("ha", "hb").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_edges = g.count()
    if n_edges != 0:  # pragma: no cover - max_iter is far above log(d)
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    if labels is None:  # empty edge list ⇒ no components
        return edges.select(
            F.col("a").alias("id"), F.col("a").alias("component")
        ).limit(0)
    return labels


def _token_set_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    extra: "dict[str, Column] | None" = None,
) -> DataFrame:
    """One row per document with a NON-EMPTY token set: ``(id,
    <text_col>, gkey[, extras])``.  ``gkey`` is the rendered sorted set
    itself, NOT a 64-bit hash of it: the cluster family's contract is
    EXACT Jaccard edges, and a hash collision would silently merge
    unrelated documents into one "identical" group.  The wider shuffle
    key costs one string-sized row instead of 8 bytes — negligible next
    to the text column already travelling in the same row.  (The minhash
    tier's skey hashing is different: there a documented 2^-64 collision
    budget is inherent to sketching.)  Token-less documents
    (empty/punctuation-only text) have no Jaccard relation to anything —
    ``jaccard_pairs`` excludes them, and grouping them would fabricate a
    phantom "identical" group.

    SHARED by :func:`jaccard_dedup_clusters` and :func:`quality_dedup`
    together with :func:`_set_group_reps` — the persisted pair artifact
    (``jacc_group_pairs_*``, built over the collapsed reps and served to
    BOTH operators) is only valid while both build identical reps, so
    this construction must stay single-sourced.
    """
    # the sorted set is built inside a 1:1 explode(array(...)) Generate
    # (r19): a plain withColumn + filter(size > 0) lets predicate
    # pushdown substitute the alias, duplicating the tokenize + distinct
    # + sort expression into a Filter below the projection — every doc
    # paid it twice (2× array_sort in the executed plan).  A filter on a
    # generator output cannot push below its Generate, so this shape
    # pins ONE evaluation.  The tokens are projected below it so the
    # shingle lambda slices a column instead of re-running the
    # tokenizer per gram.
    out = (
        spread(df)
        .select(
            F.col(id_col),
            F.col(text_col),
            *( [c.alias(n) for n, c in extra.items()] if extra else [] ),
            ascii_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            F.col(id_col),
            F.col(text_col),
            *( [F.col(n) for n in extra] if extra else [] ),
            F.explode(
                F.array(
                    F.array_sort(shingles_from_tokens(F.col("__toks"), ngram))
                )
            ).alias("__set"),
        )
        .filter(F.size("__set") > 0)
    )
    cols = [
        F.col(id_col).alias("id"),
        F.col(text_col),
        F.concat_ws("\x1f", F.col("__set")).alias("gkey"),
    ]
    if extra:
        cols += [F.col(n) for n in extra]
    return out.select(*cols)


def _set_group_reps(base: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Collapse identical token sets to ``(gkey, <id_col>, <text_col>,
    cnt)`` — the representative is ``min(struct(id, text))`` so the
    group's min id and ITS text travel together through the partial
    agg.  See :func:`_token_set_base` for why this must stay the single
    source for both cluster operators."""
    return (
        base.groupBy("gkey")
        .agg(
            F.min(F.struct(F.col("id"), F.col(text_col))).alias("rep"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "gkey",
            F.col("rep.id").alias(id_col),
            F.col(f"rep.{text_col}").alias(text_col),
            "cnt",
        )
    )


def jaccard_dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
    pairs_fn: "Callable[[DataFrame], DataFrame] | None" = None,
) -> DataFrame:
    """Near-dup clusters from EXACT Jaccard edges: (canon, members) per
    cluster of ≥ 2 documents, canon = min id in the cluster.

    Identical token sets are collapsed FIRST (exact dups are Jaccard 1.0
    by definition — the standard exact-before-fuzzy dedup ordering): the
    pair join and the connected-components contraction then run over
    distinct sets only, and member counts fan back at the end.  Cluster
    output is provably unchanged — members of one set group share every
    edge, and the group representative (min id) carries the component's
    global minimum because min composes.  On repetitive corpora this
    cuts both the quadratic pair scoring and the CC edge set by the
    square of the average group size.
    """
    groups = (
        _set_group_reps(
            _token_set_base(df, id_col, text_col, ngram), id_col, text_col
        )
        .drop("gkey")
        .localCheckpoint(eager=True)
    )
    # pairs_fn lets the caller swap the pair source for a cached /
    # materialized one (jaccard_pairs_cached) — it receives the COLLAPSED
    # group reps and must return the same (a, b, ...) pair contract at
    # this operator's threshold; cluster semantics are unchanged because
    # the pair SET is (the caching helper pins row-identity)
    pairs = (
        jaccard_pairs(groups, id_col, text_col, threshold, ngram)
        if pairs_fn is None
        else pairs_fn(groups)
    )
    comp = connected_components(pairs.select("a", "b"))
    return (
        groups.join(comp, groups[id_col] == comp.id, "left")
        .select(
            F.coalesce(F.col("component"), groups[id_col]).alias("canon"),
            "cnt",
            F.col("component").isNotNull().alias("__linked"),
        )
        # a cluster exists where reps are edge-linked OR one set group
        # holds ≥ 2 identical documents; lone singletons drop out
        .filter(F.col("__linked") | (F.col("cnt") >= 2))
        .groupBy("canon")
        .agg(F.sum("cnt").alias("members"))
    )


def quality_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int = 1,
    score: Column | None = None,
    pairs_fn: "Callable[[DataFrame], DataFrame] | None" = None,
) -> DataFrame:
    """Quality-aware near-dup survivorship: per near-dup cluster, KEEP
    the member maximizing ``score`` (default :func:`quality_score_bp`
    of the text), ties → min id — the "which copy survives" decision a
    curation pipeline actually wants, vs. :func:`jaccard_dedup_clusters`'
    arbitrary min-id canonical (real corpora hold a clean original next
    to truncated/boilerplated mirrors; keeping min-id keeps whichever
    crawled first).

    The argmax must see every member (two docs with one token set can
    have different texts — "a b b" / "b a b a" — hence different
    scores), but the EDGES need not: Jaccard is a function of the token
    set alone, so set-equal docs are interchangeable as pair endpoints,
    and a group of ≥ 2 identical sets is internally Jaccard 1.0 ≥ any
    threshold.  Identical sets therefore collapse before the quadratic
    pair join exactly as in :func:`jaccard_dedup_clusters`
    (exact-before-fuzzy), and every member rejoins its group's
    representative AFTER components resolve, so the quality window still
    ranks the full membership.  Cluster output is provably unchanged:
    inter-group edges exist iff any member pair has one, intra-group
    edges are implied by J=1.0, and the representative (group min id)
    carries the component's global minimum because min composes.

    Scale shape: one tokenize pass (checkpointed — the projection feeds
    both the group-by and the member fan-back), pairs are
    prefix-filtered/bitset over DISTINCT sets only, components contract
    per round over the collapsed graph, and the final argmax is ONE
    window partitioned by component over only clustered docs — no
    corpus-sized window, no driver materialization.

    Returns ``(canon, keep_id, keep_score, members)`` for clusters of
    ≥ 2 members; ``canon`` = min id (the stable cluster key),
    ``keep_id`` = the survivor.
    """
    from gather_datawarehouse_sync_spark.functions.text import quality_score_bp

    score = quality_score_bp(F.col(text_col)) if score is None else score
    # one pass computes the set key AND the member score; eager
    # checkpoint because the frame feeds two branches (group-by and the
    # member fan-back) and tokenize+sort+render is the expensive part.
    # Set key and representative come from the SAME helpers as
    # jaccard_dedup_clusters (the shared pair artifact's validity
    # depends on the two operators' reps staying identical).
    base = _token_set_base(
        df, id_col, text_col, ngram, extra={"q": score.cast("bigint")}
    ).localCheckpoint(eager=True)
    groups = _set_group_reps(base, id_col, text_col).localCheckpoint(
        eager=True
    )
    # pairs_fn lets the caller swap the pair source for a cached /
    # materialized one (jaccard_pairs_cached) — it receives the COLLAPSED
    # group reps and must return the same (a, b, ...) pair contract at
    # this operator's threshold; cluster semantics are unchanged because
    # the pair SET is (the caching helper pins row-identity)
    pairs = (
        jaccard_pairs(groups, id_col, text_col, threshold, ngram)
        if pairs_fn is None
        else pairs_fn(groups)
    )
    comp = connected_components(pairs.select("a", "b"))
    members = (
        base.select("id", "gkey", "q")
        .join(
            groups.select("gkey", F.col(id_col).alias("__rid"), "cnt"), "gkey"
        )
        .join(
            comp.select(F.col("id").alias("__rid"), "component"),
            "__rid",
            "left",
        )
        .select(
            "id",
            "q",
            F.coalesce(F.col("component"), F.col("__rid")).alias("component"),
            # a cluster exists where the rep is edge-linked OR one set
            # group holds ≥ 2 identical sets; lone singletons drop out
            (F.col("component").isNotNull() | (F.col("cnt") >= 2)).alias(
                "__clustered"
            ),
        )
        .filter(F.col("__clustered"))
    )
    # best member + size per cluster as ONE hash aggregate — NOT a
    # per-component window: min(struct(...)) = max quality, ties to
    # min id (the queries.py:_x_dedup_against trick), and aggregation
    # combines map-side, so a pathologically large cluster (the
    # empty-page cluster of a web corpus) never serializes a sort on
    # one task the way partitionBy(component) would.  Descending-q is
    # encoded as BITWISE NOT (~q = -q-1: strictly order-reversing,
    # defined for ALL int64 — a negation would overflow at Long.MIN
    # under ANSI, and a coalesce-to-MAX sentinel collides with a
    # legitimate q = -(2⁶³-1)); NULL scores sort LAST via a leading
    # is-null flag, matching the orderBy(q.desc(), id) window this
    # replaced — a NULL-scored member is canonical only when the whole
    # cluster is unscored
    return members.groupBy("component").agg(
        F.min(
            F.struct(
                F.col("q").isNull().alias("qn"),
                F.coalesce(F.bitwise_not(F.col("q")), F.lit(0)).alias("nq"),
                F.col("id"),
                F.col("q"),
            )
        ).alias("__best"),
        F.count(F.lit(1)).cast("bigint").alias("members"),
    ).select(
        F.col("component").alias("canon"),
        F.col("__best.id").alias("keep_id"),
        F.col("__best.q").alias("keep_score"),
        "members",
    )


def dedup_recall_report(
    candidates: DataFrame,
    reference: DataFrame,
) -> DataFrame:
    """Pair-set evaluation for dedup tiers — the
    :func:`~gather_datawarehouse_sync_spark.operators.similarity.recall_report`
    pattern applied to deduplication: how much of a REFERENCE pair set
    (the exact tier, or a labeled truth set) does a CANDIDATE pair set
    (a sketch tier — MinHash banding, SimHash, a looser threshold)
    recover, and how much of what it proposes is real.

    Both inputs are edge lists with ``a``/``b`` columns; orientation
    and duplicates are normalized here (least/greatest + distinct), so
    callers can pass raw pair output from any tier.  Metrics are exact
    integers: ``precision_bp`` = hits·10⁴ / candidates (floored),
    ``recall_bp`` = hits·10⁴ / reference; empty sides report 0, not
    null, so a gate can threshold the row directly.

    Plan shape: two distinct passes + ONE full-outer pair equi-join
    feeding a single scalar aggregate — never more than pair-set-sized,
    no windows.  (The former three separate aggregates — candidate
    count, reference count, inner-join hit count, cross-joined back
    together — scanned the two pair sets once each ON TOP of the join;
    the full-outer join sees every candidate, every reference, and
    every hit in one pass, so the three counts are conditional counts
    over it, r18.)  The per-side localCheckpoints the three-aggregate
    shape needed (it consumed each side three times) were VESTIGIAL
    after that rewrite — the full-outer join consumes each normalized
    side exactly ONCE, so the whole report is now one lazy plan and the
    caller's (typically quadratic-tier) pair pipelines execute once, at
    the terminal action, with no per-side materialization jobs (r19;
    x_dedup_recall warm build 1.1-1.5 s → lazy).
    Returns ONE row (n_candidates, n_reference, n_hits, precision_bp,
    recall_bp).
    """

    def _norm(df: DataFrame, flag: str) -> DataFrame:
        return (
            df.select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    c = _norm(candidates, "__c")
    r = _norm(reference, "__r")
    return (
        c.join(r, ["a", "b"], "full_outer")
        .agg(
            F.count("__c").alias("n_candidates"),
            F.count("__r").alias("n_reference"),
            F.count(F.when(F.col("__c").isNotNull(), F.col("__r"))).alias(
                "n_hits"
            ),
        )
        .select(
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_reference").cast("bigint").alias("n_reference"),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.when(
                F.col("n_candidates") > 0,
                (F.col("n_hits") * 10000) / F.col("n_candidates"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("precision_bp"),
            F.when(
                F.col("n_reference") > 0,
                (F.col("n_hits") * 10000) / F.col("n_reference"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("recall_bp"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    cache_input: bool = False,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """End-to-end fuzzy dedup: LSH candidates → threshold on estimated
    Jaccard → connected components → canonical = min id per cluster.

    Returns the input plus a ``canon`` column (= own id for unique docs /
    cluster minimum for near-duplicates).

    The input feeds two plan branches (the signature pipeline and the
    final canon join-back), and Spark does not share common subtrees —
    the upstream chain computes twice.  That double-compute is almost
    always noise next to the LSH stage, and the alternative —
    checkpointing the FULL-WIDTH corpus (text included) to executor
    storage — is the real scale hazard (the shuffle_order r15 lesson,
    SCALE.md), so nothing is cached by default; ``cache_input=True``
    opts in for callers whose upstream is genuinely more expensive
    than a re-scan.
    """
    if cache_input:
        df = df.localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes, bands, ngram, hash_mode=hash_mode
    ).filter(F.col("est_jaccard") >= threshold)
    comp = connected_components(pairs.select("a", "b"))
    return (
        df.join(comp, df[id_col] == comp.id, "left")
        .select(
            *[df[c] for c in df.columns],
            F.coalesce(F.col("component"), df[id_col]).alias("canon"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_mode: str = "xxhash",
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    For each bit position, sum +1/-1 votes of every token's hash bit
    (duplicates counted); fingerprint bit = sign of the vote.
    Near-duplicates have small Hamming distance.

    Shape (r18; the :func:`minhash_signatures` layout): token hashing
    stays JVM-side inside codegen as ONE ``transform`` over the token
    array, and the ``bits``-lane vote crosses to Python once as an
    Arrow batch where numpy computes every document's fingerprint in a
    single flattened bit-unpack + segment-reduce.  The previous
    explode → 64-conditional-sum groupBy form shuffled every token of
    the corpus and built a 64-aggregate expression tree whose
    construction and analysis alone cost ~2 s of driver time per run
    at sf0.1 (measured: 3.2 s wall, 1.0 s of Spark jobs); this form is
    shuffle-free — a narrow per-document projection.  Documents with
    no tokens emit no row, exactly as the explode form dropped them.

    ``hash_mode="portable"`` swaps the token hash for 60 bits of
    ``md5(token)`` (the ``minhash_signatures`` portable contract) so the
    fingerprint is engine-reproducible — DuckDB computes the identical
    bits from ``CAST(('0x' || substr(md5(t),1,15)) AS BIGINT)`` — which
    is what gives x_simhash_neighbors its full value oracle.  Portable
    fingerprints carry at most 60 meaningful bits (``bits`` is capped
    accordingly); the two modes' fingerprints are mutually
    incompatible.
    """
    if hash_mode not in ("xxhash", "portable"):
        raise ValueError(f"simhash: unknown hash_mode {hash_mode!r}")
    if hash_mode == "portable" and bits > 60:
        raise ValueError(
            "simhash: portable mode carries 60 hash bits — pass bits <= 60"
        )
    nbits = int(bits)
    shifts = np.arange(nbits, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def _simhash(base: pd.Series) -> pd.Series:
        n_rows = len(base)
        sizes = np.fromiter(
            (0 if a is None else len(a) for a in base),
            dtype=np.int64,
            count=n_rows,
        )
        out = np.zeros(n_rows, dtype=np.int64)
        valid = np.flatnonzero(sizes > 0)
        if len(valid) == 0:
            return pd.Series(out)
        # bound the (tokens × bits) vote matrix: one unbounded flatten
        # would allocate batch-total-tokens × nbits int64 cells — ~5 GB
        # transient on a 10k-row × 1k-token Arrow batch (r18 advice).
        # Slab the valid rows so each slab's matrix stays ≤ ~32M cells
        # (256 MB); every slab runs the SAME unpack + reduceat, so the
        # fingerprint is bit-identical at any slab size (the _minhash
        # kernel's pattern above).
        max_cells = 1 << 25
        max_tokens = max(1, max_cells // max(1, nbits))
        start = 0
        while start < len(valid):
            stop = start
            tot = 0
            while stop < len(valid) and (
                tot + sizes[valid[stop]] <= max_tokens or stop == start
            ):
                tot += sizes[valid[stop]]
                stop += 1
            vs = valid[start:stop]
            flat = np.concatenate(
                [np.asarray(base.iat[i], dtype=np.int64) for i in vs]
            )
            offsets = np.zeros(len(vs), dtype=np.int64)
            np.cumsum(sizes[vs][:-1], out=offsets[1:])
            # ±1 votes per bit lane; arithmetic >> then &1 extracts bit
            # i of the int64 hash for any i (sign extension masked off)
            votes = (((flat[:, None] >> shifts) & 1) * 2 - 1).astype(
                np.int64
            )
            agg = np.add.reduceat(votes, offsets, axis=0)
            out[vs] = ((agg > 0).astype(np.int64) << shifts).sum(axis=1)
            start = stop
        return pd.Series(out)

    # nondeterministic marking pins ONE evaluation (see _minhash above)
    _simhash = _simhash.asNondeterministic()

    toks = ascii_tokens(F.col(text_col))
    if hash_mode == "portable":
        base = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    else:
        base = F.transform(toks, lambda t: F.xxhash64(t))
    return (
        spread(df)
        .filter(F.size(toks) > 0)
        .select(F.col(id_col).alias("id"), _simhash(base).alias("simhash"))
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints via bit_count."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Blocked edit-distance pairs (short-string record linkage)
# ---------------------------------------------------------------------------

def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "name",
    max_dist: int = 2,
    bucket_width: "float | str | None" = None,
) -> DataFrame:
    """EXACT pairs with Levenshtein distance ≤ ``max_dist`` — the
    record-linkage operator for short strings (names, titles, URLs)
    where token-set Jaccard is meaningless.

    Blocking is COMPLETE on length: edit distance ≤ d implies
    ``|len(a) − len(b)| ≤ d``, so candidates come from
    :func:`~gather_datawarehouse_sync_spark.operators.joins.band_join`
    on the length columns (the bucketed-range equi-join rewrite — one
    canonical implementation of the 3-bucket probe).  The quadratic
    work is confined to same-band groups, then the codegen'd
    thresholded ``levenshtein`` verifies exactly.  On corpora where one
    length dominates, add a second blocking key (e.g. a character-q-gram
    prefix) — length blocking alone degrades to per-length all-pairs,
    which is the honest worst case of every exact similarity join.

    ``bucket_width`` passes through to :func:`band_join` —
    ``"auto"`` lets :func:`choose_band_bucket_width` probe the length
    distribution and refine the grid when lengths are concentrated
    relative to ``max_dist`` (floored at width 1: lengths are integers,
    a sub-unit grid only multiplies probes).  Grid choice never changes
    the pair set.

    Returns (a, b, dist) with a < b.
    """
    from gather_datawarehouse_sync_spark.operators.joins import band_join

    base = spread(df)
    left = base.select(
        F.col(id_col).alias("a"),
        F.col(text_col).alias("sa"),
        F.length(text_col).alias("la"),
    )
    right = base.select(
        F.col(id_col).alias("b"),
        F.col(text_col).alias("sb"),
        F.length(text_col).alias("lb"),
    )
    # band_join finds each |la - lb| <= band pair exactly once per
    # orientation; a < b keeps one.  band must be positive, so d = 0
    # (exact equality) runs with band 1 — the levenshtein threshold
    # below still discards the distance-1 candidates.
    # lengths are integers: a sub-unit grid separates nothing and only
    # multiplies probes — clamp EXPLICIT numeric widths to 1 too, not
    # just the auto-chosen one (the documented floor)
    if isinstance(bucket_width, (int, float)):
        bucket_width = max(float(bucket_width), 1.0)
    cand = band_join(
        left,
        right,
        "la",
        "lb",
        max(max_dist, 1),
        bucket_width=bucket_width,
        min_bucket_width=1.0,
    ).filter(F.col("a") < F.col("b"))
    # thresholded levenshtein bounds the DP to a d-wide band (returns -1
    # past the threshold) — O(d·n) per pair instead of O(n·m) on the
    # per-length all-pairs worst case
    return (
        cand.withColumn("dist", F.levenshtein(F.col("sa"), F.col("sb"), max_dist))
        .filter(F.col("dist") >= 0)
        .select("a", "b", "dist")
    )



def _positioned_md5_grams(n: int) -> "Column":
    """The ONE positioned-md5-n-gram expression every span operator
    shares (detect, reference keys, cross-corpus): 0-based positions
    zip with the md5 of each ``ngrams_from_tokens`` window via
    posexplode.  Stored-artifact parity (reference_gram_keys ≡ the
    probe side of duplicate_spans_against) holds because both sides
    use THIS expression, not hand-synced copies.  Input column:
    ``__toks``."""
    return F.posexplode(
        F.transform(ngrams_from_tokens(F.col("__toks"), n), lambda g: F.md5(g))
    )


def _tokenized(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __toks) rows with ≥ n tokens — the shared span-operator base."""
    return spread(
        df.select(
            F.col(id_col).alias("id"), ascii_tokens(F.col(text_col)).alias("__toks")
        )
    ).filter(F.size("__toks") >= n)


def _merge_islands(hits: DataFrame, n: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of (id, pos) n-gram hits into maximal
    spans [span_start, span_end] (0-based inclusive): a hit ≤ n after
    the previous extends the island.  Shared by duplicate_spans and
    duplicate_spans_against so both merge identically."""
    w = Window.partitionBy("id").orderBy("pos")
    return (
        hits.withColumn(
            "__brk",
            F.when(F.col("pos") - F.lag("pos").over(w) <= n, 0).otherwise(1),
        )
        .withColumn("span", F.sum("__brk").over(w))
        .groupBy("id", "span")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated SUBSTRING spans — the token-level
    analogue of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find,
    for every document, the maximal token ranges whose every ``n``-gram
    also appears in at least ``min_docs`` documents.  Whole-doc dedup
    (exact/MinHash) misses boilerplate shared across otherwise-distinct
    documents; this finds the shared passages themselves, positioned,
    so a curation pass can cut the span rather than drop the doc.

    Algorithm (all relational, no suffix array needed):

    1. explode positioned word ``n``-grams (ascii tokenization, the
       dedup-surface standard);
    2. count DISTINCT documents per gram, keep grams in ≥ ``min_docs``
       docs — the shuffle key is ``md5(gram)`` (128-bit, cross-engine
       deterministic), so long gram strings never shuffle;
    3. semi-join flagged grams back to their positions;
    4. merge overlapping/adjacent hits per document (gaps-and-islands:
       a hit starting ≤ ``n`` tokens after the previous extends the
       island) into maximal spans ``[span_start, span_end]`` (0-based
       token indexes, inclusive).

    At 100 TB: one gram-count shuffle (md5 keys), one join of hits
    against the duplicated-gram set (AQE broadcasts it when small), and
    a per-document window — no all-pairs stage anywhere.  The md5
    collision budget is the usual 2⁻⁶⁴-per-pair sketch budget; the
    DuckDB oracle groups on the raw gram string and hash-matches, which
    doubles as the collision check at test scale.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    # the gram frame feeds BOTH the distinct-doc count and the semi-join
    # probe; localCheckpoint so tokenize+posexplode+md5 — the expensive
    # subtree — runs once per call, not once per consumer (the repo's
    # shared-subtree pattern, e.g. shuffle_order / distribution_drift)
    grams = (
        _tokenized(df, id_col, text_col, n)
        .select("id", _positioned_md5_grams(n).alias("pos", "gkey"))
        .localCheckpoint(eager=True)
    )
    dup = (
        grams.groupBy("gkey")
        .agg(F.countDistinct("id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("gkey")
    )
    hits = grams.join(dup, "gkey", "left_semi").select("id", "pos")
    return _merge_islands(hits, n, id_col)


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_docs: int = 2,
    out_col: str = "clean_text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Remove the cross-document duplicated spans :func:`duplicate_spans`
    finds — the CUT half of substring-level dedup (Lee et al. 2022 cut
    duplicated substrings instead of dropping whole documents, keeping
    the unique remainder in the corpus).

    Every document keeps its tokens whose position falls OUTSIDE all of
    its duplicated spans, rejoined with single spaces (the dedup
    surface's canonical whitespace; docs with no spans pass through
    re-tokenized the same way, so the output column is uniformly
    normalized).  Returns (``id_col``, ``out_col``, ``tokens_removed``,
    ``tokens_kept``).

    Plan shape: :func:`duplicate_spans` does the heavy lifting (one gram
    shuffle + per-doc window); the cut itself is a per-doc span-array
    aggregate (spans per doc are few — bounded by tokens/``n``) joined
    back and applied as ONE array-expression projection — no
    per-token explode/re-aggregate round trip.

    Pass ``spans=`` to cut against a PRECOMPUTED span table (the
    :func:`duplicate_spans` output, typically a persisted
    per-corpus-version artifact shared with span reporting) — ``n`` must
    match the value the spans were computed with, since it bounds the
    island-merge gap they encode.
    """
    if spans is None:
        spans = duplicate_spans(df, id_col, text_col, n, min_docs)
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    base = df.select(id_col, ascii_tokens(F.col(text_col)).alias("__toks")).join(
        span_lists, id_col, "left"
    )
    # position i (0-based) survives unless some span covers it
    covered = lambda i: F.exists(  # noqa: E731
        F.coalesce(F.col("__spans"), F.array().cast(
            "array<struct<span_start:bigint,span_end:bigint>>"
        )),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.filter(
        F.col("__toks"), lambda t, i: ~covered(i.cast("long"))
    )
    return base.select(
        id_col,
        F.concat_ws(" ", kept).alias(out_col),
        (F.size("__toks") - F.size(kept)).cast("long").alias("tokens_removed"),
        F.size(kept).cast("long").alias("tokens_kept"),
    )


def frequent_units(
    df: DataFrame,
    text_col: str = "text",
    sep: str = " ",
    min_docs: int | None = None,
    min_doc_frac_bp: int | None = None,
) -> DataFrame:
    """The frequent-unit (boilerplate) set :func:`remove_frequent_units`
    cuts against: every non-empty ``sep``-delimited unit occurring in at
    least the threshold number of documents — exactly one of
    ``min_docs`` (absolute) and ``min_doc_frac_bp`` (basis points of the
    corpus document count, scale-invariant) selects it.

    Precondition: ONE input row per document.  Units are counted per
    row (``COUNT(*)`` over per-row distinct units), so a document that
    appears in several rows counts once per row.

    Split out so the set can be PERSISTED per corpus version (the
    :func:`reference_gram_keys` pattern): a daily increment is then
    cleaned against the stored corpus-wide set without rescanning the
    corpus — ``remove_frequent_units(increment, frequent=stored)``.

    Returns one ``unit`` column (distinct).
    """
    import re as _re

    if (min_docs is None) == (min_doc_frac_bp is None):
        raise ValueError(
            "frequent_units: pass exactly one of min_docs / min_doc_frac_bp"
        )
    pattern = _re.escape(sep)
    # per-document DISTINCT units at the scan (array_distinct before the
    # explode), so the unit aggregate is a plain COUNT instead of
    # COUNT(DISTINCT id): each (doc, unit) pair crosses the exchange
    # once — duplicate occurrences within a document never shuffle —
    # and the two-exchange distinct-aggregate plan collapses to one
    # map-side-combinable hash aggregate (guide §2.3/§2.4, r19).
    # Exact under the one-row-per-document precondition: units are
    # distinct per row by construction, so COUNT(*) per unit is the
    # number of documents containing it.
    units = spread(df).select(
        F.explode(
            F.array_distinct(F.split(F.col(text_col), pattern))
        ).alias("unit"),
    )
    freq = (
        units.filter(F.col("unit") != "")
        .groupBy("unit")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    if min_doc_frac_bp is not None:
        # scalar corpus count: no spread — a pre-aggregation repartition
        # would ADD an exchange to a count(*) that already combines
        # map-side and prunes to zero columns at the scan
        total = df.agg(F.count(F.lit(1)).alias("__total"))
        return (
            freq.crossJoin(total)
            .filter(
                F.col("__df") * 10000 >= F.lit(min_doc_frac_bp) * F.col("__total")
            )
            .select("unit")
        )
    return freq.filter(F.col("__df") >= min_docs).select("unit")


def remove_frequent_units(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = " ",
    min_docs: int | None = None,
    min_doc_frac_bp: int | None = None,
    out_col: str = "clean_text",
    broadcast_frequent: bool = True,
    frequent: DataFrame | None = None,
) -> DataFrame:
    """Corpus-frequency boilerplate removal: a unit (the text split on
    ``sep`` — lines, paragraphs, or tokens by choice of separator) that
    occurs in at least a threshold number of documents (precondition:
    ONE input row per document — :func:`frequent_units` counts rows) is
    cut from every document; the surviving units rejoin in original order.
    This is CCNet's paragraph-level dedup / RefinedWeb's line-level
    dedup (navigation menus, cookie banners, boilerplate headers appear
    near-verbatim across thousands of pages — cutting the unit keeps
    the unique remainder of each page in the corpus), the
    cross-document counterpart of :func:`~gather_datawarehouse_sync_spark.functions.text.dedup_repeated_units`.

    Exactly one of ``min_docs`` (absolute document count) and
    ``min_doc_frac_bp`` (basis points of the corpus document count —
    scale-invariant across corpus sizes) selects the threshold.  Empty
    units (doubled/trailing separators) are never counted and never
    cut, so spacing survives the round trip byte-identically.

    Plan shape: one posexplode pass, one (unit → document count)
    aggregation with map-side partial aggs, the frequent set anti-joined
    back (broadcast by default — a unit must clear the document
    threshold, so at boilerplate-grade thresholds the set is tiny; pass
    ``broadcast_frequent=False`` for low absolute thresholds like
    ``min_docs=2`` full line-dedup, where the duplicated-unit set is
    corpus-scale and must shuffle), then ONE per-doc re-aggregation.
    No corpus-sized window, no driver materialization.

    Pass ``frequent=`` to cut against a PRECOMPUTED unit set (the
    :func:`frequent_units` output, typically a persisted per-corpus-
    version artifact — the :func:`cut_duplicate_spans` ``spans=``
    convention): only the increment is then scanned, never the corpus
    the set was built from.  ``min_docs`` / ``min_doc_frac_bp`` are the
    build-path thresholds and must be omitted with ``frequent=``.

    Returns (``id_col``, ``out_col``, ``units_removed``,
    ``units_kept``) — one row per input document.
    """
    import re as _re

    if frequent is not None:
        if min_docs is not None or min_doc_frac_bp is not None:
            raise ValueError(
                "remove_frequent_units: frequent= is the precomputed set; "
                "thresholds belong to the frequent_units build"
            )
    else:
        frequent = frequent_units(
            df,
            text_col=text_col,
            sep=sep,
            min_docs=min_docs,
            min_doc_frac_bp=min_doc_frac_bp,
        )
    pattern = _re.escape(sep)
    units = spread(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), pattern)).alias("pos", "unit"),
    )
    frequent = frequent.select("unit")
    if broadcast_frequent:
        frequent = F.broadcast(frequent)
    # anti-join form kept DELIBERATELY (r19): a one-scan variant that
    # LEFT-joins a cut flag and re-aggregates every unit (cut units as
    # (pos, NULL) structs) was implemented and measured SLOWER in a
    # paired A/B (x_boilerplate min 0.47 s → 1.05 s at sf0.1) — on a
    # boilerplate-heavy corpus the anti join drops most occurrences
    # BEFORE the collect_list shuffle, which outweighs the second
    # (narrow) scan + per-doc-total join it saves.
    kept = units.join(frequent, "unit", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                lambda s: s["unit"],
            ),
        ).alias(out_col),
        F.count(F.lit(1)).alias("__kept"),
    )
    base = spread(df).select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), pattern)).cast("long").alias("__total_u"),
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        (F.col("__total_u") - F.coalesce(F.col("__kept"), F.lit(0)))
        .cast("long")
        .alias("units_removed"),
        F.coalesce(F.col("__kept"), F.lit(0)).cast("long").alias("units_kept"),
    )


def reference_gram_keys(
    reference: DataFrame,
    text_col: str = "text",
    n: int = 10,
) -> DataFrame:
    """The persisted-reference half of :func:`duplicate_spans_against`:
    DISTINCT ``md5`` keys of every word ``n``-gram in the reference
    corpus — computed once per corpus version and stored (the
    substring-dedup analogue of the MinHash signature artifact).  One
    column (``gkey``), already deduped, so the stored table is bounded
    by the corpus's distinct-gram count, not its length.  (No id
    parameter on purpose: the key set is id-free.)"""
    if n < 1:
        raise ValueError("n must be >= 1")
    base = spread(
        reference.select(ascii_tokens(F.col(text_col)).alias("__toks"))
    ).filter(F.size("__toks") >= n)
    # the SAME positioned-gram expression the probe side uses (position
    # dropped): stored keys and probe keys cannot drift
    return (
        base.select(_positioned_md5_grams(n).alias("pos", "gkey"))
        .select("gkey")
        .distinct()
    )


def duplicate_spans_against(
    new: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    reference_keys: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL substring dedup: maximal token spans of ``new``
    documents whose every ``n``-gram already exists in the REFERENCE
    corpus — "which passages of this crawl are copies of what we
    already have", the cross-corpus form of :func:`duplicate_spans`
    (which finds passages shared *within* one corpus).

    The reference side is the ``reference_keys`` artifact
    (:func:`reference_gram_keys`, persisted per corpus version — same
    contract as ``minhash_dedup_against(reference_signatures=)``):
    pass it and the reference TEXT is never read; each crawl increment
    costs one gram pass over the increment plus a semi-join against
    the stored key set.  Exactly one of ``reference`` /
    ``reference_keys`` may be omitted.

    Returns (``id_col``, span_start, span_end, span_tokens) — 0-based
    inclusive token indexes, islands merged like
    :func:`duplicate_spans` (literally: both call the shared
    ``_merge_islands`` / ``_positioned_md5_grams`` helpers, so the
    stored-artifact parity cannot drift).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if reference is not None and reference_keys is not None:
        # accepting both would silently prefer one — and a stale key
        # artifact paired with a fresh reference table is exactly the
        # mistake that must fail loudly
        raise ValueError(
            "duplicate_spans_against: pass reference OR reference_keys, "
            "not both"
        )
    if reference_keys is None:
        if reference is None:
            raise ValueError(
                "duplicate_spans_against: pass reference or reference_keys"
            )
        reference_keys = reference_gram_keys(reference, text_col, n)
    grams = _tokenized(new, id_col, text_col, n).select(
        "id", _positioned_md5_grams(n).alias("pos", "gkey")
    )
    hits = grams.join(
        reference_keys.select("gkey"), "gkey", "left_semi"
    ).select("id", "pos")
    return _merge_islands(hits, n, id_col)
