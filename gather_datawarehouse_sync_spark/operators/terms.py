"""Term-statistics operators (LLM-pipeline extension surface).

No reference counterpart (the reference never inspects file *content*
beyond its md5, ``src/DataWarehouse.js:44``); these are the standard
corpus-analysis passes a training-data pipeline runs: per-document
distinctive terms (TF-IDF-shaped) and corpus vocabulary statistics.

Scale design: the vocabulary-wide passes are expressed as explode →
hash-aggregate → join → per-group window, i.e. the same shuffle-based
shapes the dedup family uses.  Document-frequency is a vocabulary-keyed
aggregation (bounded by |vocab|, not corpus size); the per-document
top-k window partitions by doc_id, so no global sort or single-partition
window appears anywhere.  Ranking is integer-only (tf desc, df asc,
term asc) — no floating-point scores need to cross the engine boundary,
which keeps the DuckDB oracle hash-exact.

BM25 (:func:`bm25_topk`) scores a fixed, short query-term list, so it
explodes nothing: each document stays one row carrying its length and
one count per query term, read by one scalar statistics aggregate and
one broadcast cross join — O(q · tokens) per document, no shuffle keyed
by term and nothing materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def term_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(document, term) frequencies over the ascii tokenization the
    dedup/oracle surface shares (``functions.text.ascii_tokens`` — one
    definition, so the cross-engine hash contract cannot drift)."""
    from gather_datawarehouse_sync_spark.functions.text import ascii_tokens
    from gather_datawarehouse_sync_spark.session import spread

    return (
        spread(docs)
        .select(
            F.col(id_col), F.explode(ascii_tokens(F.col(text_col))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` most distinctive terms per document.

    TF-IDF with an integer-only ordering: rank by term frequency
    descending, document frequency ascending (rarer wins), then term —
    the same ordering ``tf * log(N/df)`` induces for fixed tf, without
    a float score whose last ulp could differ between engines.

    Returns (``id_col``, term, tf, df, rn) with rn ∈ [1, k].
    """
    tf = term_counts(docs, id_col, text_col)
    # document frequency: vocabulary-keyed — SMALLER than the corpus but
    # NOT bounded by a contract (a web corpus's distinct-token set runs
    # to billions), so the join stays AQE-decided: the post-shuffle size
    # estimate broadcasts it where it fits (it does at every test SF —
    # plan-pinned) and falls back to a shuffle join where it would blow
    # the 8 GB broadcast cap.  An explicit F.broadcast hint here (tried
    # r18, reverted r19) removed that guard for zero plan change at any
    # measurable SF — the r18 before/after dumps were identical.
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_tbl, "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tf", "df", "rn")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_milli: int = 1200,
    b_milli: int = 750,
    scale: int = 100,
    idf: str = "rational",
) -> DataFrame:
    """Okapi BM25 ranked retrieval in the engine's integer-exact
    convention — the real keyword tier the hybrid (RRF) layout names
    (:func:`~gather_datawarehouse_sync_spark.operators.similarity.hybrid_rrf_topk`'s
    tf-only candidate stage is the cheap approximation; this is the
    published scorer).

    Per (doc, term): ``w = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    weighted by IDF, summed over query terms, top ``k`` by
    (score desc, id).  Two deliberate, documented deviations keep the
    score a cross-engine-exact integer (the repo-wide convention —
    see ``_floored_micro_terms`` / ``quality_score_bp``):

    - every intermediate is FLOOR-quantized to milli units
      (``dl/avgdl``, the length norm, the saturation denominator, the
      term weight) — each step one integer ``DIV`` both engines
      compute identically;
    - IDF uses Robertson's ratio ``(N−df+½)/(df+½)`` as the exact
      rational ``(2N−2df+1)/(2df+1)`` WITHOUT the log (the log is
      engine-libm territory, the exact reason temperature_resample
      only certifies α=0.5): rare terms weigh more strongly than in
      log-Okapi, ranking within a single term's postings is
      identical, and the score is hash-oracle-able.

    ``idf="log"`` is the PUBLISHED Okapi scorer, for serving: IDF is
    ``max(0, ln((N−df+½)/(df+½)))`` — floored at 0, the Lucene
    convention, so a query term appearing in more than half the corpus
    contributes nothing rather than a negative penalty — and every
    intermediate stays a plain double (no milli quantization, no
    ``scale``) — bit-exactness
    across engines is not promised (libm), so this tier is certified
    against an independent Python implementation with tolerance, not a
    hash oracle; the default ``"rational"`` tier stays the hash-exact
    one.  Ranking between the tiers agrees except where the rational
    IDF's stronger rare-term weighting is the documented deviation.

    Plan shape (both tiers share it): each document stays ONE row.
    One projection over the tokens gives ``(id, dl, tf_0 … tf_{q−1})``,
    each ``tf_j`` a ``filter`` over the token attribute — O(q · tokens)
    per document, no explode, no postings shuffle, no query-term table.
    One scalar aggregate gives ``n_docs``, the total length and every
    ``df_j``; documents with no tokens count in neither.  Each row
    cross-joins that broadcast row, sums its per-term contributions
    (NULL when it matches no term), and the scores end in
    ``orderBy().limit()`` — TakeOrderedAndProject, no global window.
    The statistics and the scores each read the corpus once and
    tokenize each document once; building collects and materializes
    nothing.

    Precondition: ONE row per id.  Each row scores alone — two rows
    sharing an id are two documents (each counts in ``n_docs`` and in
    every ``df``) and may both appear in the result.

    Repeated query terms count once (set semantics, matching an
    oracle's ``IN`` list and the tf tier's ``array_contains``).
    Returns (``id_col``, score) — ``scale``-scaled integer units for
    ``"rational"``, plain double for ``"log"``.
    """
    from gather_datawarehouse_sync_spark.functions.text import ascii_tokens
    from gather_datawarehouse_sync_spark.session import spread

    if idf not in ("rational", "log"):
        raise ValueError(f"idf must be rational|log, got {idf!r}")
    K, B, S = int(k1_milli), int(b_milli), int(scale)
    terms = list(dict.fromkeys(query_terms))
    tfs = [F.col(f"tf_{j}") for j in range(len(terms))]
    dfs = [F.col(f"df_{j}") for j in range(len(terms))]

    def _count(term: str):
        # a one-arg lambda over the projected token ATTRIBUTE: a lambda
        # body gets no subexpression elimination, so the tokenizer
        # inlined here would re-run per token
        return F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term)))

    # widen dl and tf to BIGINT at creation (the quality_score_bp rule):
    # size() is INT and the rational tier's `1000000 * dl` would
    # overflow int32 for any document past ~2,147 tokens (a ~15 KB
    # text) — ANSI crash on Spark 4 defaults
    per_doc = (
        spread(docs)
        .select(
            F.col(id_col).alias("id"), ascii_tokens(F.col(text_col)).alias("toks")
        )
        .select(
            "id",
            F.size("toks").cast("bigint").alias("dl"),
            *[_count(t).cast("bigint").alias(f"tf_{j}") for j, t in enumerate(terms)],
        )
    )
    nonempty = F.col("dl") > 0
    stats = per_doc.agg(
        F.count_if(nonempty).alias("n_docs"),
        # NULL (not 0) when no document has a token, so the avgdl
        # division yields NULL instead of dividing by zero
        F.sum(F.when(nonempty, F.col("dl"))).alias("total_len"),
        *[F.count_if(tf > 0).alias(f"df_{j}") for j, tf in enumerate(tfs)],
    )
    if idf == "log":
        # the published Okapi: true log-IDF, plain double arithmetic
        k1, b = K / 1000.0, B / 1000.0
        stats = stats.withColumn("avgdl", F.col("total_len") / F.col("n_docs"))
        norm = k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        # raw ln((N−df+½)/(df+½)) goes NEGATIVE when df > N/2, so a very
        # common query term would SUBTRACT from scores and push a doc
        # matching two terms below one matching a single rarer term —
        # floor the IDF at 0 (the Lucene convention): common terms
        # contribute nothing, never a penalty
        contribs = [
            F.greatest(
                F.lit(0.0),
                F.log((F.col("n_docs") - df + 0.5) / (df + 0.5)),
            )
            * (tf * (k1 + 1.0))
            / (tf + norm)
            for tf, df in zip(tfs, dfs)
        ]
        score_type = "double"
    else:
        stats = stats.withColumn(
            "avgdl_milli", F.expr("(1000 * total_len) DIV n_docs")
        )
        ln_milli = (
            f"((({1000 - B} * 1000) + {B} * ((1000000 * dl) DIV avgdl_milli))"
            " DIV 1000)"
        )
        contribs = [
            F.expr(
                f"((2 * n_docs - 2 * df_{j} + 1) * "
                f"((1000 * tf_{j} * {1000 + K}) DIV "
                f"(1000 * tf_{j} + ({K} * {ln_milli}) DIV 1000)) * {S}) "
                f"DIV (2 * df_{j} + 1)"
            )
            for j in range(len(terms))
        ]
        score_type = "bigint"
    score = F.lit(0)
    for tf, c in zip(tfs, contribs):
        score = score + F.when(tf > 0, c).otherwise(0)
    matched = F.lit(False)
    for tf in tfs:
        matched = matched | (tf > 0)
    # a document matching no term scores NULL, which sorts after every
    # match, and is dropped AFTER the limit: a filter on the tf columns
    # below it would be pushed under the projection and the repartition
    # onto the scan, re-running the tokenizer once per query term
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            F.col("id").alias(id_col),
            F.when(matched, score).cast(score_type).alias("score"),
        )
        .orderBy(F.col("score").desc(), id_col)
        .limit(k)
        .filter(F.col("score").isNotNull())
    )


def rare_ngram_profile(
    docs: DataFrame,
    n: int = 2,
    rare_below: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language-model-lite quality signal: how much of each document is
    made of n-grams the corpus itself rarely produces.

    The KenLM-perplexity filter's integer-exact proxy: train = one
    corpus-wide n-gram count (vocabulary-keyed aggregate), score = join
    each document's n-gram multiset back against the counts and tally
    occurrences whose corpus frequency is below ``rare_below``.  High
    ``rare_frac`` marks garbled/foreign/boilerplate-free-noise text the
    same way high perplexity does, but every output is an exact integer
    ratio, so a SQL oracle can hash-compare it — a float log-prob never
    could (libm ulp drift across engines).

    Returns (``id_col``, n_grams, n_rare, rare_frac); documents with
    fewer than ``n`` tokens yield no row (no n-grams to judge).
    """
    from gather_datawarehouse_sync_spark.functions.text import (
        ascii_tokens,
        ngrams_from_tokens,
    )
    from gather_datawarehouse_sync_spark.session import spread

    # tokenize in a projection BELOW the explode (r19): GenerateExec
    # re-evaluates the tokenizer per reference — 3 regex splits per doc
    # for the inlined form (see ngrams_from_tokens)
    grams = (
        spread(docs)
        .select(F.col(id_col), ascii_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(ngrams_from_tokens(F.col("__toks"), n)).alias("g"),
        )
    )
    # one count per (doc, gram) then corpus totals from the partials —
    # the corpus table is vocabulary-keyed, not corpus-sized
    per_doc = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    corpus = per_doc.groupBy("g").agg(F.sum("c").alias("cf"))
    return (
        per_doc.join(corpus, "g")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("cf") < rare_below, F.col("c")).otherwise(0)).alias(
                "n_rare"
            ),
        )
        .withColumn("rare_frac", F.col("n_rare") / F.col("n_grams"))
    )


def ngram_diversity(
    docs: DataFrame,
    ns: tuple[int, ...] = (1, 2, 3),
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus DIVERSITY report (the distinct-n metric): per group and
    n-gram order, the fraction of n-gram occurrences that are distinct
    strings — the standard template/spam detector in corpus curation
    (a slice full of boilerplate repeats the same n-grams, so its
    distinct share collapses while per-document quality scores can
    still look fine; the complement of `rare_ngram_profile`, which
    scores documents against the corpus rather than slices against
    themselves).

    ONE scan: each document emits (n, gram) pairs for every requested
    order via a flattened array-of-structs projection (no per-n rescan,
    no join), then a single (group, n) aggregate counts occurrences and
    distinct grams.  ``distinct_bp = 10⁴·distinct DIV total`` in exact
    integers, so the whole report hash-compares against a SQL oracle.

    Returns (grp, n, total, n_distinct, distinct_bp) — one row per
    group × order with at least one n-gram.
    """
    from gather_datawarehouse_sync_spark.functions.text import (
        ascii_tokens,
        ngrams_from_tokens,
    )
    from gather_datawarehouse_sync_spark.session import spread

    if not ns or any(n < 1 for n in ns):
        raise ValueError("ns must be non-empty positive ints")
    def _tagged(order: int):
        # a plain one-arg lambda: F.transform treats a two-arg lambda as
        # (element, index), so binding the order via a default argument
        # would capture the index column instead
        return F.transform(
            ngrams_from_tokens(F.col("__toks"), order),
            lambda g: F.struct(F.lit(order).alias("n"), g.alias("g")),
        )

    tagged = F.flatten(F.array(*[_tagged(n) for n in sorted(set(ns))]))
    # tokenize ONCE in a projection below the explode (r19): the inlined
    # form re-ran the regex split 3× per order — 9 tokenizations per
    # document for the default three-order scan (GenerateExec has no
    # subexpression elimination; verbatim in the r19 before-plan)
    pairs = (
        spread(docs)
        .select(
            F.col(by).alias("grp"),
            ascii_tokens(F.col(text_col)).alias("__toks"),
        )
        .select("grp", F.explode(tagged).alias("p"))
        .select("grp", F.col("p.n").alias("n"), F.col("p.g").alias("g"))
    )
    return (
        pairs.groupBy("grp", "n")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_distinct("g").alias("n_distinct"),
        )
        .withColumn(
            "distinct_bp",
            F.expr("10000 * n_distinct DIV total").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-shaped data selection (hashed n-gram importance weights)
# ---------------------------------------------------------------------------

def dsir_bucket_ratios(
    source: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n: int = 2,
    buckets: int = 8192,
    scale: int = 1_000_000,
) -> DataFrame:
    """Hashed-n-gram importance ratios for DSIR-style data selection
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — the published recipe: featurize text as
    hashed n-gram counts, weigh raw data by how target-like it is).

    Both corpora's word-``n``-gram occurrences hash into ``buckets``
    cells (PORTABLE md5 bucket — 60 bits of ``md5(gram)`` mod
    ``buckets``, re-derivable in DuckDB/Python, same contract as
    ``sampling._portable_bucket``); the per-bucket importance ratio is

        ratio_ppm = ((tgt_b + 1) * scale) DIV (src_b + 1)

    — add-one smoothed, INTEGER-exact (no float crosses the engine
    boundary).  The textbook ratio carries a per-corpus normalization
    constant ``(S+B)/(T+B)``; it multiplies every bucket identically,
    so SELECTION order is unchanged without it — dropping it keeps the
    arithmetic inside int64 for targets up to ~10¹² grams
    (``(tgt_b+1)·scale < 2⁶³``).  Returns (bucket, ratio_ppm), at most
    ``buckets`` rows — broadcast-sized by construction, whatever the
    corpus size.

    Scale shape: two explode → hash-aggregate passes (map-side
    combined, keyed by ≤ ``buckets`` values) + one tiny outer join; no
    windows, no skew surface (bucket cardinality is the knob)."""
    if buckets <= 0 or scale <= 0:
        raise ValueError("buckets and scale must be positive")

    def _counts(df: DataFrame, alias: str) -> DataFrame:
        from gather_datawarehouse_sync_spark.functions.text import (
            ascii_tokens,
            ngrams_from_tokens,
        )
        from gather_datawarehouse_sync_spark.session import spread

        # token projection below the explode — see ngrams_from_tokens (r19)
        gram = F.explode(ngrams_from_tokens(F.col("__toks"), n)).alias(
            "__gram"
        )
        return (
            spread(df)
            .select(ascii_tokens(F.col(text_col)).alias("__toks"))
            .select(gram)
            .select(
                F.pmod(
                    F.conv(F.substring(F.md5(F.col("__gram")), 1, 15), 16, 10)
                    .cast("long"),
                    F.lit(buckets),
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    src = _counts(source, "src_b")
    tgt = _counts(target, "tgt_b")
    return (
        src.join(tgt, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("src_b", F.lit(0)).alias("src_b"),
            F.coalesce("tgt_b", F.lit(0)).alias("tgt_b"),
        )
        .withColumn(
            "ratio_ppm",
            F.expr(f"(tgt_b + 1) * CAST({scale} AS BIGINT) DIV (src_b + 1)"),
        )
        .select("bucket", "src_b", "tgt_b", "ratio_ppm")
    )


def dsir_weights(
    docs: DataFrame,
    ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = 8192,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document DSIR importance weights against a precomputed
    :func:`dsir_bucket_ratios` table: each document's gram occurrences
    look up their bucket ratio and SUM — ``weight_ppm`` — plus the
    length-normalized ``avg_ppm = weight_ppm DIV n_grams`` (the
    selection score; the raw sum favors long documents).  Documents
    with no grams carry zero weight (never selected above any scored
    doc).

    Grams whose bucket is ABSENT from ``ratios`` (scoring against a
    table built from a DIFFERENT corpus — the precomputed-table use
    case) take the add-one-smoothed unseen-bucket ratio
    ``(0+1)·scale DIV (0+1) = scale`` via a left join + coalesce, the
    exact value :func:`dsir_bucket_ratios` would emit for an
    all-unseen bucket; pass the SAME ``scale`` the ratios table was
    built with.  An inner join here would silently drop those grams
    from both ``n_grams`` and ``weight_ppm``, skewing scores.

    The ratios table is ≤ ``buckets`` rows — the join broadcasts; the
    per-doc sum is one map-combinable aggregate.  Everything integer:
    the scores hash identically on any engine."""
    if scale <= 0:
        raise ValueError("scale must be positive")
    from gather_datawarehouse_sync_spark.functions.text import (
        ascii_tokens,
        ngrams_from_tokens,
    )
    from gather_datawarehouse_sync_spark.session import spread

    # token projection below the explode — see ngrams_from_tokens (r19)
    grams = (
        spread(docs)
        .select(F.col(id_col), ascii_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(ngrams_from_tokens(F.col("__toks"), n)).alias("__gram"),
        )
    )
    bucketed = grams.select(
        id_col,
        F.pmod(
            F.conv(F.substring(F.md5(F.col("__gram")), 1, 15), 16, 10)
            .cast("long"),
            F.lit(buckets),
        ).alias("bucket"),
    )
    scored = (
        bucketed.join(
            F.broadcast(ratios.select("bucket", "ratio_ppm")), "bucket", "left"
        )
        .withColumn(
            "ratio_ppm", F.coalesce("ratio_ppm", F.lit(scale).cast("long"))
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("ratio_ppm").cast("long").alias("weight_ppm"),
        )
        .withColumn("avg_ppm", F.expr("weight_ppm DIV n_grams"))
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("weight_ppm", F.lit(0)).cast("long").alias("weight_ppm"),
            F.coalesce("avg_ppm", F.lit(0)).cast("long").alias("avg_ppm"),
        )
    )
