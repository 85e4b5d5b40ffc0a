"""Text-analysis functions for the LLM-pipeline extension surface
(SURVEY §2.14): token counting, quality scoring, language ID,
document fingerprinting.  No reference counterpart — the reference's
only string processing is path manipulation (SURVEY §2.9 F1-F9,
``functions/scalar.py``).

Everything here is built-in-expression based (codegen'd, JVM-side); the
one pandas UDF (``token_count_udf``) exists to exercise the UDF parity
path (Q41) and as the template for genuinely Python-only logic.

This module owns the oracle tokenizer (:func:`ascii_tokens`, the
``[^a-z0-9]+`` split every DuckDB oracle runs) and the one word-window
builder (:func:`ngrams_from_tokens`).  The gram helpers
(:func:`repetition_bp`, :func:`duplicate_ngram_fraction`,
:func:`fingerprint`) take a token-array column: callers project the
tokens once per document, so no helper can re-tokenize per gram.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny per-language stopword lists for the n-gram language heuristic.
# Deterministic and dependency-free; a real deployment would swap in a
# fastText/CLD3 pandas UDF behind the same column contract.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es": ("el", "la", "los", "que", "es", "una", "para", "con"),
}


def tokens(text: Column) -> Column:
    """Unicode word tokenization, lowercased: splits on anything but
    letters, digits and apostrophes.  Not the oracle tokenizer — a
    result that must match a DuckDB oracle uses :func:`ascii_tokens`."""
    return F.array_remove(F.split(F.lower(text), r"[^\p{L}\p{N}']+"), "")


def ascii_tokens(text: Column) -> Column:
    """THE oracle-parity tokenizer (``[^a-z0-9]+`` split, lowercased) —
    byte-identical to the DuckDB ``regexp_split_to_array`` every
    registered oracle runs.  The package's only definition of the
    cross-engine tokenization contract (``tests/test_dead_code.py``
    pins the pattern to this one literal); every oracle-facing
    consumer imports this."""
    return F.array_remove(F.split(F.lower(text), r"[^a-z0-9]+"), "")


def token_count(text: Column) -> Column:
    """Token count via built-ins (the fast path Q41 compares against)."""
    return F.size(F.array_remove(F.split(text, r"\s+"), ""))


@F.pandas_udf(T.IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    """Arrow-vectorized token counter (Q41's UDF-parity path).

    Deliberately identical semantics to :func:`token_count` — whitespace
    split, empties dropped — so the two can be cross-checked."""
    return text.str.split().str.len().fillna(0).astype("int32")


# GPT-2-style pre-tokenizer regex, restricted to constructs RE2 also
# supports (no lookahead, no unicode property classes) so the DuckDB
# oracle can run the byte-identical pattern: contraction suffixes, then
# optionally-space-prefixed letter / digit / symbol runs.
BPE_SPLIT_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization: the merge-free first stage of a GPT-2
    tokenizer (regex split into contraction/word/number/symbol pieces).
    A real BPE would follow with vocab merges per piece; piece counts are
    already the standard cheap length signal for training-data curation."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), F.lit(0))


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def quality_score(text: Column) -> Column:
    """Heuristic document quality ∈ [0,1]: blends length, alphabetic
    ratio, mean word length sanity, and punctuation balance — the usual
    cheap pre-filter in training-data pipelines (C4-style rules)."""
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    n_tokens = token_count(text)
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(0.0)
    mean_word = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(0.0)
    word_ok = F.when((mean_word >= 3) & (mean_word <= 12), 1.0).otherwise(0.5)
    len_ok = F.when(n_chars >= 200, 1.0).otherwise(n_chars / 200.0)
    return F.round(alpha_ratio * 0.4 + word_ok * 0.3 + len_ok * 0.3, 4)


# Memo for pure-Column builders (r18): quality_score_bp and
# gopher_rules construct large expression trees — hundreds of py4j
# round trips per call, measured at ~90 ms and ~320 ms of pure driver
# time respectively — and the curation/dedup queries rebuild them with
# the SAME input expression every bench/oracle pass.  Column objects
# are immutable expression wrappers resolved per-plan by name, so an
# identical (application, input expression, params) build can be
# reused verbatim.  Keyed by applicationId so a fresh JVM never sees a
# dead context's expression handles.  Bounded (r19): on a miss, entries
# from other (dead) applications are evicted, and past a size cap the
# least-recently-used entries go — a long-lived multi-session driver can
# no longer grow it without bound (per-exprId keys from df['col']
# columns were the accumulation vector), and a churn of one-off keys
# cannot flush the hot builds.
_COLUMN_MEMO: OrderedDict = OrderedDict()
_COLUMN_MEMO_MAX = 512
# process-wide: any driver thread may build a memoized column
_COLUMN_MEMO_LOCK = threading.Lock()


def _memo_column(fn_name: str, text: Column, params: tuple, build):
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        key = (sc.applicationId, fn_name, text._jc.toString(), params)
    except Exception:
        return build()
    with _COLUMN_MEMO_LOCK:
        hit = _COLUMN_MEMO.get(key)
        if hit is not None:
            _COLUMN_MEMO.move_to_end(key)
            return hit
    hit = build()
    with _COLUMN_MEMO_LOCK:
        for k in [k for k in _COLUMN_MEMO if k[0] != key[0]]:
            del _COLUMN_MEMO[k]
        while len(_COLUMN_MEMO) >= _COLUMN_MEMO_MAX:
            _COLUMN_MEMO.popitem(last=False)
        _COLUMN_MEMO[key] = hit
    return hit


def quality_score_bp(text: Column) -> Column:
    """:func:`quality_score` re-expressed in exact integer BASIS POINTS
    (0-10000) — same blend (alpha ratio 40%, mean-word-length sanity
    30%, length 30%), but every term is integer arithmetic so the score
    is bit-identical across engines and summation orders (the
    x_quality_int pattern), making the operator fully
    oracle-comparable:

    - ``alpha_bp  = 4000·n_alpha DIV n_chars`` (0 for empty text); the
      letter class is ASCII ``[A-Za-z]`` so the regex is byte-identical
      in Java and RE2/DuckDB (the float variant's ``\\p{L}`` has no
      portable RE2 twin).
    - ``word_bp   = 3000`` when ``3 ≤ n_chars/n_tokens ≤ 12`` — in
      integer form ``3·n_tokens ≤ n_chars ≤ 12·n_tokens`` with
      ``n_tokens > 0`` — else ``1500`` (exactly the float variant's
      1.0/0.5 word_ok).
    - ``len_bp    = 3000`` at ``n_chars ≥ 200``, else ``15·n_chars``
      (3000·n/200 is exact: 3000/200 = 15).

    Integer division is realized as ``(a − a mod b)/b``: the numerator
    is an exact multiple of b, so the double division is exact for any
    count < 2⁵³ — no DIV-operator dependency, no float rounding.
    Counts are widened to BIGINT before any multiply: ``length`` is
    INT, and ``n_alpha·4000`` overflows int32 at ~0.5 MB of text —
    routine web-document size; under Spark 4's default ANSI mode that
    is a query-killing ArithmeticException, not a wrap.

    Cross-engine caveat (documented, same class as the ascii letter
    set): the token count splits on ``\\s+`` — Java's ``\\s`` and
    RE2's differ on exotic whitespace (``\\x0B``, unicode spaces), so
    the oracle identity is byte-exact on ASCII-space corpora and
    approximate off it."""
    return _memo_column(
        "quality_score_bp", text, (), lambda: _quality_score_bp(text)
    )


def _quality_score_bp(text: Column) -> Column:
    n_chars = F.length(text).cast("bigint")
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("bigint")
    n_tokens = token_count(text).cast("bigint")

    def _idiv(a: Column, b: Column) -> Column:
        return ((a - F.pmod(a, b)) / b).cast("bigint")

    alpha_bp = F.when(n_chars > 0, _idiv(n_alpha * 4000, n_chars)).otherwise(
        F.lit(0).cast("bigint")
    )
    word_ok = (n_tokens > 0) & (n_chars >= 3 * n_tokens) & (n_chars <= 12 * n_tokens)
    word_bp = F.when(word_ok, 3000).otherwise(1500).cast("bigint")
    len_bp = (
        F.when(n_chars >= 200, 3000).otherwise(15 * n_chars).cast("bigint")
    )
    return (alpha_bp + word_bp + len_bp).cast("bigint")


def repetition_bp(toks: Column, n: int = 3) -> Column:
    """Gopher-style duplicated-``n``-gram fraction in exact integer
    basis points: ``10000·(total_grams − distinct_grams) DIV
    total_grams`` (0 for docs shorter than ``n`` tokens).  Complements
    the top-gram share (x_top_ngram) as the second standard repetition
    quality rule; zero shuffle — one scan-side projection — and exact
    integers, so it hash-compares against a DuckDB oracle when ``toks``
    is a projected :func:`ascii_tokens` column."""
    g = ngrams_from_tokens(toks, n)
    # widen to BIGINT before the ×10000: size() is INT and a ~215k-gram
    # doc overflows int32 (ANSI crash on Spark 4 defaults)
    total = F.size(g).cast("bigint")
    rep = total - F.size(F.array_distinct(g)).cast("bigint")
    return (
        F.when(total > 0, ((rep * 10000 - F.pmod(rep * 10000, total)) / total))
        .otherwise(0)
        .cast("bigint")
    )


# The Gopher rule-battery stopword set (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", §A.1.1): a document must contain at
# least two of these to pass the stop-word rule.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the",
    "be",
    "to",
    "of",
    "and",
    "that",
    "have",
    "with",
)

# Bit positions for gopher_rules' fail_mask (bit set = rule FAILED).
GOPHER_RULE_BITS: tuple[str, ...] = (
    "word_count",  # bit 0
    "mean_word_len",  # bit 1
    "symbol_ratio",  # bit 2
    "bullet_lines",  # bit 3
    "ellipsis_lines",  # bit 4
    "alpha_words",  # bit 5
    "stopwords",  # bit 6
)


def gopher_rules(
    text: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_centi: int = 300,
    max_mean_word_centi: int = 1000,
    max_symbol_bp: int = 1000,
    max_bullet_bp: int = 9000,
    max_ellipsis_bp: int = 3000,
    min_alpha_word_bp: int = 8000,
    min_stop_hits: int = 2,
) -> Column:
    """The published Gopher rule battery (Rae et al. 2021 §A.1.1) as one
    scan-side struct — per-rule integer measures plus a fail bitmask, the
    per-document verdict table a curation pipeline materializes so a
    drop is attributable to a NAMED rule, not an opaque score (the
    complement of the blended :func:`quality_score_bp`).

    Rules, defaults = the published thresholds (keep when):

    - ``word_count``:    ``min_words ≤ n_words ≤ max_words`` (50..100k)
    - ``mean_word_len``: mean word length in [3, 10] chars — integer
      form ``mean_word_centi = 100·word_chars DIV n_words ∈ [300,1000]``
    - ``symbol_ratio``:  the paper gates the hash-per-word ratio and
      the (non-overlapping) ``...``-per-word ratio EACH at 0.1
      ("either"); ``symbol_bp`` is the MAX of the two ratios, so
      ``symbol_bp ≤ 1000`` ≡ both ratios ≤ 0.1 — one field, same bit
    - ``bullet_lines``:  ≤ 90 % of lines start with a bullet
      (``-``/``*``/``•`` after optional blanks) → ``bullet_bp ≤ 9000``
    - ``ellipsis_lines``: ≤ 30 % of lines end with ``...`` →
      ``ellipsis_bp ≤ 3000``
    - ``alpha_words``:   ≥ 80 % of words contain ≥ 1 ASCII letter →
      ``alpha_word_bp ≥ 8000``
    - ``stopwords``:     ≥ 2 distinct hits from :data:`GOPHER_STOPWORDS`

    Every measure is exact integer arithmetic (the x_quality_int
    pattern) and every count comes from a codegen'd built-in — NO
    higher-order functions (the SCALE.md round-9 lesson): words-with-
    a-letter is ``n_words − tokens(text with alpha-words regexp-deleted)``,
    line counts are anchored ``(?m)`` regexp counts, and the line total
    is ``1 + count('\\n')``.  All regexes are RE2-portable (ASCII
    classes, no lookaround), so a DuckDB oracle reproduces every field
    bit-for-bit; like :func:`quality_score_bp`, the letter class is
    ASCII by contract.

    Returns a struct: ``n_words, mean_word_centi, symbol_bp, bullet_bp,
    ellipsis_bp, alpha_word_bp, stop_hits, fail_mask, passed`` —
    ``fail_mask`` bit ``i`` set = :data:`GOPHER_RULE_BITS[i]` failed;
    ``passed = (fail_mask = 0)``.  Thresholds are keyword parameters so
    a corpus with a different register (the sf* synthetic tables, code,
    chat) tunes bounds without forking the operator."""
    params = (
        min_words,
        max_words,
        min_mean_word_centi,
        max_mean_word_centi,
        max_symbol_bp,
        max_bullet_bp,
        max_ellipsis_bp,
        min_alpha_word_bp,
        min_stop_hits,
    )
    return _memo_column(
        "gopher_rules",
        text,
        params,
        lambda: _gopher_rules_build(text, *params),
    )


def _gopher_rules_build(
    text: Column,
    min_words: int,
    max_words: int,
    min_mean_word_centi: int,
    max_mean_word_centi: int,
    max_symbol_bp: int,
    max_bullet_bp: int,
    max_ellipsis_bp: int,
    min_alpha_word_bp: int,
    min_stop_hits: int,
) -> Column:
    zero = F.lit(0).cast("bigint")

    def _idiv(a: Column, b: Column) -> Column:
        # exact integer division (a − a mod b)/b — see quality_score_bp
        return ((a - F.pmod(a, b)) / b).cast("bigint")

    n_words = token_count(text).cast("bigint")
    word_chars = F.length(F.regexp_replace(text, r"\s+", "")).cast("bigint")
    mean_word_centi = F.when(n_words > 0, _idiv(word_chars * 100, n_words)).otherwise(
        zero
    )

    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))).cast(
        "bigint"
    )
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), F.lit(0))).cast(
        "bigint"
    )
    # Rae et al. gate EACH symbol ratio at the threshold ("greater than
    # 0.1 for either the hash symbol or the ellipsis") — max of the two
    # per-word ratios keeps the single-field struct while making
    # symbol_bp > max_symbol_bp exactly the paper's "either" test.
    symbol_bp = F.when(
        n_words > 0,
        F.greatest(
            _idiv(n_hash * 10000, n_words), _idiv(n_ellipsis * 10000, n_words)
        ),
    ).otherwise(zero)

    n_lines = (
        F.lit(1).cast("bigint")
        + (F.length(text) - F.length(F.replace(text, F.lit("\n"), F.lit("")))).cast(
            "bigint"
        )
    )
    n_bullet = F.size(
        F.regexp_extract_all(text, F.lit(r"(?m)^[ \t]*[-*•]"), F.lit(0))
    ).cast("bigint")
    n_ell_end = F.size(
        F.regexp_extract_all(text, F.lit(r"(?m)\.\.\.[ \t]*$"), F.lit(0))
    ).cast("bigint")
    bullet_bp = _idiv(n_bullet * 10000, n_lines)
    ellipsis_bp = _idiv(n_ell_end * 10000, n_lines)

    # words containing ≥1 ASCII letter, HOF-free: delete every
    # whitespace-delimited token that contains a letter ([^\s]* cannot
    # cross whitespace, so each match is exactly one word), re-count
    non_alpha_words = token_count(
        F.regexp_replace(text, r"[^\s]*[A-Za-z][^\s]*", "")
    ).cast("bigint")
    alpha_words = n_words - non_alpha_words
    alpha_word_bp = F.when(n_words > 0, _idiv(alpha_words * 10000, n_words)).otherwise(
        zero
    )

    lowered = F.lower(text)
    stop_hits = sum(
        (
            F.when(lowered.rlike(rf"\b{w}\b"), 1).otherwise(0).cast("bigint")
            for w in GOPHER_STOPWORDS
        ),
        start=zero,
    )

    fails = [
        (n_words < min_words) | (n_words > max_words),
        (mean_word_centi < min_mean_word_centi)
        | (mean_word_centi > max_mean_word_centi),
        symbol_bp > max_symbol_bp,
        bullet_bp > max_bullet_bp,
        ellipsis_bp > max_ellipsis_bp,
        alpha_word_bp < min_alpha_word_bp,
        stop_hits < min_stop_hits,
    ]
    fail_mask = sum(
        (F.when(c, 1 << i).otherwise(0).cast("bigint") for i, c in enumerate(fails)),
        start=zero,
    )

    return F.struct(
        n_words.alias("n_words"),
        mean_word_centi.alias("mean_word_centi"),
        symbol_bp.alias("symbol_bp"),
        bullet_bp.alias("bullet_bp"),
        ellipsis_bp.alias("ellipsis_bp"),
        alpha_word_bp.alias("alpha_word_bp"),
        stop_hits.alias("stop_hits"),
        fail_mask.alias("fail_mask"),
        (fail_mask == 0).alias("passed"),
    )


def language_guess(text: Column, ascii_only: bool = False) -> Column:
    """n-gram/stopword language heuristic: score each candidate language
    by marker-token hits; highest count wins, 'und' (undetermined) when
    nothing matches.  Pure expression — one pass, no shuffle, no UDF.

    ``ascii_only=True`` tokenizes on the RE2-portable ``[^a-z0-9']+``
    class instead of the unicode ``\\p{L}\\p{N}`` default — required
    when the result must hash-compare against a DuckDB oracle (the
    x_doc_profile contract): the unicode class has no byte-identical
    RE2 twin, so on non-ASCII text the engines would tokenize (and so
    score) differently.  The marker vocabularies are ASCII, so on ASCII
    corpora both modes agree."""
    toks = (
        F.array_remove(F.split(F.lower(text), r"[^a-z0-9']+"), "")
        if ascii_only
        else tokens(text)
    )

    # closure factory, not a default-arg lambda: a 2-parameter lambda is
    # interpreted by F.filter as (element, index) and the marker list
    # would arrive as an index Column
    def _marker_hits(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = [
        (lang, _marker_hits(markers)) for lang, markers in _LANG_MARKERS.items()
    ]
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reverse order so earlier languages win ties
    for lang, score in reversed(scores):
        expr = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(
            expr
        )
    return expr


def fingerprint(toks: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint over a token-array column:
    xxhash64 of each word ``window``-gram, keep the minimum — a stable
    rolling-hash signature used for cheap containment checks.  A
    document shorter than ``window`` hashes its whole joined token
    string (``""`` when it has no tokens)."""
    return F.coalesce(
        F.array_min(
            F.transform(ngrams_from_tokens(toks, window), lambda g: F.xxhash64(g))
        ),
        F.xxhash64(F.concat_ws(" ", toks)),
    )


def split_sentences_udtf():
    """Python UDTF (SURVEY §2.13): one input document → N sentence rows.

    The table-function shape Spark's generators can't express when the
    split logic is genuinely Python (here a regex for demonstration; the
    slot is for sentence models).  Returns the UDTF class for
    registration; see :func:`explode_sentences` for the lateral-join
    wiring.
    """
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence string, n_tokens int")
    class SplitSentences:
        def eval(self, text: str):
            for raw in _re.split(r"[.!?]+", text or ""):
                s = raw.strip()
                if s:
                    yield s, len(s.split())

    return SplitSentences


def explode_sentences(df, text_col: str = "text", id_col: str = "doc_id"):
    """Lateral-join a document frame through the sentence UDTF:
    (id, sentence, n_tokens) — one row per sentence."""
    spark = df.sparkSession
    spark.udtf.register("split_sentences", split_sentences_udtf())
    df.createOrReplaceTempView("__sentences_src")
    return spark.sql(
        f"SELECT {id_col}, s.sentence, s.n_tokens "
        f"FROM __sentences_src, LATERAL split_sentences({text_col}) s"
    )


def ngrams_from_tokens(toks: Column, n: int = 2) -> Column:
    """ALL word n-grams (non-distinct, in order) over a token-array
    column — the package's one word-window builder.  Empty for a
    document shorter than ``n`` tokens; ``n ≤ 1`` is the token array
    itself.

    Pass a projected token attribute (``ascii_tokens(text).alias(...)``
    one projection below), never a tokenizer expression: the array is
    referenced inside the ``transform`` lambda, and Spark evaluates a
    lambda body once per ELEMENT with no subexpression elimination, so
    an inlined tokenizer would re-run its regex split once per gram.
    The projection survives CollapseProject because this expression
    references it more than once.
    """
    # guard short docs: sequence(1, 0) DESCENDS to [1, 0] and slice
    # throws on start=0 — emit an empty array instead
    if n <= 1:
        # the n=1 transform is the identity on a clean token array
        return toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duplicate_ngram_fraction(toks: Column, n: int = 2) -> Column:
    """Gopher-style repetition signal over a token-array column: the
    fraction of word ``n``-grams that are repeats of an earlier
    occurrence (1 − distinct/total).  High values mark
    boilerplate/templated text.  Pure expression — exact integer
    ratio, so the double is bit-stable across engines."""
    grams = ngrams_from_tokens(toks, n)
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / total,
    ).otherwise(0.0)


def dedup_repeated_units(text: Column, sep: str = " ") -> Column:
    """Intra-document repetition REMOVAL (the transform counterpart of
    :func:`duplicate_ngram_fraction`'s signal): split on ``sep``, drop
    every repeat of an earlier unit, reassemble in original order —
    Gopher-style repeated-line/paragraph removal when ``sep`` is a
    newline, demonstrated at token granularity on this corpus (which
    has no line structure).

    ``array_distinct`` keeps FIRST-occurrence order (the DuckDB oracle
    needs an explicit min-position window for the same semantics —
    ``list_distinct`` there is unordered).  Pure expression: zero
    shuffle, applies at the scan.
    """
    import re as _re

    return F.concat_ws(
        sep, F.array_distinct(F.split(text, _re.escape(sep)))
    )


#: Redaction patterns, applied in order (email before phone so the
#: digit-run in a mail host is not half-eaten by the phone pattern).
#: RE2-compatible (no lookaround, no \d/\b) so the DuckDB oracle runs
#: the byte-identical pattern with the 'g' flag.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    (r"\+?[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Scrub emails, IPv4 addresses, and phone-like digit runs to typed
    placeholders — the standard pre-training privacy pass.  Chained
    ``regexp_replace`` (codegen'd, one projection); patterns are shared
    with the SQL oracle via :data:`PII_PATTERNS`."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


#: HTML-stripping passes, applied in order; RE2-compatible (no
#: lookaround, no backreferences) so the DuckDB oracle runs the
#: byte-identical patterns with the 'g' flag.  Order matters:
#: script/style bodies drop whole, then comments, then remaining tags,
#: then the common entities, then whitespace collapses.
HTML_STRIP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]+>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    # &amp; decodes LAST (standard order): doing it earlier turns
    # escaped entities in the source ('&amp;lt;' — the page displayed
    # '&lt;') into live ones and double-decodes them
    (r"&amp;", "&"),
    # explicit class, not \s: Java's \s includes \x0B, RE2/DuckDB's
    # does not — the one place 'byte-identical patterns' wouldn't be
    (r"[ \t\n\x0B\f\r]+", " "),
)


def strip_html(text: Column) -> Column:
    """Boilerplate-removal pass for crawl text: drop script/style
    bodies, comments, and tags; decode the common entities; collapse
    whitespace (trafilatura-lite — the extraction step every web-corpus
    pipeline runs before quality filtering).  Chained codegen'd
    ``regexp_replace``; patterns shared with the SQL oracle via
    :data:`HTML_STRIP_PATTERNS`."""
    out = text
    for pattern, repl in HTML_STRIP_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return F.trim(out)


def winnow_fingerprint_table(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
):
    """Winnowing fingerprints (Schleimer et al. 2003 shape) as a
    relation: (``id_col``, ``fp``) — distinct sliding-``window`` minima
    over each document's ordered word ``n``-grams.  Two documents
    sharing a passage of ≥ window+n-1 words are guaranteed to share a
    fingerprint — the containment / shared-passage detector that
    whole-document Jaccard dilutes away.

    Two design points that matter:

    - the window minimum is LEXICOGRAPHIC over gram strings (not a
      hash): strings compare identically in every engine, so a SQL
      oracle can mirror the selection byte-for-byte;
    - the sliding min is a SHUFFLE-FREE per-document array computation
      (r19): a sparse-table doubling of pairwise ``zip_with``/``least``
      minima — ⌈log₂ window⌉ chained projections, each a narrow
      elementwise pass over the gram array — then per-doc
      ``array_distinct`` + one explode of the (small) fingerprint set.
      The former shape posexploded EVERY gram and ran two window
      functions over a per-doc hash-partition (one full gram shuffle +
      sort); the distinct-(id, fp) shuffle is gone too, because
      distinctness is established inside the row.  Each doubling level
      lives in its OWN projection so the level below is a multiply-
      referenced non-cheap alias — CollapseProject therefore cannot
      inline it (the naive single-expression form
      ``transform(sequence(...), i -> array_min(slice(grams, i, w)))``
      re-built the gram array per window position, O(len²) per doc —
      measured >4 min at sf0.1 in the round that first hit it).

    Documents with fewer than ``window`` grams contribute each gram as
    its own fingerprint (standard winnowing short-input fallback).
    """
    from gather_datawarehouse_sync_spark.session import spread

    base = (
        spread(df)
        .select(F.col(id_col), ascii_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            ngrams_from_tokens(F.col("__toks"), n).alias("__g"),
        )
    )
    # sparse-table sliding minimum: level k holds the span-2^k minima
    # m_k[i] = min(g[i..i+2^k-1]); the final window-w minima combine two
    # OVERLAPPING spans (min is idempotent, overlap is harmless)
    cur = base
    m = "__g"
    span = 1
    lvl = 0
    while span * 2 <= window:
        # greatest(..., 0): the level columns are computed for EVERY row
        # (the short-doc CASE below picks per row), and slice() throws
        # on a negative length for docs shorter than the span
        half = F.greatest(F.size(F.col(m)) - F.lit(span), F.lit(0))
        cur = cur.select(
            F.col(id_col),
            "__g",
            F.zip_with(
                F.slice(F.col(m), 1, half),
                F.slice(F.col(m), 1 + span, half),
                lambda x, y: F.least(x, y),
            ).alias(f"__m{lvl}"),
        )
        m = f"__m{lvl}"
        span *= 2
        lvl += 1
    wmins = F.col(m)
    if span < window:
        length = F.greatest(
            F.size(F.col("__g")) - F.lit(window - 1), F.lit(0)
        )
        wmins = F.zip_with(
            F.slice(F.col(m), 1, length),
            F.slice(F.col(m), window - span + 1, length),
            lambda x, y: F.least(x, y),
        )
    return cur.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.when(F.size("__g") >= window, wmins).otherwise(F.col("__g"))
            )
        ).alias("fp"),
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams of ``text`` as given (for n-gram
    Jaccard on short strings; a caller that wants case folding projects
    ``lower(text)`` first, since the column is read inside the
    ``transform`` lambda once per gram).  Strings shorter than ``n``
    contribute themselves as one gram (the short-input fallback); the
    EMPTY string contributes nothing — the naive formulation yields
    ``[""]`` there, a phantom gram that makes any two empty strings
    Jaccard-identical."""
    return F.when(
        F.length(text) > 0,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(text) - F.lit(n - 1), F.lit(1)),
                ),
                lambda i: text.substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
