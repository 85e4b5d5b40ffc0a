"""Training-data curation pipeline: the composition layer.

Driver-mandated extension surface (SURVEY §2.14) — no reference
counterpart (the reference's only pipeline is the fixed sync sequence at
``src/DataWarehouse.js:67-258``, mirrored in ``sync/engine.py``).

Chains the curation stages every LLM-data pipeline runs — quality
filter, language filter, exact dedup, fuzzy dedup, train/test split —
into ONE lazy DataFrame DAG.  No stage materializes anything: Catalyst
sees the whole chain, pushes the cheap filters to the parquet scan,
prunes columns end-to-end, and the only shuffles are the ones the dedup
semantics require (one hash-partition for exact; the MinHash-LSH
band-join for fuzzy).  At 100 TB the filter stages are embarrassingly
parallel scan work; ordering them before dedup shrinks the shuffled
volume by the rejection rate.

The exact-dedup prefix of the pipeline is oracle-differential tested
(x_curation in the registry); the fuzzy stage rides the MinHash
machinery validated against exact Jaccard in ``tests/``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.operators.sampling import train_test_split


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_chars: int = 0,
    min_alpha_bp: int = 0,
) -> DataFrame:
    """Cheap JVM-side quality gate: minimum length + minimum alphabetic
    ratio in integer basis points (exact arithmetic — the same DIV
    formula the x_quality_int oracle runs)."""
    n = F.length(F.col(text_col))
    out = df.filter(n >= min_chars)
    if min_alpha_bp > 0:
        # widen to BIGINT before the multiply (the quality_score_bp
        # rule): length() is INT, and 10000·alpha overflows int32 at
        # alpha > 214,748 chars — a ~215 KB all-letters document would
        # silently wrap negative and be REJECTED regardless of quality
        alpha = F.length(
            F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")
        ).cast("bigint")
        # integer basis points: floor(10000·alpha / n), exact arithmetic
        alpha_bp = F.floor((F.lit(10000) * alpha) / n).cast("long")
        out = out.filter((n > 0) & (alpha_bp >= min_alpha_bp))
    return out


def language_filter(
    df: DataFrame, langs: Sequence[str], lang_col: str = "lang"
) -> DataFrame:
    """Keep documents in the given languages (declared-metadata column;
    swap in ``functions.text.language_guess`` when no metadata exists)."""
    return df.filter(F.col(lang_col).isin(list(langs)))


def exact_dedup_min_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Drop byte-identical duplicate texts, keeping the minimum id
    (deterministic canonical — same rule as D1's fixed tie-break).

    One hash AGGREGATE, not a per-text window: ``min(struct(id, …))``
    picks the min-id row and the remaining columns ride along in the
    struct.  Aggregation combines map-side, so the giant duplicate
    group every web corpus has (the empty/boilerplate page) never
    serializes a sort on one task the way ``partitionBy(text)`` would.
    Falls back to the window form only when a column type is not
    orderable inside a struct (a MapType anywhere in the type tree —
    including nested inside an array or struct, which fails struct-min
    at ANALYSIS time)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    cols = df.columns
    if any(_has_map(f.dataType) for f in df.schema.fields):
        w = Window.partitionBy(text_col).orderBy(id_col)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    others = [c for c in cols if c not in (text_col, id_col)]
    keep = df.groupBy(text_col).agg(
        F.min(F.struct(F.col(id_col), *[F.col(c) for c in others])).alias("__k")
    )
    return keep.select(
        *[
            F.col(text_col) if c == text_col else F.col(f"__k.{c}").alias(c)
            for c in cols
        ]
    )


def pretrain_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    min_chars: int = 0,
    min_alpha_bp: int = 0,
    classifier_threshold_milli: int | None = None,
    self_dedup: bool = False,
    mix_weights_milli: dict[str, int] | None = None,
    classifier_tokenizer=None,
) -> DataFrame:
    """Pretraining-mix construction as ONE lazy DAG, every stage
    hash-verifiable: heuristic quality rules → model-based classifier
    gate → intra-document repetition removal → corpus exact dedup →
    weighted source interleave.

    Unlike :func:`curate` (whose fuzzy/split stages are engine-hash
    based), every stage here is exact integer/string arithmetic, so the
    WHOLE pipeline is DuckDB-oracle-able end to end (x_pretrain_mix) —
    the differential covers stage *interaction* (a doc must pass the
    rules before the classifier sees it, dedup keys on the
    repetition-stripped text, mix ranks count survivors only), which
    per-stage tests cannot.

    Plan shape at 100 TB: both filters and the self-dedup rewrite are
    scan-side projections (zero shuffle, applied before anything
    moves); exact dedup is one hash-partition window on the deduped
    text; the interleave is one per-source window.  Catalyst sees the
    whole chain and prunes columns end-to-end.

    Returns (id, source, score_milli, src_rn, mix_key) — stream the mix
    by sorting on (mix_key, source, id), a range exchange.
    """
    from gather_datawarehouse_sync_spark.functions.classify import (
        classifier_score_milli,
    )
    from gather_datawarehouse_sync_spark.functions.text import (
        dedup_repeated_units,
    )
    from gather_datawarehouse_sync_spark.operators.sampling import (
        weighted_interleave,
    )

    out = df
    if min_chars or min_alpha_bp:
        out = quality_filter(out, text_col, min_chars, min_alpha_bp)
    if classifier_threshold_milli is not None:
        from gather_datawarehouse_sync_spark.functions.text import tokens

        tokenizer = classifier_tokenizer or tokens
        out = out.withColumn(
            "score_milli",
            classifier_score_milli(F.col(text_col), tokenizer=tokenizer),
        ).filter(F.col("score_milli") >= classifier_threshold_milli)
    else:
        out = out.withColumn("score_milli", F.lit(0).cast("long"))
    dedup_text = (
        dedup_repeated_units(F.col(text_col)) if self_dedup else F.col(text_col)
    )
    out = out.withColumn("__ptext", dedup_text)
    out = exact_dedup_min_id(out, id_col, "__ptext")
    out = weighted_interleave(
        out.select(id_col, source_col, "score_milli"),
        source_col,
        mix_weights_milli or {},
        id_col,
    )
    return out.select(id_col, source_col, "score_milli", "src_rn", "mix_key")


def release_index_gate(
    approx: DataFrame,
    exact: DataFrame,
    floors_bp: dict[int, int],
    fail_fast: bool = False,
) -> DataFrame:
    """Retrieval-quality ACCEPTANCE GATE for a corpus release: the
    drift-gate pattern (``operators/profile.distribution_drift``)
    applied to the serving index — before a release ships its
    corpus + index pair, recall@k of the serving tier against a
    reference tier must clear per-k floors, or the release job fails
    loudly instead of quietly shipping a degraded index.

    ``approx``/``exact`` are any two tier outputs in the shared
    (query_id, neighbor_id, rank) shape (``sq_topk``, ``ivf_sq_topk``,
    ``brute_force_topk``, ...); ``floors_bp`` maps k → minimum
    recall in basis points.  Returns the :func:`...similarity.
    recall_report` rows extended with (floor_bp, ok); with
    ``fail_fast=True`` any failing k raises AT EXECUTION TIME
    (``raise_error`` inside the plan — no extra pass, the same
    loud-failure convention as ``semantic_dedup``'s membership check),
    which is the mode a release job runs in.

    Cost: the gate is two bounded top-k tables joined once — never
    corpus-sized — so running it on every release is O(|eval queries|),
    the same cheap-insurance class as the drift gate.
    """
    from gather_datawarehouse_sync_spark.operators.similarity import (
        recall_report,
    )

    if not floors_bp:
        raise ValueError("release_index_gate: floors_bp must be non-empty")
    rep = recall_report(approx, exact, ks=tuple(sorted(floors_bp)))
    floor_map = F.create_map(
        *[
            F.lit(v)
            for k in sorted(floors_bp)
            for v in (int(k), int(floors_bp[k]))
        ]
    )
    out = rep.withColumn(
        "floor_bp", F.element_at(floor_map, F.col("k")).cast("long")
    )
    ok = F.col("recall_bp") >= F.col("floor_bp")
    if fail_fast:
        ok = F.when(
            ~ok,
            F.raise_error(
                F.concat(
                    F.lit("release_index_gate: recall@"),
                    F.col("k").cast("string"),
                    F.lit(" = "),
                    F.col("recall_bp").cast("string"),
                    F.lit(" bp below floor "),
                    F.col("floor_bp").cast("string"),
                    F.lit(" bp — do not ship this index"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    return out.withColumn("ok", ok)


def choose_nprobe(
    queries: DataFrame,
    centroids,
    lists: DataFrame,
    k: int = 10,
    target_recall_bp: int = 9000,
    nprobes: "Sequence[int] | None" = None,
    max_queries: int = 200,
    exact_cache_path: "str | None" = None,
):
    """Auto-tune the IVF×SQ probe width: the smallest ``nprobe`` whose
    recall@``k`` against the SQ exact tier clears ``target_recall_bp``,
    measured on a bounded held-out query sample — the operational
    answer to "what nprobe do I serve at for ≥ X% recall" that
    :func:`release_index_gate` certifies but does not pick.

    Both tiers read the SAME stored code lists, so the measurement
    isolates IVF probe loss from quantization loss (the x_ivfsq_recall
    protocol), and the top rung ``nprobe = nlist`` is exact-by-
    construction (full probe ≡ the SQ tier over identical codes,
    recall 10000 bp) — the default doubling ladder therefore always
    terminates with a passing rung.  Escalation exploits recall
    monotonicity in nprobe (a wider probe's candidate set is a
    superset, pinned in tests), so the first passing rung is the
    ladder's minimal one.

    Cost: the exact tier runs ONCE (persisted, ≤ ``max_queries``·k
    rows); each rung adds one DPP-pruned probe of the lists plus a
    bounded recall join — O(log nlist) rungs on the default ladder,
    never corpus-sized work.  ``exact_cache_path`` additionally stores
    the exact tier as a ``cached_parquet`` artifact, so a RECURRING
    chooser (the per-round dashboard query) pays the exact tier once
    per corpus version instead of once per run — the key must encode
    ``k``, the query sample, and the code-list artifact version, per
    the artifact_path contract.  Returns ``(chosen_nprobe, trials)``
    where ``trials`` is a DataFrame (nprobe, recall_bp, hits, total,
    chosen) covering every rung measured, for the SCALE.md trend line.
    """
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        sq_topk,
    )

    if not (0 < int(target_recall_bp) <= 10000):
        raise ValueError(
            f"choose_nprobe: target_recall_bp must be in (0, 10000], "
            f"got {target_recall_bp}"
        )
    nlist = int(np.asarray(centroids).shape[0])
    if nprobes is None:
        ladder, p = [], 1
        while p < nlist:
            ladder.append(p)
            p *= 2
        ladder.append(nlist)
    else:
        ladder = sorted({int(p) for p in nprobes})
        if not ladder or ladder[0] < 1 or ladder[-1] > nlist:
            raise ValueError(
                f"choose_nprobe: nprobes must be within [1, nlist={nlist}]"
            )
    # Spark's LIMIT without ORDER BY is plan/partition-dependent, so an
    # unordered limit would sample DIFFERENT held-out queries run to
    # run — the measured recall, and hence the chosen nprobe, would be
    # non-reproducible on identical data.  Order by the query id first
    # — a TakeOrderedAndProject over the bounded queries frame (full
    # query rows, vectors included, but ≤ max_queries of them and the
    # frame is itself |queries|-sized — never corpus work).
    q = queries.orderBy("vec_id").limit(int(max_queries))
    if exact_cache_path is not None:
        from gather_datawarehouse_sync_spark.sources.artifacts import (
            cached_parquet,
        )

        exact = cached_parquet(
            queries.sparkSession,
            exact_cache_path,
            lambda: sq_topk(
                q, None, k=k,
                codes=lists.select("vec_id", "codes", "scale_micro"),
            ),
        )
    else:
        exact = sq_topk(
            q, None, k=k, codes=lists.select("vec_id", "codes", "scale_micro")
        ).persist()
    try:
        # Measure EVERY sub-nlist rung from ONE candidate pass + ONE
        # collect (r18): probing is a stable argsort, so the widest
        # rung's candidate stream reproduces each narrower rung as a
        # probe-rank filter (ivf_sq_topk_ladder) — where the escalation
        # loop paid one full probe+score+recall-join+collect PER rung
        # measured.  The escalation SEMANTICS are unchanged: trials
        # still lists exactly the ladder prefix through the first
        # passing rung, computed from the same per-rung recalls an
        # independent run would produce (parity pinned in tests).
        sub = [p for p in ladder if p < nlist]
        measured: dict[int, tuple[int, int, int]] = {}
        if sub:
            from gather_datawarehouse_sync_spark.operators.similarity import (
                ivf_sq_topk_ladder,
            )

            lad = (
                ivf_sq_topk_ladder(q, centroids, lists, k=k, nprobes=sub)
                .select("nprobe", "query_id", "neighbor_id")
                .withColumn("__hit", F.lit(1))
            )
            rungs_df = queries.sparkSession.createDataFrame(
                [(int(p),) for p in sub], "nprobe int"
            )
            ref = exact.select("query_id", "neighbor_id")
            per = (
                ref.crossJoin(F.broadcast(rungs_df))
                .join(lad, ["nprobe", "query_id", "neighbor_id"], "left")
                .groupBy("nprobe")
                .agg(
                    F.count(F.lit(1)).alias("total"),
                    F.count("__hit").alias("hits"),
                )
                .collect()
            )
            for row in per:
                t, h = int(row["total"]), int(row["hits"])
                measured[int(row["nprobe"])] = (
                    (10000 * h) // t if t > 0 else 0,
                    h,
                    t,
                )
            # a rung with an empty reference reports (0, 0, 0) like
            # recall_report does
            for p in sub:
                measured.setdefault(p, (0, 0, 0))
        trials, chosen = [], None
        for p in ladder:
            if p >= nlist:
                # full probe ≡ the SQ exact tier over the same stored
                # codes (pinned in tests): recall is 10000 bp by
                # CONSTRUCTION — record the invariant instead of paying
                # a Spark job to re-derive it; total = the reference
                # pair count — reuse the measured rungs' total where
                # one exists (it IS the reference pair count), else one
                # bounded count on the persisted tier
                totals = [t for _, _, t in measured.values() if t > 0]
                total = totals[0] if totals else exact.count()
                trials.append((p, 10000, total, total))
                chosen = p
                break
            recall_bp, hits, total = measured[p]
            trials.append((p, recall_bp, hits, total))
            if recall_bp >= target_recall_bp:
                chosen = p
                break
        if chosen is None:
            raise ValueError(
                f"choose_nprobe: no rung of {ladder} reaches "
                f"{target_recall_bp} bp recall@{k} (best: {trials[-1][1]} "
                f"bp at nprobe={trials[-1][0]}) — include nprobe=nlist "
                "in the ladder for a guaranteed-exact top rung"
            )
    finally:
        if exact_cache_path is None:
            exact.unpersist()
    report = queries.sparkSession.createDataFrame(
        [(*t, t[0] == chosen) for t in trials],
        "nprobe int, recall_bp long, hits long, total long, chosen boolean",
    )
    return chosen, report


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: Sequence[str] | None = None,
    min_chars: int = 0,
    min_alpha_bp: int = 0,
    fuzzy_threshold: float | None = None,
    test_fraction: float | None = None,
    fuzzy_hash_mode: str = "xxhash",
    split_method: str = "xxhash64",
) -> DataFrame:
    """The full curation chain; every stage optional, all lazy.

    Order matters for cost, not semantics: filters first (scan-parallel,
    shrink everything downstream), exact dedup next (one shuffle), fuzzy
    dedup on the survivors (the expensive stage sees the smallest input),
    split last (adds a column, no shuffle).

    ``fuzzy_hash_mode="portable"`` + ``split_method="md5"`` make the
    ONLY two engine-hash stages engine-reproducible (the minhash /
    split portable contracts), so the whole chain — filters and exact
    dedup were always integer/string-exact — carries a full value
    oracle (x_curation_full).
    """
    out = df
    if min_chars or min_alpha_bp:
        out = quality_filter(out, text_col, min_chars, min_alpha_bp)
    if langs:
        out = language_filter(out, langs)
    out = exact_dedup_min_id(out, id_col, text_col)
    if fuzzy_threshold is not None:
        from gather_datawarehouse_sync_spark.operators.dedup import minhash_dedup

        out = minhash_dedup(
            out,
            id_col=id_col,
            text_col=text_col,
            threshold=fuzzy_threshold,
            hash_mode=fuzzy_hash_mode,
        )
        out = out.filter(F.col("canon") == F.col(id_col)).drop("canon")
    if test_fraction is not None:
        out = train_test_split(out, id_col, test_fraction, method=split_method)
    return out
