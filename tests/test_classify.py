"""Model-based curation stages: linear quality classifier
(``functions/classify.py``) and SemDeDup semantic dedup
(``operators/similarity.semantic_dedup``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.functions.classify import (
    DEMO_BIAS_MILLI,
    classifier_score_join,
    classifier_score_milli,
    classify_documents,
)


def test_classifier_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "the table slow"),  # 100 - 5 + 40 - 25
            (2, ""),  # bias only (no tokens)
            (3, "zzz qqq"),  # unknown tokens -> bias
            (4, "Table TABLE table"),  # lowercased: 3 * 40
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in classify_documents(df, keep_threshold_milli=150).collect()
    }
    assert rows[1]["score_milli"] == 110 and not rows[1]["keep"]
    assert rows[2]["score_milli"] == DEMO_BIAS_MILLI
    assert rows[3]["score_milli"] == DEMO_BIAS_MILLI
    assert rows[4]["score_milli"] == 100 + 3 * 40 and rows[4]["keep"]
    assert rows[4]["n_tokens"] == 3


def test_classifier_map_and_join_realizations_agree(spark, sf_dir):
    """The literal-map and broadcast-join layouts are the same integer
    sum — exact parity on the real documents table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    via_map = docs.select(
        "doc_id", classifier_score_milli(F.col("text")).alias("score_milli")
    )
    via_join = classifier_score_join(docs)
    diff = (
        via_map.alias("m")
        .join(via_join.alias("j"), "doc_id")
        .filter(F.col("m.score_milli") != F.col("j.score_milli"))
        .count()
    )
    assert diff == 0
    assert via_join.count() == docs.count()


def test_classifier_join_keeps_tokenless_docs(spark):
    df = spark.createDataFrame(
        [(1, "table"), (2, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["score_milli"] for r in classifier_score_join(df).collect()}
    assert rows == {1: DEMO_BIAS_MILLI + 40, 2: DEMO_BIAS_MILLI}


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def _brute_force_drop_set(vecs: dict[int, np.ndarray], thr: float) -> set[int]:
    """Clustering-free keep-first rule: drop b iff ∃ a<b cos(a,b) ≥ thr."""
    ids = sorted(vecs)
    M = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
    S = M @ M.T
    dropped = set()
    for j in range(len(ids)):
        for i in range(j):
            if S[i, j] >= thr:
                dropped.add(ids[j])
                break
    return dropped


def test_semantic_dedup_single_cell_matches_brute_force(spark, sf_dir):
    """nlist=1 disables the cluster prune — the result must equal the
    clustering-free greedy rule computed in numpy."""
    from gather_datawarehouse_sync_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = semantic_dedup(emb, threshold=0.6, nlist=1).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    expect_dropped = _brute_force_drop_set(vecs, 0.6)
    assert {r["id"] for r in got} == set(vecs)
    assert {r["id"] for r in got if not r["keep"]} == expect_dropped


def test_semantic_dedup_clustered_invariants(spark, sf_dir):
    """With real clustering: total coverage, within-cell witness for
    every drop, and the prune only ever RAISES keep rate vs nlist=1
    (cross-cell pairs are never compared)."""
    from gather_datawarehouse_sync_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    thr = 0.6
    got = semantic_dedup(emb, threshold=thr, nlist=4).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    assert {r["id"] for r in got} == set(vecs)

    cell_of = {r["id"]: r["cell"] for r in got}
    unit = {i: v / np.linalg.norm(v) for i, v in vecs.items()}
    for r in got:
        if r["keep"]:
            continue
        j = r["id"]
        witnesses = [
            i
            for i in vecs
            if i < j
            and cell_of[i] == cell_of[j]
            and float(unit[i] @ unit[j]) >= thr
        ]
        assert witnesses, f"dropped {j} has no within-cell witness"

    single = semantic_dedup(emb, threshold=thr, nlist=1).collect()
    dropped_single = {r["id"] for r in single if not r["keep"]}
    dropped_clustered = {r["id"] for r in got if not r["keep"]}
    assert dropped_clustered <= dropped_single


def test_semantic_dedup_deterministic(spark, sf_dir):
    from gather_datawarehouse_sync_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(map(tuple, semantic_dedup(emb, threshold=0.7, nlist=4).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, threshold=0.7, nlist=4).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC)
# ---------------------------------------------------------------------------


def test_pq_adc_exact_when_corpus_is_codebook(spark):
    """When every corpus subvector IS a codebook centroid the ADC score
    equals the exact dot product, so top-1 must match brute force
    (including the min-id tie-break)."""
    import itertools

    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    # dim=4, M=2 subspaces of 2; palette of 4 distinct subvectors
    palette = [(1.0, 0.0), (0.0, 1.0), (1.0, 1.0), (2.0, 1.0)]
    vecs = [
        (i, list(a + b))
        for i, (a, b) in enumerate(itertools.product(palette, palette))
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    books = np.array([palette, palette])  # (M=2, K=4, dsub=2)
    got = (
        pq_topk(df.filter(F.col("vec_id") < 4), df, k=3, codebooks=books,
                num_subspaces=2, num_centroids=4)
        .orderBy("query_id", "rank")
        .collect()
    )
    want = (
        brute_force_topk(df.filter(F.col("vec_id") < 4), df, k=3)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [(r["query_id"], r["neighbor_id"]) for r in got] == [
        (r["query_id"], r["neighbor_id"]) for r in want
    ]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9


def test_pq_topk_recall_on_real_embeddings(spark, sf_dir):
    """Trained PQ recovers most exact top-1 neighbors; deterministic
    across runs.  This corpus is near-uniform random in 64-dim, the
    worst case for PQ (top-1 margins are hairline, so any quantization
    error flips winners) — measured recall@1: 0.37 at M=16/K=64, 0.80
    at M=32/K=64, 0.97 at M=64/K=128.  The test budget M=32/K=64 with a
    0.6 floor leaves slack for training-sample jitter; on clustered
    real-world embeddings far smaller budgets reach higher recall."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 30)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in pq_topk(q, emb, k=1, num_subspaces=32, num_centroids=64).collect()
    }
    want = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(q, emb, k=1).collect()
    }
    assert set(got) == set(want)
    recall = sum(got[i] == want[i] for i in got) / len(got)
    assert recall >= 0.6, f"recall@1 {recall}"
    again = {
        r["query_id"]: r["neighbor_id"]
        for r in pq_topk(q, emb, k=1, num_subspaces=32, num_centroids=64).collect()
    }
    assert got == again


def test_pq_topk_query_budget_guard(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import pq_topk

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="broadcast budget"):
        pq_topk(df, df, k=1, num_subspaces=1, num_centroids=4,
                broadcast_queries_max=5)


def test_classifier_realizations_agree_on_null_text(spark):
    """NULL text scores bias in BOTH realizations (review fix)."""
    df = spark.createDataFrame(
        [(1, None), (2, "table")], "doc_id long, text string"
    )
    m = {r["doc_id"]: r for r in classify_documents(df).collect()}
    assert m[1]["score_milli"] == DEMO_BIAS_MILLI and m[1]["n_tokens"] == 0
    j = {r["doc_id"]: r["score_milli"] for r in classifier_score_join(df).collect()}
    assert j[1] == DEMO_BIAS_MILLI and j[2] == DEMO_BIAS_MILLI + 40


def test_pq_topk_empty_queries_returns_empty(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import pq_topk

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = pq_topk(
        df.filter(F.col("vec_id") < 0), df, k=1, num_subspaces=1, num_centroids=4
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "score", "rank"]


def test_pq_trainer_rejects_bad_shapes(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import (
        train_pq_codebooks,
    )

    df = spark.createDataFrame(
        [(i, [float(i)] * 5) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="divide"):
        train_pq_codebooks(df, num_subspaces=2, num_centroids=2)
    with pytest.raises(ValueError, match="smaller"):
        train_pq_codebooks(df, num_subspaces=5, num_centroids=64)


def test_pq_null_vector_trains_and_encodes(spark):
    """A NULL vector is not training data and encodes to a NULL code;
    the other rows train and encode as if it were absent."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None), (3, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    books = train_pq_codebooks(df, num_subspaces=1, num_centroids=2)
    assert sorted(books[0].tolist()) == [[0.0, 0.0], [10.0, 10.0]]
    fixed = np.array([[[0.0, 0.0], [10.0, 10.0]]])
    codes = {r["vec_id"]: r["codes"] for r in pq_encode(df, fixed).collect()}
    assert codes == {1: [0], 2: None, 3: [1]}


def test_pretrain_mix_default_weights_empty_map(spark, sf_dir):
    """mix_weights_milli=None -> lit_map({}) must be a TYPED empty map
    (an untyped one fails analysis on the first lookup — review fix);
    every source then gets the default weight."""
    from gather_datawarehouse_sync_spark.pipelines import pretrain_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pretrain_mix(docs, classifier_threshold_milli=0)
    rows = out.limit(5).collect()
    assert rows and set(out.columns) == {
        "doc_id", "source", "score_milli", "src_rn", "mix_key"
    }


def test_exact_dedup_min_id_nested_map_falls_back(spark):
    """r15 advisor find: the orderability guard only caught TOP-LEVEL
    MapType, so a map nested in an array or struct took the
    min(struct(...)) path and failed at analysis time.  The guard now
    recurses; both nested shapes dedup via the window fallback, with
    the same min-id survivor the aggregate path yields on plain rows."""
    from gather_datawarehouse_sync_spark.pipelines import exact_dedup_min_id

    arr_map = spark.createDataFrame(
        [
            (2, "same text", [{"k": "v2"}]),
            (1, "same text", [{"k": "v1"}]),
            (3, "other", [{"k": "v3"}]),
        ],
        "doc_id long, text string, tags array<map<string,string>>",
    )
    got = {
        r["doc_id"]: r["tags"] for r in exact_dedup_min_id(arr_map).collect()
    }
    assert set(got) == {1, 3} and got[1] == [{"k": "v1"}]

    struct_map = spark.createDataFrame(
        [(2, "same text", ({"k": "v2"},)), (1, "same text", ({"k": "v1"},))],
        "doc_id long, text string, meta struct<m:map<string,string>>",
    )
    rows = exact_dedup_min_id(struct_map).collect()
    assert [r["doc_id"] for r in rows] == [1]
