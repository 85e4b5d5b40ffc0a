"""Per-operator unit tests (SURVEY §5.2): each operator's exact
semantics, extracted from the reference, asserted on tiny inline frames.

Reference citations are in the operator docstrings; these tests pin the
*behavioral* contract (canonical pick, tier priority, action
classification, …) independent of the oracle-differential suite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    hamming64,
    jaccard_pairs_bitset,
    jaccard_pairs_prefix,
    mark_duplicates,
    minhash_dedup,
    minhash_lsh_pairs,
    simhash,
)
from gather_datawarehouse_sync_spark.operators.joins import (
    cascading_join,
    one_to_one_assign,
    pick_one_per_group,
)
from gather_datawarehouse_sync_spark.operators.hierarchy import path_categories
from gather_datawarehouse_sync_spark.operators.reconcile import (
    action_counts,
    assert_unique_keys,
    reconcile,
)
from gather_datawarehouse_sync_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from gather_datawarehouse_sync_spark.functions import scalar, text


# ---------------------------------------------------------------------------
# D1 exact dedup
# ---------------------------------------------------------------------------


def test_mark_duplicates_canonical_and_aliases(spark):
    df = spark.createDataFrame(
        [
            ("a.shp", "h1", 10),
            ("b.shp", "h1", 11),
            ("c.shp", "h1", 12),
            ("d.shp", "h2", 13),
        ],
        "file string, md5 string, ino long",
    )
    out = {r["file"]: r for r in mark_duplicates(df).collect()}
    # canonical = min ino; holds the sorted duplicate id list (ref :334-337)
    assert out["a.shp"]["alias"] is None
    assert out["a.shp"]["duplicates"] == [11, 12]
    # every other group row aliases the canonical (ref :338)
    assert out["b.shp"]["alias"] == 10 and out["b.shp"]["duplicates"] is None
    assert out["c.shp"]["alias"] == 10
    # singletons untouched (ref :330-339 never visits them)
    assert out["d.shp"]["alias"] is None and out["d.shp"]["duplicates"] is None


def test_mark_duplicates_deterministic_by_order_col(spark):
    df = spark.createDataFrame(
        [("z.shp", "h", 1), ("a.shp", "h", 2)], "file string, md5 string, ino long"
    )
    out = {
        r["file"]: r
        for r in mark_duplicates(df, order_col="file").collect()
    }
    # canonical = min file path, not min ino (SURVEY §7 watch-list fix)
    assert out["a.shp"]["alias"] is None
    assert out["z.shp"]["alias"] == 2


def test_exact_dedup_keeps_min_order_row(spark):
    df = spark.createDataFrame(
        [("k", "x", 3), ("k", "y", 1), ("j", "z", 9)], "k string, v string, o long"
    )
    kept = {r["k"]: r["v"] for r in exact_dedup(df, "k", keep_order="o").collect()}
    assert kept == {"k": "y", "j": "z"}
    assert exact_dedup(df, "k").count() == 2


# ---------------------------------------------------------------------------
# J1 cascading join
# ---------------------------------------------------------------------------


def _files_projects(spark):
    files = spark.createDataFrame(
        [("p/a.shp", "m1"), ("p/b.shp", "m2"), ("p/c.shp", "m3")],
        "file string, md5 string",
    )
    projects = spark.createDataFrame(
        [(1, "p/a.shp", "zz"), (2, "other", "m2"), (3, "nope", "nope")],
        "pid long, pfile string, pmd5 string",
    )
    return files, projects


def test_cascading_join_tier_priority(spark):
    files, projects = _files_projects(spark)
    out = {
        r["file"]: r
        for r in cascading_join(
            files,
            projects,
            tiers=[
                ("exactMatch", lambda l, r: l["file"] == r["pfile"]),
                ("md5Match", lambda l, r: l["md5"] == r["pmd5"]),
            ],
        ).collect()
    }
    # path tier wins even though no md5 tier match exists for a.shp (ref :544-554)
    assert out["p/a.shp"]["match"] == "exactMatch" and out["p/a.shp"]["pid"] == 1
    # md5 fallback only when the path tier missed (ref :558-568)
    assert out["p/b.shp"]["match"] == "md5Match" and out["p/b.shp"]["pid"] == 2
    # unmatched row survives with nulls (left-join semantics)
    assert out["p/c.shp"]["match"] == "none" and out["p/c.shp"]["pid"] is None


def test_cascading_join_earlier_tier_masks_later(spark):
    files = spark.createDataFrame([("f", "m")], "file string, md5 string")
    projects = spark.createDataFrame(
        [(1, "f", "x"), (2, "x", "m")], "pid long, pfile string, pmd5 string"
    )
    row = cascading_join(
        files,
        projects,
        tiers=[
            ("exactMatch", lambda l, r: l["file"] == r["pfile"]),
            ("md5Match", lambda l, r: l["md5"] == r["pmd5"]),
        ],
    ).collect()
    # both tiers matchable → only the first tier's row comes through
    assert len(row) == 1 and row[0]["pid"] == 1 and row[0]["match"] == "exactMatch"


def test_cascading_join_rejects_column_collision(spark):
    files, _ = _files_projects(spark)
    with pytest.raises(ValueError, match="collide"):
        cascading_join(files, files, tiers=[("t", lambda l, r: F.lit(True))])


def test_cascading_join_requires_tiers(spark):
    files, projects = _files_projects(spark)
    with pytest.raises(ValueError):
        cascading_join(files, projects, tiers=[])


# ---------------------------------------------------------------------------
# J2 one-per-group / one-to-one
# ---------------------------------------------------------------------------


def test_pick_one_per_group(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z")], "k long, v string"
    )
    out = {r["k"]: r["v"] for r in pick_one_per_group(df, ["k"], ["v"]).collect()}
    assert out == {1: "a", 2: "z"}


def test_one_to_one_assign_is_bijective_per_key(spark):
    left = spark.createDataFrame(
        [("k", i) for i in range(3)] + [("j", 0)], "key string, lid long"
    )
    right = spark.createDataFrame(
        [("k", i * 10) for i in range(2)] + [("j", 99)], "key string, rid long"
    )
    out = one_to_one_assign(left, right, "key", ["lid"], ["rid"]).collect()
    # min(3,2)+min(1,1) pairings; each lid and rid used at most once
    assert len(out) == 3
    assert len({r["lid"] for r in out if r["key"] == "k"}) == 2
    assert len({r["rid"] for r in out if r["key"] == "k"}) == 2
    pair = {(r["key"], r["lid"]): r["rid"] for r in out}
    # rank-k left pairs with rank-k right (deterministic)
    assert pair[("k", 0)] == 0 and pair[("k", 1)] == 10 and pair[("j", 0)] == 99


# ---------------------------------------------------------------------------
# M1-M4 reconcile
# ---------------------------------------------------------------------------


def test_reconcile_classification(spark):
    source = spark.createDataFrame(
        [("a", "v1"), ("b", "v2"), ("d", "v9")], "k string, val string"
    )
    target = spark.createDataFrame(
        [("a", "v1"), ("b", "OLD"), ("c", "v3")], "k string, val string"
    )
    out = {r["k"]: r["action"] for r in reconcile(source, target, ["k"]).collect()}
    assert out == {"a": "keep", "b": "update", "c": "delete", "d": "insert"}


def test_reconcile_null_safe_compare(spark):
    source = spark.createDataFrame([("a", None)], "k string, val string")
    target = spark.createDataFrame([("a", None)], "k string, val string")
    out = reconcile(source, target, ["k"]).collect()
    # null == null must classify keep, not update (eqNullSafe)
    assert out[0]["action"] == "keep"


def test_action_counts(spark):
    source = spark.createDataFrame([("a", "1"), ("b", "2")], "k string, v string")
    target = spark.createDataFrame([("b", "9"), ("c", "3")], "k string, v string")
    counts = {
        r["action"]: r["c"]
        for r in action_counts(reconcile(source, target, ["k"])).collect()
    }
    assert counts == {"insert": 1, "update": 1, "delete": 1}


def test_assert_unique_keys_raises(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v long")
    with pytest.raises(ValueError, match="duplicate keys"):
        assert_unique_keys(df, ["k"])
    assert_unique_keys(df, ["k", "v"])  # composite key is unique


# ---------------------------------------------------------------------------
# H1/H2 path hierarchy
# ---------------------------------------------------------------------------


def test_path_categories_row_shape(spark):
    df = spark.createDataFrame(
        [("A/B/x.shp",), ("A/y.shp",), ("A/B/z.shp",)], "file string"
    )
    rows = {
        r["name"]: r for r in path_categories(df, root_category="files").collect()
    }
    # one row per distinct directory prefix; filenames dropped (ref :622)
    assert set(rows) == {"files/A", "files/A/B"}
    a = rows["files/A"]
    assert a["type"] == "files" and a["short_name"] == "A" and a["path"] == "files/"
    ab = rows["files/A/B"]
    # type = lowercased parent path (ref :684); path = parent + "/" (ref :688)
    assert ab["type"] == "files/a" and ab["path"] == "files/A/"
    assert ab["short_name"] == "B" and ab["depth"] == 2


def test_path_categories_root_only_file_emits_nothing(spark):
    df = spark.createDataFrame([("x.shp",)], "file string")
    # a file at the root has no directory prefix → no category rows
    assert path_categories(df).count() == 0


# ---------------------------------------------------------------------------
# Fuzzy dedup family
# ---------------------------------------------------------------------------

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different content about spark engines"),
    (4, "the quick brown fox jumps over the lazy dog"),
]


def test_jaccard_prefix_and_bitset_agree(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    kw = dict(id_col="doc_id", text_col="text", threshold=0.5, ngram=1)
    p = {(r["a"], r["b"]) for r in jaccard_pairs_prefix(df, **kw).collect()}
    b = {(r["a"], r["b"]) for r in jaccard_pairs_bitset(df, **kw).collect()}
    assert p == b
    # docs 1/4 identical (J=1); 1/2 share 8 of 9 distinct tokens (J=8/10=0.8)
    assert (1, 4) in p and (1, 2) in p and (2, 4) in p
    assert not any(3 in pair for pair in p)


def test_jaccard_dispatch_density_gate(spark, monkeypatch):
    """The adaptive dispatcher routes on TWO signals: a dense tiny-vocab
    corpus goes to the bitset all-pairs tier, but a sparse-set corpus
    whose vocab still fits the limit (the 2-gram V=931/density-5%
    pathology) must go to prefix filtering — vocab size alone measured
    43 s bitset vs 13 s prefix at sf0.1."""
    import gather_datawarehouse_sync_spark.operators.dedup as D

    picked = []
    real_bitset, real_prefix = D._bitset_pairs, D._prefix_pairs
    monkeypatch.setattr(
        D, "_bitset_pairs",
        lambda *a, **k: picked.append("bitset") or real_bitset(*a, **k),
    )
    monkeypatch.setattr(
        D, "_prefix_pairs",
        lambda *a, **k: picked.append("prefix") or real_prefix(*a, **k),
    )
    dense = spark.createDataFrame(_DOCS, "doc_id long, text string")
    # V=15 tokens, avg set 7.5 → 50 % density → bitset
    D.jaccard_pairs(dense, threshold=0.5, ngram=1).collect()
    # 20 docs over disjoint 4-word vocabularies: V=80, avg set 4 →
    # 5 % density → prefix despite V ≤ limit
    sparse = spark.createDataFrame(
        [(i, f"w{4*i} w{4*i+1} w{4*i+2} w{4*i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    D.jaccard_pairs(sparse, threshold=0.5, ngram=1).collect()
    assert picked == ["bitset", "prefix"]


def test_jaccard_exact_threshold_boundary(spark):
    # two 4-token sets sharing 2 tokens: J = 2/6 = 1/3; threshold 1/3 keeps it
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f")], "doc_id long, text string"
    )
    hit = jaccard_pairs_prefix(
        df, id_col="doc_id", text_col="text", threshold=1 / 3, ngram=1
    ).collect()
    assert len(hit) == 1 and hit[0]["shared"] == 2
    miss = jaccard_pairs_prefix(
        df, id_col="doc_id", text_col="text", threshold=0.34, ngram=1
    ).collect()
    assert miss == []


def test_minhash_lsh_finds_identical_docs(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    pairs = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(df, ngram=3).collect()
    }
    # identical docs share every band bucket and every signature row
    assert pairs[(1, 4)] == 1.0
    assert not any(3 in p for p in pairs)


def test_minhash_dedup_assigns_cluster_canon(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r["canon"] for r in minhash_dedup(df, threshold=0.9).collect()}
    assert out[1] == 1 and out[4] == 1  # cluster canonical = min id
    assert out[3] == 3  # unique doc is its own canonical


def test_connected_components_chain_and_island(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a long, b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _union_find_components(pairs):
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    return {x: min(ms) for ms in groups.values() for x in ms}


@pytest.mark.parametrize("shape", ["path", "clique_mix", "random"])
def test_connected_components_matches_union_find(spark, shape):
    """Min-contraction CC vs a driver-side union-find oracle on graph
    shapes that stress different convergence behavior: a long path
    (max diameter — O(log d) halving), overlapping near-cliques (the
    near-dup corpus shape — one-round collapse), and a sparse random
    graph (many components and isolated edges)."""
    import random as _random

    rng = _random.Random(hash(shape) & 0xFFFF)
    ids = rng.sample(range(100000), 300)
    if shape == "path":
        pairs = {(ids[i], ids[i + 1]) for i in range(len(ids) - 1)}
    elif shape == "clique_mix":
        pairs = set()
        for grp in (ids[:40], ids[40:75], ids[75:80]):
            pairs |= {(x, y) for x in grp for y in grp if x < y}
        pairs |= {(ids[i], ids[i + 1]) for i in range(70, 90)}
    else:
        pairs = set()
        for _ in range(250):
            a, b = rng.choice(ids), rng.choice(ids)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(pairs), "a long, b long")
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == _union_find_components(pairs)


@pytest.mark.parametrize("shape", ["path", "clique_mix", "random", "strings"])
def test_connected_components_local_finish_matches_distributed(spark, shape):
    """The r18 local-finish threshold must be invisible in the output:
    the same graph resolved fully distributed (local_edges_max=0), fully
    locally (threshold above the edge count — the default at test
    scale), and through the HYBRID path (threshold crossed after one
    contraction round) must agree row-for-row.  The ``strings`` case is
    a random graph over non-ASCII string ids: the local finish orders
    them by code point, which must agree with Spark's UTF-8 byte order
    (U+FF21 sorts before U+1F600 in both, after it in UTF-16)."""
    import random as _random

    rng = _random.Random(hash(shape) & 0xFFFF)
    ids = rng.sample(range(100000), 300)
    id_type = "long"
    if shape == "strings":
        ids = [("é", "\uff21", "\U0001F600")[x % 3] + str(x) for x in ids]
        id_type = "string"
    if shape == "path":
        pairs = {(ids[i], ids[i + 1]) for i in range(len(ids) - 1)}
    elif shape == "clique_mix":
        pairs = set()
        for grp in (ids[:40], ids[40:75], ids[75:80]):
            pairs |= {(x, y) for x in grp for y in grp if x < y}
        pairs |= {(ids[i], ids[i + 1]) for i in range(70, 90)}
    else:
        pairs = set()
        for _ in range(250):
            a, b = rng.choice(ids), rng.choice(ids)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(pairs), f"a {id_type}, b {id_type}")
    distributed = {
        r["id"]: r["component"]
        for r in connected_components(edges, local_edges_max=0).collect()
    }
    local = {
        r["id"]: r["component"]
        for r in connected_components(
            edges, local_edges_max=len(pairs) + 1
        ).collect()
    }
    # hybrid: force at least one distributed contraction round, then
    # finish locally (contraction shrinks every shape below half its
    # original edge count after one round on these graphs)
    hybrid = {
        r["id"]: r["component"]
        for r in connected_components(
            edges, local_edges_max=max(1, len(pairs) // 2)
        ).collect()
    }
    assert distributed == local == hybrid == _union_find_components(pairs)


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    fp = simhash(df, id_col="doc_id", text_col="text")
    a = fp.alias("a")
    b = fp.alias("b")
    dist = {
        (r["ia"], r["ib"]): r["d"]
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("d"),
        )
        .collect()
    }
    assert dist[(1, 4)] == 0  # identical docs → identical fingerprints
    assert dist[(1, 2)] < dist[(1, 3)]  # near-dup closer than unrelated


# ---------------------------------------------------------------------------
# Vector similarity
# ---------------------------------------------------------------------------


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_dot(spark):
    vecs = _vectors(spark)
    out = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(vecs, vecs, k=1, metric="dot").collect()
    }
    assert out[1] == 2 and out[2] == 1


def test_brute_force_topk_k2_ranks(spark):
    vecs = _vectors(spark)
    rows = brute_force_topk(vecs, vecs, k=2, metric="cosine").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert sorted(by_q[1]) == [(1, 2), (2, 3)] or sorted(by_q[1])[0] == (1, 2)
    assert all(len(v) == 2 for v in by_q.values())


def test_lsh_topk_recalls_exact_duplicate_vector(spark):
    vecs = _vectors(spark)
    dup = vecs.union(
        spark.createDataFrame(
            [(5, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
    )
    out = lsh_topk(dup, dup, k=1, dim=3, num_planes=4, num_tables=4).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in out}
    # an identical vector always lands in every shared bucket → guaranteed hit
    assert got.get(5) == 1 or got.get(1) == 5


def test_lsh_multiprobe_recall_monotone(spark, sf_dir):
    """Multi-probe LSH (Lv et al. 2007): nprobe_buckets=1 is EXACTLY
    the classic single-probe plan (row equality); probing sign-flip
    neighbors never loses recall vs brute force (the candidate set is
    a superset under the same seed, so per-query top-k scores only
    improve); the probe budget is range-validated."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        recall_report,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 20)
    kw = dict(k=5, dim=64, num_planes=10, num_tables=2, seed=7)
    single = lsh_topk(q, emb, **kw)
    explicit1 = lsh_topk(q, emb, **kw, nprobe_buckets=1)
    assert sorted(map(tuple, single.collect())) == sorted(
        map(tuple, explicit1.collect())
    )

    exact = brute_force_topk(q, emb, k=5)

    def recall_bp(approx):
        rows = recall_report(approx, exact, ks=(5,)).collect()
        return rows[0]["recall_bp"]

    r1 = recall_bp(single)
    r4 = recall_bp(lsh_topk(q, emb, **kw, nprobe_buckets=4))
    assert r4 >= r1
    # with 2 tables × 10 planes on this corpus single-probe recall is
    # well below perfect — the multi-probe gain must be visible, not
    # just non-negative (guards against the probe set silently being
    # the base bucket k times)
    assert r4 > r1 or r1 == 10_000

    with pytest.raises(ValueError, match="n_probes"):
        lsh_topk(q, emb, **kw, nprobe_buckets=12).collect()


def test_cosine_pairs_exact(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import cosine_pairs

    vecs = _vectors(spark)
    got = {(r["a"], r["b"]) for r in cosine_pairs(vecs, threshold=0.9).collect()}
    # cos(v1, v2) = 0.9/sqrt(0.82) ≈ 0.9939; every other pair ≤ 0.11
    assert got == {(1, 2)}


def test_cosine_pairs_lsh_subset_of_exact_with_identical_recall(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    dup = _vectors(spark).union(
        spark.createDataFrame(
            [(5, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
    )
    exact = {(r["a"], r["b"]) for r in cosine_pairs(dup, threshold=0.9).collect()}
    approx = {
        (r["a"], r["b"])
        for r in cosine_pairs_lsh(
            dup, threshold=0.9, num_planes=4, num_tables=4
        ).collect()
    }
    # verify step is exact → approx ⊆ exact; identical vectors share every
    # bucket → the (1, 5) duplicate pair is guaranteed recalled
    assert approx <= exact
    assert (1, 5) in approx


# ---------------------------------------------------------------------------
# Scalar / text functions
# ---------------------------------------------------------------------------


def test_scalar_path_functions(spark):
    df = spark.createDataFrame([("root/dir/Name.File.SHP",)], "p string")
    row = df.select(
        scalar.basename(F.col("p")).alias("base"),
        scalar.strip_extension(scalar.basename(F.col("p"))).alias("noext"),
        scalar.has_suffix(F.col("p"), ".shp").alias("is_shp"),
        scalar.derived_title(F.col("p")).alias("title"),
        scalar.strip_prefix(F.col("p"), "root/").alias("rel"),
    ).collect()[0]
    assert row["base"] == "Name.File.SHP"
    assert row["noext"] == "Name.File"
    assert row["is_shp"] is True  # case-insensitive (ref :34)
    assert row["title"] == "Name.File"
    assert row["rel"] == "dir/Name.File.SHP"


def test_token_count_udf_matches_builtin(spark):
    df = spark.createDataFrame(
        [("one two  three",), ("",), ("  padded  ",)], "text string"
    )
    rows = df.select(
        text.token_count(F.col("text")).alias("fast"),
        text.token_count_udf(F.col("text")).alias("udf"),
    ).collect()
    for r in rows:
        assert r["fast"] == r["udf"]


def test_language_guess(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in that house",),
            ("der hund und die katze ist nicht hier",),
            ("xyzzy plugh",),
        ],
        "text string",
    )
    langs = [r[0] for r in df.select(text.language_guess(F.col("text"))).collect()]
    assert langs == ["en", "de", "und"]


def test_quality_score_bounds_and_monotonicity(spark):
    df = spark.createDataFrame(
        [("A clean sentence with normal words throughout the text. " * 5,), ("!!!",)],
        "text string",
    )
    scores = [r[0] for r in df.select(text.quality_score(F.col("text"))).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)
    assert scores[0] > scores[1]


def test_fingerprint_stable_and_discriminative(spark):
    df = spark.createDataFrame(
        [(1, _DOCS[0][1]), (2, _DOCS[0][1]), (3, _DOCS[2][1])],
        "id long, text string",
    )
    toks = df.select("id", text.tokens(F.col("text")).alias("toks"))
    fps = {
        r["id"]: r["fp"]
        for r in toks.select("id", text.fingerprint(F.col("toks")).alias("fp")).collect()
    }
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_char_ngrams(spark):
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "ab"), (3, "")], "id long, t string"
    )
    got = {
        r["id"]: set(r["g"])
        for r in df.select("id", F.lower("t").alias("t"))
        .select("id", text.char_ngrams(F.col("t"), 3).alias("g"))
        .collect()
    }
    assert got[1] == {"abc", "bcd"}
    assert got[2] == {"ab"}  # short-input fallback: the string itself
    assert got[3] == set()  # empty text: NO phantom "" gram


def test_split_sentences_udtf(spark):
    df = spark.createDataFrame(
        [(1, "First one. Second here! Third?"), (2, "")],
        "doc_id long, text string",
    )
    rows = text.explode_sentences(df).collect()
    got = [(r["doc_id"], r["sentence"], r["n_tokens"]) for r in rows]
    assert sorted(got) == [
        (1, "First one", 2),
        (1, "Second here", 2),
        (1, "Third", 1),
    ]


def test_canonical_first_sort(spark):
    from gather_datawarehouse_sync_spark.operators.dedup import (
        canonical_first_sort,
        mark_duplicates,
    )

    df = spark.createDataFrame(
        [("b.shp", "h2", 2), ("a.shp", "h2", 1), ("z.shp", "h1", 3)],
        "file string, md5 string, ino long",
    )
    out = canonical_first_sort(mark_duplicates(df)).collect()
    # O1: md5 ascending; within a group the canonical leads (ref :112-118)
    assert [r["file"] for r in out] == ["z.shp", "a.shp", "b.shp"]


def test_verify_applied_flags_divergence(spark):
    from gather_datawarehouse_sync_spark.operators.reconcile import verify_applied

    source = spark.createDataFrame([("a", "v1"), ("b", "v2")], "k string, v string")
    ok = spark.createDataFrame([("a", "v1"), ("b", "v2")], "k string, v string")
    drifted = spark.createDataFrame([("a", "v1"), ("b", "OLD")], "k string, v string")
    assert verify_applied(source, ok, ["k"]).count() == 0
    bad = verify_applied(source, drifted, ["k"]).collect()
    assert len(bad) == 1 and bad[0]["k"] == "b" and bad[0]["action"] == "update"


# ---------------------------------------------------------------------------
# As-of join / band join (time-series surface)
# ---------------------------------------------------------------------------


def _asof_frames(spark):
    from datetime import datetime

    left = spark.createDataFrame(
        [
            (1, "u1", datetime(2024, 1, 1, 10, 0, 0)),
            (2, "u1", datetime(2024, 1, 1, 12, 0, 0)),
            (3, "u2", datetime(2024, 1, 1, 9, 0, 0)),
            (4, "u3", datetime(2024, 1, 1, 9, 0, 0)),
        ],
        "eid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", datetime(2024, 1, 1, 9, 30, 0), 100),
            ("u1", datetime(2024, 1, 1, 11, 0, 0), 200),
            ("u1", datetime(2024, 1, 1, 13, 0, 0), 300),
            ("u2", datetime(2024, 1, 1, 9, 0, 0), 400),
        ],
        "k string, rts timestamp, rid long",
    )
    return left, right


def test_asof_join_backward(spark):
    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    left, right = _asof_frames(spark)
    out = {
        r["eid"]: r["rid"]
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    }
    # latest right at-or-before each left ts; equal ts is inclusive;
    # no-right-rows key (u3) → null
    assert out == {1: 100, 2: 200, 3: 400, 4: None}


def test_asof_join_forward_and_tolerance(spark):
    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    left, right = _asof_frames(spark)
    fwd = {
        r["eid"]: r["rid"]
        for r in asof_join(left, right, "k", "ts", "rts", direction="forward").collect()
    }
    assert fwd == {1: 200, 2: 300, 3: 400, 4: None}
    tol = {
        r["eid"]: r["rid"]
        for r in asof_join(
            left, right, "k", "ts", "rts", tolerance_seconds=1800.0
        ).collect()
    }
    # eid=2's nearest-backward right (11:00) is 3600 s away → voided
    assert tol == {1: 100, 2: None, 3: 400, 4: None}


def test_asof_join_equal_ts_tiebreak_is_max_payload(spark):
    from datetime import datetime

    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 2))], "eid long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", datetime(2024, 1, 1), 7), ("u", datetime(2024, 1, 1), 9)],
        "k string, rts timestamp, rid long",
    )
    out = asof_join(left, right, "k", "ts", "rts").collect()
    # among equal right timestamps the winner sorts last by payload → max rid
    assert out[0]["rid"] == 9


def test_band_join_matches_naive_theta_join(spark):
    import random

    from gather_datawarehouse_sync_spark.operators.joins import band_join

    rng = random.Random(7)
    xs = [(i, float(rng.randint(0, 1000))) for i in range(120)]
    a = spark.createDataFrame(xs, "a_id long, a_v double")
    b = spark.createDataFrame(
        [(i + 1000, v) for i, v in xs], "b_id long, b_v double"
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in band_join(a, b, "a_v", "b_v", 25).collect()
    }
    want = {
        (r["a_id"], r["b_id"])
        for r in a.crossJoin(b)
        .filter(F.abs(F.col("a_v") - F.col("b_v")) <= 25)
        .collect()
    }
    assert got == want and len(want) > 100


def test_ivf_topk_full_probe_equals_brute_force(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    vecs = _vectors(spark)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vecs, vecs, k=1, metric="dot").collect()
    }
    # probing every cell makes IVF exhaustive → identical to brute force
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(vecs, vecs, k=1, nlist=3, nprobe=3).collect()
    }
    assert full == exact


def test_bpe_token_count_pieces(spark):
    from gather_datawarehouse_sync_spark.functions.text import bpe_tokens

    df = spark.createDataFrame(
        [(1, "Hello, world's 42 tests ok")], "doc_id long, text string"
    )
    out = df.select(bpe_tokens(F.col("text")).alias("p")).collect()[0]["p"]
    assert out == ["Hello", ",", " world", "'s", " 42", " tests", " ok"]


# ---------------------------------------------------------------------------
# Skew salting + approximate sketches
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    from gather_datawarehouse_sync_spark.operators.skew import salted_join

    # one hot key (k=1 carries 80% of rows) + cold keys
    left = spark.createDataFrame(
        [(1, i) for i in range(80)] + [(k, k * 100) for k in range(2, 22)],
        "k long, lv long",
    )
    right = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 22)], "k long, rv string"
    )
    got = {
        (r["k"], r["lv"], r["rv"])
        for r in salted_join(left, right, ["k"], n_salts=4).collect()
    }
    want = {
        (r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect()
    }
    assert got == want and len(want) == 100


def test_salted_distinct_count_and_collect_list(spark):
    from gather_datawarehouse_sync_spark.operators.skew import (
        salted_collect_list,
        salted_distinct_count,
    )

    df = spark.createDataFrame(
        [("a", v % 7) for v in range(100)] + [("b", v) for v in range(5)],
        "g string, v long",
    )
    dc = {
        r["g"]: r["distinct_count"]
        for r in salted_distinct_count(df, ["g"], "v", n_salts=4).collect()
    }
    assert dc == {"a": 7, "b": 5}
    cl = {
        r["g"]: r["values"]
        for r in salted_collect_list(df, ["g"], "v", n_salts=4).collect()
    }
    # sorted flatten: all 100 hot-group values present, duplicates kept
    assert len(cl["a"]) == 100 and cl["a"] == sorted(cl["a"])
    assert cl["b"] == [0, 1, 2, 3, 4]


def test_approx_sketches_within_tolerance(spark, sf_dir):
    from gather_datawarehouse_sync_spark.queries import REGISTRY
    from gather_datawarehouse_sync_spark.session import load_tables

    t = load_tables(spark, sf_dir, ("events", "orders"))
    est = {
        r["event_type"]: r["u_est"]
        for r in REGISTRY["x_approx_distinct"].spark(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["u"]
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(est[k] - v) <= max(1, 0.05 * v), (k, est[k], v)

    q = {
        r["o_orderstatus"]: r["q"]
        for r in REGISTRY["x_approx_quantile"].spark(spark, sf_dir).collect()
    }
    for status, (p50, p90, p99) in q.items():
        vals = sorted(
            r["o_totalprice"]
            for r in t["orders"].filter(F.col("o_orderstatus") == status).collect()
        )
        for frac, got in ((0.5, p50), (0.9, p90), (0.99, p99)):
            lo = vals[max(0, int(frac * len(vals)) - max(2, len(vals) // 50))]
            hi = vals[min(len(vals) - 1, int(frac * len(vals)) + max(2, len(vals) // 50))]
            assert lo <= got <= hi, (status, frac, got, lo, hi)


# ---------------------------------------------------------------------------
# Sessionization + deterministic sampling
# ---------------------------------------------------------------------------


def test_sessionize_gap_assignment(spark):
    from datetime import datetime

    from gather_datawarehouse_sync_spark.operators.sessions import sessionize

    df = spark.createDataFrame(
        [
            (1, "u", datetime(2024, 1, 1, 10, 0, 0)),
            (2, "u", datetime(2024, 1, 1, 10, 5, 0)),   # 5 min → same
            (3, "u", datetime(2024, 1, 1, 10, 30, 0)),  # 25 min → new
            (4, "u", datetime(2024, 1, 1, 10, 31, 0)),
            (5, "v", datetime(2024, 1, 1, 10, 0, 0)),
        ],
        "event_id long, user_id string, ts timestamp",
    )
    out = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", 600.0, "event_id").collect()
    }
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_deterministic_sample_stable_under_repartition(spark):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in deterministic_sample(df, "doc_id", 0.3).collect()}
    s2 = {
        r["doc_id"]
        for r in deterministic_sample(df.repartition(7), "doc_id", 0.3).collect()
    }
    assert s1 == s2                      # partition-invariant
    assert 0.2 < len(s1) / 2000 < 0.4    # ~fraction
    # salted draw decorrelates from the unsalted one
    s3 = {
        r["doc_id"]
        for r in deterministic_sample(df, "doc_id", 0.3, salt="v2").collect()
    }
    assert s3 != s1


def test_train_test_split_disjoint_exhaustive_stable(spark):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        train_test_split,
    )

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = train_test_split(df, "doc_id", 0.2).collect()
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], set()).add(r["doc_id"])
    assert set(by_split) == {"train", "test"}
    assert len(by_split["train"] | by_split["test"]) == 1000   # exhaustive
    assert not (by_split["train"] & by_split["test"])          # disjoint
    # growth-stability: a doc's assignment is unchanged when the corpus doubles
    grown = train_test_split(
        spark.range(0, 2000).withColumnRenamed("id", "doc_id"), "doc_id", 0.2
    ).collect()
    grown_test = {r["doc_id"] for r in grown if r["split"] == "test"}
    assert {d for d in grown_test if d < 1000} == by_split["test"]


def test_portable_md5_split_matches_hashlib(spark):
    """The method="md5" split is the engine-PORTABLE contract: any stack
    with md5 must re-derive the identical assignment.  Pin it against
    the most independent re-implementation available — Python hashlib —
    for the split, the sample, and a salted variant."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.sampling import (
        deterministic_sample,
        train_test_split,
    )

    def bucket(i, salt=""):
        h = hashlib.md5(f"{salt}:{i}".encode()).hexdigest()
        return int(h[:15], 16) % 1_000_000

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = train_test_split(df, "doc_id", 0.2, method="md5").collect()
    for r in out:
        want = "test" if bucket(r["doc_id"]) < 200_000 else "train"
        assert r["split"] == want, r
    kept = {
        r["doc_id"]
        for r in deterministic_sample(
            df, "doc_id", 0.3, salt="v2", method="md5"
        ).collect()
    }
    assert kept == {i for i in range(2000) if bucket(i, "v2") < 300_000}
    # both methods honor the same invariants; assignments differ
    xx = {r["doc_id"]: r["split"] for r in train_test_split(df, "doc_id", 0.2).collect()}
    md = {r["doc_id"]: r["split"] for r in out}
    assert set(xx) == set(md) and xx != md


def test_leakage_safe_split_md5_mode_clusters_and_hashlib_parity(spark):
    """method="md5" through leakage_safe_split: cluster members still
    inherit ONE side, and the side is hashlib-re-derivable from the
    cluster key (component minimum; singletons from their own id)."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 100) for i in range(0, 50)] + [(10, 20), (20, 30)],
        "a long, b long",
    )
    out = leakage_safe_split(docs, pairs, "doc_id", 0.3, method="md5").collect()
    comp = {i: i for i in range(200)}               # singletons
    for i in range(0, 50):
        comp[i + 100] = i                           # edge (i, i+100)
    for n in (10, 20, 30, 110, 120, 130):
        comp[n] = 10                                # chain 10-20-30 merges
    for r in out:
        key = comp[r["doc_id"]]
        h = int(hashlib.md5(f":{key}".encode()).hexdigest()[:15], 16) % 1_000_000
        want = "test" if h < 300_000 else "train"
        assert r["split"] == want, (r, key)


def test_stratified_deterministic_sample_per_stratum_rates(spark):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        stratified_deterministic_sample,
    )

    rows = [(i, "web" if i % 2 == 0 else "code") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_deterministic_sample(
        df, "doc_id", ["source"], {"web": 0.1, "code": 1.0}
    ).collect()
    n_web = sum(1 for r in out if r["source"] == "web")
    n_code = sum(1 for r in out if r["source"] == "code")
    assert n_code == 1000                 # keep-all stratum intact
    assert 50 <= n_web <= 200             # ~10% of 1000


def test_curate_stages_and_laziness(spark):
    from gather_datawarehouse_sync_spark.pipelines import curate

    df = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog again", "en", "web"),
            (2, "The quick brown fox jumps over the lazy dog again", "en", "web"),
            (3, "x" * 10, "en", "web"),          # too short
            (4, "1234567890 " * 10, "en", "web"), # low alpha ratio
            (5, "Der schnelle braune Fuchs springt wirklich sehr weit", "de", "web"),
            (6, "El zorro marron rapido salta sobre el perro perezoso", "es", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = curate(df, langs=["en", "de"], min_chars=20, min_alpha_bp=6000)
    ids = sorted(r["doc_id"] for r in out.collect())
    # 2 = exact dup of 1 (min id kept), 3 short, 4 numeric, 6 wrong lang
    assert ids == [1, 5]
    split = curate(
        df, langs=["en", "de"], min_chars=20, min_alpha_bp=6000, test_fraction=0.5
    )
    assert set(split.columns) == set(df.columns) | {"split"}


def test_ivf_topk_with_kmeans_centroids(spark):
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    vecs = _vectors(spark)
    cents = kmeans_centroids(vecs, nlist=2, seed=7)
    assert cents.shape == (2, 3)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vecs, vecs, k=1, metric="dot").collect()
    }
    # trained quantizer + full probe is still exhaustive → exact
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(vecs, vecs, k=1, nlist=2, nprobe=2, centroids=cents).collect()
    }
    assert full == exact


def test_forward_fill_locf(spark):
    from datetime import datetime

    from gather_datawarehouse_sync_spark.operators.sessions import forward_fill

    df = spark.createDataFrame(
        [
            (1, "u", datetime(2024, 1, 1, 10), 5.0),
            (2, "u", datetime(2024, 1, 1, 11), None),
            (3, "u", datetime(2024, 1, 1, 12), None),
            (4, "u", datetime(2024, 1, 1, 13), 7.0),
            (5, "v", datetime(2024, 1, 1, 10), None),  # leading null stays
        ],
        "event_id long, k string, ts timestamp, v double",
    )
    out = {
        r["event_id"]: r["v"]
        for r in forward_fill(df, "k", "ts", ["v"], "event_id").collect()
    }
    assert out == {1: 5.0, 2: 5.0, 3: 5.0, 4: 7.0, 5: None}


def test_band_join_rejects_outer_flavors(spark):
    from gather_datawarehouse_sync_spark.operators.joins import band_join

    l = spark.createDataFrame([(1.0,)], "x double")
    r = spark.createDataFrame([(1.2,)], "y double")
    with pytest.raises(ValueError, match="inner"):
        band_join(l, r, "x", "y", band=0.5, how="left")


def test_salted_join_rejects_right_preserving_flavors(spark):
    from gather_datawarehouse_sync_spark.operators.skew import salted_join

    l = spark.createDataFrame([(1, "a")], "k long, v string")
    r = spark.createDataFrame([(1, "b")], "k long, w string")
    with pytest.raises(ValueError, match="duplicate unmatched right"):
        salted_join(l, r, ["k"], n_salts=4, how="full")
    with pytest.raises(ValueError, match="duplicate unmatched right"):
        salted_join(l, r, ["k"], n_salts=4, how="right")


def test_redact_pii_all_kinds_and_clean_text(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@corp.example.org end",),
            ("server 192.168.001.5 up",),
            ("call +1 (555) 010-9934 now",),
            ("nothing sensitive here",),
        ],
        "t string",
    )
    got = [r["r"] for r in df.select(text.redact_pii(F.col("t")).alias("r")).collect()]
    assert got[0] == "mail <EMAIL> end"
    assert got[1] == "server <IP> up"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "nothing sensitive here"


def test_duplicate_ngram_fraction(spark):
    df = spark.createDataFrame(
        [
            ("a b a b a b",),   # 2-grams: ab ba ab ba ab -> 2 distinct of 5
            ("w x y z",),       # all distinct -> 0.0
            ("solo",),          # shorter than n -> 0.0
        ],
        "t string",
    )
    got = [
        round(r["f"], 4)
        for r in df.select(text.ascii_tokens(F.col("t")).alias("toks"))
        .select(text.duplicate_ngram_fraction(F.col("toks"), 2).alias("f"))
        .collect()
    ]
    assert got == [0.6, 0.0, 0.0]


def test_ngram_containment_exact_and_partial(spark):
    from gather_datawarehouse_sync_spark.operators.contamination import (
        ngram_containment,
    )

    bench = spark.createDataFrame([(0, "the quick brown fox jumps")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps"),   # fully contained
            (11, "the quick brown cat sleeps"),  # 1 of 3 shingles shared
            (12, "completely different words here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_hit"], round(r["containment"], 4))
        for r in ngram_containment(corpus, bench, n=3).collect()
    }
    assert out[10] == (3, 3, 1.0)
    assert out[11] == (3, 1, round(1 / 3, 4))
    # 4 tokens -> 2 distinct 3-gram shingles, none shared
    assert out[12] == (2, 0, 0.0)


def test_shingles_and_word_ngrams_short_docs_empty(spark):
    from gather_datawarehouse_sync_spark.operators.dedup import shingles_from_tokens

    df = spark.createDataFrame([("one two",), ("one",), ("",)], "t string")
    rows = (
        df.select(text.ascii_tokens(F.col("t")).alias("toks"))
        .select(
            shingles_from_tokens(F.col("toks"), 3).alias("sh"),
            text.ngrams_from_tokens(F.col("toks"), 3).alias("ng"),
        )
        .collect()
    )
    assert all(r["sh"] == [] and r["ng"] == [] for r in rows)


def test_bpe_train_learns_expected_merges_and_applies(spark):
    from gather_datawarehouse_sync_spark.functions.bpe import bpe_apply, bpe_train

    df = spark.createDataFrame(
        [("low low low lower lower lowest",), ("low lower newest newest",)],
        "text string",
    )
    merges = bpe_train(df, num_merges=3, min_count=2)
    # hand-computed: 'lo' appears 8x (every word), then 'we' 6x, then
    # tie 'low</w>' vs 'lowe' at 4 breaks lexicographically ('lo','w</w>')
    assert merges == [("l", "o", 8), ("w", "e", 6), ("lo", "w</w>", 4)]
    toks = df.select(bpe_apply(F.col("text"), merges).alias("t")).collect()
    assert toks[0]["t"][:3] == ["low</w>", "low</w>", "low</w>"]
    # training is deterministic: same corpus -> same table
    assert bpe_train(df, num_merges=3, min_count=2) == merges


def test_bpe_train_min_count_stops_early(spark):
    from gather_datawarehouse_sync_spark.functions.bpe import bpe_train

    df = spark.createDataFrame([("ab cd",)], "text string")
    # every adjacent pair occurs once -> below min_count, no merges
    assert bpe_train(df, num_merges=5, min_count=2) == []


def test_bpe_train_word_count_path_matches_distributed_rounds(spark):
    """The vocabulary-bounded word-count trainer and the distributed
    per-round trainer are two strategies for the same algorithm; the
    merge tables must be identical (``vocab_collect_max=0`` forces the
    distributed fallback)."""
    from gather_datawarehouse_sync_spark.functions.bpe import bpe_train

    df = spark.createDataFrame(
        [
            ("the cat sat on the mat the cat ran",),
            ("a cat and a rat sat on a mat",),
            ("the rat sat where the cat sat",),
        ],
        "text string",
    )
    fast = bpe_train(df, num_merges=6, min_count=2)
    slow = bpe_train(df, num_merges=6, min_count=2, vocab_collect_max=0)
    assert fast == slow and len(fast) > 0


def test_winnow_fingerprints_shared_passage_guarantee(spark):
    from gather_datawarehouse_sync_spark.functions.text import (
        winnow_fingerprint_table,
    )

    passage = "alpha beta gamma delta epsilon zeta"  # 6 words >= window+n-1
    df = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " tail one"),
            (2, "totally other start " + passage + " different end"),
            (3, "nothing in common with those documents at all times"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprint_table(df, "doc_id", "text", n=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # docs 1 and 2 share the passage -> guaranteed common fingerprint
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])


def test_winnow_fingerprints_short_doc_fallback(spark):
    from gather_datawarehouse_sync_spark.functions.text import (
        winnow_fingerprint_table,
    )

    # 4 tokens -> 2 3-grams < window=4 -> every gram is its own fp
    df = spark.createDataFrame([(1, "w x y z")], "doc_id long, text string")
    got = {r["fp"] for r in winnow_fingerprint_table(df, window=4).collect()}
    assert got == {"w x y", "x y z"}


def test_minhash_dedup_against_recalls_identical_and_stays_cross(spark):
    from gather_datawarehouse_sync_spark.operators.dedup import minhash_dedup_against

    ref = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely unrelated reference text about spark shuffles")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "nothing like anything in the reference corpus whatsoever")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in minhash_dedup_against(new, ref, ngram=1).collect()}
    # identical text -> identical signature -> guaranteed banding hit
    assert out[10]["ref_match"] == 1 and out[10]["est_jaccard"] == 1.0
    # only NEW ids may appear, and non-duplicates are absent
    assert set(out) <= {10, 11} and 11 not in out


def test_jaccard_pairs_between_matches_filtered_all_pairs(spark):
    """Cross-corpus exact Jaccard must equal the within-corpus operator
    restricted to cross-side pairs, on BOTH adaptive branches (the
    vocab limit forces bitset vs prefix)."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_between,
    )

    words = ("red blue green gold gray pink cyan teal lime navy "
             "rust sand mint plum onyx pearl").split()
    docs = spark.createDataFrame(
        [(i, " ".join(words[j % len(words)] for j in range(i, i + 7)))
         for i in range(24)],
        "doc_id long, text string",
    )
    new = docs.filter(F.col("doc_id") % 3 == 0)
    ref = docs.filter(F.col("doc_id") % 3 != 0)
    for vocab_limit in (1024, 0):  # bitset branch, then prefix branch
        between = jaccard_pairs_between(
            new, ref, threshold=0.6, ngram=1, bitset_vocab_limit=vocab_limit
        )
        got = {
            (r["a"], r["b"], r["shared"], round(r["jaccard"], 9))
            for r in between.collect()
        }
        allp = jaccard_pairs(
            docs, threshold=0.6, ngram=1, bitset_vocab_limit=vocab_limit
        )
        want = set()
        for r in allp.collect():
            a_new, b_new = r["a"] % 3 == 0, r["b"] % 3 == 0
            if a_new == b_new:
                continue
            nid, rid = (r["a"], r["b"]) if a_new else (r["b"], r["a"])
            want.add((nid, rid, r["shared"], round(r["jaccard"], 9)))
        assert got == want and len(got) > 0


def test_minhash_against_kernel_matches_banded_join(spark):
    """The broadcast numpy kernel and the banding-join fallback are two
    physical strategies for the same operator; under the kernel's
    threshold gate (threshold > 1 - bands/num_hashes) they must return
    identical rows.  ``broadcast_new_max=0`` forces the fallback."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        minhash_dedup_against,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    ref = spark.createDataFrame(
        [(i, " ".join(words[j % len(words)] for j in range(i, i + 6)))
         for i in range(20)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, " ".join(words[j % len(words)] for j in range(i, i + 6)))
         for i in range(0, 20, 2)]
        + [(999, "totally disjoint vocabulary here nothing shared at all")],
        "doc_id long, text string",
    )
    kernel = minhash_dedup_against(new, ref, threshold=0.8, ngram=1)
    banded = minhash_dedup_against(
        new, ref, threshold=0.8, ngram=1, broadcast_new_max=0
    )
    assert kernel.exceptAll(banded).count() == 0
    assert banded.exceptAll(kernel).count() == 0
    assert kernel.count() > 0

    # force the memory-bounding K-chunk path (grid budget of 8 cells ⇒
    # several chunks per batch) and require identical output
    from gather_datawarehouse_sync_spark.operators import dedup as dedup_mod

    saved = dedup_mod._KERNEL_GRID_CELLS
    dedup_mod._KERNEL_GRID_CELLS = 8
    try:
        chunked = minhash_dedup_against(new, ref, threshold=0.8, ngram=1)
        assert chunked.exceptAll(banded).count() == 0
        assert banded.exceptAll(chunked).count() == 0
    finally:
        dedup_mod._KERNEL_GRID_CELLS = saved


# ---------------------------------------------------------------------------
# packing / training-batch layout
# ---------------------------------------------------------------------------


def test_exclusive_prefix_sum_matches_global_window(spark):
    from gather_datawarehouse_sync_spark.operators.packing import (
        exclusive_prefix_sum,
    )

    rows = [Row(i=i, v=(i * 7) % 13) for i in range(200)]
    df = spark.createDataFrame(rows).repartition(8)
    got = {
        r["i"]: r["off"]
        for r in exclusive_prefix_sum(df, "i", "v", "off", group_size=16).collect()
    }
    run = 0
    for i in range(200):
        assert got[i] == run
        run += (i * 7) % 13


def test_pack_chunks_spans_and_zero_token_docs(spark):
    from gather_datawarehouse_sync_spark.operators.packing import pack_chunks

    # budget 10: doc0 fills [0,7), doc1 is empty, doc2 spans chunks 0-1
    df = spark.createDataFrame(
        [Row(i=0, t=7), Row(i=1, t=0), Row(i=2, t=8), Row(i=3, t=5)]
    )
    out = {r["i"]: r for r in pack_chunks(df, "i", "t", 10, group_size=2).collect()}
    assert (out[0]["first_chunk"], out[0]["last_chunk"], out[0]["n_chunks"]) == (0, 0, 1)
    assert out[1]["n_chunks"] == 0
    assert (out[2]["first_chunk"], out[2]["last_chunk"], out[2]["n_chunks"]) == (0, 1, 2)
    assert (out[3]["first_chunk"], out[3]["last_chunk"]) == (1, 1)


def test_shuffle_order_partition_invariant_permutation(spark):
    from gather_datawarehouse_sync_spark.operators.sampling import shuffle_order

    df = spark.createDataFrame([Row(id=i) for i in range(300)])
    a = {r["id"]: r["train_rank"] for r in shuffle_order(df, "id", "7").collect()}
    b = {
        r["id"]: r["train_rank"]
        for r in shuffle_order(df.repartition(13), "id", "7").collect()
    }
    assert a == b  # layout-invariant
    assert sorted(a.values()) == list(range(1, 301))  # a permutation
    c = {r["id"]: r["train_rank"] for r in shuffle_order(df, "id", "8").collect()}
    assert c != a  # different seed → different epoch order


def test_shuffle_order_matches_serial_md5_sort(spark):
    """The rank is EXACTLY the 1-based position in the serial sort by
    (md5(seed:id) hex string, id) — pinned against hashlib so the
    hierarchical decomposition AND its integer-keyed sort (the hash is
    carried as three longs, whose order must equal hex-string order)
    can never drift from the documented contract."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.sampling import shuffle_order

    n = 4000
    df = spark.range(0, n).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["train_rank"]
        for r in shuffle_order(df, "doc_id", seed="7").collect()
    }
    order = sorted(
        range(n), key=lambda i: (hashlib.md5(f"7:{i}".encode()).hexdigest(), i)
    )
    assert got == {doc: rank + 1 for rank, doc in enumerate(order)}
    # cache_input=True is purely physical: identical ranks
    cached = {
        r["doc_id"]: r["train_rank"]
        for r in shuffle_order(df, "doc_id", seed="7", cache_input=True).collect()
    }
    assert cached == got


def test_two_phase_cap_and_budget_dense_shards_match_serial(spark):
    """Adversarial regime for the two-phase skew decomposition: 2000
    rows in ONE group (≈8 rows per 256-hash-shard) with tiny cap/budget,
    so phase 1 drops rows in EVERY shard and phase 2's exactness
    actually depends on the lower-bound argument — compared against the
    serial greedy/top-k in the same md5 order."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.sampling import (
        cap_per_group,
        token_budget_sample,
    )

    n = 2000
    rows = [("g", (i * 7) % 13 + 1, i) for i in range(n)]
    df = spark.createDataFrame(rows, "grp string, toks long, id long")
    order = sorted(range(n), key=lambda i: (hashlib.md5(f"0:{i}".encode()).hexdigest(), i))

    got_cap = sorted(r["id"] for r in cap_per_group(df, ["grp"], "id", 5).collect())
    assert got_cap == sorted(order[:5])

    budget = 40
    want, cum = [], 0
    toks = {i: (i * 7) % 13 + 1 for i in range(n)}
    for i in order:
        if cum < budget:
            want.append(i)
        cum += toks[i]
    got_b = {
        r["id"]: r["cum_tokens"]
        for r in token_budget_sample(df, "grp", "toks", budget, "id").collect()
    }
    assert sorted(got_b) == sorted(want)
    # cum_tokens must be the FULL-ORDER running total, not the survivor one
    cum = 0
    for i in order:
        if cum < budget:
            assert got_b[i] == cum + toks[i], i
        cum += toks[i]


def test_cap_per_group_exact_cap_and_stability(spark):
    from gather_datawarehouse_sync_spark.operators.sampling import cap_per_group

    rows = [Row(id=i, g=f"g{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows)
    out = cap_per_group(df, ["g"], "id", 5)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    # survivors are stable under repartitioning
    kept1 = sorted(r["id"] for r in out.collect())
    kept2 = sorted(r["id"] for r in cap_per_group(df.repartition(11), ["g"], "id", 5).collect())
    assert kept1 == kept2
    with pytest.raises(ValueError):
        cap_per_group(df, ["g"], "id", 0)


def test_change_intervals_runs_and_validity_chain(spark):
    from gather_datawarehouse_sync_spark.operators.sessions import change_intervals

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    ev = [
        # user 1: a a b a  → runs a(2), b(1), a(1)
        Row(k=1, ts=t0 + dt.timedelta(minutes=0), e=1, v="a"),
        Row(k=1, ts=t0 + dt.timedelta(minutes=1), e=2, v="a"),
        Row(k=1, ts=t0 + dt.timedelta(minutes=2), e=3, v="b"),
        Row(k=1, ts=t0 + dt.timedelta(minutes=3), e=4, v="a"),
        # user 2: single run
        Row(k=2, ts=t0, e=5, v="x"),
    ]
    out = change_intervals(
        spark.createDataFrame(ev), "k", "ts", "v", order_tiebreak="e"
    ).collect()
    u1 = sorted([r for r in out if r["k"] == 1], key=lambda r: r["valid_from"])
    assert [(r["v"], r["n_events"]) for r in u1] == [("a", 2), ("b", 1), ("a", 1)]
    # validity chain: each run's valid_to == next run's valid_from; last open
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None
    (u2,) = [r for r in out if r["k"] == 2]
    assert u2["valid_to"] is None and u2["n_events"] == 1


def test_chunk_spans_overlap_and_trailing_partial(spark):
    from gather_datawarehouse_sync_spark.operators.packing import chunk_spans

    # 10 tokens "t0 .. t9", chunks of 4 every 2 → starts 0,2,4,6,8
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([Row(doc_id=1, text=text), Row(doc_id=2, text="")])
    out = sorted(
        chunk_spans(df, "doc_id", "text", chunk_tokens=4, stride=2).collect(),
        key=lambda r: (r["doc_id"], r["chunk_seq"]),
    )
    assert all(r["doc_id"] == 1 for r in out)  # empty doc → no chunks
    assert [(r["chunk_seq"], r["start_pos"], r["n_tokens"]) for r in out] == [
        (0, 0, 4), (1, 2, 4), (2, 4, 4), (3, 6, 4), (4, 8, 2)
    ]
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[1]["chunk_text"] == "t2 t3 t4 t5"
    assert out[4]["chunk_text"] == "t8 t9"  # trailing partial window


def test_profile_one_pass_stats(spark):
    from gather_datawarehouse_sync_spark.operators.profile import profile

    df = spark.createDataFrame(
        [Row(a=1, b="x", c=1.5), Row(a=2, b=None, c=2.25), Row(a=2, b="y", c=None)]
    )
    got = {r["column"]: r for r in profile(df).collect()}
    assert got["a"]["n"] == 3 and got["a"]["n_null"] == 0
    assert got["a"]["n_distinct"] == 2
    assert (got["a"]["min_s"], got["a"]["max_s"]) == ("1", "2")
    assert got["b"]["n_null"] == 1 and got["b"]["n_distinct"] == 2
    assert (got["c"]["min_s"], got["c"]["max_s"]) == ("1.50", "2.25")
    # one-pass contract: a single scan of the input (formatted mode
    # repeats node names in the details section — use simple mode)
    from gather_datawarehouse_sync_spark.plans import plan_str

    assert plan_str(profile(df), mode="simple").count("Scan ExistingRDD") == 1


# ---------------------------------------------------------------------------
# join pruning
# ---------------------------------------------------------------------------


def test_semi_prune_and_prefiltered_join_exact(spark):
    from gather_datawarehouse_sync_spark.operators.prune import (
        prefiltered_join,
        semi_prune,
    )

    big = spark.createDataFrame([Row(k=i, v=i * 2) for i in range(5000)])
    small = spark.createDataFrame([Row(sk=i * 100, w=f"w{i}") for i in range(10)])

    pruned = semi_prune(big, small, [("k", "sk")])
    assert {r["k"] for r in pruned.collect()} == {i * 100 for i in range(10)}

    got = sorted(
        (r["k"], r["w"]) for r in prefiltered_join(big, small, "k", "sk").collect()
    )
    exp = sorted(
        (r["k"], r["w"])
        for r in big.join(small, big["k"] == small["sk"], "inner").collect()
    )
    assert got == exp and len(exp) == 10

    with pytest.raises(ValueError):
        prefiltered_join(big, small, "k", "sk", how="right")


def test_semi_prune_empty_build_side(spark):
    from gather_datawarehouse_sync_spark.operators.prune import semi_prune

    big = spark.createDataFrame([Row(k=i) for i in range(100)])
    empty = spark.createDataFrame([], "sk long")
    assert semi_prune(big, empty, [("k", "sk")]).count() == 0


def test_hll_sketches_merge_across_shards(spark):
    """The 100 TB distinct-count pattern: per-shard HLL sketches persist
    and merge — the union estimate must equal the whole-corpus estimate
    (same sketch algorithm, same data, just incremental)."""
    df = spark.createDataFrame([Row(u=i % 700) for i in range(10000)])
    whole = df.select(
        F.call_function("hll_sketch_estimate",
                        F.call_function("hll_sketch_agg", F.col("u"))).alias("e")
    ).first()["e"]
    shards = [
        df.filter(F.col("u") % 2 == m).select(
            F.call_function("hll_sketch_agg", F.col("u")).alias("s")
        )
        for m in (0, 1)
    ]
    merged = (
        shards[0].unionAll(shards[1])
        .select(F.call_function("hll_union_agg", F.col("s")).alias("m"))
        .select(F.call_function("hll_sketch_estimate", F.col("m")).alias("e"))
        .first()["e"]
    )
    # union-of-shards and single-pass agree to sketch precision (modes
    # — sparse vs dense — can differ between the two paths, so the
    # estimates are near-identical, not bit-identical)
    assert abs(merged - whole) / whole < 0.02
    assert abs(whole - 700) / 700 < 0.05


def test_interpolate_linear_blend_and_edges(spark):
    from gather_datawarehouse_sync_spark.operators.sessions import interpolate_linear

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, mins, v):
        return Row(k="u", e=i, ts=t0 + dt.timedelta(minutes=mins), v=v)

    rows = [
        ev(0, 0, None),   # leading edge: copies the next known value
        ev(1, 10, 2.0),
        ev(2, 20, None),  # 1/3 of the way 10→40 min: 2 + (8-2)*(10/30) = 4
        ev(3, 40, 8.0),
        ev(4, 50, None),  # trailing edge: copies the previous known value
    ]
    out = {
        r["e"]: r["v_interp"]
        for r in interpolate_linear(
            spark.createDataFrame(rows), "k", "ts", "v", order_tiebreak="e"
        ).collect()
    }
    assert out[0] == 2.0 and out[4] == 8.0
    assert out[1] == 2.0 and out[3] == 8.0  # known rows untouched
    assert abs(out[2] - 4.0) < 1e-12
    # all-null key stays null
    nul = interpolate_linear(
        spark.createDataFrame([Row(k="z", e=9, ts=t0, v=None)], "k string, e long, ts timestamp, v double"),
        "k", "ts", "v", order_tiebreak="e",
    ).first()
    assert nul["v_interp"] is None
    # degenerate gap: both known neighbors share ONE timestamp — the
    # naive blend is 0/0 = NaN; the documented rule takes the PREVIOUS
    # side (LOCF convention, matching forward_fill)
    deg = {
        r["e"]: r["v_interp"]
        for r in interpolate_linear(
            spark.createDataFrame(
                [ev(0, 5, 3.0), ev(1, 5, None), ev(2, 5, 7.0)]
            ),
            "k", "ts", "v", order_tiebreak="e",
        ).collect()
    }
    assert deg[1] == 3.0


# ---------------------------------------------------------------------------
# term statistics (operators/terms.py) + group centroids
# ---------------------------------------------------------------------------


def _bm25_reference(corpus, terms, idf="rational", K=1200, B=750, S=100):
    """BM25 by its documented definition in plain Python: the ascii
    tokenization, documents with no tokens (NULL text included) outside
    ``n_docs`` and the average length, repeated query terms counted
    once, and each document a separate row.  Returns {id: score} for
    every document matching at least one term — the milli-floored
    integer score for ``"rational"``, the double Okapi score with
    log-IDF floored at 0 for ``"log"``."""
    import math
    import re

    toks = {
        i: [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]
        for i, t in corpus.items()
    }
    dl = {i: len(ts) for i, ts in toks.items() if ts}
    n_docs, total = len(dl), sum(dl.values())
    terms = list(dict.fromkeys(terms))
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    want = {}
    for i, ts in toks.items():
        hits = [(t, ts.count(t)) for t in terms if t in ts]
        if not hits:
            continue
        if idf == "log":
            k1, b, avgdl = K / 1000.0, B / 1000.0, total / n_docs
            want[i] = sum(
                max(0.0, math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5)))
                * (tf * (k1 + 1.0))
                / (tf + k1 * (1.0 - b + b * dl[i] / avgdl))
                for t, tf in hits
            )
            continue
        avgdl_milli = (1000 * total) // n_docs
        score = 0
        for t, tf in hits:
            r_milli = (1_000_000 * dl[i]) // avgdl_milli
            ln_milli = ((1000 - B) * 1000 + B * r_milli) // 1000
            denom_milli = 1000 * tf + (K * ln_milli) // 1000
            w_milli = (1000 * tf * (1000 + K)) // denom_milli
            score += ((2 * n_docs - 2 * df[t] + 1) * w_milli * S) // (2 * df[t] + 1)
        want[i] = score
    return want


def test_bm25_matches_integer_definition(spark):
    """bm25_topk against an independent pure-Python reimplementation of
    the documented milli-floored arithmetic (same quantization points,
    same rational IDF) on a crafted corpus with length variation, term
    repetition, and a non-matching doc — every score must be integer-
    identical, and the non-matching doc absent."""
    from gather_datawarehouse_sync_spark.operators.terms import bm25_topk

    corpus = {
        1: "spark query engine spark spark",
        2: "query engine",
        3: "totally unrelated words here",
        4: "spark " * 10 + "engine",
    }
    terms = ["spark", "engine"]
    want = _bm25_reference(corpus, terms)

    sdf = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_topk(sdf, terms, k=10).collect()}
    assert got == want
    assert 3 not in got

    # duplicate query terms are set-semantics no-ops — a repeated term
    # must NOT double-count tf, matching both the oracle's IN-list and
    # the hybrid tf tier's array_contains
    dup = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(sdf, ["spark", "engine", "spark", "spark"], k=10).collect()
    }
    assert dup == want

    # idf="log": the PUBLISHED Okapi scorer (log-IDF floored at 0 per
    # the Lucene convention, plain double arithmetic) against an
    # independent pure-Python implementation — tolerance, not hash
    # (libm), per the documented tier contract.  "engine" is in 3 of
    # the 4 documents, so its raw ln IDF is NEGATIVE — the floor must
    # zero it out, not let it subtract from scores.
    assert sum("engine" in t for t in corpus.values()) > len(corpus) / 2
    want_log = _bm25_reference(corpus, terms, idf="log")
    assert want_log[2] == 0.0  # doc 2 matches only the common term
    got_log = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(sdf, terms, k=10, idf="log").collect()
    }
    assert set(got_log) == set(want_log)
    for i, s in want_log.items():
        assert abs(got_log[i] - s) < 1e-9, i

    with pytest.raises(ValueError, match="idf must be"):
        bm25_topk(sdf, terms, idf="plain")


@pytest.mark.parametrize("idf", ["rational", "log"])
def test_bm25_edge_cases_match_definition(spark, idf):
    """bm25_topk against the pure-Python definition on the edge cases
    of its input: string ids, a NULL text and a text with no tokens
    (both outside ``n_docs`` and the average length), a query term no
    document contains (df = 0, contributing nothing), and a ``k`` that
    cuts inside a score tie, which the id breaks."""
    from gather_datawarehouse_sync_spark.operators.terms import bm25_topk

    corpus = {
        "a": "alpha beta beta gamma",
        "b": "alpha",
        "c": None,
        "d": "!!! ???",
        "e": "beta delta delta delta delta",
        "t2": "beta gamma",
        "t1": "beta gamma",
        "t3": "beta gamma",
        "z": "unrelated words only",
    }
    terms = ["alpha", "beta", "zebra"]
    want = _bm25_reference(corpus, terms, idf=idf)
    assert set(want) == {"a", "b", "e", "t1", "t2", "t3"}
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    k = [i for i, _ in ranked].index("t2") + 1
    assert ranked[k - 1][1] == ranked[k][1]  # the cut splits the tie

    sdf = spark.createDataFrame(list(corpus.items()), "doc_id string, text string")

    def top(n):
        rows = [(r["doc_id"], r["score"]) for r in bm25_topk(sdf, terms, k=n, idf=idf).collect()]
        return sorted(rows, key=lambda kv: (-kv[1], kv[0]))

    for n in (k, 100):
        got = top(n)
        assert [i for i, _ in got] == [i for i, _ in ranked[:n]], n
        for (_, g), (_, w) in zip(got, ranked):
            assert g == w if idf == "rational" else abs(g - w) < 1e-9


def test_tfidf_topk_ordering_and_k(spark):
    """Rarer terms outrank common ones at equal tf; k bounds per-doc rows."""
    from gather_datawarehouse_sync_spark.operators.terms import tfidf_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="shared shared rare1"),
            Row(doc_id=2, text="shared unique2"),
            Row(doc_id=3, text="shared other"),
        ]
    )
    out = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # doc 1: 'shared' has tf=2 and wins on tf despite df=3
    top1 = sorted(by_doc[1], key=lambda r: r.rn)[0]
    assert (top1.term, top1.tf, top1.df) == ("shared", 2, 3)
    # doc 2: equal tf=1 → df ascending puts the unique term first
    top2 = sorted(by_doc[2], key=lambda r: r.rn)[0]
    assert (top2.term, top2.df) == ("unique2", 1)


def test_tfidf_topk_partition_invariance(spark):
    from gather_datawarehouse_sync_spark.operators.terms import tfidf_topk

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta w{i} w{i % 3}") for i in range(20)]
    )
    a = sorted(map(tuple, tfidf_topk(docs, k=3).collect()))
    b = sorted(map(tuple, tfidf_topk(docs.repartition(7), k=3).collect()))
    assert a == b


def test_group_centroids_exact_integer_sums(spark):
    """Quantized sums are exact: centroid of [0.1, 0.3] at pos 0 is
    floor-milli (100+300)/2 regardless of float noise; dims truncates."""
    from gather_datawarehouse_sync_spark.operators.similarity import group_centroids

    df = spark.createDataFrame(
        [
            Row(label=1, embedding=[0.1, 0.5, 0.9]),
            Row(label=1, embedding=[0.3, 0.5, 0.8]),
            Row(label=2, embedding=[1.0, -0.25, 0.0]),
        ],
        "label INT, embedding ARRAY<FLOAT>",
    )
    rows = {
        (r.grp, r.pos): r for r in group_centroids(df, dims=2).collect()
    }
    assert set(rows) == {(1, 0), (1, 1), (2, 0), (2, 1)}
    r10 = rows[(1, 0)]
    # float32 0.1 → 0.100000001...; *1000 → 100.000001...; floor → 100
    # float32 0.3 → 0.300000011...; floor → 300
    assert (r10.n, r10.s_milli, r10.centroid_milli) == (2, 400, 200.0)
    # negative components floor toward -inf (-0.25 → -250), same as the oracle
    assert rows[(2, 1)].s_milli == -250


def test_jaccard_clusters_ignore_tokenless_docs(spark):
    """Punctuation-only docs share an (empty) token set but have no
    Jaccard relation — they must not form a phantom cluster."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        jaccard_dedup_clusters,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="!!! ..."),
            Row(doc_id=2, text="??? ---"),
            Row(doc_id=3, text="alpha beta gamma"),
            Row(doc_id=4, text="alpha beta gamma"),
        ]
    )
    out = {(r.canon, r.members) for r in jaccard_dedup_clusters(docs).collect()}
    assert out == {(3, 2)}


def test_minhash_against_supports_string_ids(spark):
    """Reference ids are commonly URLs/hashes; the best-match tie-break
    must not assume numeric ids."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        minhash_dedup_against,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    new = spark.createDataFrame([Row(doc_id="n1", text=text)])
    ref = spark.createDataFrame(
        [Row(doc_id="r2", text=text), Row(doc_id="r1", text=text)]
    )
    out = minhash_dedup_against(new, ref, threshold=0.8, ngram=1).collect()
    assert len(out) == 1
    # identical docs: est 1.0, tie broken to the MIN string id
    assert (out[0].doc_id, out[0].ref_match, out[0].est_jaccard) == ("n1", "r1", 1.0)


def test_edit_distance_pairs_exact_and_cross_bucket(spark):
    """Length blocking must be complete: pairs whose lengths straddle a
    bucket boundary (|len diff| <= d) still match; beyond d they don't."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        edit_distance_pairs,
    )

    rows = [
        Row(id=1, name="kitten"),      # len 6  (bucket 2 at width 3)
        Row(id=2, name="sitting"),     # len 7, dist(kitten,sitting)=3 > 2
        Row(id=3, name="kitte"),       # len 5, dist to kitten = 1
        Row(id=4, name="mitten"),      # len 6, dist to kitten = 1
        Row(id=5, name="kit"),         # len 3, dist to kitte = 2 (cross-bucket)
        Row(id=6, name="kittenxx"),    # len 8 (bucket 2), dist to kitten = 2
    ]
    out = {(r.a, r.b): r.dist for r in edit_distance_pairs(
        spark.createDataFrame(rows), id_col="id", text_col="name", max_dist=2
    ).collect()}
    assert out == {(1, 3): 1, (1, 4): 1, (1, 6): 2, (3, 4): 2, (3, 5): 2}


def test_edit_distance_pairs_partition_invariance(spark):
    from gather_datawarehouse_sync_spark.operators.dedup import (
        edit_distance_pairs,
    )

    rows = [Row(id=i, name=f"name{i:04d}") for i in range(60)]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, edit_distance_pairs(df, "id", "name", 2).collect()))
    b = sorted(
        map(tuple, edit_distance_pairs(df.repartition(7), "id", "name", 2).collect())
    )
    assert a == b and len(a) > 0


def test_rare_ngram_profile_counts(spark):
    from gather_datawarehouse_sync_spark.operators.terms import rare_ngram_profile

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),      # grams: "a b", "b c"
            Row(doc_id=2, text="a b a b"),    # grams: "a b", "b a", "a b"
            Row(doc_id=3, text="x"),          # no 2-grams -> no row
        ]
    )
    out = {r.doc_id: r for r in rare_ngram_profile(docs, n=2, rare_below=3).collect()}
    assert set(out) == {1, 2}
    # corpus freqs: "a b" = 3 (not rare at <3), "b c" = 1, "b a" = 1
    assert (out[1].n_grams, out[1].n_rare) == (2, 1)
    assert (out[2].n_grams, out[2].n_rare) == (3, 1)
    assert out[2].rare_frac == 1 / 3


def test_strip_html_drops_boilerplate_decodes_entities(spark):
    from gather_datawarehouse_sync_spark.functions.text import strip_html

    df = spark.createDataFrame(
        [
            Row(
                id=1,
                raw='<html><style>b{}</style><script>if(1<2)x();</script>'
                '<!-- hidden --><p class="x">Hello &amp; welcome</p>'
                "<b>to&nbsp;the&#39;site&#39;</b></html>",
            ),
            Row(id=2, raw="plain text, no markup"),
            # the page DISPLAYS '&lt;' (escaped as &amp;lt;) — a correct
            # decoder must not double-decode it into '<'
            Row(id=3, raw="5 &amp;lt; 6"),
        ]
    )
    out = {r.id: r.clean for r in df.select("id", strip_html(F.col("raw")).alias("clean")).collect()}
    assert out[1] == "Hello & welcome to the'site'"
    assert out[2] == "plain text, no markup"
    assert out[3] == "5 &lt; 6"


def test_dedup_repeated_units_order_and_edges(spark):
    from gather_datawarehouse_sync_spark.functions.text import (
        dedup_repeated_units,
    )

    df = spark.createDataFrame(
        [
            Row(id=1, t="b a b c a"),
            Row(id=2, t=""),
            Row(id=3, t="x"),
            Row(id=4, t="line1\nline2\nline1"),
        ]
    )
    tok = {
        r.id: r.d
        for r in df.select(
            "id", dedup_repeated_units(F.col("t")).alias("d")
        ).collect()
    }
    # first-occurrence order preserved; singletons and empties unchanged
    assert tok[1] == "b a c"
    assert tok[2] == ""
    assert tok[3] == "x"
    # newline separator: line-level removal (the real-corpus granularity)
    lines = {
        r.id: r.d
        for r in df.select(
            "id", dedup_repeated_units(F.col("t"), sep="\n").alias("d")
        ).collect()
    }
    assert lines[4] == "line1\nline2"
    assert lines[1] == "b a b c a"


def test_weighted_interleave_proportions_and_guard(spark, sf_dir):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        weighted_interleave,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    out = weighted_interleave(
        docs, "source", {"src0": 3000}, "doc_id"
    ).orderBy("mix_key", "source", "doc_id")
    rows = out.collect()
    assert len(rows) == docs.count()
    # stride semantics: the n-th row of a source has key n*1e6/weight
    for r in rows[:50]:
        w = 3000 if r["source"] == "src0" else 1000
        assert r["mix_key"] == (r["src_rn"] * 1_000_000) // w
    # in any prefix before src0 exhausts, src0 appears ~3x a 1x source:
    # after k keys of a 1x source, src0 contributed ~3k rows
    per_source = docs.groupBy("source").count().collect()
    n_src0 = next(r["count"] for r in per_source if r["source"] == "src0")
    # cutoff = key of src0's LAST row: up to there src0 is still
    # contributing, so a 1x source has ~n_src0/3 rows in the prefix
    prefix = [r for r in rows if r["mix_key"] <= (n_src0 * 1_000_000) // 3000]
    by_src = {}
    for r in prefix:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    others = [v for k, v in by_src.items() if k != "src0"]
    if others and "src0" in by_src:
        ratio = by_src["src0"] / max(others)
        assert 2.5 <= ratio <= 3.5, f"mix ratio {ratio}"
    # column-collision guard
    with pytest.raises(ValueError, match="collision"):
        weighted_interleave(
            out, "source", {"src0": 3000}, "doc_id"
        )


def _mg_tokens(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.explode(
            F.array_remove(F.split(F.lower("text"), r"[^a-z0-9]+"), "")
        ).alias("tok")
    )


def test_mg_heavy_hitters_equals_exact_threshold(spark, sf_dir):
    """Two-pass Misra-Gries output must equal the plain GROUP BY/HAVING
    answer — the sketch only generates candidates; verification is
    exact."""
    from gather_datawarehouse_sync_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    toks = _mg_tokens(spark, sf_dir)
    eps_milli = 5
    got = {
        (r["item"], r["cnt"])
        for r in mg_heavy_hitters(toks, "tok", eps_milli).collect()
    }
    n = toks.count()
    want = {
        (r["tok"], r["c"])
        for r in toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * 1000 > n * eps_milli)
        .collect()
    }
    assert got == want and want, "expected non-empty heavy-hitter set"


def test_mg_heavy_hitters_partition_invariant(spark, sf_dir):
    from gather_datawarehouse_sync_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    toks = _mg_tokens(spark, sf_dir)
    a = sorted(
        map(tuple, mg_heavy_hitters(toks.repartition(3), "tok", 5).collect())
    )
    b = sorted(
        map(tuple, mg_heavy_hitters(toks.repartition(17), "tok", 5).collect())
    )
    assert a == b


def test_mg_heavy_hitters_tiny_k_still_exact(spark):
    """Even with k so small the sketch prunes constantly, the exact
    verification pass keeps the answer right (superset property)."""
    from gather_datawarehouse_sync_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    rows = [("hot",)] * 600 + [(f"i{n}",) for n in range(300)] + [("warm",)] * 100
    df = spark.createDataFrame(rows, "tok string").repartition(7)
    # eps 20% of 1000 rows -> threshold 200: only 'hot' qualifies
    got = {(r["item"], r["cnt"]) for r in mg_heavy_hitters(df, "tok", 200).collect()}
    assert got == {("hot", 600)}


def test_token_budget_sample_prefix_and_overshoot(spark, sf_dir):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        token_budget_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks"),
    )
    budget = 500
    kept = token_budget_sample(docs, "source", "n_toks", budget, "doc_id")
    rows = kept.collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        # every kept doc started under budget; at most ONE row overshoots
        assert all(r["cum_tokens"] - r["n_toks"] < budget for r in rs)
        over = [r for r in rs if r["cum_tokens"] >= budget]
        assert len(over) <= 1, f"{src}: {len(over)} overshooting rows"
    # partition invariance: same selection under a different layout
    again = token_budget_sample(
        docs.repartition(13), "source", "n_toks", budget, "doc_id"
    )
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in again.collect()
    )
    with pytest.raises(ValueError, match="positive"):
        token_budget_sample(docs, "source", "n_toks", 0, "doc_id")


def test_mg_heavy_hitters_null_contract_and_two_scans(spark):
    """NULL items are excluded from candidates AND the denominator
    (review fix): 6 nulls + 4 'a' -> 'a' has 100% share of the 4
    non-null rows."""
    from gather_datawarehouse_sync_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    df = spark.createDataFrame(
        [(None,)] * 6 + [("a",)] * 4, "tok string"
    ).repartition(3)
    got = {(r["item"], r["cnt"]) for r in mg_heavy_hitters(df, "tok", 500).collect()}
    assert got == {("a", 4)}


def test_weighted_interleave_rejects_nonpositive_weights(spark, sf_dir):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        weighted_interleave,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    with pytest.raises(ValueError, match="positive"):
        weighted_interleave(docs, "source", {"src0": 0}, "doc_id")
    with pytest.raises(ValueError, match="positive"):
        weighted_interleave(
            docs, "source", {"src0": 10}, "doc_id", default_weight_milli=-1
        )


def test_weighted_interleave_numeric_path_keeps_null_keys(spark):
    """r15 advisor find: the numeric-id blocked path's equi-join on
    (source, block) silently DROPPED rows with a NULL id (NULL block
    key) or NULL source, while the string-id window fallback keeps
    them.  The join is now null-safe; pin row preservation and that a
    NULL id ranks FIRST within its source (NULLS FIRST ascending, same
    place the window fallback puts it)."""
    from gather_datawarehouse_sync_spark.operators.sampling import (
        weighted_interleave,
    )

    df = spark.createDataFrame(
        [
            ("a", 10),
            ("a", None),  # NULL id: NULL block key
            ("a", 3),
            (None, 7),  # NULL source
        ],
        "source string, doc_id long",
    )
    rows = weighted_interleave(
        df, "source", {"a": 2000}, "doc_id", id_block_size=4
    ).collect()
    assert len(rows) == 4, "null-keyed rows must not be dropped"
    a_rows = sorted(
        ((r["doc_id"], r["src_rn"]) for r in rows if r["source"] == "a"),
        key=lambda t: t[1],
    )
    # NULL id first, then 3, then 10 — the window fallback's order
    assert a_rows == [(None, 1), (3, 2), (10, 3)]
    null_src = next(r for r in rows if r["source"] is None)
    assert null_src["src_rn"] == 1
    assert null_src["mix_key"] == 1_000  # rn·10⁶ DIV default weight 1000


def test_quality_dedup_null_score_sorts_last(spark):
    """r15 advisor find: min(struct(-q, id, q)) made a NULL-scored
    member the canonical survivor (NULL sorts first ascending), where
    the orderBy(q.desc(), id) window it replaced put NULLs LAST.  The
    sort key is now coalesced; a NULL-scored doc only survives when the
    entire cluster is unscored (ties then break to min id)."""
    from gather_datawarehouse_sync_spark.operators.dedup import quality_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", None),  # NULL score
            (2, "alpha beta gamma delta", 10),  # must win
            (10, "zeta eta theta iota", None),  # all-NULL cluster:
            (11, "zeta eta theta iota", None),  # min id wins
            # int64-extreme scores: the sort key is BITWISE NOT, not
            # negation — -(Long.MIN) would overflow (ANSI throws) and a
            # coalesce-to-MAX sentinel would collide with -(2⁶³-1)
            (20, "one two three four five", -9223372036854775808),
            (21, "one two three four five", -9223372036854775807),
            (22, "one two three four five", None),  # must NOT outrank 21
        ],
        "doc_id long, text string, prio long",
    )
    got = {
        r["canon"]: (r["keep_id"], r["keep_score"], r["members"])
        for r in quality_dedup(
            df, threshold=0.9, score=F.col("prio")
        ).collect()
    }
    assert got == {
        1: (2, 10, 2),
        10: (10, None, 2),
        # max q wins even at the extremes: -(2⁶³-1) > Long.MIN > NULL
        20: (21, -9223372036854775807, 3),
    }


def test_agg_state_merge_equals_direct_any_split(spark, sf_dir):
    """Monoid law on real data: merging the states of ANY 3-way split
    equals the from-scratch state, bit for bit (integer metric)."""
    from gather_datawarehouse_sync_spark.operators.incremental_agg import (
        agg_state,
        finalize_agg,
        merge_agg_states,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    parts = [li.filter(F.pmod(F.xxhash64("q"), F.lit(3)) == i) for i in range(3)]
    merged = merge_agg_states(
        [agg_state(p, ["l_returnflag"], "q") for p in parts], ["l_returnflag"]
    )
    direct = agg_state(li, ["l_returnflag"], "q")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )
    fin = {r["l_returnflag"]: r["avg"] for r in finalize_agg(direct).collect()}
    direct_avg = {
        r["l_returnflag"]: r["a"]
        for r in li.groupBy("l_returnflag")
        .agg((F.sum("q").cast("double") / F.count(F.lit(1))).alias("a"))
        .collect()
    }
    assert fin == direct_avg
    with pytest.raises(ValueError, match="at least one"):
        merge_agg_states([], ["l_returnflag"])


def test_quantile_state_monoid_and_hand_computed(spark, sf_dir):
    """The mergeable quantile histogram: (1) monoid law on real data —
    merging ANY 3-way split's states equals the from-scratch state bit
    for bit; (2) hand-computed quantiles on a crafted group, including
    the one-bin-width error bound, ceiling arithmetic, and out-of-range
    clamping into edge bins; (3) guards."""
    from gather_datawarehouse_sync_spark.operators.incremental_agg import (
        merge_quantile_states,
        quantile_state,
        quantiles_from_state,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    parts = [li.filter(F.pmod(F.xxhash64("q"), F.lit(3)) == i) for i in range(3)]
    merged = merge_quantile_states(
        [quantile_state(p, ["l_returnflag"], "q", 0, 64, 16) for p in parts],
        ["l_returnflag"],
    )
    direct = quantile_state(li, ["l_returnflag"], "q", 0, 64, 16)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )

    # hand-computed: values 0..99 in one group, lo=0 hi=100 bins=10 →
    # bin width 10; P50 needs ceil(100·0.5)=50th row → bin 4 (values
    # 40-49 reach cum 50) → upper edge 50.  P99 → ceil(99)=99th row →
    # bin 9 → 100.  P1 → 1st row → bin 0 → 10.
    one = spark.createDataFrame(
        [("g", v) for v in range(100)], "g string, v long"
    )
    st = quantile_state(one, ["g"], "v", 0, 100, 10)
    got = {
        (r["q_bp"], r["value"])
        for r in quantiles_from_state(st, ["g"], [100, 5000, 9900], 0, 100, 10).collect()
    }
    assert got == {(100, 10), (5000, 50), (9900, 100)}

    # out-of-range values clamp into edge bins and still count toward N
    oor = spark.createDataFrame(
        [("g", -5), ("g", 250), ("g", 50)], "g string, v long"
    )
    st2 = quantile_state(oor, ["g"], "v", 0, 100, 10)
    bins = {(r["bin"], r["n"]) for r in st2.collect()}
    assert bins == {(0, 1), (9, 1), (5, 1)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="hi > lo"):
        quantile_state(one, ["g"], "v", 10, 10)
    with _pytest.raises(ValueError, match="at least one"):
        merge_quantile_states([], ["g"])
    # q_bp out of (0, 10000] must be a loud error, not a silently
    # missing group row (q_bp > 10000 can never satisfy cum >= need)
    for bad in (0, -1, 10001, 50000):
        with _pytest.raises(ValueError, match="basis points"):
            quantiles_from_state(st, ["g"], [5000, bad], 0, 100, 10)


def test_leakage_safe_split_clusters_never_straddle(spark, sf_dir):
    """Every near-dup pair lands on ONE side of the split (the whole
    point); singletons still split ~proportionally; deterministic."""
    from gather_datawarehouse_sync_spark.operators.dedup import jaccard_pairs
    from gather_datawarehouse_sync_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = jaccard_pairs(docs, threshold=0.5).select("a", "b")
    assert pairs.count() > 0, "fixture needs near-dup pairs"
    out = leakage_safe_split(docs, pairs, "doc_id", test_fraction=0.3)
    side = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    for r in pairs.collect():
        assert side[r["a"]] == side[r["b"]], f"pair {r} straddles the split"
    n_test = sum(1 for v in side.values() if v == "test")
    assert 0 < n_test < len(side)
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, pairs, "doc_id", test_fraction=0.3)
        .select("doc_id", "split")
        .collect()
    }
    assert side == again
    with pytest.raises(ValueError, match="\\[0, 1\\]"):
        leakage_safe_split(docs, pairs, "doc_id", test_fraction=1.5)


def test_minhash_against_persisted_sketch_parity(spark, sf_dir):
    """The persisted-sketch path (reference_signatures=...) must return
    byte-identical verdicts to the recompute path — signatures are
    deterministic, so the only difference is WHERE the reference sketch
    comes from."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    direct = sorted(
        map(tuple, minhash_dedup_against(new, ref, threshold=0.5).collect())
    )
    sketch = minhash_signatures(ref).withColumnRenamed("id", "doc_id")
    via_sketch = sorted(
        map(
            tuple,
            minhash_dedup_against(
                new, threshold=0.5, reference_signatures=sketch
            ).collect(),
        )
    )
    assert direct == via_sketch and direct, "expected non-empty verdicts"
    with pytest.raises(ValueError, match="reference"):
        minhash_dedup_against(new)


def test_minhash_against_sketch_validation(spark, sf_dir):
    """minhash_signatures output ('id' column) is accepted without a
    rename, and a sketch built with a different num_hashes is rejected
    at entry instead of silently mis-scoring."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    sketch = minhash_signatures(ref)  # id column stays named 'id'
    renamed = sketch.withColumnRenamed("id", "doc_id")
    as_is = sorted(
        map(
            tuple,
            minhash_dedup_against(
                new, threshold=0.5, reference_signatures=sketch
            ).collect(),
        )
    )
    via_rename = sorted(
        map(
            tuple,
            minhash_dedup_against(
                new, threshold=0.5, reference_signatures=renamed
            ).collect(),
        )
    )
    assert as_is == via_rename and as_is
    wrong_width = minhash_signatures(ref, num_hashes=32)
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_dedup_against(
            new, threshold=0.5, reference_signatures=wrong_width
        )
    bad_cols = sketch.withColumnRenamed("id", "some_other_id")
    with pytest.raises(ValueError, match="column"):
        minhash_dedup_against(
            new, threshold=0.5, reference_signatures=bad_cols
        )


def test_simhash_filter_before_dedup_identical_rows(spark):
    """x_simhash_neighbors' plan order (row-local Hamming filter BEFORE
    the pair-dedup shuffle) returns exactly the rows of the
    dedup-first order: every banding copy of a pair carries the same
    hd, so the filter can never disagree across copies."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "alpha beta gamma delta zeta"),
            (4, "one two three four five six"),
            (5, "totally different content here now"),
        ],
        "doc_id long, text string",
    )
    fp = simhash(df, id_col="doc_id", text_col="text")
    banded = fp.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "key"),
    )
    a = banded.select(
        F.col("id").alias("a"), F.col("simhash").alias("fa"), "band", "key"
    )
    b = banded.select(
        F.col("id").alias("b"), F.col("simhash").alias("fb"), "band", "key"
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64(F.col("fa"), F.col("fb")).alias("hd"))
    )
    filter_first = sorted(
        map(tuple, cand.filter(F.col("hd") <= 8).dropDuplicates(["a", "b"]).collect())
    )
    dedup_first = sorted(
        map(tuple, cand.dropDuplicates(["a", "b"]).filter(F.col("hd") <= 8).collect())
    )
    assert filter_first == dedup_first
    assert (1, 2, 0) in filter_first  # identical docs collide at hd 0


def test_ivf_centroids_roundtrip_identical_topk(spark, sf_dir, tmp_path):
    """Stored-index contract: IVF top-k against reloaded centroids is
    byte-identical to the in-memory matrix (float64 survives parquet
    bit-for-bit)."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        load_ivf_centroids,
        save_ivf_centroids,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=4)
    path = str(tmp_path / "ivf")
    save_ivf_centroids(spark, C, path)
    C2 = load_ivf_centroids(spark, path)
    assert C2.shape == C.shape and np.array_equal(C, C2)
    q = emb.filter(F.col("vec_id") < 5)
    got_mem = sorted(map(tuple, ivf_topk(q, emb, k=1, nlist=4, nprobe=2, centroids=C).collect()))
    got_disk = sorted(map(tuple, ivf_topk(q, emb, k=1, nlist=4, nprobe=2, centroids=C2).collect()))
    assert got_mem == got_disk and got_mem


def test_pq_codebooks_roundtrip_identical_topk(spark, sf_dir, tmp_path):
    """Stored-index contract for PQ: reload ≡ retrain codebooks, and the
    ADC top-k against the loaded books matches exactly."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        load_pq_codebooks,
        save_pq_codebooks,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    B = train_pq_codebooks(
        emb, num_subspaces=8, num_centroids=8, order_col="vec_id"
    )
    path = str(tmp_path / "pq")
    save_pq_codebooks(spark, B, path)
    B2 = load_pq_codebooks(spark, path)
    assert B2.shape == B.shape and np.array_equal(B, B2)
    q = emb.filter(F.col("vec_id") < 5)
    got_mem = sorted(
        map(tuple, pq_topk(q, emb, k=1, num_subspaces=8, num_centroids=8, codebooks=B).collect())
    )
    got_disk = sorted(
        map(tuple, pq_topk(q, emb, k=1, num_subspaces=8, num_centroids=8, codebooks=B2).collect())
    )
    assert got_mem == got_disk and got_mem


def test_ivf_stored_lists_identical_topk(spark, sf_dir, tmp_path):
    """Data-half contract: IVF served from persisted inverted lists
    (cell, id, vector) returns exactly the recompute path's top-k —
    assignment is deterministic, and parquet round-trips the float64
    vectors bit-for-bit.  Also pins the guard rails: lists without
    centroids, and neither corpus nor lists, both fail loudly."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_invert,
        ivf_topk,
        kmeans_centroids,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=4)
    path = str(tmp_path / "ivf_lists")
    ivf_invert(emb, C).write.partitionBy("cell").parquet(path)
    lists = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 5)
    recompute = sorted(
        map(tuple, ivf_topk(q, emb, k=2, nlist=4, nprobe=2, centroids=C).collect())
    )
    stored = sorted(
        map(
            tuple,
            ivf_topk(
                q, None, k=2, nlist=4, nprobe=2, centroids=C, lists=lists
            ).collect(),
        )
    )
    assert stored == recompute and stored
    with pytest.raises(ValueError, match="centroids"):
        ivf_topk(q, None, lists=lists)
    with pytest.raises(ValueError, match="corpus or lists"):
        ivf_topk(q, None, centroids=C)


def test_pq_stored_codes_identical_topk(spark, sf_dir, tmp_path):
    """Data-half contract for PQ: serving from the persisted (id, codes)
    table returns exactly the recompute path's top-k, and a code table
    whose width disagrees with the codebooks is rejected at entry."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    B = train_pq_codebooks(
        emb, num_subspaces=8, num_centroids=8, order_col="vec_id"
    )
    path = str(tmp_path / "pq_codes")
    pq_encode(emb, B).write.parquet(path)
    codes = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") < 5)
    recompute = sorted(
        map(
            tuple,
            pq_topk(
                q, emb, k=2, num_subspaces=8, num_centroids=8, codebooks=B
            ).collect(),
        )
    )
    stored = sorted(
        map(
            tuple,
            pq_topk(
                q, None, k=2, num_subspaces=8, num_centroids=8,
                codebooks=B, codes=codes,
            ).collect(),
        )
    )
    assert stored == recompute and stored
    with pytest.raises(ValueError, match="codebooks"):
        pq_topk(q, None, codes=codes)
    with pytest.raises(ValueError, match="corpus or codes"):
        pq_topk(q, None, codebooks=B)
    B4 = train_pq_codebooks(
        emb, num_subspaces=4, num_centroids=8, order_col="vec_id"
    )
    with pytest.raises(ValueError, match="subspaces"):
        pq_topk(q, None, num_subspaces=4, codebooks=B4, codes=codes).collect()


def test_semantic_dedup_stored_cells_identical(spark, sf_dir, tmp_path):
    """Data-half contract for SemDeDup: verdicts served from the
    persisted (id, cell) membership equal the recompute path's exactly
    (shared assignment kernel, deterministic keep rule)."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        kmeans_centroids,
        normalized,
        semantic_cells,
        semantic_dedup,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(normalized(emb), 4, vec_col="v", max_iter=5)
    path = str(tmp_path / "semdedup_cells")
    semantic_cells(emb, C).write.parquet(path)
    cells = spark.read.parquet(path)
    recompute = sorted(
        map(tuple, semantic_dedup(emb, threshold=0.45, centroids=C).collect())
    )
    stored = sorted(
        map(
            tuple,
            semantic_dedup(
                emb, threshold=0.45, centroids=C, cells=cells
            ).collect(),
        )
    )
    assert stored == recompute and stored


def test_train_pq_codebooks_partition_invariant(spark, sf_dir):
    """The training sample is ordered before the limit, so codebooks are
    identical across partition layouts — the determinism the stored
    index relies on."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        train_pq_codebooks,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    b1 = train_pq_codebooks(emb, num_subspaces=8, num_centroids=8, order_col="vec_id")
    b2 = train_pq_codebooks(
        emb.repartition(7), num_subspaces=8, num_centroids=8, order_col="vec_id"
    )
    assert np.array_equal(b1, b2)


def test_cached_parquet_builds_once_then_rereads(spark, tmp_path):
    """Persist-once semantics: the build closure runs on the first call
    only; later calls are pure parquet scans returning the same rows."""
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    path = str(tmp_path / "edges")
    r1 = sorted(map(tuple, cached_parquet(spark, path, build).collect()))
    r2 = sorted(map(tuple, cached_parquet(spark, path, build).collect()))
    assert calls["n"] == 1
    assert r1 == r2 == [(1, "a"), (2, "b")]


def test_install_atomic_overwrite_failure_restores_old_artifact(
    spark, tmp_path, monkeypatch
):
    """If BOTH install attempts of an overwrite swap fail, the old
    (still valid) artifact must be put back at ``path`` before the
    exception propagates — a transient failure degrades to "overwrite
    didn't happen", never to "no artifact until the pruner runs"."""
    import os as _os

    from gather_datawarehouse_sync_spark.sources import artifacts as art

    path = str(tmp_path / "idx")
    art._install_atomic(
        spark.createDataFrame([(1, "old")], "id long, v string"),
        path,
        single_file=True,
        overwrite=True,
    )
    assert _os.path.exists(_os.path.join(path, "_SUCCESS"))
    old_rows = sorted(map(tuple, spark.read.parquet(path).collect()))

    real_replace = _os.replace

    def failing_replace(src, dst):
        # fail only the tmp→path install (src is the staging dir);
        # the rename-aside and the restore go through untouched
        if "__building__" in src and dst == path:
            raise OSError("injected install failure")
        return real_replace(src, dst)

    monkeypatch.setattr(art.os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        art._install_atomic(
            spark.createDataFrame([(2, "new")], "id long, v string"),
            path,
            single_file=True,
            overwrite=True,
        )
    monkeypatch.undo()
    # the ORIGINAL artifact is back at path, complete and readable
    assert _os.path.exists(_os.path.join(path, "_SUCCESS"))
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == old_rows


def test_cluster_split_cached_pairs_match_recompute(spark, sf_dir, tmp_path):
    """The persisted-pairs form of the leakage-safe split: the cached
    edge list is row-identical to a fresh jaccard_pairs run, so the
    split (a pure function of the edges) is identical either way."""
    from gather_datawarehouse_sync_spark.operators.dedup import jaccard_pairs
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fresh = sorted(
        map(tuple, jaccard_pairs(docs, threshold=0.8).select("a", "b").collect())
    )
    cached = sorted(
        map(
            tuple,
            cached_parquet(
                spark,
                str(tmp_path / "pairs"),
                lambda: jaccard_pairs(docs, threshold=0.8).select("a", "b"),
            ).collect(),
        )
    )
    assert fresh == cached


def test_shuffle_order_rank_invariant_to_prefix_width(spark):
    """The hierarchical rank is a pure refinement of the md5 order: any
    prefix width produces the identical permutation (the width is a
    physical knob, not a semantic one)."""
    from gather_datawarehouse_sync_spark.operators.sampling import shuffle_order

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    ranks = {}
    for width in (1, 2, 3):
        out = shuffle_order(df, "doc_id", seed="7", prefix_chars=width)
        ranks[width] = dict(
            (r["doc_id"], r["train_rank"]) for r in out.collect()
        )
    assert ranks[1] == ranks[2] == ranks[3]
    assert sorted(ranks[2].values()) == list(range(1, 501))
    with pytest.raises(ValueError, match="prefix_chars"):
        shuffle_order(df, "doc_id", prefix_chars=0)


def test_duplicate_spans_known_passages_and_edges(spark):
    """duplicate_spans finds exactly the shared passage, merges
    overlapping n-gram hits into one maximal span, and ignores
    content unique to one document (and docs shorter than n)."""
    from gather_datawarehouse_sync_spark.operators.dedup import duplicate_spans

    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc dd"),
            (2, f"xx yy zz {shared} qq"),
            (3, "totally unrelated words only here"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_spans(df, n=3, min_docs=2).collect()
    }
    # doc 1: tokens aa bb one two three four five cc dd → shared 3-grams
    # start at pos 2,3,4 → one merged span [2, 6] (5 tokens)
    # doc 2: xx yy zz one two three four five qq → span [3, 7]
    assert out == {(1, 2, 6, 5), (2, 3, 7, 5)}
    with pytest.raises(ValueError, match="n must be"):
        duplicate_spans(df, n=0)


def test_repetition_bp_exact_counts(spark):
    """repetition_bp = 10000·(total−distinct) DIV total over word
    n-grams; 0 for docs shorter than n tokens."""
    from gather_datawarehouse_sync_spark.functions.text import (
        ascii_tokens,
        repetition_bp,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # 2-grams: ab ba ab ba ab → 5 total, 2 distinct
            (2, "w x y z"),        # all distinct → 0
            (3, "q"),              # shorter than n → 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bp"]
        for r in df.select("doc_id", ascii_tokens(F.col("text")).alias("toks"))
        .select("doc_id", repetition_bp(F.col("toks"), 2).alias("bp"))
        .collect()
    }
    assert got == {1: 6000, 2: 0, 3: 0}


def test_temperature_resample_matches_python_reference(spark):
    """temperature_resample α=0.5 vs an independent pure-Python
    replication of the documented integer contract (hashlib.md5 vs
    Spark md5): per-doc copy counts identical, null-group rows dropped,
    output invariant under repartitioning."""
    import hashlib
    import math

    from gather_datawarehouse_sync_spark.operators.sampling import (
        temperature_resample,
    )

    rows = (
        [(i, "big") for i in range(90)]
        + [(100 + i, "small") for i in range(10)]
        + [(999, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    n_by = {"big": 90, "small": 10}
    total = 100
    w_by = {g: math.floor(math.sqrt(n) * 1_000_000.0) for g, n in n_by.items()}
    s = sum(w_by.values())
    r_by = {g: (total * ((w_by[g] * 1000) // s) * 1000) // n_by[g] for g in n_by}

    def copies(doc_id, lang):
        h = (
            int(hashlib.md5(f"temp:{doc_id}".encode()).hexdigest()[:8], 16)
            % 1_000_000
        )
        r = r_by[lang]
        return r // 1_000_000 + (1 if h < r % 1_000_000 else 0)

    expected = {
        (i, lang): copies(i, lang)
        for i, lang in [(i, "big") for i in range(90)]
        + [(100 + i, "small") for i in range(10)]
        if copies(i, lang) > 0
    }
    out = temperature_resample(df, group_col="lang", id_col="doc_id")
    got = {
        (r["doc_id"], r["lang"]): r["n"]
        for r in out.groupBy("doc_id", "lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == expected
    assert not any(lang is None for _, lang in got)
    # sqrt flattening really upsamples the minority (base factor ≥ 2)
    assert all(expected[(i, "small")] >= 2 for i in range(100, 110))
    # layout invariance
    got7 = {
        (r["doc_id"], r["lang"]): r["n"]
        for r in temperature_resample(
            df.repartition(7), group_col="lang", id_col="doc_id"
        )
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got7 == expected


def test_temperature_resample_alpha_one_is_identity_on_exact_divisors(spark):
    """α=1000 with group sizes that divide the milli quantization
    exactly (90/10 of 100) reproduces the input: one copy per doc."""
    from gather_datawarehouse_sync_spark.operators.sampling import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(i, "big") for i in range(90)] + [(100 + i, "small") for i in range(10)],
        "doc_id long, lang string",
    )
    out = temperature_resample(df, group_col="lang", id_col="doc_id", alpha_milli=1000)
    assert out.count() == 100
    assert out.filter(F.col("copy") != 1).count() == 0


def test_temperature_resample_guards(spark):
    from gather_datawarehouse_sync_spark.operators.sampling import (
        temperature_resample,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, lang string"
    )
    with pytest.raises(ValueError, match="groups"):
        temperature_resample(df, group_col="lang", id_col="doc_id", max_groups=1)
    with pytest.raises(ValueError, match="collision"):
        temperature_resample(
            df.withColumn("copy", F.lit(1)), group_col="lang", id_col="doc_id"
        )
    with pytest.raises(ValueError, match="alpha_milli"):
        temperature_resample(df, group_col="lang", id_col="doc_id", alpha_milli=0)


def test_quality_dedup_argmax_survivor(spark):
    """quality_dedup keeps the cluster member with the max score (ties →
    min id), canon stays the min id, members counts every doc including
    identical-set copies, singletons drop out."""
    from gather_datawarehouse_sync_spark.operators.dedup import quality_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", 10),
            (2, "alpha beta gamma delta", 30),  # same set, best score
            (3, "alpha beta gamma delta epsilon", 20),  # J=0.8 to 1/2
            (10, "zeta eta theta iota", 5),
            (11, "zeta eta theta iota", 5),  # tie → min id survives
            (20, "unrelated words only here", 99),  # singleton
        ],
        "doc_id long, text string, prio long",
    )
    got = {
        r["canon"]: (r["keep_id"], r["keep_score"], r["members"])
        for r in quality_dedup(
            df, threshold=0.8, score=F.col("prio")
        ).collect()
    }
    assert got == {1: (2, 30, 3), 10: (10, 5, 2)}


def test_quality_dedup_default_score_prefers_cleaner_text(spark):
    """With the default quality_score_bp score, the survivor is the
    higher-quality copy even when it has the larger id (min-id canonical
    would have kept the worse one)."""
    from gather_datawarehouse_sync_spark.operators.dedup import quality_dedup

    # same token SET {alpha,beta,x} (Jaccard 1.0); doc 2 is long enough
    # to earn the full length term while doc 1's 12 chars score 15·12
    df = spark.createDataFrame(
        [
            (1, "alpha beta x"),
            (2, "alpha beta x " * 20),
        ],
        "doc_id long, text string",
    )
    rows = quality_dedup(df, threshold=0.9).collect()
    assert len(rows) == 1
    assert rows[0]["canon"] == 1 and rows[0]["keep_id"] == 2
    assert rows[0]["members"] == 2


def test_cluster_family_group_reps_identical(spark):
    """jaccard_dedup_clusters and quality_dedup source their collapsed
    group reps from ONE shared helper pair (_token_set_base +
    _set_group_reps) — the persisted pair artifact served to both is
    only valid while their reps are identical.  Pin the helper's
    semantics (rep = min id with ITS text, exact rendered-set key,
    token-less docs dropped) and the cluster-level identity: both
    operators must agree on (canon → members) for any corpus."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        _set_group_reps,
        _token_set_base,
        jaccard_dedup_clusters,
        quality_dedup,
    )

    df = spark.createDataFrame(
        [
            (5, "alpha beta gamma delta"),
            (2, "beta  ALPHA gamma delta!"),  # same SET, different text
            (3, "alpha beta gamma delta epsilon"),  # J=0.8 edge to 2/5
            (10, "zeta eta theta iota"),
            (11, "zeta eta theta iota"),  # identical-set pair, no edges
            (20, "unrelated words only here"),  # singleton
            (30, "...!!!"),  # token-less: dropped
        ],
        "doc_id long, text string",
    )
    reps = {
        r["gkey"]: (r["doc_id"], r["text"], r["cnt"])
        for r in _set_group_reps(
            _token_set_base(df, "doc_id", "text", 1), "doc_id", "text"
        ).collect()
    }
    assert reps["alpha\x1fbeta\x1fdelta\x1fgamma"] == (
        2,
        "beta  ALPHA gamma delta!",  # min id's OWN text travels with it
        2,
    )
    assert reps["eta\x1fiota\x1ftheta\x1fzeta"] == (
        10,
        "zeta eta theta iota",
        2,
    )
    assert len(reps) == 4  # doc 30 dropped, no phantom empty-set group
    jc = {
        r["canon"]: r["members"]
        for r in jaccard_dedup_clusters(df, threshold=0.8).collect()
    }
    qd = {
        r["canon"]: r["members"]
        for r in quality_dedup(df, threshold=0.8).collect()
    }
    assert jc == qd == {2: 3, 10: 2}


def test_dedup_recall_report_exact_counts(spark):
    """Orientation and duplicate edges normalize before counting; the
    bp metrics floor; empty sides report 0 rather than null."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        dedup_recall_report,
    )

    cand = spark.createDataFrame(
        # (2,1) reorients to (1,2); the repeat collapses
        [(2, 1), (1, 2), (3, 4), (5, 6)], "a long, b long"
    )
    ref = spark.createDataFrame([(1, 2), (4, 3), (7, 8)], "a long, b long")
    row = dedup_recall_report(cand, ref).collect()[0]
    assert (
        row["n_candidates"], row["n_reference"], row["n_hits"]
    ) == (3, 3, 2)
    assert row["precision_bp"] == 6666 and row["recall_bp"] == 6666

    empty = cand.limit(0)
    row = dedup_recall_report(empty, ref).collect()[0]
    assert (row["n_candidates"], row["precision_bp"], row["recall_bp"]) == (
        0, 0, 0,
    )


def test_dedup_recall_report_minhash_vs_exact(spark):
    """The motivating use: measure the MinHash sketch tier against the
    exact tier.  Identical documents share identical signatures, so at
    reference = exact J ≥ 0.99 the sketch tier's recall is
    deterministically perfect; precision is floored, not pinned (the
    est_jaccard of near-but-not-identical pairs is seed-dependent)."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        dedup_recall_report,
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    cand = minhash_lsh_pairs(df, ngram=3).filter(F.col("est_jaccard") >= 0.9)
    ref = jaccard_pairs(df, threshold=0.99, ngram=3)
    row = dedup_recall_report(cand, ref).collect()[0]
    assert row["n_reference"] == 1  # only the identical pair (1, 4)
    assert row["recall_bp"] == 10000
    assert row["precision_bp"] >= 3333


def test_remove_frequent_units_cuts_shared_lines(spark):
    """Line-granularity boilerplate removal: a line present in ≥min_docs
    distinct documents is cut from every document, survivors keep their
    original order, untouched docs round-trip byte-identically."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        remove_frequent_units,
    )

    banner = "accept our cookies"
    df = spark.createDataFrame(
        [
            (1, f"intro one\n{banner}\nbody one"),
            (2, f"{banner}\nbody two"),
            (3, "body three\nno banner here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["units_removed"], r["units_kept"])
        for r in remove_frequent_units(
            df, sep="\n", min_docs=2
        ).collect()
    }
    assert got == {
        1: ("intro one\nbody one", 1, 2),
        2: ("body two", 1, 1),
        3: ("body three\nno banner here", 0, 2),
    }


def test_remove_frequent_units_frac_empties_and_all_cut(spark):
    """Fractional threshold counts DISTINCT docs (repeats inside one doc
    don't inflate), empty units are never counted or cut (spacing
    survives), and a doc whose every unit is boilerplate comes back as
    an empty string rather than vanishing."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        remove_frequent_units,
    )

    df = spark.createDataFrame(
        [
            (1, "menu menu unique  words"),  # doubled space → empty unit
            (2, "menu other"),
            (3, "menu"),  # all units boilerplate
            (4, "menu menu menu"),  # repeats, still ONE distinct doc
        ],
        "doc_id long, text string",
    )
    # menu in 4/4 docs (10000 bp); every other unit in 1/4 (2500 bp)
    got = {
        r["doc_id"]: (r["clean_text"], r["units_removed"], r["units_kept"])
        for r in remove_frequent_units(
            df, min_doc_frac_bp=7500
        ).collect()
    }
    assert got == {
        1: ("unique  words", 2, 3),  # empty unit kept → double space
        2: ("other", 1, 1),
        3: ("", 1, 0),
        4: ("", 3, 0),
    }


def test_remove_frequent_units_threshold_validation(spark):
    from gather_datawarehouse_sync_spark.operators.dedup import (
        frequent_units,
        remove_frequent_units,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exactly one"):
        remove_frequent_units(df)
    with pytest.raises(ValueError, match="exactly one"):
        remove_frequent_units(df, min_docs=2, min_doc_frac_bp=100)
    with pytest.raises(ValueError, match="precomputed"):
        remove_frequent_units(df, min_docs=2, frequent=frequent_units(df, min_docs=2))


def test_remove_frequent_units_against_stored_set(spark):
    """The frequent= path: a stored corpus-wide set cleans an increment
    the set never saw (train-once/serve-many), and cutting the build
    corpus against its own stored set equals the one-shot form."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        frequent_units,
        remove_frequent_units,
    )

    corpus = spark.createDataFrame(
        [(1, "banner\nalpha"), (2, "banner\nbeta"), (3, "gamma")],
        "doc_id long, text string",
    )
    stored = frequent_units(corpus, sep="\n", min_docs=2)
    assert [r["unit"] for r in stored.collect()] == ["banner"]

    increment = spark.createDataFrame(
        # 'banner' appears ONCE here — only the stored set can know it
        [(10, "banner\nfresh text")],
        "doc_id long, text string",
    )
    got = remove_frequent_units(increment, sep="\n", frequent=stored).collect()
    assert (got[0]["clean_text"], got[0]["units_removed"]) == ("fresh text", 1)

    one_shot = {
        (r["doc_id"], r["clean_text"], r["units_removed"], r["units_kept"])
        for r in remove_frequent_units(corpus, sep="\n", min_docs=2).collect()
    }
    replay = {
        (r["doc_id"], r["clean_text"], r["units_removed"], r["units_kept"])
        for r in remove_frequent_units(
            corpus, sep="\n", frequent=stored
        ).collect()
    }
    assert one_shot == replay


def test_gopher_rules_field_exactness(spark):
    """Each Gopher rule measure on crafted docs exercising the rules the
    synthetic corpus can't (bullet lines, ellipsis line-ends, symbol
    ratio, multi-line text) — exact integer expectations, plus the
    end-to-end mask/verdict for a passing and a failing doc."""
    from gather_datawarehouse_sync_spark.functions.text import gopher_rules

    passing = "the and " + " ".join(["word"] * 48)  # 50 words, 2 stops
    docs = [
        (1, passing),
        (2, "zz"),  # 1 word, mean 200, 0 stops → bits 0,1,6
        (3, "- a\n- b\n- c\nplain"),  # 3 of 4 lines bulleted → 7500
        (4, "one...\ntwo... \nthree"),  # 2 of 3 lines end '...'
        (5, "## # x"),  # 3 hashes / 3 words → symbol_bp 10000
        (6, "ab 12 cd 34"),  # half the words have a letter
        (7, "The cat sat with all of them and that is it to be have"),
        # 1 '#' + 1 '...' in 10 words: EACH ratio is exactly 0.1 → the
        # paper's "either > 0.1" test passes; a combined-sum form (0.2)
        # would wrongly fail — pins the per-ratio gate (Rae et al. A.1.1)
        (8, "# ... w w w w w w w w"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", gopher_rules(F.col("text")).alias("g")
        ).select("doc_id", "g.*").collect()
    }
    assert got[1]["n_words"] == 50
    assert got[1]["mean_word_centi"] == 396
    assert got[1]["stop_hits"] == 2
    assert got[1]["fail_mask"] == 0 and got[1]["passed"] is True
    assert got[2]["fail_mask"] == 1 + 2 + 64 and got[2]["passed"] is False
    assert got[3]["bullet_bp"] == 7500  # 3 bullets / 4 lines
    assert got[4]["ellipsis_bp"] == 6666  # 2 '...'-ends / 3 lines
    assert got[4]["symbol_bp"] == 6666  # 2 '...' / 3 words
    assert got[5]["symbol_bp"] == 10000  # 3 '#' / 3 words
    assert got[8]["symbol_bp"] == 1000  # max(1000, 1000), not sum 2000
    assert got[8]["fail_mask"] & 4 == 0  # neither ratio EXCEEDS 0.1
    assert got[6]["alpha_word_bp"] == 5000  # ab, cd of 4 words
    assert got[7]["stop_hits"] == 8  # every GOPHER_STOPWORD hits once


def test_leakage_safe_split_components_path_matches_pairs(spark, sf_dir):
    """leakage_safe_split(components=) — the persisted-cluster-map form
    — assigns the identical split as the pairs form (the map IS the CC
    output), and refuses to run with neither input."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from gather_datawarehouse_sync_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = jaccard_pairs(docs, threshold=0.8).select("a", "b")
    comp = connected_components(pairs)
    via_pairs = sorted(
        (r["doc_id"], r["split"])
        for r in leakage_safe_split(docs, pairs, "doc_id", 0.1).collect()
    )
    via_comp = sorted(
        (r["doc_id"], r["split"])
        for r in leakage_safe_split(
            docs, None, "doc_id", 0.1, components=comp
        ).collect()
    )
    assert via_pairs == via_comp and via_pairs
    with pytest.raises(ValueError, match="pairs or components"):
        leakage_safe_split(docs, None, "doc_id", 0.1)


def test_cut_duplicate_spans_precomputed_spans_parity(spark):
    """cut_duplicate_spans(spans=) — the persisted-span-table form —
    produces the identical cut as the internal recompute."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_spans,
    )

    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc dd"),
            (2, f"xx yy zz {shared} qq"),
            (3, "totally unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    direct = sorted(map(tuple, cut_duplicate_spans(df, n=3).collect()))
    via_spans = sorted(
        map(
            tuple,
            cut_duplicate_spans(df, n=3, spans=duplicate_spans(df, n=3)).collect(),
        )
    )
    assert direct == via_spans
    by_id = {t[0]: t for t in direct}
    assert by_id[1] == (1, "aa bb cc dd", 5, 4)
    assert by_id[3][2] == 0  # nothing removed from the unique doc


def test_artifact_loaders_reject_corrupt_tables(spark, tmp_path):
    """Index loaders fail loudly on empty or gap-ridden artifacts —
    a silently mis-shaped quantizer would mis-route every query."""
    import numpy as np

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        load_ivf_centroids,
        load_pq_codebooks,
        save_ivf_centroids,
        save_pq_codebooks,
    )

    with pytest.raises(ValueError, match="2-D"):
        save_ivf_centroids(spark, np.zeros((2, 2, 2)), str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="3-D"):
        save_pq_codebooks(spark, np.zeros((2, 2)), str(tmp_path / "bad2"))

    # gap in cell ids → reject
    gap = spark.createDataFrame(
        [(0, [1.0]), (2, [2.0])], "cell int, centroid array<double>"
    )
    gap.write.parquet(str(tmp_path / "gap"))
    with pytest.raises(ValueError, match="gaps"):
        load_ivf_centroids(spark, str(tmp_path / "gap"))

    empty = spark.createDataFrame(
        [], "subspace int, code int, centroid array<double>"
    )
    empty.write.parquet(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="empty"):
        load_pq_codebooks(spark, str(tmp_path / "empty"))


def test_bpe_merge_table_roundtrip_and_apply_parity(spark, tmp_path):
    """Stored-tokenizer contract: the reloaded merge table is the
    trained one, and bpe_apply over the loaded table tokenizes
    identically to the in-memory list."""
    from gather_datawarehouse_sync_spark.functions.bpe import bpe_apply, bpe_train
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        load_bpe_merges,
        save_bpe_merges,
    )

    corpus = spark.createDataFrame(
        [(i, "low lower lowest low low newer new") for i in range(4)],
        "doc_id long, text string",
    )
    merges = bpe_train(corpus, num_merges=4, min_count=2)
    assert merges
    path = str(tmp_path / "bpe")
    save_bpe_merges(spark, merges, path)
    loaded = load_bpe_merges(spark, path)
    assert loaded == merges
    direct = corpus.select(
        "doc_id", bpe_apply(F.col("text"), merges).alias("p")
    ).collect()
    via_store = corpus.select(
        "doc_id", bpe_apply(F.col("text"), loaded).alias("p")
    ).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_store))


def test_bucketed_negatives_invariants(spark):
    """Negative sampling contract: never self, at most k per row,
    deterministic and partition-invariant, and k exact negatives for
    every row whose shard has > k members."""
    from gather_datawarehouse_sync_spark.operators.sampling import (
        bucketed_negatives,
    )

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = bucketed_negatives(df, "doc_id", k=2, seed="s").collect()
    rows = sorted((r["doc_id"], r["j"], r["neg_id"]) for r in out)
    assert all(d != n for d, _, n in rows)
    from collections import Counter

    per_row = Counter(d for d, _, _ in rows)
    assert max(per_row.values()) <= 2
    # negatives are DISTINCT per row (j is capped at shard size - 1,
    # so a ring lap can never serve the same neg twice)
    pair_counts = Counter((d, n) for d, _, n in rows)
    assert max(pair_counts.values()) == 1
    again = sorted(
        (r["doc_id"], r["j"], r["neg_id"])
        for r in bucketed_negatives(df.repartition(7), "doc_id", k=2, seed="s").collect()
    )
    assert rows == again
    with pytest.raises(ValueError, match="k must be"):
        bucketed_negatives(df, "doc_id", k=0)


def test_artifact_path_tracks_corpus_fingerprint(tmp_path):
    """A regenerated corpus (same path, different bytes) must change the
    artifact location — stale cluster maps/sketches silently serving
    old data is the one failure mode a persist-once cache must not
    have."""
    import os
    import time

    from gather_datawarehouse_sync_spark.sources.artifacts import artifact_path

    sf = tmp_path / "sfx"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"aaaa")
    p1 = artifact_path(str(sf), "k_v1")
    assert artifact_path(str(sf), "k_v1") == p1  # stable for same bytes
    # regenerate with different size -> different location
    (sf / "documents.parquet").write_bytes(b"bbbbbbbb")
    p2 = artifact_path(str(sf), "k_v1")
    assert p2 != p1
    # same size, newer mtime -> also different (cheap listing signal)
    time.sleep(1.1)
    (sf / "documents.parquet").write_bytes(b"cccccccc")
    os.utime(sf / "documents.parquet")
    p3 = artifact_path(str(sf), "k_v1")
    assert p3 != p2


def test_distribution_drift_counts_and_empty_side(spark):
    """Drift report: shares are integer bp of each side's total; an
    empty side yields zero shares rather than a division error."""
    from gather_datawarehouse_sync_spark.operators.profile import (
        distribution_drift,
    )

    ref = spark.createDataFrame([(100,), (100,), (900,), (1500,)], "s long")
    new = spark.createDataFrame([(100,), (1500,), (1500,), (1500,)], "s long")
    got = {
        r["bin"]: (r["ref_n"], r["new_n"], r["ref_share_bp"], r["new_share_bp"], r["delta_bp"])
        for r in distribution_drift(ref, new, "s", bin_width=1000).collect()
    }
    assert got[0] == (3, 1, 7500, 2500, -5000)
    assert got[1] == (1, 3, 2500, 7500, 5000)
    empty = spark.createDataFrame([], "s long")
    out = distribution_drift(ref, empty, "s", bin_width=1000).collect()
    assert all(r["new_share_bp"] == 0 for r in out)
    with pytest.raises(ValueError, match="bin_width"):
        distribution_drift(ref, new, "s", bin_width=0)


def test_duplicate_spans_against_reference_and_stored_keys(spark):
    """Cross-corpus span detection: only passages present in the
    reference are flagged; the stored-key path equals the
    reference-text path; neither input -> loud error."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        duplicate_spans_against,
        reference_gram_keys,
    )

    ref = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta yy"),      # 2 ref 3-gram hits -> one span
            (2, "totally novel words only here now"), # no hits
        ],
        "doc_id long, text string",
    )
    direct = sorted(
        map(tuple, duplicate_spans_against(new, ref, n=3).collect())
    )
    keys = reference_gram_keys(ref, n=3)
    via_keys = sorted(
        map(
            tuple,
            duplicate_spans_against(new, n=3, reference_keys=keys).collect(),
        )
    )
    assert direct == via_keys
    # doc 1 tokens: xx alpha beta gamma delta yy -> ref 3-grams start at
    # pos 1 (alpha beta gamma) and 2 (beta gamma delta) -> span [1, 4]
    assert direct == [(1, 1, 4, 4)]
    with pytest.raises(ValueError, match="reference"):
        duplicate_spans_against(new, n=3)
    with pytest.raises(ValueError, match="not both"):
        duplicate_spans_against(new, ref, n=3, reference_keys=keys)


def test_prune_stale_artifacts_keeps_current_fingerprint(tmp_path, monkeypatch):
    """GC removes only OLD-fingerprint directories of the same corpus
    tag; the current fingerprint's artifacts and other corpora survive."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        artifact_path,
        prune_stale_artifacts,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    sf = tmp_path / "sfy"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    cur = os.path.dirname(artifact_path(str(sf), "k"))
    os.makedirs(os.path.join(cur, "k"))
    stale = str(tmp_path / "arts" / "sfy-deadbeef")
    os.makedirs(stale)
    other = str(tmp_path / "arts" / "sfz-cafecafe")
    os.makedirs(other)
    pruned = prune_stale_artifacts(str(sf))
    assert pruned == [stale]
    assert os.path.isdir(cur) and os.path.isdir(other)
    assert not os.path.isdir(stale)


def test_prune_sweeps_orphaned_building_dirs(tmp_path, monkeypatch):
    """A killed build leaves <artifact>.__building__<pid>_<n> behind —
    corpus-sized for lists/codes artifacts and never readable.  The GC
    pass must sweep these corpses inside the CURRENT fingerprint dir
    (old fingerprints are removed wholesale already)."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        artifact_path,
        prune_stale_artifacts,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    sf = tmp_path / "sfo"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    cur = os.path.dirname(artifact_path(str(sf), "k"))
    live = os.path.join(cur, "k_v1")
    os.makedirs(live)
    open(os.path.join(live, "_SUCCESS"), "w").close()
    corpse = os.path.join(cur, "k_v1.__building__12345_7")
    os.makedirs(corpse)
    pruned = prune_stale_artifacts(str(sf))
    assert pruned == [corpse]
    assert not os.path.isdir(corpse)
    assert os.path.isdir(live)  # installed artifact untouched


def test_prune_sweeps_legacy_bare_tag_dirs(tmp_path, monkeypatch):
    """Pre-fingerprint artifact dirs (.artifacts/<sf_tag> with no
    -<hash> suffix) are unreachable by any current artifact_path and
    must be swept; a DIFFERENT corpus tag sharing a prefix must not be
    (sf0.1 vs sf0.12)."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        artifact_path,
        prune_stale_artifacts,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    sf = tmp_path / "sf0.1"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    cur = os.path.dirname(artifact_path(str(sf), "k"))
    os.makedirs(cur)
    legacy = str(tmp_path / "arts" / "sf0.1")  # bare tag, no fingerprint
    os.makedirs(legacy)
    prefix_sibling = str(tmp_path / "arts" / "sf0.12-cafecafe")
    os.makedirs(prefix_sibling)
    pruned = prune_stale_artifacts(str(sf))
    assert legacy in pruned
    assert not os.path.isdir(legacy)
    assert os.path.isdir(cur) and os.path.isdir(prefix_sibling)


def test_prune_sweeps_superseded_keys_and_old_corpses(tmp_path, monkeypatch):
    """live_keys= sweeps version-bumped keys inside the CURRENT
    fingerprint dir (the _v1 corpse next to the live _v2 — corpus-sized
    for lists/codes artifacts) plus killed-overwrite __old__ dirs; live
    keys survive, and without live_keys= only corpses are swept."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        artifact_path,
        prune_stale_artifacts,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "arts"))
    sf = tmp_path / "sfk"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"v1")
    cur = os.path.dirname(artifact_path(str(sf), "_"))
    live = os.path.join(cur, "lists_v2")
    superseded = os.path.join(cur, "lists_v1")
    old_corpse = os.path.join(cur, "lists_v2.__old__123_4_0")
    for d in (live, superseded, old_corpse):
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    # no live set: corpses swept, superseded key kept (unknown liveness)
    pruned = prune_stale_artifacts(str(sf))
    assert pruned == [old_corpse]
    assert os.path.isdir(superseded) and os.path.isdir(live)
    # with the live set: the superseded key goes too
    pruned = prune_stale_artifacts(str(sf), live_keys={"lists_v2"})
    assert pruned == [superseded]
    assert os.path.isdir(live)
    assert not os.path.isdir(superseded)


def test_append_partitioned_artifact_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Incremental ANN maintenance: appending a crawl increment's
    inverted lists onto the stored base artifact must serve the SAME
    top-k as a full rebuild over base+increment — and the increment
    path must not rescan the old corpus: the build callback receives
    only increment rows (structural), the base artifact's data files
    survive into the appended artifact unmodified (same name, size,
    mtime — hardlinks, not rewrites), and only the increment's rows are
    newly written."""
    import os

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_invert,
        ivf_topk,
        kmeans_centroids,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        append_partitioned_artifact,
        cached_parquet,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    increment = emb.filter(F.col("vec_id") % 5 == 0)
    C = kmeans_centroids(base, nlist=4)  # quantizer trained ONCE, pinned

    old_path = str(tmp_path / "lists_v1_fp_a")
    cached_parquet(
        spark, old_path, lambda: ivf_invert(base, C), partition_by=("cell",)
    )
    old_files = {}
    for dirpath, _, names in os.walk(old_path):
        for n in names:
            if "_SUCCESS" not in n:  # marker+crc are re-written on append
                st = os.stat(os.path.join(dirpath, n))
                rel = os.path.relpath(os.path.join(dirpath, n), old_path)
                old_files[rel] = (st.st_size, st.st_mtime_ns)

    new_path = str(tmp_path / "lists_v1_fp_b")
    appended = append_partitioned_artifact(
        spark, old_path, new_path,
        lambda: ivf_invert(increment, C),  # ONLY the increment is read
        partition_by=("cell",),
    )
    # every base file carried over byte-identical (link, not rewrite)
    for rel, (size, mtime) in old_files.items():
        st = os.stat(os.path.join(new_path, rel))
        assert (st.st_size, st.st_mtime_ns) == (size, mtime), rel
    assert appended.count() == emb.count()
    assert os.path.exists(os.path.join(new_path, "_SUCCESS"))
    # old artifact untouched and still complete
    assert os.path.exists(os.path.join(old_path, "_SUCCESS"))

    q = emb.filter(F.col("vec_id") < 10)
    full = cached_parquet(
        spark, str(tmp_path / "lists_full"),
        lambda: ivf_invert(emb, C), partition_by=("cell",),
    )
    got_append = sorted(map(tuple, ivf_topk(
        q, None, k=2, nlist=4, nprobe=4, centroids=C, lists=appended
    ).collect()))
    got_full = sorted(map(tuple, ivf_topk(
        q, None, k=2, nlist=4, nprobe=4, centroids=C, lists=full
    ).collect()))
    assert got_append == got_full and got_append

    # idempotent: a second append call serves the installed artifact
    again = append_partitioned_artifact(
        spark, old_path, new_path,
        lambda: (_ for _ in ()).throw(AssertionError("must not rebuild")),
        partition_by=("cell",),
    )
    assert again.count() == emb.count()

    import pytest

    with pytest.raises(ValueError, match="no complete artifact"):
        append_partitioned_artifact(
            spark, str(tmp_path / "nope"), str(tmp_path / "x"),
            lambda: ivf_invert(increment, C),
        )


def test_append_unpartitioned_artifact_equals_full_rebuild(spark, sf_dir, tmp_path):
    """The append contract also covers UNPARTITIONED data-half tables
    (the sq_codes layout): appending the increment's codes onto the
    stored base codes equals encoding the whole corpus, with the base
    files carried over untouched."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        sq_encode,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        append_partitioned_artifact,
        cached_parquet,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    base = emb.filter(F.col("vec_id") % 3 != 0)
    increment = emb.filter(F.col("vec_id") % 3 == 0)
    old_path = str(tmp_path / "codes_a")
    cached_parquet(spark, old_path, lambda: sq_encode(base))
    appended = append_partitioned_artifact(
        spark, old_path, str(tmp_path / "codes_b"),
        lambda: sq_encode(increment),
    )
    got = sorted(map(tuple, appended.collect()))
    want = sorted(map(tuple, sq_encode(emb).collect()))
    assert got == want and got


def test_delete_from_partitioned_artifact(spark, sf_dir, tmp_path):
    """Right-to-be-forgotten on the serving index: deleting an id set
    from the stored partitioned lists must equal rebuilding over the
    remaining corpus under the pinned quantizer — and must only touch
    the partitions that contain deleted rows: every clean cell's data
    files carry into the new version as hardlinks (same inode), never
    rewrites."""
    import os

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_invert,
        kmeans_centroids,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        delete_from_partitioned_artifact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    C = kmeans_centroids(emb, nlist=8)
    old_path = str(tmp_path / "lists_v1")
    cached_parquet(
        spark, old_path, lambda: ivf_invert(emb, C), partition_by=("cell",)
    )

    # delete a SMALL id set so some cells stay clean
    gone = emb.filter(F.col("vec_id") < 3).select("vec_id")
    dirty_cells = {
        r[0]
        for r in spark.read.parquet(old_path)
        .join(gone, "vec_id", "left_semi")
        .select("cell")
        .distinct()
        .collect()
    }
    assert dirty_cells  # the ids exist in the index
    clean_inodes = {}
    for cell_dir in os.listdir(old_path):
        if not cell_dir.startswith("cell="):
            continue
        if int(cell_dir.split("=")[1]) in dirty_cells:
            continue
        for n in os.listdir(os.path.join(old_path, cell_dir)):
            full = os.path.join(old_path, cell_dir, n)
            clean_inodes[os.path.join(cell_dir, n)] = os.stat(full).st_ino
    assert clean_inodes  # nlist=8 vs 3 deleted ids: clean cells exist

    new_path = str(tmp_path / "lists_v2")
    remaining = delete_from_partitioned_artifact(
        spark, old_path, new_path, gone
    )
    got = sorted(map(tuple, remaining.select(
        "cell", "vec_id", "embedding"
    ).collect()))
    want = sorted(map(tuple, ivf_invert(
        emb.filter(F.col("vec_id") >= 3), C
    ).collect()))
    assert got == want and got
    # clean cells: hardlinked, not rewritten
    for rel, ino in clean_inodes.items():
        assert os.stat(os.path.join(new_path, rel)).st_ino == ino, rel
    # old version undisturbed
    assert os.path.exists(os.path.join(old_path, "_SUCCESS"))
    assert spark.read.parquet(old_path).count() == emb.count()

    # idempotent: second call serves the installed artifact
    again = delete_from_partitioned_artifact(
        spark, old_path, new_path, gone
    )
    assert again.count() == len(got)

    # deleting absent ids = pure hardlink carry-over of every cell
    noop = delete_from_partitioned_artifact(
        spark,
        old_path,
        str(tmp_path / "lists_v3"),
        spark.range(1).select(F.lit(999_999_999).cast("long").alias("vec_id")),
    )
    assert noop.count() == emb.count()

    import pytest

    with pytest.raises(ValueError, match="no complete artifact"):
        delete_from_partitioned_artifact(
            spark, str(tmp_path / "nope"), str(tmp_path / "x"), gone
        )


def test_reassign_drifted_cells_parity_and_guards(spark, sf_dir, tmp_path):
    """Drifted-cell re-assignment ≡ the explicit delete+append
    composition over the same dirty set, ≡ a full rebuild when every
    cell is drifted, a content no-op at the fixed point (same
    centroids), hardlink carry-over for clean cells — and the SQ-lists
    guards (no stored vector → vectors= required; incomplete vectors=
    refuses loudly)."""
    import os

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_invert,
        ivf_sq_invert,
        kmeans_centroids,
        reassign_drifted_cells,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        append_partitioned_artifact,
        cached_parquet,
        delete_from_partitioned_artifact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    C1 = kmeans_centroids(emb, nlist=8)
    # a bounded, deterministic update: swap centroids 0 and 3, so the
    # movers relabel within {0, 3} and every other cell stays clean
    C2 = C1.copy()
    C2[[0, 3]] = C1[[3, 0]]
    old_path = str(tmp_path / "lists_v1")
    cached_parquet(
        spark, old_path, lambda: ivf_invert(emb, C1), partition_by=("cell",)
    )
    drifted = [0, 3]

    got = reassign_drifted_cells(
        spark, old_path, str(tmp_path / "lists_re"), C2, drifted
    )
    got_rows = sorted(map(tuple, got.select("cell", "vec_id").collect()))

    # the explicit delete+append composition over the same rows
    old = spark.read.parquet(old_path)
    mover_ids = old.filter(F.col("cell").isin(drifted)).select("vec_id")
    movers = emb.join(mover_ids, "vec_id", "left_semi")
    deleted = str(tmp_path / "lists_del")
    delete_from_partitioned_artifact(spark, old_path, deleted, mover_ids)
    composed = append_partitioned_artifact(
        spark,
        deleted,
        str(tmp_path / "lists_comp"),
        lambda: ivf_invert(movers, C2),
        partition_by=("cell",),
    )
    assert got_rows == sorted(
        map(tuple, composed.select("cell", "vec_id").collect())
    )
    # clean cells hardlinked across: dirty = drifted ∪ landing cells
    dirty_after = set(drifted) | {
        r[0] for r in ivf_invert(movers, C2).select("cell").distinct().collect()
    }
    assert len(dirty_after) < 8  # some cells stayed clean
    linked = 0
    for cell_dir in os.listdir(old_path):
        if not cell_dir.startswith("cell="):
            continue
        if int(cell_dir.split("=")[1]) in dirty_after:
            continue
        for n in os.listdir(os.path.join(old_path, cell_dir)):
            assert (
                os.stat(os.path.join(old_path, cell_dir, n)).st_ino
                == os.stat(
                    os.path.join(str(tmp_path / "lists_re"), cell_dir, n)
                ).st_ino
            )
            linked += 1
    assert linked  # at least one clean cell existed to carry over

    # fixed point: re-assignment under the SAME centroids is a no-op
    fp = reassign_drifted_cells(
        spark, old_path, str(tmp_path / "lists_fp"), C1, drifted
    )
    assert sorted(map(tuple, fp.select("cell", "vec_id").collect())) == sorted(
        map(tuple, old.select("cell", "vec_id").collect())
    )

    # every cell drifted ≡ full rebuild under the new quantizer
    allcells = reassign_drifted_cells(
        spark, old_path, str(tmp_path / "lists_all"), C2, list(range(8))
    )
    assert sorted(
        map(tuple, allcells.select("cell", "vec_id").collect())
    ) == sorted(map(tuple, ivf_invert(emb, C2).select("cell", "vec_id").collect()))

    # SQ code lists: no stored vector → vectors= required, and it must
    # cover every drifted id
    sq_path = str(tmp_path / "sq_v1")
    cached_parquet(
        spark, sq_path, lambda: ivf_sq_invert(emb, C1), partition_by=("cell",)
    )
    with pytest.raises(ValueError, match="pass vectors="):
        reassign_drifted_cells(
            spark, sq_path, str(tmp_path / "sq_re0"), C2, drifted
        )
    with pytest.raises(ValueError, match="does not cover"):
        reassign_drifted_cells(
            spark, sq_path, str(tmp_path / "sq_re1"), C2, drifted,
            vectors=emb.limit(1),
        )
    with pytest.raises(ValueError, match="duplicate ids"):
        reassign_drifted_cells(
            spark, sq_path, str(tmp_path / "sq_re_dup"), C2, drifted,
            vectors=emb.unionByName(emb),
        )
    sq_re = reassign_drifted_cells(
        spark, sq_path, str(tmp_path / "sq_re2"), C2, drifted, vectors=emb
    )
    # cells match the flat-list re-assignment; codes survive untouched
    assert sorted(
        map(tuple, sq_re.select("cell", "vec_id").collect())
    ) == got_rows
    assert sorted(
        map(
            tuple,
            sq_re.select("vec_id", "scale_micro").collect(),
        )
    ) == sorted(
        map(
            tuple,
            spark.read.parquet(sq_path).select("vec_id", "scale_micro").collect(),
        )
    )


def _merge_base(spark, tmp_path):
    """A 3-partition keyed table installed at tmp_path/t_v1."""
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet

    rows = [(i, f"v{i}", ["a", "b", "c"][i % 3]) for i in range(30)]
    path = str(tmp_path / "t_v1")
    cached_parquet(
        spark,
        path,
        lambda: spark.createDataFrame(rows, "id long, val string, p string"),
        partition_by=("p",),
    )
    return path, {(i, f"v{i}", ["a", "b", "c"][i % 3]) for i in range(30)}


def test_merge_table_upsert_moves_and_inserts(spark, tmp_path):
    """MERGE upsert semantics against a hand-computed expectation:
    in-place update, partition-MOVING update, insert into an existing
    partition, insert into a brand-new partition — while every clean
    partition's data files hardlink across (same inode), the old
    version stays undisturbed, and re-applying the identical batch to
    the merged output is a content no-op (idempotent replay, the keyed
    JDBC upsert contract)."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import merge_table

    old_path, base = _merge_base(spark, tmp_path)
    # p=c (ids ≡2 mod 3) is untouched by every source row below
    src = spark.createDataFrame(
        [
            (0, "patched", "a"),  # update, stays in p=a
            (3, "moved", "b"),  # update that MOVES p=a → p=b
            (100, "fresh", "b"),  # insert into existing partition
            (200, "fresh", "z"),  # insert into brand-new partition
        ],
        "id long, val string, p string",
    )
    clean_inodes = {
        n: os.stat(os.path.join(old_path, "p=c", n)).st_ino
        for n in os.listdir(os.path.join(old_path, "p=c"))
    }
    assert clean_inodes

    new_path = str(tmp_path / "t_v2")
    merged = merge_table(
        spark, old_path, new_path, src, key_cols=("id",), partition_col="p"
    )
    want = {r for r in base if r[0] not in (0, 3)} | {
        (0, "patched", "a"),
        (3, "moved", "b"),
        (100, "fresh", "b"),
        (200, "fresh", "z"),
    }
    got = set(map(tuple, merged.select("id", "val", "p").collect()))
    assert got == want
    for n, ino in clean_inodes.items():
        assert os.stat(os.path.join(new_path, "p=c", n)).st_ino == ino, n
    assert set(
        map(tuple, spark.read.parquet(old_path).select("id", "val", "p").collect())
    ) == base

    # idempotent replay: the same batch onto the merged output is a no-op
    replay = merge_table(
        spark,
        new_path,
        str(tmp_path / "t_v3"),
        src,
        key_cols=("id",),
        partition_col="p",
    )
    assert set(map(tuple, replay.select("id", "val", "p").collect())) == want


def test_merge_table_clause_matrix_and_guards(spark, tmp_path):
    """The other three when-clause combinations against hand-computed
    expectations, plus the loud guards: duplicate source keys, missing
    source columns, invalid clause names, absent base table, and the
    empty batch degenerating to a pure carry-over."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import merge_table

    old_path, base = _merge_base(spark, tmp_path)
    src = spark.createDataFrame(
        [(0, "patched", "a"), (100, "fresh", "b")],
        "id long, val string, p string",
    )

    # delete + insert: matched keys removed, unmatched inserted
    got = set(
        map(
            tuple,
            merge_table(
                spark, old_path, str(tmp_path / "di"), src,
                key_cols=("id",), partition_col="p",
                when_matched="delete", when_not_matched="insert",
            ).select("id", "val", "p").collect(),
        )
    )
    assert got == {r for r in base if r[0] != 0} | {(100, "fresh", "b")}

    # update + ignore: matched updated, unmatched dropped
    got = set(
        map(
            tuple,
            merge_table(
                spark, old_path, str(tmp_path / "ui"), src,
                key_cols=("id",), partition_col="p",
                when_not_matched="ignore",
            ).select("id", "val", "p").collect(),
        )
    )
    assert got == {r for r in base if r[0] != 0} | {(0, "patched", "a")}

    # delete + ignore: pure keyed delete
    got = set(
        map(
            tuple,
            merge_table(
                spark, old_path, str(tmp_path / "dd"), src,
                key_cols=("id",), partition_col="p",
                when_matched="delete", when_not_matched="ignore",
            ).select("id", "val", "p").collect(),
        )
    )
    assert got == {r for r in base if r[0] != 0}

    # empty batch: every partition hardlinks across
    got = merge_table(
        spark, old_path, str(tmp_path / "noop"),
        src.limit(0), key_cols=("id",), partition_col="p",
    )
    assert set(map(tuple, got.select("id", "val", "p").collect())) == base

    dup = spark.createDataFrame(
        [(1, "x", "a"), (1, "y", "a")], "id long, val string, p string"
    )
    with _pytest.raises(ValueError, match="duplicate keys"):
        merge_table(
            spark, old_path, str(tmp_path / "dup"), dup,
            key_cols=("id",), partition_col="p",
        )
    with _pytest.raises(ValueError, match="source lacks"):
        merge_table(
            spark, old_path, str(tmp_path / "cols"), src.drop("val"),
            key_cols=("id",), partition_col="p",
        )
    with _pytest.raises(ValueError, match="when_matched"):
        merge_table(
            spark, old_path, str(tmp_path / "wm"), src,
            key_cols=("id",), partition_col="p", when_matched="upsert",
        )
    # NULL keys / NULL partitions refuse loudly: a NULL key never
    # matches (re-insert on every replay) and a NULL partition lands in
    # __HIVE_DEFAULT_PARTITION__, unaddressable by the str-keyed rewrite
    with _pytest.raises(ValueError, match="NULL key or partition"):
        merge_table(
            spark, old_path, str(tmp_path / "nk"),
            spark.createDataFrame(
                [(None, "x", "a")], "id long, val string, p string"
            ),
            key_cols=("id",), partition_col="p",
        )
    with _pytest.raises(ValueError, match="NULL key or partition"):
        merge_table(
            spark, old_path, str(tmp_path / "np"),
            spark.createDataFrame(
                [(5, "x", None)], "id long, val string, p string"
            ),
            key_cols=("id",), partition_col="p",
        )
    with _pytest.raises(ValueError, match="no complete table"):
        merge_table(
            spark, str(tmp_path / "nope"), str(tmp_path / "x"), src,
            key_cols=("id",), partition_col="p",
        )
    # a corpus-sized "source" refuses loudly (bounded limit-probe)
    # instead of OOMing the executors on the source-key broadcast —
    # the broadcast_new_max / broadcast_queries_max contract
    with _pytest.raises(ValueError, match="broadcast_source_max"):
        merge_table(
            spark, old_path, str(tmp_path / "big"), src,
            key_cols=("id",), partition_col="p",
            broadcast_source_max=1,
        )


def test_table_diff_roundtrip_and_guards(spark, tmp_path):
    """table_diff is merge_table's exact inverse: the emitted change
    set, applied as upserts-then-deletes, reproduces the new version —
    with hand-checked classification (identical rows stay OUT of the
    diff, null-safe data compare, updates/moves/inserts/deletes), the
    self-diff-is-empty fixed point, and the loud guards."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
        table_diff,
    )

    schema = "id long, val string, p string"
    old_rows = [
        (0, "a", "x"),   # identical in new → not in diff
        (1, "b", "x"),   # value update
        (2, "c", "y"),   # partition-moving update
        (3, "d", "y"),   # deleted
        (4, None, "x"),  # identical-with-NULL → null-safe, not in diff
    ]
    new_rows = [
        (0, "a", "x"),
        (1, "B", "x"),
        (2, "c", "z"),
        (4, None, "x"),
        (100, "n", "y"),  # insert
    ]
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    diff = table_diff(old, new, ("id",))
    got = set(map(tuple, diff.collect()))
    assert got == {
        (1, "B", "x", False),
        (2, "c", "z", False),
        (100, "n", "y", False),
        (3, "d", "y", True),
    }
    assert table_diff(old, old, ("id",)).count() == 0  # fixed point

    # round trip: applying the diff through merge_table reproduces new
    old_path = str(tmp_path / "td_v1")
    cached_parquet(
        spark, old_path, lambda: spark.createDataFrame(old_rows, schema),
        partition_by=("p",),
    )
    ups = diff.filter(~F.col("is_del")).drop("is_del")
    dels = diff.filter(F.col("is_del")).drop("is_del")
    pa = str(tmp_path / "td_v2a")
    merge_table(spark, old_path, pa, ups, key_cols=("id",), partition_col="p")
    replayed = merge_table(
        spark, pa, str(tmp_path / "td_v2b"), dels,
        key_cols=("id",), partition_col="p",
        when_matched="delete", when_not_matched="ignore",
    )
    assert set(map(tuple, replayed.select("id", "val", "p").collect())) == set(
        new_rows
    )

    with _pytest.raises(ValueError, match="column mismatch"):
        table_diff(old, new.drop("val"), ("id",))
    with _pytest.raises(ValueError, match="NULL key"):
        table_diff(
            old,
            spark.createDataFrame([(None, "x", "x")], schema),
            ("id",),
        )
    with _pytest.raises(ValueError, match="duplicate keys"):
        table_diff(
            spark.createDataFrame([(1, "a", "x"), (1, "b", "x")], schema),
            new,
            ("id",),
        )
    with _pytest.raises(ValueError, match="collides"):
        table_diff(old, new, ("id",), delete_col="val")
    with _pytest.raises(ValueError, match="no data columns"):
        table_diff(old, new, ("id", "val", "p"))


def test_table_diff_schema_evolution_roundtrip(spark, tmp_path):
    """table_diff(schema_evolution=True) widens OLD with NULL so an
    evolved new version diffs cleanly: a row whose ONLY change is a
    non-NULL value in the added column classifies as an upsert, rows
    NULL-in-new on the added column and otherwise identical stay OUT
    of the diff, and the widened diff feeds
    merge_table(schema_evolution=True) to reproduce new exactly —
    the CDC loop closed across an evolution.  Dropped/retyped refuse;
    reorder is by-name."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
        table_diff,
    )

    schema = "id long, val string, p string"
    wide = "id long, val string, p string, tag string"
    old_rows = [(0, "a", "x"), (1, "b", "x"), (2, "c", "y")]
    new_rows = [
        (0, "a", "x", None),   # identical (NULL tag ≡ back-fill) → out
        (1, "b", "x", "t1"),   # ONLY the added column changed → upsert
        (2, "C", "y", None),   # ordinary value update
        (9, "n", "y", "t9"),   # insert with the new column
    ]
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, wide)
    diff = table_diff(old, new, ("id",), schema_evolution=True)
    assert set(map(tuple, diff.collect())) == {
        (1, "b", "x", "t1", False),
        (2, "C", "y", None, False),
        (9, "n", "y", "t9", False),
    }
    # round trip through the evolved merge reproduces new exactly
    old_path = str(tmp_path / "tde_v1")
    cached_parquet(
        spark, old_path, lambda: spark.createDataFrame(old_rows, schema),
        partition_by=("p",),
    )
    replayed = merge_table(
        spark, old_path, str(tmp_path / "tde_v2"),
        diff.filter(~F.col("is_del")).drop("is_del"),
        key_cols=("id",), partition_col="p", schema_evolution=True,
    )
    assert set(
        map(tuple, replayed.select("id", "val", "p", "tag").collect())
    ) == set(new_rows)
    # evolved self-diff fixed point: new vs itself (non-evolved path)
    assert table_diff(new, new, ("id",)).count() == 0
    with _pytest.raises(ValueError, match="lacks columns"):
        table_diff(old, new.drop("val"), ("id",), schema_evolution=True)
    with _pytest.raises(ValueError, match="retypes"):
        table_diff(
            old,
            spark.createDataFrame([(0, 7, "x")], "id long, val long, p string"),
            ("id",),
            schema_evolution=True,
        )
    # by-name: reordered new matches the non-reordered diff
    assert set(
        map(
            tuple,
            table_diff(
                old, new.select("tag", "p", "val", "id"), ("id",),
                schema_evolution=True,
            ).collect(),
        )
    ) == set(map(tuple, diff.collect()))


def test_table_diff_merge_closure_randomized(spark, tmp_path):
    """The diff↔merge closure law on seeded-random version pairs:
    for ANY (old, new) with unique non-null keys,
    merge(old, table_diff(old, new)) == new — rows randomly kept,
    updated, deleted, inserted, and partition-moved across 4 seeds, so
    the classification boundaries (not just the hand-picked classes)
    are exercised."""
    import random

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
        table_diff,
    )

    schema = "id long, val string, p string"
    for seed in range(4):
        rng = random.Random(seed)
        old_rows = [
            (i, rng.choice(["a", "b", None]), rng.choice(["x", "y"]))
            for i in range(40)
        ]
        new_rows = []
        for i, v, p in old_rows:
            act = rng.random()
            if act < 0.25:
                continue  # delete
            if act < 0.5:  # update value and/or partition
                new_rows.append(
                    (i, rng.choice(["a", "b", "c", None]), rng.choice(["x", "y", "z"]))
                )
            else:
                new_rows.append((i, v, p))  # keep
        new_rows += [
            (100 + j, rng.choice(["n", None]), rng.choice(["x", "z"]))
            for j in range(rng.randrange(1, 6))
        ]
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, schema)
        diff = table_diff(old, new, ("id",))

        old_path = str(tmp_path / f"cl_{seed}_v1")
        cached_parquet(
            spark, old_path,
            lambda r=old_rows: spark.createDataFrame(r, schema),
            partition_by=("p",),
        )
        pa = str(tmp_path / f"cl_{seed}_v2a")
        merge_table(
            spark, old_path, pa, diff.filter(~F.col("is_del")).drop("is_del"),
            key_cols=("id",), partition_col="p",
        )
        replayed = merge_table(
            spark, pa, str(tmp_path / f"cl_{seed}_v2b"),
            diff.filter(F.col("is_del")).drop("is_del"),
            key_cols=("id",), partition_col="p",
            when_matched="delete", when_not_matched="ignore",
        )
        got = sorted(
            map(tuple, replayed.select("id", "val", "p").collect()),
            key=str,
        )
        assert got == sorted(new_rows, key=str), f"seed {seed}"


def test_table_diff_merge_closure_randomized_evolution(spark, tmp_path):
    """The diff↔merge closure law ACROSS A SCHEMA EVOLUTION on
    seeded-random version pairs: for any (old, new) where new grew a
    column, merge(old, table_diff(old, new, evo), evo) == new — random
    keeps/updates/deletes/inserts/moves with random (NULL included)
    values in the added column, so the widened-diff classification
    boundaries are exercised, not just the hand-picked classes."""
    import random

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
        table_diff,
    )

    schema = "id long, val string, p string"
    wide = "id long, val string, p string, tag string"
    for seed in range(4):
        rng = random.Random(1000 + seed)
        old_rows = [
            (i, rng.choice(["a", "b", None]), rng.choice(["x", "y"]))
            for i in range(40)
        ]
        new_rows = []
        for i, v, p in old_rows:
            act = rng.random()
            if act < 0.2:
                continue  # delete
            if act < 0.45:  # update value/partition and/or gain a tag
                new_rows.append(
                    (
                        i,
                        rng.choice(["a", "b", "c", None]),
                        rng.choice(["x", "y", "z"]),
                        rng.choice(["t1", "t2", None]),
                    )
                )
            elif act < 0.6:  # ONLY the added column changes
                new_rows.append((i, v, p, rng.choice(["t3", "t4"])))
            else:  # kept: NULL tag ≡ the back-fill → must stay OUT
                new_rows.append((i, v, p, None))
        new_rows += [
            (100 + j, rng.choice(["n", None]), rng.choice(["x", "z"]),
             rng.choice(["tn", None]))
            for j in range(rng.randrange(1, 6))
        ]
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, wide)
        diff = table_diff(old, new, ("id",), schema_evolution=True)

        old_path = str(tmp_path / f"cle_{seed}_v1")
        cached_parquet(
            spark, old_path,
            lambda r=old_rows: spark.createDataFrame(r, schema),
            partition_by=("p",),
        )
        pa = str(tmp_path / f"cle_{seed}_v2a")
        merge_table(
            spark, old_path, pa,
            diff.filter(~F.col("is_del")).drop("is_del"),
            key_cols=("id",), partition_col="p", schema_evolution=True,
        )
        replayed = merge_table(
            spark, pa, str(tmp_path / f"cle_{seed}_v2b"),
            diff.filter(F.col("is_del")).drop("is_del"),
            key_cols=("id",), partition_col="p",
            when_matched="delete", when_not_matched="ignore",
        )
        got = sorted(
            map(tuple, replayed.select("id", "val", "p", "tag").collect()),
            key=str,
        )
        assert got == sorted(new_rows, key=str), f"seed {seed}"


def test_compact_table_partitions(spark, tmp_path):
    """Partition-scoped compaction on the version-chain convention:
    the fragmented partition's files fold to the size-derived count,
    content is byte-for-row identical, untouched partitions HARDLINK
    across (same inode), and the guards refuse empty/missing input."""
    import os

    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        compact_table_partitions,
    )

    v1 = str(tmp_path / "ct_v1")
    cached_parquet(
        spark, v1,
        lambda: spark.createDataFrame(
            [(i, f"v{i}", ["a", "b"][i % 2]) for i in range(400)],
            "id long, val string, p string",
        ).repartition(16),
        partition_by=("p",),
    )

    def _files(path, part):
        d = os.path.join(path, f"p={part}")
        return sorted(
            f for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    assert len(_files(v1, "a")) > 1  # fragmented as intended
    v2 = str(tmp_path / "ct_v2")
    compacted = compact_table_partitions(spark, v1, v2, "p", ["a"])
    # content identical
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, spark.read.parquet(v1).collect())
    )
    # the compacted partition folded; the clean one hardlinked across
    assert len(_files(v2, "a")) == 1
    b1, b2 = _files(v1, "b"), _files(v2, "b")
    assert b1 == b2
    ino1 = os.stat(os.path.join(v1, "p=b", b1[0])).st_ino
    ino2 = os.stat(os.path.join(v2, "p=b", b2[0])).st_ino
    assert ino1 == ino2
    # old version untouched (immutable chain)
    assert len(_files(v1, "a")) > 1

    with _pytest.raises(ValueError, match="non-empty"):
        compact_table_partitions(spark, v1, str(tmp_path / "ct_x"), "p", [])
    with _pytest.raises(ValueError, match="no partition dirs"):
        compact_table_partitions(
            spark, v1, str(tmp_path / "ct_y"), "p", ["nope"]
        )
    with _pytest.raises(ValueError, match="no complete table"):
        compact_table_partitions(
            spark, str(tmp_path / "absent"), str(tmp_path / "ct_z"), "p", ["a"]
        )

    # multi-value compaction sizes PER VALUE: each named partition folds
    # to its own count — never n_files × len(values) cross-product files
    v3 = str(tmp_path / "ct_v3")
    both = compact_table_partitions(spark, v1, v3, "p", ["a", "b"])
    assert len(_files(v3, "a")) == 1 and len(_files(v3, "b")) == 1
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, spark.read.parquet(v1).collect())
    )


def test_delete_from_partitioned_refuses_null_partition(spark, tmp_path):
    """The right-to-be-forgotten path must refuse a deleted id whose
    row sits in a NULL partition (__HIVE_DEFAULT_PARTITION__): the
    str()-keyed partition rewrite cannot address that dir, so without
    the guard the new version would install with _SUCCESS while still
    holding the rows."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        delete_from_partitioned_artifact,
    )

    v1 = str(tmp_path / "dn_v1")
    cached_parquet(
        spark, v1,
        lambda: spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a")], "vec_id long, cell string"
        ),
        partition_by=("cell",),
    )
    with _pytest.raises(ValueError, match="NULL partition"):
        delete_from_partitioned_artifact(
            spark, v1, str(tmp_path / "dn_v2"),
            spark.createDataFrame([(2,)], "vec_id long"),
        )
    # deleting only addressable rows still works
    got = set(
        map(tuple, delete_from_partitioned_artifact(
            spark, v1, str(tmp_path / "dn_v3"),
            spark.createDataFrame([(1,)], "vec_id long"),
        ).collect())
    )
    assert got == {(2, None), (3, "a")}


def test_merge_table_seq_col_monotonic(spark, tmp_path):
    """seq_col makes MERGE monotonic per key: a strictly-newer source
    row takes effect (update or delete), a stale or equal-seq one is a
    no-op — so a replayed/reordered batch can never regress the table —
    with hand-computed expectations for every clause, idempotent
    replay, and the loud guards (NULL seq, bad seq_col, duplicate
    matched target keys)."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
    )

    rows = [(i, f"v{i}", 10, ["a", "b"][i % 2]) for i in range(6)]
    old_path = str(tmp_path / "sq_v1")
    cached_parquet(
        spark, old_path,
        lambda: spark.createDataFrame(
            rows, "id long, val string, seq long, p string"
        ),
        partition_by=("p",),
    )
    base = {(i, f"v{i}", 10, ["a", "b"][i % 2]) for i in range(6)}

    src = spark.createDataFrame(
        [
            (0, "newer", 11, "a"),   # wins: 11 > 10
            (1, "stale", 9, "b"),    # loses: 9 < 10 — target keeps v1
            (2, "tie", 10, "a"),     # loses: equal seq — replay-safe
            (3, "moved", 20, "c"),   # wins AND moves partitions
            (100, "fresh", 1, "z"),  # unmatched: inserts regardless
        ],
        "id long, val string, seq long, p string",
    )
    got = set(
        map(
            tuple,
            merge_table(
                spark, old_path, str(tmp_path / "sq_v2"), src,
                key_cols=("id",), partition_col="p", seq_col="seq",
            ).select("id", "val", "seq", "p").collect(),
        )
    )
    want = {r for r in base if r[0] not in (0, 3)} | {
        (0, "newer", 11, "a"),
        (3, "moved", 20, "c"),
        (100, "fresh", 1, "z"),
    }
    assert got == want

    # replaying the SAME batch onto the merged output is a no-op (every
    # matched row ties on seq; the insert now matches itself)
    replay = set(
        map(
            tuple,
            merge_table(
                spark, str(tmp_path / "sq_v2"), str(tmp_path / "sq_v3"),
                src, key_cols=("id",), partition_col="p", seq_col="seq",
            ).select("id", "val", "seq", "p").collect(),
        )
    )
    assert replay == want

    # sequence-guarded delete: stale delete is a no-op, newer deletes
    dels = spark.createDataFrame(
        [(1, "x", 5, "b"), (4, "x", 99, "a")],
        "id long, val string, seq long, p string",
    )
    got_d = set(
        map(
            tuple,
            merge_table(
                spark, old_path, str(tmp_path / "sq_d"), dels,
                key_cols=("id",), partition_col="p", seq_col="seq",
                when_matched="delete", when_not_matched="ignore",
            ).select("id", "val", "seq", "p").collect(),
        )
    )
    assert got_d == {r for r in base if r[0] != 4}

    with _pytest.raises(ValueError, match="seq_col"):
        merge_table(
            spark, old_path, str(tmp_path / "sq_bad"), src,
            key_cols=("id",), partition_col="p", seq_col="nope",
        )
    with _pytest.raises(ValueError, match="NULL key or partition"):
        merge_table(
            spark, old_path, str(tmp_path / "sq_null"),
            spark.createDataFrame(
                [(0, "x", None, "a")], "id long, val string, seq long, p string"
            ),
            key_cols=("id",), partition_col="p", seq_col="seq",
        )
    # duplicate matched target keys make the per-key comparison
    # ambiguous — refuse (the non-seq path tolerates them via anti-join)
    dup_path = str(tmp_path / "sq_dup")
    cached_parquet(
        spark, dup_path,
        lambda: spark.createDataFrame(
            [(7, "x", 1, "a"), (7, "y", 2, "a")],
            "id long, val string, seq long, p string",
        ),
        partition_by=("p",),
    )
    with _pytest.raises(ValueError, match="key-unique"):
        merge_table(
            spark, dup_path, str(tmp_path / "sq_dup2"),
            spark.createDataFrame(
                [(7, "z", 3, "a")], "id long, val string, seq long, p string"
            ),
            key_cols=("id",), partition_col="p", seq_col="seq",
        )


def test_merge_table_seq_col_null_target_refused(spark, tmp_path):
    """The TARGET-side mirror of the source NULL-seq guard: a MATCHED
    target row with a NULL sequence cannot order against the source —
    without the refusal the >=/< predicates evaluate to NULL, the row
    silently drops from survivors, and the landing side misreads
    'matched but NULL seq' as 'unmatched' (re-inserting the stale
    source row under insert, vanishing the key under ignore).  Both
    matched clauses must raise; an UNMATCHED target row with a NULL
    seq is legal (the guard scans matched keys only)."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
    )

    schema = "id long, val string, seq long, p string"
    tgt_path = str(tmp_path / "nt_v1")
    cached_parquet(
        spark, tgt_path,
        lambda: spark.createDataFrame(
            [(0, "ok", 10, "a"), (1, "torn", None, "a")], schema
        ),
        partition_by=("p",),
    )
    hits_null = spark.createDataFrame([(1, "new", 99, "a")], schema)
    for i, (wm, wnm) in enumerate(
        (("update", "insert"), ("delete", "ignore"))
    ):
        with _pytest.raises(ValueError, match="MATCHED target"):
            merge_table(
                spark, tgt_path, str(tmp_path / f"nt_bad{i}"), hits_null,
                key_cols=("id",), partition_col="p", seq_col="seq",
                when_matched=wm, when_not_matched=wnm,
            )
    # matching only the non-NULL key leaves the NULL-seq row unmatched
    # and carried — legal
    got = set(
        map(
            tuple,
            merge_table(
                spark, tgt_path, str(tmp_path / "nt_ok"),
                spark.createDataFrame([(0, "new", 99, "a")], schema),
                key_cols=("id",), partition_col="p", seq_col="seq",
            ).collect(),
        )
    )
    assert got == {(0, "new", 99, "a"), (1, "torn", None, "a")}


def test_merge_table_schema_evolution(spark, tmp_path):
    """schema_evolution=True: an ADDED source column joins the table
    with pre-existing target rows back-filled NULL, and every partition
    (including untouched ones) is rewritten to the widened footer
    schema; dropped and retyped columns refuse loudly; column order is
    by-name (reorder is a no-op); without the flag the extra source
    column is dropped (the pre-evolution contract, pinned)."""
    import os

    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
    )

    schema = "id long, val string, p string"
    v1 = str(tmp_path / "evo_v1")
    cached_parquet(
        spark, v1,
        lambda: spark.createDataFrame(
            [(0, "a0", "a"), (1, "b1", "b"), (2, "a2", "a")], schema
        ),
        partition_by=("p",),
    )
    wide = "id long, val string, p string, tag string"
    src = spark.createDataFrame(
        [(0, "new0", "a", "t0"), (9, "new9", "c", "t9")], wide
    )

    # add: widened merge, NULL back-fill on carried rows
    v2 = str(tmp_path / "evo_v2")
    got = set(
        map(tuple, merge_table(
            spark, v1, v2, src,
            key_cols=("id",), partition_col="p", schema_evolution=True,
        ).select("id", "val", "p", "tag").collect())
    )
    assert got == {
        (0, "new0", "a", "t0"),
        (1, "b1", "b", None),
        (2, "a2", "a", None),
        (9, "new9", "c", "t9"),
    }
    # the UNTOUCHED partition p=b carries the widened footer schema —
    # no hardlinked old-schema file survives an evolution batch
    assert "tag" in spark.read.parquet(os.path.join(v2, "p=b")).columns
    # a follow-up merge on the evolved table needs no flag and is
    # partition-scoped again
    follow = set(
        map(tuple, merge_table(
            spark, v2, str(tmp_path / "evo_v3"),
            spark.createDataFrame([(1, "b1x", "b", "t1")], wide),
            key_cols=("id",), partition_col="p",
        ).select("id", "val", "p", "tag").collect())
    )
    assert follow == (got - {(1, "b1", "b", None)}) | {(1, "b1x", "b", "t1")}

    # drop: a source missing a target column refuses even under the flag
    with _pytest.raises(ValueError, match="lacks target columns"):
        merge_table(
            spark, v1, str(tmp_path / "evo_drop"),
            spark.createDataFrame([(0, "a")], "id long, p string"),
            key_cols=("id",), partition_col="p", schema_evolution=True,
        )
    # retype: a shared column with a changed type refuses — in BOTH
    # modes (without the flag it would write dirty partitions with the
    # new footer type while clean ones hardlink the old: a
    # mixed-footer table that reads intermittently)
    for evo in (True, False):
        with _pytest.raises(ValueError, match="retypes"):
            merge_table(
                spark, v1, str(tmp_path / f"evo_retype_{evo}"),
                spark.createDataFrame(
                    [(0, 7, "a")], "id long, val long, p string"
                ),
                key_cols=("id",), partition_col="p", schema_evolution=evo,
            )
    # reorder: by-name resolution makes column order irrelevant
    reordered = src.select("tag", "p", "val", "id")
    got_r = set(
        map(tuple, merge_table(
            spark, v1, str(tmp_path / "evo_reorder"), reordered,
            key_cols=("id",), partition_col="p", schema_evolution=True,
        ).select("id", "val", "p", "tag").collect())
    )
    assert got_r == got
    # without the flag the extra source column is DROPPED (the
    # documented whole-replacement-row contract) — schema unchanged
    narrow = merge_table(
        spark, v1, str(tmp_path / "evo_off"), src,
        key_cols=("id",), partition_col="p",
    )
    assert "tag" not in narrow.columns

    # evolution composes with seq_col: the strictly-newer source wins
    # AND lands the new column; the stale source is a no-op even though
    # it carries the column (its tag must NOT leak onto the kept row)
    sv1 = str(tmp_path / "evo_seq_v1")
    cached_parquet(
        spark, sv1,
        lambda: spark.createDataFrame(
            [(0, "w0", 10, "a"), (1, "w1", 10, "a")],
            "id long, val string, seq long, p string",
        ),
        partition_by=("p",),
    )
    got_s = set(
        map(tuple, merge_table(
            spark, sv1, str(tmp_path / "evo_seq_v2"),
            spark.createDataFrame(
                [(0, "newer", 11, "a", "tn"), (1, "stale", 9, "a", "ts")],
                "id long, val string, seq long, p string, tag string",
            ),
            key_cols=("id",), partition_col="p", seq_col="seq",
            schema_evolution=True,
        ).select("id", "val", "seq", "p", "tag").collect())
    )
    assert got_s == {(0, "newer", 11, "a", "tn"), (1, "w1", 10, "a", None)}


def test_band_join_auto_bucket_width_skew(spark):
    """choose_band_bucket_width refines the bucket grid when values are
    CONCENTRATED relative to the band (a band-wide bucket would hold
    the whole corpus → quadratic candidates), leaves sparse data on the
    classic 3-probe grid, floors at min_bucket_width, returns the band
    unchanged for identical values (no grid separates equal values) —
    and no grid choice ever changes the PAIR SET (parity against the
    1-probe grid, the completeness contract of the 2k+1-probe form)."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        edit_distance_pairs,
    )
    from gather_datawarehouse_sync_spark.operators.joins import (
        band_join,
        choose_band_bucket_width,
    )

    # concentrated: 2000 values over span ~99, band 50 → one band-wide
    # bucket would hold ~1000 rows; target 64 wants k=16, clamped to 8
    dense = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("__v")
    )
    w = choose_band_bucket_width(
        dense, "__v", 50.0, target_rows_per_bucket=64, max_fanout=8
    )
    assert abs(w - 50.0 / 8) < 1e-9
    # sparse relative to the band: expected bucket population tiny → k=1
    sparse = spark.range(100).select(
        (F.col("id") * 10_000).cast("double").alias("__v")
    )
    assert choose_band_bucket_width(sparse, "__v", 10.0) == 10.0
    # identical values: the honest residual — grid cannot help
    const = spark.range(50).select(F.lit(7.0).alias("__v"))
    assert choose_band_bucket_width(const, "__v", 5.0) == 5.0
    # integer floor: k capped at floor(band / min_bucket_width)
    wi = choose_band_bucket_width(
        dense, "__v", 4.0,
        target_rows_per_bucket=1, max_fanout=16, min_bucket_width=1.0,
    )
    assert wi == 1.0
    # floor ABOVE the band: the floor must win (w = min_bucket_width,
    # k=1 probes one extra empty bucket — never a sub-floor grid; the
    # old clamp returned w = band < floor here)
    wf = choose_band_bucket_width(
        dense, "__v", 4.0,
        target_rows_per_bucket=1, max_fanout=16, min_bucket_width=10.0,
    )
    assert wf == 10.0
    # and band_join refuses an explicit width below a declared floor
    import pytest as _pytest

    with _pytest.raises(ValueError, match="below min_bucket_width"):
        band_join(
            dense.select(F.col("__v").alias("va")),
            dense.select(F.col("__v").alias("vb")),
            "va", "vb", band=4.0,
            bucket_width=0.5, min_bucket_width=1.0,
        )

    # pair-set parity on a skewed distribution: 90% of values pile into
    # [0, 7), the rest spread wide — auto grid and an explicit multi-
    # probe grid must return EXACTLY the classic grid's pairs
    left = spark.range(300).select(
        F.col("id").alias("a"),
        F.when(F.col("id") % 10 != 0, (F.col("id") % 7).cast("double"))
        .otherwise((F.col("id") * 3).cast("double"))
        .alias("va"),
    )
    right = left.select(F.col("a").alias("b"), F.col("va").alias("vb"))

    def pairs(df):
        return sorted((r["a"], r["b"]) for r in df.select("a", "b").collect())

    classic = pairs(band_join(left, right, "va", "vb", 20.0))
    assert classic == pairs(
        band_join(
            left, right, "va", "vb", 20.0,
            bucket_width="auto", target_rows_per_bucket=32,
        )
    )
    assert classic == pairs(
        band_join(left, right, "va", "vb", 20.0, bucket_width=3.0)
    )

    # edit_distance_pairs threads the knob; the pair set is unchanged
    names = spark.createDataFrame(
        [(i, "name" + "x" * (i % 3) + str(i % 5)) for i in range(40)],
        "id long, name string",
    )
    base_pairs = sorted(
        map(tuple, edit_distance_pairs(names, max_dist=2).collect())
    )
    auto_pairs = sorted(
        map(
            tuple,
            edit_distance_pairs(names, max_dist=2, bucket_width="auto").collect(),
        )
    )
    assert base_pairs == auto_pairs

    # degenerate grids refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket_width must be positive"):
        band_join(left, right, "va", "vb", 20.0, bucket_width=0.0)
    with _pytest.raises(ValueError, match="fan-out"):
        band_join(left, right, "va", "vb", 2000.0, bucket_width=0.5)


def test_merge_scd2_schema_evolution(spark, tmp_path):
    """SCD2 across an attr evolution: a source batch that GREW an attr
    column widens the history (stored versions read NULL for it), the
    null-safe compare then closes+opens only when the added column (or
    any old attr) actually changed, pre-evolution versions stay
    immutable in value, and the as-of read at an old seq serves them
    with the NULL back-fill; retyped attrs refuse."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
        scd2_as_of,
    )

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, nm string"
    )
    p0 = str(tmp_path / "se_h0")
    init_scd2_history(spark, base, p0, ("k",), seq=0, n_buckets=4)

    # evolved batch: k=1 only the NEW column gains a value (close+open),
    # k=2 NULL in the new column + same nm (no-op), k=9 brand new
    b1 = spark.createDataFrame(
        [(1, "a", "gold"), (2, "b", None), (9, "z", "new")],
        "k long, nm string, tier string",
    )
    p1 = str(tmp_path / "se_h1")
    h1 = merge_scd2(spark, p0, p1, b1, ("k",), seq=1, schema_evolution=True)
    got = {
        (r["k"], r["nm"], r["tier"], r["valid_from"], r["valid_to"],
         r["is_current"])
        for r in h1.select(
            "k", "nm", "tier", "valid_from", "valid_to", "is_current"
        ).collect()
    }
    assert got == {
        (1, "a", None, 0, 1, False),
        (1, "a", "gold", 1, None, True),
        (2, "b", None, 0, None, True),
        (3, "c", None, 0, None, True),
        (9, "z", "new", 1, None, True),
    }
    # as-of BEFORE the evolution serves the old versions, NULL-backfilled
    asof0 = {
        (r["k"], r["nm"], r["tier"]) for r in scd2_as_of(h1, 0).collect()
    }
    assert asof0 == {(1, "a", None), (2, "b", None), (3, "c", None)}
    # a later non-evolved batch on the widened history works unchanged
    b2 = spark.createDataFrame(
        [(2, "b", "silver")], "k long, nm string, tier string"
    )
    h2 = merge_scd2(spark, p1, str(tmp_path / "se_h2"), b2, ("k",), seq=2)
    assert {
        (r["k"], r["tier"], r["is_current"])
        for r in h2.filter(F.col("k") == 2)
        .select("k", "tier", "is_current")
        .collect()
    } == {(2, None, False), (2, "silver", True)}
    with _pytest.raises(ValueError, match="retypes"):
        merge_scd2(
            spark, p1, str(tmp_path / "se_bad"),
            spark.createDataFrame([(1, "a", 5)], "k long, nm string, tier long"),
            ("k",), seq=3, schema_evolution=True,
        )
    # stale/out-of-order batch seq refuses: a matched current version
    # opened AT seq 1 cannot be closed by a batch stamped <= 1 (the
    # inverted-interval corruption a replayed upstream would write)
    for bad_seq in (0, 1):
        with _pytest.raises(ValueError, match="strictly newer"):
            merge_scd2(
                spark, p1, str(tmp_path / f"se_stale_{bad_seq}"),
                spark.createDataFrame(
                    [(1, "a", "late")], "k long, nm string, tier string"
                ),
                ("k",), seq=bad_seq,
            )


def test_merge_scd2_version_chains(spark, tmp_path):
    """SCD2 semantics against hand-computed version chains: change →
    close+open, identical attrs → no spurious version, tombstone →
    close without open, revive after delete → chain resumes, new key →
    open; clean buckets hardlink across; re-applying a batch to its own
    output is a content no-op; duplicate source keys and a missing
    sidecar fail loudly."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
    )

    base = spark.createDataFrame(
        [(i, f"n{i}", 100 + i) for i in range(1, 9)],
        "k long, nm string, bal long",
    )
    p0 = str(tmp_path / "h0")
    init_scd2_history(spark, base, p0, ("k",), seq=0, n_buckets=4)

    # batch 1: k=1 changes, k=2 tombstones, k=3 identical (no-op),
    # k=100 is new
    b1 = spark.createDataFrame(
        [
            (1, "n1", 999, False),
            (2, "n2", 102, True),
            (3, "n3", 103, False),
            (100, "new", 1, False),
        ],
        "k long, nm string, bal long, is_del boolean",
    )
    p1 = str(tmp_path / "h1")
    h1 = merge_scd2(spark, p0, p1, b1, ("k",), seq=1, delete_col="is_del")
    got1 = {
        (r["k"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in h1.select("k", "bal", "valid_from", "valid_to", "is_current").collect()
    }
    want1 = {
        (1, 101, 0, 1, False),
        (1, 999, 1, None, True),
        (2, 102, 0, 1, False),  # tombstoned: closed, nothing opened
        (3, 103, 0, None, True),  # identical attrs: untouched
        (100, 1, 1, None, True),
    } | {(i, 100 + i, 0, None, True) for i in range(4, 9)}
    assert got1 == want1

    # batch 2: k=1 changes again (3-version chain), k=2 revives
    b2 = spark.createDataFrame(
        [(1, "n1", 555, False), (2, "n2", 777, False)],
        "k long, nm string, bal long, is_del boolean",
    )
    p2 = str(tmp_path / "h2")
    h2 = merge_scd2(spark, p1, p2, b2, ("k",), seq=2, delete_col="is_del")
    got2 = {
        (r["k"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in h2.select("k", "bal", "valid_from", "valid_to", "is_current").collect()
    }
    want2 = (want1 - {(1, 999, 1, None, True)}) | {
        (1, 999, 1, 2, False),
        (1, 555, 2, None, True),
        (2, 777, 2, None, True),  # the chain resumes after the tombstone
    }
    assert got2 == want2

    # re-applying batch 2 to its own output: content no-op
    replay = merge_scd2(
        spark, p2, str(tmp_path / "h2r"), b2, ("k",), seq=3, delete_col="is_del"
    )
    got_r = {
        (r["k"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in replay.select(
            "k", "bal", "valid_from", "valid_to", "is_current"
        ).collect()
    }
    assert got_r == got2

    # a bucket untouched by batch 2 hardlinked across p1 → p2
    touched = {
        r[0]
        for r in spark.read.parquet(p2)
        .filter(F.col("k").isin(1, 2))
        .select("__bucket")
        .distinct()
        .collect()
    }
    clean = [
        d
        for d in os.listdir(p1)
        if d.startswith("__bucket=") and int(d.split("=")[1]) not in touched
    ]
    assert clean
    for d in clean:
        for n in os.listdir(os.path.join(p1, d)):
            assert (
                os.stat(os.path.join(p1, d, n)).st_ino
                == os.stat(os.path.join(p2, d, n)).st_ino
            )
    # the modulus sidecar carried through both rewrites
    assert open(os.path.join(p2, "_scd2_buckets")).read().strip() == "4"

    # point-in-time reads: at seq 1 the tombstoned key 2 is INVISIBLE
    # (half-open validity — its close at 1 already applies) and k=1
    # shows the batch-1 value; at seq 2 the revive is visible and
    # as-of(latest) ≡ the is_current filter
    from gather_datawarehouse_sync_spark.sources.artifacts import scd2_as_of

    at1 = {(r["k"], r["bal"]) for r in scd2_as_of(h2, 1).collect()}
    assert (1, 999) in at1 and not any(k == 2 for k, _ in at1)
    at2 = {(r["k"], r["bal"]) for r in scd2_as_of(h2, 2).collect()}
    assert (1, 555) in at2 and (2, 777) in at2
    assert at2 == {
        (r["k"], r["bal"])
        for r in h2.filter(F.col("is_current")).select("k", "bal").collect()
    }

    dup = spark.createDataFrame(
        [(1, "a", 1, False), (1, "b", 2, False)],
        "k long, nm string, bal long, is_del boolean",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_scd2(spark, p2, str(tmp_path / "dup"), dup, ("k",), seq=4,
                   delete_col="is_del")
    with pytest.raises(ValueError, match="NULL key"):
        merge_scd2(
            spark, p2, str(tmp_path / "nullk"),
            spark.createDataFrame(
                [(None, "x", 1, False)],
                "k long, nm string, bal long, is_del boolean",
            ),
            ("k",), seq=4, delete_col="is_del",
        )
    # histories built without the sidecar are refused
    bare = str(tmp_path / "bare")
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        scd2_init,
    )

    cached_parquet(
        spark, bare, lambda: scd2_init(base, ("k",), 0, 4),
        partition_by=("__bucket",),
    )
    with pytest.raises(ValueError, match="sidecar"):
        merge_scd2(spark, bare, str(tmp_path / "x"), b1, ("k",), seq=1,
                   delete_col="is_del")


def test_merge_scd2_refuses_stale_reinsert_after_tombstone(spark, tmp_path):
    """The stale-batch guard must cover CLOSED versions, not just
    currents: a key tombstoned at seq=5 has no current version, so a
    replayed seq=3 insert would sail past a currents-only probe and
    open [3, ∞) OVERLAPPING the closed [0, 5) — scd2_as_of(4) then
    returns the key twice (reproduced before the guard was widened).
    An insert AT the tombstone's close (seq=5, adjacent half-open
    intervals) and past it (seq=6) both stay legal."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
        scd2_as_of,
    )

    base = spark.createDataFrame([("K", 10)], "k string, bal int")
    p0 = str(tmp_path / "h0")
    init_scd2_history(spark, base, p0, ("k",), seq=0, n_buckets=4)
    tomb = spark.createDataFrame(
        [("K", 10, True)], "k string, bal int, is_del boolean"
    )
    p1 = str(tmp_path / "h1")
    merge_scd2(spark, p0, p1, tomb, ("k",), seq=5, delete_col="is_del")

    reinsert = spark.createDataFrame([("K", 99)], "k string, bal int")
    with pytest.raises(ValueError, match="OVERLAPPING"):
        merge_scd2(spark, p1, str(tmp_path / "h_bad"), reinsert, ("k",), seq=3)

    # adjacent revive at the close seq is overlap-free and legal
    h_edge = merge_scd2(
        spark, p1, str(tmp_path / "h_edge"), reinsert, ("k",), seq=5
    )
    assert [(r["k"], r["bal"]) for r in scd2_as_of(h_edge, 5).collect()] == [
        ("K", 99)
    ]
    assert [(r["k"], r["bal"]) for r in scd2_as_of(h_edge, 4).collect()] == [
        ("K", 10)
    ]
    # strictly-later revive likewise; tombstone gap stays visible
    h2 = merge_scd2(spark, p1, str(tmp_path / "h2"), reinsert, ("k",), seq=6)
    assert scd2_as_of(h2, 5).count() == 0
    assert [(r["k"], r["bal"]) for r in scd2_as_of(h2, 6).collect()] == [
        ("K", 99)
    ]


def test_compact_epoch_artifact(spark, sf_dir, tmp_path):
    """Folding streaming epoch dirs into the flat per-version artifact:
    compacted rows equal a full rebuild over base+increment, the epoch
    level is gone, each dirty cell's base+epoch small files merge into
    ONE file, and clean cells hardlink across."""
    import os

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
        kmeans_centroids,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        compact_epoch_artifact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    base = emb.filter(F.col("vec_id") >= 4)
    e0 = emb.filter(F.col("vec_id") < 2)
    e1 = emb.filter((F.col("vec_id") >= 2) & (F.col("vec_id") < 4))
    C = kmeans_centroids(base, nlist=8)  # pinned quantizer

    base_path = str(tmp_path / "sqlists_base")
    cached_parquet(
        spark,
        base_path,
        lambda: ivf_sq_invert(base, C),
        partition_by=("cell",),
    )
    # the streaming sink's layout: epoch=<n>/cell=<c>/part-*.parquet
    epochs_path = str(tmp_path / "sqlists_epochs")
    for i, inc in enumerate((e0, e1)):
        ivf_sq_invert(inc, C).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(f"{epochs_path}/epoch={i}")
    dirty_cells = {
        r[0]
        for r in spark.read.parquet(epochs_path)
        .select("cell")
        .distinct()
        .collect()
    }
    clean_inodes = {}
    for cell_dir in os.listdir(base_path):
        if not cell_dir.startswith("cell="):
            continue
        if int(cell_dir.split("=")[1]) in dirty_cells:
            continue
        for n in os.listdir(os.path.join(base_path, cell_dir)):
            full = os.path.join(base_path, cell_dir, n)
            clean_inodes[os.path.join(cell_dir, n)] = os.stat(full).st_ino
    assert clean_inodes  # 4 streamed vectors vs nlist=8: clean cells exist

    new_path = str(tmp_path / "sqlists_flat")
    compacted = compact_epoch_artifact(spark, base_path, epochs_path, new_path)
    got = sorted(map(tuple, compacted.select(
        "cell", "vec_id", "codes", "scale_micro"
    ).collect()))
    want = sorted(map(tuple, ivf_sq_invert(emb, C).collect()))
    assert got == want and got
    # the epoch level does not survive compaction
    assert not any(d.startswith("epoch=") for d in os.listdir(new_path))
    # dirty cells re-clustered to ONE file each; clean cells hardlinked
    for cell in dirty_cells:
        parts = [
            n
            for n in os.listdir(os.path.join(new_path, f"cell={cell}"))
            if n.endswith(".parquet")
        ]
        assert len(parts) == 1, (cell, parts)
    for rel, ino in clean_inodes.items():
        assert os.stat(os.path.join(new_path, rel)).st_ino == ino, rel

    # idempotent + stream-born index (no base): plain re-clustered fold
    assert compact_epoch_artifact(
        spark, base_path, epochs_path, new_path
    ).count() == len(got)
    nb = compact_epoch_artifact(
        spark, None, epochs_path, str(tmp_path / "sqlists_nobase")
    )
    got_nb = sorted(map(tuple, nb.select(
        "cell", "vec_id", "codes", "scale_micro"
    ).collect()))
    want_nb = sorted(map(tuple, ivf_sq_invert(
        emb.filter(F.col("vec_id") < 4), C
    ).collect()))
    assert got_nb == want_nb and got_nb


def test_overwrite_swap_leaves_no_residue(spark, tmp_path):
    """The rename-aside overwrite swap must leave exactly the fresh
    artifact: no __old__ rename-aside dir and no __building__ staging
    dir survive a successful save-over-save."""
    import os

    import numpy as np

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        load_ivf_centroids,
        save_ivf_centroids,
    )

    path = str(tmp_path / "cent")
    save_ivf_centroids(spark, np.ones((2, 3)), path)
    save_ivf_centroids(spark, np.full((2, 3), 7.0), path)
    assert load_ivf_centroids(spark, path)[0][0] == 7.0
    residue = [n for n in os.listdir(tmp_path) if "__" in n]
    assert residue == []


def test_save_overwrites_stale_artifact(spark, tmp_path):
    """Explicit save_* of a RETRAINED structure must replace the stored
    artifact — write-if-absent semantics here would silently serve the
    old index forever (the cached_parquet contract does not apply: a
    retrain is not 'identical by determinism')."""
    import numpy as np

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        load_ivf_centroids,
        save_ivf_centroids,
    )

    path = str(tmp_path / "cent")
    save_ivf_centroids(spark, np.ones((2, 3)), path)
    save_ivf_centroids(spark, np.full((2, 3), 7.0), path)  # retrain
    C = load_ivf_centroids(spark, path)
    assert C.tolist() == [[7.0, 7.0, 7.0], [7.0, 7.0, 7.0]]


def test_fingerprint_sees_partitioned_table_rewrite(tmp_path):
    """artifact_path must miss the cache when a file DEEP inside a
    hive-partitioned table (cell=0/part-*.parquet) is rewritten in
    place: the parent directory's mtime does not change, so only a
    recursive leaf-file walk catches it."""
    import os
    import time

    from gather_datawarehouse_sync_spark.sources.artifacts import artifact_path

    sf = tmp_path / "sfp"
    part = sf / "events.parquet" / "cell=0"
    part.mkdir(parents=True)
    leaf = part / "part-0000.parquet"
    leaf.write_bytes(b"aaaa")
    p1 = artifact_path(str(sf), "k_v1")
    assert artifact_path(str(sf), "k_v1") == p1
    time.sleep(1.1)
    leaf.write_bytes(b"bbbb")  # same size would also differ via mtime_ns
    os.utime(leaf)
    assert artifact_path(str(sf), "k_v1") != p1


def test_cached_parquet_partition_by_roundtrip(spark, tmp_path):
    """partition_by lays the artifact out hive-partitioned (directory
    per key) and the read-back DataFrame carries the same rows; a
    second call serves the stored artifact without rebuilding."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet

    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame(
            [(0, 10), (0, 11), (1, 20)], "cell int, v int"
        )

    path = str(tmp_path / "lists")
    df1 = cached_parquet(spark, path, build, partition_by=("cell",))
    assert sorted(map(tuple, df1.select("cell", "v").collect())) == [
        (0, 10), (0, 11), (1, 20),
    ]
    assert os.path.isdir(os.path.join(path, "cell=0"))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    df2 = cached_parquet(spark, path, build, partition_by=("cell",))
    assert df2.count() == 3
    assert calls == [1]  # built exactly once


def test_semantic_dedup_rejects_partial_or_corrupt_cells(spark, sf_dir, tmp_path):
    """A stale/partial cells= membership must fail LOUDLY, not silently
    drop the unmapped vectors (the documented contract is a verdict for
    every non-zero vector); a duplicated id must also fail, not emit
    duplicate verdict rows."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from gather_datawarehouse_sync_spark.operators.similarity import (
        kmeans_centroids,
        normalized,
        semantic_cells,
        semantic_dedup,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(normalized(emb), 4, vec_col="v", max_iter=5)
    full = semantic_cells(emb, C)
    partial = full.filter(F.col("id") % 2 == 0)  # half the corpus missing
    with pytest.raises(Exception, match="no row for id"):
        semantic_dedup(emb, threshold=0.45, centroids=C, cells=partial).collect()
    dup = full.union(full.limit(1))  # one id mapped twice
    with pytest.raises((Py4JJavaError, Exception), match="duplicate id"):
        semantic_dedup(emb, threshold=0.45, centroids=C, cells=dup).collect()


def test_sq_encode_and_topk(spark, sf_dir, tmp_path):
    """Int8 scalar quantization: codes stay in int8 range, a zero
    vector encodes as all-zero codes with scale 0, serving from the
    persisted code table equals the recompute path exactly (both are
    the same deterministic integer pipeline), and top-1 recall vs
    brute force is high on this corpus (quantization, not garbage)."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        sq_encode,
        sq_topk,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    enc = sq_encode(emb)
    rng = enc.selectExpr(
        "max(array_max(codes)) AS hi", "min(array_min(codes)) AS lo"
    ).first()
    assert -127 <= rng["lo"] and rng["hi"] <= 127

    zero = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, -2.0])], "vec_id long, embedding array<double>"
    )
    zenc = {r["vec_id"]: (r["codes"], r["scale_micro"]) for r in sq_encode(zero).collect()}
    assert zenc[1] == ([0, 0], 0)
    assert zenc[2][0] == [64, -127] and zenc[2][1] > 0  # floor(.5*127+.5)=64

    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "sq_codes")
    enc.write.parquet(path)
    stored = sorted(
        map(tuple, sq_topk(q, None, k=1, codes=spark.read.parquet(path)).collect())
    )
    recompute = sorted(map(tuple, sq_topk(q, emb, k=1).collect()))
    assert stored == recompute and stored

    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(q, emb, k=1, metric="dot").collect()
    }
    got = {r[0]: r[1] for r in stored}
    recall = sum(got[k] == v for k, v in exact.items()) / len(exact)
    assert recall >= 0.8, f"SQ8 top-1 recall {recall} vs exact"

    import pytest

    with pytest.raises(ValueError, match="corpus or codes"):
        sq_topk(q, None)


def test_mmr_rerank_diversity_and_lambda_extremes(spark):
    """MMR semantics on a constructed corpus: two near-identical
    high-relevance vectors + one diverse mid-relevance vector.  Plain
    relevance order is (a1, a2, b); MMR at λ=0.5 promotes the diverse b
    over the near-duplicate a2; λ=1000 degenerates to plain top-k
    order; invalid parameters fail loudly."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [1.0, 1.0]),        # a1: most relevant (rel 1.0)
        (2, [0.99, 1.0]),       # a2: near-dup of a1 (sim 1.99 >> rel .99)
        (3, [0.8, -0.8]),       # b: diverse (sim to a1 = 0), rel 0.8
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") == 0)

    diverse = [
        (r["ord"], r["neighbor_id"])
        for r in mmr_rerank(q, emb, k=3, candidates=3, lam_milli=500)
        .orderBy("ord").collect()
    ]
    assert diverse == [(1, 1), (2, 3), (3, 2)], diverse

    plain = [
        (r["ord"], r["neighbor_id"])
        for r in mmr_rerank(q, emb, k=3, candidates=3, lam_milli=1000)
        .orderBy("ord").collect()
    ]
    assert plain == [(1, 1), (2, 2), (3, 3)], plain

    with pytest.raises(ValueError, match="lam_milli"):
        mmr_rerank(q, emb, lam_milli=1001)
    with pytest.raises(ValueError, match="candidates"):
        mmr_rerank(q, emb, k=5, candidates=3)


def test_recall_report_counts(spark):
    """recall_report on hand-built tier outputs: hits/total/recall_bp
    per k, integer DIV semantics, and queries with fewer than k
    reference neighbors counted by actual pair count."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.similarity import (
        recall_report,
    )

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)],  # query 2 has only 1 ref
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (2, 20, 1)],  # misses 11 at k=2
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r["k"]: (r["n_queries"], r["hits"], r["total"], r["recall_bp"])
        for r in recall_report(approx, exact, ks=(1, 2)).collect()
    }
    assert got[1] == (2, 2, 2, 10000)
    assert got[2] == (2, 2, 3, 6666)  # 10000*2 DIV 3
    with pytest.raises(ValueError, match="ks"):
        recall_report(approx, exact, ks=())


def test_sq_encode_tiny_vector_scale_clamped(spark):
    """A non-zero vector with maxabs < 1.27e-4 must NOT degenerate to
    scale 0 (which would zero every one of its scores and collapse its
    top-k to min-id order): the scale clamps to 1 micro and ranking by
    the actual dot-product order survives, because the codes span the
    full int8 range regardless of magnitude."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        sq_encode,
        sq_topk,
    )

    rows = [
        (0, [1e-5, 2e-6]),      # tiny query: old scale floored to 0
        (1, [1.0, 0.1]),        # aligned with the query → best dot
        (2, [-1.0, -0.1]),      # anti-aligned → worst
        (3, [0.1, 1.0]),        # orthogonal-ish
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = {r["vec_id"]: r["scale_micro"] for r in sq_encode(emb).collect()}
    assert enc[0] == 1  # clamped, not 0
    got = [
        (r["rank"], r["neighbor_id"], r["score"])
        for r in sq_topk(emb.filter(F.col("vec_id") == 0), emb, k=3)
        .orderBy("rank").collect()
    ]
    assert [g[1] for g in got] == [1, 3, 2]  # true dot order, not id order
    assert got[0][2] > 0 > got[2][2]  # scores carry sign, not all zero


def test_recall_report_emits_zero_rows_for_empty_reference(spark):
    """Every requested k gets a row: with an empty reference tier the
    report is (k, 0, 0, 0, 0) per k, not an empty frame a consumer
    could misread as 'no measurement requested'."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        recall_report,
    )

    empty = spark.createDataFrame(
        [], "query_id long, neighbor_id long, rank int"
    )
    approx = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, neighbor_id long, rank int"
    )
    rows = sorted(
        map(tuple, recall_report(approx, empty, ks=(1, 5)).collect())
    )
    assert rows == [(1, 0, 0, 0, 0), (5, 0, 0, 0, 0)]


def test_probe_cells_tie_breaks_to_min_cell_index(spark):
    """With two IDENTICAL centroids every query ties exactly; the probe
    order must be stable (cell index order, matching the argmax
    first-wins assignment), so nprobe=1 probes cell 0 — where the
    assignment kernel put every vector — and finds real neighbors
    instead of an empty probe set."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_topk,
    )

    C = np.array([[1.0, 0.0], [1.0, 0.0]])  # exact duplicate centroids
    emb = spark.createDataFrame(
        [(i, [1.0, 0.001 * i]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    got = ivf_topk(
        emb.filter(F.col("vec_id") < 2), emb, k=1, nlist=2, nprobe=1,
        centroids=C,
    ).collect()
    assert len(got) == 2  # every query found its (cell-0) neighbors


def test_mmr_ivfsq_full_probe_full_candidates_equals_exact_mmr(spark, sf_dir):
    """The composed MMR (IVF×SQ candidates → exact re-score → greedy)
    must equal the exact-tier MMR when nothing is pruned: with
    nprobe == nlist AND candidates ≥ |corpus|−1 both forms see every
    non-self vector with identical exact integer relevance, so the
    shared greedy must produce the identical trace.  (At smaller
    candidates the SETS may legitimately differ — SQ-score vs
    exact-score candidate ranking — which is the quantization trade,
    not a bug.)"""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
        kmeans_centroids,
        mmr_rerank,
        mmr_rerank_ivfsq,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        .filter(F.col("vec_id") < 30)
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    C = kmeans_centroids(emb, nlist=4)
    lists = ivf_sq_invert(emb, C).localCheckpoint(eager=True)
    q = emb.filter(F.col("vec_id") < 3)
    composed = sorted(map(tuple, mmr_rerank_ivfsq(
        q, C, lists, emb, k=4, candidates=n - 1, nprobe=4, lam_milli=600,
    ).collect()))
    exact = sorted(map(tuple, mmr_rerank(
        q, emb, k=4, candidates=n - 1, lam_milli=600,
    ).collect()))
    assert composed == exact and composed


def test_minhash_recall_floor_on_corpus(spark, sf_dir):
    """The registered sketch-tier report's floor on the real fixture:
    at 64 hashes the LSH candidates at est ≥ 0.7 must recover most of
    the exact 3-gram tier at 0.7 (this corpus's true ≥0.7 pairs are
    near-identical docs, whose signatures agree deterministically) and
    not drown it in false candidates — a banding or estimator
    regression fails here before it silently degrades dedup."""
    from gather_datawarehouse_sync_spark.queries import REGISTRY

    row = REGISTRY["x_minhash_recall"].spark(spark, sf_dir).collect()[0]
    assert row["n_reference"] > 0, "fixture lost its near-dup pairs"
    assert row["recall_bp"] >= 9000, row
    assert row["precision_bp"] >= 5000, row


def test_ivfsq_recall_floor_at_default_probes(spark, sf_dir):
    """The probe/recall tradeoff is a pinned number, not a hope: at the
    registered configuration (nprobe=4 of nlist=16) the composed tier's
    recall@10 against the SQ exact tier over the same codes must stay
    above a floor — a quantizer or probe regression fails here before
    it silently degrades retrieval."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
        ivf_sq_topk,
        kmeans_centroids,
        recall_report,
        sq_topk,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=16)
    lists = ivf_sq_invert(emb, C).localCheckpoint(eager=True)
    q = emb.filter(F.col("vec_id") < 10)
    approx = ivf_sq_topk(q, C, lists, k=10, nprobe=4)
    exact = sq_topk(
        q, None, k=10, codes=lists.select("vec_id", "codes", "scale_micro")
    )
    got = {
        r["k"]: r["recall_bp"]
        for r in recall_report(approx, exact, ks=(1, 5, 10)).collect()
    }
    assert set(got) == {1, 5, 10}
    # small-sample floors (the sf0.001 fixture has ~dozens of vectors,
    # so nlist=16 cells hold a handful each and one missed query moves
    # recall@1 by 1000 bp); the registered sf0.1 query is the per-round
    # tracked number — these pin "probing 1/4 of cells keeps a usable
    # fraction", i.e. the probe order is not broken
    assert got[10] >= 5000, got
    assert got[1] >= 3000, got

    # recall is EXACTLY monotone in nprobe under shared scoring: a wider
    # probe set is a candidate superset, and any candidate that
    # displaces a previous hit from the approx top-k scores higher —
    # hence is itself in the exact top-k (same global integer scores) —
    # so hits never decrease.  A violation means the probe order or the
    # candidate join is broken, regardless of corpus size.
    by_probe = {}
    for nprobe in (1, 4, 16):
        ap = ivf_sq_topk(q, C, lists, k=10, nprobe=nprobe)
        by_probe[nprobe] = {
            r["k"]: r["recall_bp"]
            for r in recall_report(ap, exact, ks=(1, 5, 10)).collect()
        }
    for k in (1, 5, 10):
        assert (
            by_probe[1][k] <= by_probe[4][k] <= by_probe[16][k]
        ), (k, by_probe)
    assert by_probe[16] == {1: 10000, 5: 10000, 10: 10000}  # full probe


def test_ivf_sq_topk_ladder_matches_independent_runs(spark, sf_dir):
    """The one-pass ladder (r18) must be ROW-IDENTICAL per rung to an
    independent ivf_sq_topk run at that nprobe — the equivalence
    choose_nprobe's single-collect measurement rests on (the stable
    argsort makes each rung's probe set a prefix of the widest rung's)."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
        ivf_sq_topk,
        ivf_sq_topk_ladder,
        kmeans_centroids,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=16)
    lists = ivf_sq_invert(emb, C).localCheckpoint(eager=True)
    q = emb.filter(F.col("vec_id") < 10)
    lad = ivf_sq_topk_ladder(q, C, lists, k=5, nprobes=(1, 4, 8))
    by_rung = {}
    for r in lad.collect():
        by_rung.setdefault(r["nprobe"], set()).add(
            (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        )
    assert set(by_rung) <= {1, 4, 8}
    for p in (1, 4, 8):
        solo = {
            (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
            for r in ivf_sq_topk(q, C, lists, k=5, nprobe=p).collect()
        }
        assert by_rung.get(p, set()) == solo, f"nprobe={p}"


def test_ngram_diversity_detects_templates(spark):
    """distinct-n semantics on a constructed corpus: a templated slice
    (same doc repeated) scores distinct_bp far below a varied slice;
    docs shorter than n emit no n-grams of that order; bad ns raise."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.terms import (
        ngram_diversity,
    )

    rows = [
        (1, "spam", "buy now buy now buy now"),
        (2, "spam", "buy now buy now buy now"),
        (3, "varied", "the quick brown fox jumps"),
        (4, "varied", "over a lazy sleeping dog"),
        (5, "tiny", "one"),  # no 2-grams or 3-grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["grp"], r["n"]): (r["total"], r["n_distinct"], r["distinct_bp"])
        for r in ngram_diversity(docs, ns=(1, 2, 3), by="source").collect()
    }
    # spam: 12 unigram occurrences, 2 distinct → 1666 bp
    assert got[("spam", 1)] == (12, 2, 1666)
    # varied: every unigram unique → 10000 bp
    assert got[("varied", 1)] == (10, 10, 10000)
    assert got[("varied", 2)][2] == 10000
    assert got[("spam", 2)][2] < 5000
    assert ("tiny", 1) in got and ("tiny", 2) not in got
    with pytest.raises(ValueError, match="ns"):
        ngram_diversity(docs, ns=())


def test_quantizer_drift_self_is_zero_and_matches_lists(spark, sf_dir):
    """The append-or-retrain gate's invariants: (a) a corpus drifted
    against its OWN histogram reports delta_bp = 0 in every cell and
    identical counts; (b) the cell histogram equals the stored inverted
    lists' partition sizes (same assignment kernel by construction);
    (c) a shifted increment (vectors negated → different cells under
    the same quantizer) produces nonzero deltas that sum to ~0 (shares
    are a distribution on both sides)."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        cell_histogram,
        ivf_invert,
        kmeans_centroids,
        quantizer_drift,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=4)
    hist = cell_histogram(emb, C).localCheckpoint(eager=True)

    self_drift = quantizer_drift(hist, emb, C).collect()
    assert self_drift
    assert all(r["delta_bp"] == 0 for r in self_drift)
    assert all(r["ref_n"] == r["new_n"] for r in self_drift)

    lists_sizes = sorted(
        map(tuple, ivf_invert(emb, C).groupBy("cell").count().collect())
    )
    assert lists_sizes == sorted((r["bin"], r["ref_n"]) for r in hist.collect())

    shifted = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    drift = quantizer_drift(hist, shifted, C).collect()
    assert any(r["delta_bp"] != 0 for r in drift)
    # each side's shares are 10000·n DIV total → sums land in
    # (10000 - nbins, 10000], so the delta sum is near zero
    assert abs(sum(r["delta_bp"] for r in drift)) <= len(drift)


def test_integer_tiers_keep_string_ids_and_skip_null_vectors(spark):
    """The numpy scoring kernels must preserve two contracts the
    expression forms they replaced had: (a) id columns of ANY orderable
    type rank correctly (string doc ids included — the kernels must not
    silently narrow ids to int64), and (b) NULL-vector rows are skipped
    rather than crashing the batch stack (the old HOF scored them NULL,
    which never won a rank)."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        ivf_sq_invert,
        ivf_sq_topk,
        mmr_rerank,
        pq_topk,
        sq_topk,
    )

    rows = [
        ("qa", [1.0, 0.0]),
        ("nb", [0.9, 0.1]),
        ("nc", [-1.0, 0.0]),
        ("nd", None),  # must be skipped, not crash
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = emb.filter(F.col("vec_id") == "qa")

    sq = sq_topk(q, emb, k=3).collect()
    assert [r["neighbor_id"] for r in sorted(sq, key=lambda r: r["rank"])] == [
        "nb", "nc"
    ]
    im = brute_force_topk(q, emb, k=3, metric="int_micro").collect()
    assert [r["neighbor_id"] for r in sorted(im, key=lambda r: r["rank"])] == [
        "nb", "nc"
    ]
    mm = mmr_rerank(q, emb, k=2, candidates=2, lam_milli=700).collect()
    assert sorted(r["neighbor_id"] for r in mm) == ["nb", "nc"]

    import numpy as np

    C = np.array([[1.0, 0.0]])
    lists = ivf_sq_invert(emb.filter(F.col("embedding").isNotNull()), C)
    iv = ivf_sq_topk(q, C, lists, k=3, nprobe=1).collect()
    assert [r["neighbor_id"] for r in sorted(iv, key=lambda r: r["rank"])] == [
        "nb", "nc"
    ]
    # one subspace whose centroids are the corpus vectors themselves:
    # ADC is the exact dot, and no trainer runs on three vectors
    books = np.array([[[1.0, 0.0], [0.9, 0.1], [-1.0, 0.0]]])
    pq = pq_topk(
        q, emb, k=3, num_subspaces=1, num_centroids=3, codebooks=books
    ).collect()
    assert [r["neighbor_id"] for r in sorted(pq, key=lambda r: r["rank"])] == [
        "nb", "nc"
    ]


def test_broadcast_tiers_score_every_query_chunk(spark, monkeypatch):
    """The broadcast-query tiers score the query side in
    ``_QUERY_CHUNK``-sized chunks so the per-batch score matrix stays
    bounded; with the chunk shrunk to 2, five queries take three chunks
    (the last one short), and every tier must return the same rows as
    one whole-side chunk — ties included (half-integer vectors)."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators import similarity
    from gather_datawarehouse_sync_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
        sq_topk,
    )

    rng = np.random.default_rng(7)
    vecs = rng.integers(-2, 3, size=(12, 4)) / 2.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") < 5)
    books = rng.integers(-2, 3, size=(2, 4, 2)) / 2.0

    def run():
        tiers = (
            sq_topk(q, emb, k=3),
            brute_force_topk(q, emb, k=3, metric="int_micro"),
            pq_topk(
                q, emb, k=3, num_subspaces=2, num_centroids=4, codebooks=books
            ),
        )
        return [sorted(tuple(r) for r in df.collect()) for df in tiers]

    whole = run()
    assert all(len(rows) == 15 for rows in whole)
    monkeypatch.setattr(similarity, "_QUERY_CHUNK", 2)
    assert run() == whole


def test_release_index_gate_verdicts_and_fail_fast(spark):
    """The acceptance gate annotates each k with its floor and verdict;
    in fail-fast mode a failing k raises AT EXECUTION TIME with the
    offending recall in the message (the release-job mode), while a
    passing gate executes clean."""
    import pytest

    from gather_datawarehouse_sync_spark.pipelines import release_index_gate

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (2, 20, 1), (2, 21, 2)],  # 3/4 at k=2
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r["k"]: (r["recall_bp"], r["floor_bp"], r["ok"])
        for r in release_index_gate(
            approx, exact, {1: 9000, 2: 8000}
        ).collect()
    }
    assert got[1] == (10000, 9000, True)
    assert got[2] == (7500, 8000, False)  # 10000*3 DIV 4

    ok_gate = release_index_gate(
        approx, exact, {1: 9000, 2: 7000}, fail_fast=True
    )
    assert all(r["ok"] for r in ok_gate.collect())

    bad_gate = release_index_gate(
        approx, exact, {1: 9000, 2: 8000}, fail_fast=True
    )
    with pytest.raises(Exception, match="do not ship"):
        bad_gate.collect()

    with pytest.raises(ValueError, match="non-empty"):
        release_index_gate(approx, exact, {})


def test_choose_nprobe_chooser_contract(spark):
    """The auto-nprobe chooser on a hand-built 2-cell index where the
    probe loss is EXACT: the query sits in cell 0 but its true top-2
    spans both cells, so nprobe=1 provably measures 5000 bp and
    nprobe=2 (full probe) 10000 bp — pinning minimality (first passing
    rung wins, no further rungs measured), the always-terminates
    contract via the exact nlist rung, the loud no-passing-rung error
    on a capped ladder, and the input guards."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
    )
    from gather_datawarehouse_sync_spark.pipelines import choose_nprobe

    C = np.array([[1.0, 0.0], [0.0, 1.0]])
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    lists = ivf_sq_invert(corpus, C)
    q = spark.createDataFrame(
        [(100, [1.0, 0.6])], "vec_id long, embedding array<double>"
    )

    chosen, trials = choose_nprobe(q, C, lists, k=2, target_recall_bp=10000)
    rows = {r["nprobe"]: r for r in trials.collect()}
    assert chosen == 2
    assert rows[1]["recall_bp"] == 5000 and not rows[1]["chosen"]
    assert rows[2]["recall_bp"] == 10000 and rows[2]["chosen"]

    # minimality + early stop: a floor the first rung meets measures
    # ONLY that rung
    chosen_lo, trials_lo = choose_nprobe(
        q, C, lists, k=2, target_recall_bp=5000
    )
    assert chosen_lo == 1 and trials_lo.count() == 1

    with pytest.raises(ValueError, match="no rung"):
        choose_nprobe(q, C, lists, k=2, target_recall_bp=10000, nprobes=[1])
    with pytest.raises(ValueError, match="target_recall_bp"):
        choose_nprobe(q, C, lists, k=2, target_recall_bp=0)
    with pytest.raises(ValueError, match="within"):
        choose_nprobe(q, C, lists, k=2, nprobes=[3])


def test_ivf_sq_full_probe_equals_sq_topk(spark, sf_dir, tmp_path):
    """Composed IVF×SQ tier: probing every cell must equal the plain SQ
    scan tier EXACTLY (same integer scores, same tie-break) — the IVF
    half only partitions the candidate set, the SQ half defines the
    scores; and serving from the persisted partitioned lists equals the
    recompute path."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
        ivf_sq_topk,
        kmeans_centroids,
        sq_topk,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=4)
    q = emb.filter(F.col("vec_id") < 8)

    lists = ivf_sq_invert(emb, C)
    full_probe = sorted(
        map(tuple, ivf_sq_topk(q, C, lists, k=2, nprobe=4).collect())
    )
    plain_sq = sorted(map(tuple, sq_topk(q, emb, k=2).collect()))
    assert full_probe == plain_sq and full_probe

    stored = cached_parquet(
        spark,
        str(tmp_path / "ivfsq_lists"),
        lambda: ivf_sq_invert(emb, C),
        partition_by=("cell",),
    )
    from_store = sorted(
        map(tuple, ivf_sq_topk(q, C, stored, k=2, nprobe=4).collect())
    )
    assert from_store == full_probe

    # subset probe: results are a (query-wise) valid top-k over FEWER
    # candidates — every returned neighbor must exist and recall@1 vs
    # the full probe should be positive on this corpus
    sub = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_sq_topk(q, C, stored, k=1, nprobe=2).collect()
    }
    top1 = {r[0]: r[1] for r in full_probe if r[3] == 1}
    hits = sum(sub.get(k) == v for k, v in top1.items())
    assert hits >= len(top1) // 2


def test_jaccard_pairs_cached_tighten_row_identity(spark, sf_dir, tmp_path):
    """The materialized pair table built loose (0.8) and tightened to
    0.9 with the stored integer columns is ROW-IDENTICAL to a live
    jaccard_pairs run at 0.9 (Fraction.limit_denominator reproduces the
    tier's own rational compare) — the contract that lets one persisted
    artifact serve x_ngram_dedup_clusters, x_quality_dedup and any
    threshold sweep.  A strict cache can never serve a looser ask."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_cached,
    )
    from gather_datawarehouse_sync_spark.queries import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].filter(
        F.col("doc_id") % 3 == 0
    )
    path = str(tmp_path / "pairs_t08")
    tight = jaccard_pairs_cached(
        docs, threshold=0.9, ngram=1, cache_path=path, cache_threshold=0.8
    )
    live = jaccard_pairs(docs, threshold=0.9, ngram=1)
    cols = ["a", "b", "shared", "na", "nb"]
    assert sorted(map(tuple, tight.select(cols).collect())) == sorted(
        map(tuple, live.select(cols).collect())
    )
    # same threshold: the stored table is served as-is (no filter)
    same = jaccard_pairs_cached(
        docs, threshold=0.8, ngram=1, cache_path=path, cache_threshold=0.8
    )
    assert same.count() >= tight.count()
    with _pytest.raises(ValueError, match="stricter"):
        jaccard_pairs_cached(
            docs, threshold=0.7, ngram=1, cache_path=path,
            cache_threshold=0.8,
        )
    with _pytest.raises(ValueError, match="cache_path"):
        jaccard_pairs_cached(docs, threshold=0.8, ngram=1)


def test_dsir_bucket_ratios_hand_computed(spark):
    """Add-one-smoothed integer ratios on a corpus small enough to count
    by hand via the same md5 bucketing in Python."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.terms import (
        dsir_bucket_ratios,
    )

    B = 64

    def bucket(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % B

    src_rows = [(0, "the cat sat"), (1, "the cat ran"), (2, "dogs bark loud")]
    tgt_rows = [(10, "the cat sat")]
    src = spark.createDataFrame(src_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    got = {
        r["bucket"]: (r["src_b"], r["tgt_b"], r["ratio_ppm"])
        for r in dsir_bucket_ratios(src, tgt, n=2, buckets=B).collect()
    }
    from collections import Counter

    def grams(text):
        toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        return [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]

    src_c = Counter(bucket(g) for _, t in [(r[0], r[1]) for r in src_rows] for g in grams(t))
    tgt_c = Counter(bucket(g) for _, t in [(r[0], r[1]) for r in tgt_rows] for g in grams(t))
    want = {
        b: (src_c.get(b, 0), tgt_c.get(b, 0),
            (tgt_c.get(b, 0) + 1) * 1_000_000 // (src_c.get(b, 0) + 1))
        for b in set(src_c) | set(tgt_c)
    }
    assert got == want


def test_dsir_weights_matches_python_oracle_and_broadcasts(spark):
    """Per-doc weight = sum of its gram-occurrence ratios (length
    normalization by integer DIV; gramless docs weigh 0), and the
    ratio lookup is a BROADCAST join — the ratios side is bounded by
    the bucket count, never corpus-sized."""
    import hashlib
    import re
    from collections import Counter

    from gather_datawarehouse_sync_spark.operators.terms import (
        dsir_bucket_ratios,
        dsir_weights,
    )
    from gather_datawarehouse_sync_spark.plans import broadcast_join_count

    B = 32
    rows = [
        (0, "alpha beta alpha beta gamma"),
        (1, "delta epsilon"),
        (2, "alpha beta"),
        (3, ""),           # gramless: weight 0
        (4, "zeta"),       # single token → no 2-gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = docs.filter("doc_id = 0")
    ratios = dsir_bucket_ratios(docs, tgt, n=2, buckets=B)
    out = dsir_weights(docs, ratios, n=2, buckets=B)
    assert broadcast_join_count(out) >= 1

    def grams(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    src_c = Counter(bucket(g) for _, t in rows for g in grams(t))
    tgt_c = Counter(bucket(g) for g in grams(rows[0][1]))
    ratio = {b: (tgt_c.get(b, 0) + 1) * 1_000_000 // (c + 1) for b, c in src_c.items()}
    want = {}
    for i, t in rows:
        gs = grams(t)
        w = sum(ratio[bucket(g)] for g in gs)
        want[i] = (len(gs), w, w // len(gs) if gs else 0)
    got = {
        r["doc_id"]: (r["n_grams"], r["weight_ppm"], r["avg_ppm"])
        for r in out.collect()
    }
    assert got == want


def test_dsir_weights_unseen_bucket_takes_smoothed_default(spark):
    """r15 advisor find: scoring docs against a ratios table built from
    a DIFFERENT corpus inner-joined the gram buckets, silently dropping
    grams whose bucket the table never saw — skewing n_grams and
    weight_ppm.  Now a left join + coalesce applies the add-one
    smoothed unseen ratio (tgt=0, src=0 → scale), the exact value
    dsir_bucket_ratios would emit for that bucket."""
    import hashlib
    import re
    from collections import Counter

    from gather_datawarehouse_sync_spark.operators.terms import (
        dsir_bucket_ratios,
        dsir_weights,
    )

    B, SCALE = 4096, 1_000_000  # big B: disjoint grams miss the table
    corpus_a = spark.createDataFrame(
        [(0, "the cat sat on the mat")], "doc_id long, text string"
    )
    # scored docs share NO grams with corpus_a → every bucket unseen
    # (verified below against the table, not assumed)
    docs = spark.createDataFrame(
        [(5, "quartz vixen jumps quickly"), (6, "zz")],
        "doc_id long, text string",
    )
    ratios = dsir_bucket_ratios(corpus_a, corpus_a, n=2, buckets=B)
    table = {r["bucket"]: r["ratio_ppm"] for r in ratios.collect()}

    def grams(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    doc_buckets = Counter(bucket(g) for g in grams("quartz vixen jumps quickly"))
    assert not (set(doc_buckets) & set(table)), "fixture collided; raise B"
    got = {
        r["doc_id"]: (r["n_grams"], r["weight_ppm"], r["avg_ppm"])
        for r in dsir_weights(docs, ratios, n=2, buckets=B, scale=SCALE).collect()
    }
    n = sum(doc_buckets.values())
    assert got == {5: (n, n * SCALE, SCALE), 6: (0, 0, 0)}


def test_schema_sidecar_write_is_atomic_rename(spark, tmp_path):
    """r15 advisor find: the self-healing sidecar write was non-atomic
    remove-then-write on a LIVE artifact dir.  Now temp+rename: no temp
    residue, and a previous version's HARDLINKED sidecar keeps its own
    content when the next version rewrites (rename replaces the entry,
    not the shared inode)."""
    import json
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        _SCHEMA_SIDECAR,
        _write_schema_sidecar,
    )

    d = tmp_path / "v1"
    d.mkdir()
    df1 = spark.createDataFrame([], "id long")
    _write_schema_sidecar(str(d), df1)
    old = (d / _SCHEMA_SIDECAR).read_text()
    # simulate the carry loop hardlinking v1's sidecar into v2
    d2 = tmp_path / "v2"
    d2.mkdir()
    os.link(d / _SCHEMA_SIDECAR, d2 / _SCHEMA_SIDECAR)
    _write_schema_sidecar(str(d2), spark.createDataFrame([], "id long, v string"))
    assert (d / _SCHEMA_SIDECAR).read_text() == old, "v1's copy corrupted"
    new = json.loads((d2 / _SCHEMA_SIDECAR).read_text())
    assert [f["name"] for f in new["fields"]] == ["id", "v"]
    leftovers = [p.name for p in d2.iterdir() if p.name.startswith("._schema_tmp")]
    assert leftovers == []


def test_empty_table_versions_readable_and_mergeable(spark, tmp_path):
    """An INITIALLY empty artifact and a delete-all merge output are
    both readable (schema sidecar fallback) and a later upsert onto the
    empty version resumes the chain."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
        read_table,
    )

    empty = str(tmp_path / "empty0")
    out = cached_parquet(
        spark,
        empty,
        lambda: spark.createDataFrame([], "id long, v string, p string"),
        partition_by=("p",),
    )
    assert out.count() == 0 and out.columns == ["id", "v", "p"]

    base = str(tmp_path / "t0")
    cached_parquet(
        spark,
        base,
        lambda: spark.createDataFrame(
            [(1, "a", "pa"), (2, "b", "pb")], "id long, v string, p string"
        ),
        partition_by=("p",),
    )
    gone = merge_table(
        spark,
        base,
        str(tmp_path / "t1"),
        spark.createDataFrame([(1, "a", "pa"), (2, "b", "pb")],
                              "id long, v string, p string"),
        key_cols=("id",),
        partition_col="p",
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert gone.count() == 0
    assert read_table(spark, str(tmp_path / "t1")).columns == ["id", "v", "p"]
    back = merge_table(
        spark,
        str(tmp_path / "t1"),
        str(tmp_path / "t2"),
        spark.createDataFrame([(3, "c", "pa")], "id long, v string, p string"),
        key_cols=("id",),
        partition_col="p",
    )
    assert {tuple(r) for r in back.select("id", "v", "p").collect()} == {
        (3, "c", "pa")
    }


def test_minhash_portable_mode_matches_python_oracle(spark):
    """hash_mode='portable' (r16): the signature is engine-reproducible
    integer arithmetic — md5-60bit base hash mod p, seed-determined
    affine mins — so a pure-Python recompute must match lane for lane.
    This is the contract the x_minhash_* DuckDB oracles rest on."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.dedup import (
        _MERSENNE_PRIME,
        minhash_coeffs,
        minhash_signatures,
    )

    coeffs = minhash_coeffs(8, 42)

    def sig(text, n):
        words = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        # distinct space-joined n-grams; none for docs under n tokens
        grams = {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
        if not grams:
            return None
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % _MERSENNE_PRIME
            for g in grams
        ]
        return [min((a * h + b) % _MERSENNE_PRIME for h in hs) for a, b in coeffs]

    cases = {
        1: [(1, "the cat sat on the mat"), (2, "dogs bark"), (3, "x")],
        # n ≥ 2 runs the shingle lambda: a normal doc, one under 3
        # tokens, a punctuation-only one, and a repeated trigram
        3: [
            (1, "The cat sat on the mat, and the dog sat too."),
            (2, "dogs bark"),
            (3, "... !!! ,,,"),
            (4, "a b c a b c a b c"),
        ],
    }
    for n, rows in cases.items():
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["id"]: r["signature"]
            for r in minhash_signatures(
                df, num_hashes=8, ngram=n, hash_mode="portable"
            ).collect()
        }
        for i, t in rows:
            assert got[i] == sig(t, n), f"ngram {n} doc {i}"
    # ngram=3 ran last: the sub-3-token and punctuation-only docs
    # have no trigram, so no signature
    assert got[2] is None and got[3] is None
    with pytest.raises(ValueError, match="hash_mode"):
        minhash_signatures(df, hash_mode="sha9000")


def test_simhash_portable_mode_matches_python_oracle(spark):
    """hash_mode='portable' (r16): the 60-bit fingerprint is
    engine-reproducible — md5-60bit token hash, ±1 votes per bit over
    token OCCURRENCES (duplicates counted), bit = vote > 0 — so a pure
    Python recompute matches exactly; >60 bits is rejected."""
    import hashlib
    import re

    from gather_datawarehouse_sync_spark.operators.dedup import simhash

    rows = [(1, "aa bb aa"), (2, "cc"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r["simhash"]
        for r in simhash(df, bits=60, hash_mode="portable").collect()
    }

    def fp(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        if not toks:
            return None
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
        f = 0
        for b in range(60):
            v = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if v > 0:
                f |= 1 << b
        return f

    assert got == {i: fp(t) for i, t in rows if fp(t) is not None}
    with pytest.raises(ValueError, match="60"):
        simhash(df, bits=64, hash_mode="portable")
    with pytest.raises(ValueError, match="hash_mode"):
        simhash(df, hash_mode="blake9")


def test_asof_join_null_payload_not_torn(spark):
    """r16 review find: per-column last(ignorenulls) fills backfilled a
    NULL field of the TRUE as-of row from an older right row, emitting
    a torn row mixing two right rows.  The fill is now one whole-row
    struct: the match is the t=2 row, price NULL and all."""
    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    left = spark.createDataFrame([("k", 3)], "id string, ts long")
    right = spark.createDataFrame(
        [("k", 1, 100), ("k", 2, None)], "id string, rts long, price long"
    )
    rows = asof_join(left, right, "id", "ts", "rts").collect()
    assert len(rows) == 1
    assert (rows[0]["rts"], rows[0]["price"]) == (2, None), rows


def test_asof_join_null_keys_and_null_ts_match_nothing(spark):
    """r16 review finds: window partitioning groups NULL keys together
    (an equi-join never matches NULL = NULL), and forward's
    desc_nulls_last handed NULL-ts left rows the earliest right row.
    Both now mask to no-match, in both directions — matching the SQL
    semantics of the registered x_asof_join oracle."""
    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(None, 5), ("k", None), ("k", 4)], "id string, ts long"
    )
    right = spark.createDataFrame(
        [(None, 1, 9), ("k", 2, 7)], "id string, rts long, rid long"
    )
    for direction in ("backward", "forward"):
        got = {
            (r["id"], r["ts"]): r["rid"]
            for r in asof_join(
                left, right, "id", "ts", "rts", direction=direction
            ).collect()
        }
        assert got[(None, 5)] is None, direction
        assert got[("k", None)] is None, direction
    # the non-null row still matches normally in both directions
    back = {
        (r["id"], r["ts"]): r["rid"]
        for r in asof_join(left, right, "id", "ts", "rts").collect()
    }
    assert back[("k", 4)] == 7


def test_cascading_join_matched_row_with_null_first_column(spark):
    """r16 review find: tier-match detection probed the right frame's
    FIRST column, so a matched row whose first column is legitimately
    NULL read as a miss — unmasking later tiers and mislabeling
    match_col.  Detection now rides a synthetic marker."""
    left = spark.createDataFrame([(1, "h1")], "k long, h string")
    right = spark.createDataFrame(
        [(None, 1, "exact-payload"), ("x", 99, "md5-payload")],
        "flag string, rk long, payload string",
    )
    out = cascading_join(
        left,
        right,
        tiers=[
            ("exact", lambda l, r: l["k"] == r["rk"]),
            ("fallback", lambda l, r: r["flag"] == "x"),
        ],
    ).collect()
    assert len(out) == 1
    r = out[0]
    # tier 0 matched (flag NULL notwithstanding): its payload and label win
    assert r["match"] == "exact" and r["payload"] == "exact-payload"
    assert r["flag"] is None


def test_path_categories_normalizes_empty_components(spark):
    """r16 review find: a leading '/' (or doubled '//') emitted phantom
    rows — name='files/' with an empty short_name — that the category
    sync would push as inserts.  Empty components now filter out, so an
    absolute path derives the same dimension as its relative form."""
    rel = spark.createDataFrame([("a/b/c.txt",)], "file string")
    absd = spark.createDataFrame([("/a//b/c.txt",)], "file string")
    want = sorted(map(tuple, path_categories(rel).collect()))
    got = sorted(map(tuple, path_categories(absd).collect()))
    assert got == want
    assert all(r[2] != "" for r in got)  # no empty short_name anywhere


def test_filesystem_sync_exact_match_keeps_its_claim(spark):
    """r16 review find: the one-claim-per-project pick ordered by ino
    only, so a smaller-ino md5Match stole a project from its path-EXACT
    main, which then re-inserted as a path-duplicate project.  Claims
    now rank exactMatch first (ties to min ino)."""
    from gather_datawarehouse_sync_spark.sync.engine import (
        plan_filesystem_sync,
    )

    files = spark.createDataFrame(
        [
            ("a/x.shp", "H1", 1, 50),  # exactMatch on P by path
            ("b/y.shp", "H2", 1, 10),  # md5Match on P (smaller ino)
        ],
        "file string, md5 string, size long, ino long",
    )
    projects = spark.createDataFrame(
        [
            {
                "id": 7,
                "metadata": {"file": {"file": "a/x.shp", "md5": "H2"}},
                "archived": False,
            }
        ]
    )
    got = {
        r["file"]: (r["action"], r["match"], r["project_id"])
        for r in plan_filesystem_sync(files, projects).collect()
        if r["file"] is not None
    }
    # the path-exact main keeps project 7; the md5 main releases to insert
    assert got["a/x.shp"][1] == "exactMatch" and got["a/x.shp"][2] == 7
    assert got["b/y.shp"][0] == "insert" and got["b/y.shp"][2] is None


def test_quality_filter_no_int32_overflow_on_huge_documents(spark):
    """A ~215 KB all-letters document must PASS the alpha-ratio gate:
    length() is INT, and an unwidened 10000*alpha wraps negative past
    alpha > 214,748 chars, silently rejecting the best possible text
    (r17 review find — invisible at test SF, real at corpus scale)."""
    from gather_datawarehouse_sync_spark.pipelines import quality_filter

    big = "a" * 215_000
    df = spark.createDataFrame(
        [(1, big), (2, "1234567890")], "doc_id long, text string"
    )
    kept = [
        r["doc_id"]
        for r in quality_filter(df, min_chars=5, min_alpha_bp=9000).collect()
    ]
    assert kept == [1]


def test_bm25_no_int32_overflow_on_long_documents(spark):
    """A >2,147-token document must score, not crash: dl is size()
    (INT), and the rational tier's 1000000*dl wraps/throws past int32
    without the BIGINT widening (r17 review find, same class as the
    quality_filter fix)."""
    from gather_datawarehouse_sync_spark.operators.terms import bm25_topk

    big = ("spark " * 3000) + "needle"
    df = spark.createDataFrame(
        [(1, big), (2, "needle haystack"), (3, "nothing here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bm25_topk(df, ["needle"], k=3).collect()}
    assert set(got) == {1, 2}  # both needle docs score; no crash
    assert got[2] > got[1]  # 2-token doc beats the 3001-token one


def test_quantiles_from_state_wide_span_no_int32_overflow(spark):
    """A metric span that fits int32 but whose (bin+1)*span product
    does not (e.g. a [0, 2e9) micros range at 256 bins) must finalize
    correct edge values, not wrap/throw (r17 review find)."""
    from gather_datawarehouse_sync_spark.operators.incremental_agg import (
        quantile_state,
        quantiles_from_state,
    )

    LO, HI, BINS = 0, 2_000_000_000, 256
    df = spark.createDataFrame(
        [(1, 1_999_999_999), (1, 1_500_000_000), (1, 100)], "g int, v long"
    )
    st = quantile_state(df, ["g"], "v", LO, HI, BINS)
    out = {
        r["q_bp"]: r["value"]
        for r in quantiles_from_state(st, ["g"], [5000, 10000], LO, HI, BINS).collect()
    }
    width = (HI - LO) // BINS
    # P100 sits in the last bin -> upper edge == HI exactly
    assert out[10000] == HI
    # P50 is the 1.5e9 row's bin upper edge
    bin_15 = (1_500_000_000 * BINS) // (HI - LO)
    assert out[5000] == (bin_15 + 1) * width
