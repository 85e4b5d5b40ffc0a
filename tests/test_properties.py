"""Property-based tests (SURVEY §5.2): invariants that must hold for
any input, not just the fixtures — dedup idempotence, partition
invariance, reconciliation convergence.

Examples are kept small (Spark round-trip per example is ~100ms); the
properties, not the scale, are the point.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
import pytest
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.operators.dedup import (
    exact_dedup,
    mark_duplicates,
)
from gather_datawarehouse_sync_spark.operators.reconcile import reconcile

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# rows: (key ∈ small alphabet → collisions likely, value, unique id)
_rows = st.lists(
    st.tuples(
        st.sampled_from(["h1", "h2", "h3"]),
        st.sampled_from(["a", "b", "c", "d"]),
    ),
    min_size=1,
    max_size=12,
).map(lambda rs: [(k, v, i) for i, (k, v) in enumerate(rs)])


@given(_rows)
@_SETTINGS
def test_exact_dedup_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "md5 string, v string, ino long")
    once = exact_dedup(df, "md5", keep_order="ino")
    twice = exact_dedup(once, "md5", keep_order="ino")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(_rows, st.integers(min_value=1, max_value=5))
@_SETTINGS
def test_dedup_partition_invariance(spark, rows, n):
    df = spark.createDataFrame(rows, "md5 string, v string, ino long")
    base = sorted(map(tuple, mark_duplicates(df).collect()))
    repart = sorted(map(tuple, mark_duplicates(df.repartition(n)).collect()))
    assert base == repart


@given(_rows)
@_SETTINGS
def test_mark_duplicates_is_a_partition_of_ids(spark, rows):
    df = spark.createDataFrame(rows, "md5 string, v string, ino long")
    out = mark_duplicates(df).collect()
    canonicals = {r["ino"] for r in out if r["alias"] is None}
    aliased = {r["ino"] for r in out if r["alias"] is not None}
    # every row is exactly one of canonical/aliased; aliases point at canonicals
    assert canonicals | aliased == {r["ino"] for r in out}
    assert canonicals & aliased == set()
    assert all(r["alias"] in canonicals for r in out if r["alias"] is not None)
    # duplicates lists exactly cover the aliased ids
    listed = {i for r in out if r["duplicates"] for i in r["duplicates"]}
    assert listed == aliased


_src_tgt = st.tuples(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.sampled_from(["v1", "v2", "v3"]),
        max_size=5,
    ),
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.sampled_from(["v1", "v2", "v3"]),
        max_size=5,
    ),
)


@given(_src_tgt)
@_SETTINGS
def test_reconcile_convergence(spark, src_tgt):
    """Applying the diff then re-diffing yields zero pending actions —
    the key invariant of syncFilesystem/syncCategories (SURVEY §5.2)."""
    src_map, tgt_map = src_tgt
    schema = "k string, val string"
    source = spark.createDataFrame(list(src_map.items()) or [], schema)
    target = spark.createDataFrame(list(tgt_map.items()) or [], schema)

    actions = reconcile(source, target, ["k"]).collect()

    # apply the actions to the target map
    new_tgt = dict(tgt_map)
    for r in actions:
        if r["action"] == "insert" or r["action"] == "update":
            new_tgt[r["k"]] = r["src_val"]
        elif r["action"] == "delete":
            new_tgt.pop(r["k"], None)

    assert new_tgt == src_map  # converged to the source of truth

    target2 = spark.createDataFrame(list(new_tgt.items()) or [], schema)
    again = reconcile(source, target2, ["k"]).collect()
    assert all(r["action"] == "keep" for r in again)


# ---------------------------------------------------------------------------
# As-of join: oracle equivalence + partition invariance
# ---------------------------------------------------------------------------

_asof_lefts = st.lists(
    st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 50)),
    min_size=1,
    max_size=10,
).map(lambda rs: [(i, k, t) for i, (k, t) in enumerate(rs)])

_asof_rights = st.lists(
    st.tuples(st.sampled_from(["k1", "k2", "k3"]), st.integers(0, 50)),
    min_size=0,
    max_size=10,
).map(lambda rs: [(k, t, 100 + i) for i, (k, t) in enumerate(rs)])


@given(_asof_lefts, _asof_rights, st.integers(min_value=1, max_value=4))
@_SETTINGS
def test_asof_join_matches_python_oracle_any_partitioning(spark, ls, rs, n):
    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    left = spark.createDataFrame(ls, "eid long, k string, ts long").repartition(n)
    right = spark.createDataFrame(rs, "k string, rts long, rid long").repartition(
        max(1, 5 - n)
    )
    got = {
        r["eid"]: r["rid"]
        for r in asof_join(left, right, "k", "ts", "rts").collect()
    }
    # python oracle: latest right at-or-before; ties → max (rts, rid)
    want = {}
    for eid, k, t in ls:
        cands = [(rt, rid) for rk, rt, rid in rs if rk == k and rt <= t]
        want[eid] = max(cands)[1] if cands else None
    assert got == want


# ---------------------------------------------------------------------------
# Band join: oracle equivalence incl. boundary values
# ---------------------------------------------------------------------------

_band_vals = st.lists(st.integers(0, 60), min_size=1, max_size=12)


@given(_band_vals, _band_vals, st.integers(min_value=1, max_value=25))
@_SETTINGS
def test_band_join_matches_python_oracle(spark, ls, rs, band):
    from gather_datawarehouse_sync_spark.operators.joins import band_join

    left = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(ls)], "a_id long, a_v double"
    )
    right = spark.createDataFrame(
        [(1000 + i, float(v)) for i, v in enumerate(rs)], "b_id long, b_v double"
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in band_join(left, right, "a_v", "b_v", band).collect()
    }
    want = {
        (i, 1000 + j)
        for i, lv in enumerate(ls)
        for j, rv in enumerate(rs)
        if abs(lv - rv) <= band
    }
    assert got == want


@given(
    _band_vals,
    _band_vals,
    st.integers(min_value=1, max_value=25),
    st.floats(min_value=0.3, max_value=40.0, allow_nan=False),
)
@_SETTINGS
def test_band_join_any_bucket_width_matches_oracle(spark, ls, rs, band, w):
    """The 2k+1-probe grid is complete and exact for ANY positive
    bucket width — finer than the band, coarser than the band,
    non-divisible fractions: the grid is plan-side only, the pair set
    is always the full |l−r| ≤ band relation."""
    from gather_datawarehouse_sync_spark.operators.joins import band_join

    left = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(ls)], "a_id long, a_v double"
    )
    right = spark.createDataFrame(
        [(1000 + i, float(v)) for i, v in enumerate(rs)], "b_id long, b_v double"
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in band_join(
            left, right, "a_v", "b_v", band, bucket_width=w
        ).collect()
    }
    want = {
        (i, 1000 + j)
        for i, lv in enumerate(ls)
        for j, rv in enumerate(rs)
        if abs(lv - rv) <= band
    }
    assert got == want


_pack_rows = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=10_000),  # sparse/negative ids
        st.integers(min_value=0, max_value=500),  # token counts, incl. 0
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(_pack_rows, st.integers(min_value=1, max_value=7))
@_SETTINGS
def test_prefix_sum_matches_serial_oracle_any_grouping(spark, rows, gs):
    """The hierarchical prefix sum must equal the serial cumsum for any
    id distribution (sparse, negative, singleton groups) and any
    group_size — the decomposition is an optimization, never a
    semantics change."""
    from gather_datawarehouse_sync_spark.operators.packing import (
        exclusive_prefix_sum,
    )

    df = spark.createDataFrame(rows, "i long, v long").repartition(3)
    got = {
        r["i"]: r["off"]
        for r in exclusive_prefix_sum(df, "i", "v", "off", group_size=gs).collect()
    }
    run = 0
    for i, v in sorted(rows):
        assert got[i] == run
        run += v


@given(
    _pack_rows,
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=7),
)
@example(rows=[(0, 0)], chunk=1, gs=1)  # lone zero-token doc
@example(rows=[(-3, 5), (7, 0), (8, 3)], chunk=4, gs=2)  # zero mid-stream
@_SETTINGS
def test_pack_chunks_matches_serial_oracle(spark, rows, chunk, gs):
    """Concat-and-chunk packing equals the serial definition for any id
    distribution, chunk size, and grouping: start = running token sum,
    first/last chunk = the chunk ids the doc's token interval touches,
    zero-token docs span no chunk (n_chunks 0, the empty interval)."""
    from gather_datawarehouse_sync_spark.operators.packing import pack_chunks

    df = spark.createDataFrame(rows, "i long, t long").repartition(3)
    got = {
        r["i"]: (r["start"], r["first_chunk"], r["last_chunk"], r["n_chunks"])
        for r in pack_chunks(df, "i", "t", chunk, group_size=gs).collect()
    }
    run = 0
    for i, t in sorted(rows):
        first = run // chunk
        if t > 0:
            last = (run + t - 1) // chunk
            want = (run, first, last, last - first + 1)
        else:
            want = (run, first, first - 1, 0)
        assert got[i] == want, (i, got[i], want)
        run += t


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    names=st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=7), min_size=2, max_size=14
    ),
    d=st.integers(min_value=1, max_value=3),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_edit_distance_pairs_matches_bruteforce(spark, names, d):
    """The length-blocked plan must find EXACTLY the brute-force pair
    set for any strings and any max_dist — blocking completeness is the
    property that silently breaks first."""
    from gather_datawarehouse_sync_spark.operators.dedup import edit_distance_pairs

    rows = [(i, s) for i, s in enumerate(names)]
    want = {
        (i, j, _lev(a, b))
        for i, a in rows
        for j, b in rows
        if i < j and _lev(a, b) <= d
    }
    df = spark.createDataFrame(rows, "id long, name string")
    got = {tuple(r) for r in edit_distance_pairs(df, "id", "name", d).collect()}
    assert got == want


_mg_rows = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1,
    max_size=60,
)


@given(_mg_rows, st.integers(min_value=50, max_value=500), st.integers(min_value=1, max_value=6))
@_SETTINGS
def test_mg_heavy_hitters_matches_exact_for_any_input(spark, items, eps_milli, n):
    """For ANY multiset, eps, and partitioning, the two-pass Misra-Gries
    answer equals the exact GROUP BY/HAVING answer."""
    from gather_datawarehouse_sync_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    df = spark.createDataFrame([(x,) for x in items], "item string").repartition(n)
    got = {
        (r["item"], r["cnt"])
        for r in mg_heavy_hitters(df, "item", eps_milli).collect()
    }
    total = len(items)
    from collections import Counter

    want = {
        (k, c)
        for k, c in Counter(items).items()
        if c * 1000 > total * eps_milli
    }
    assert got == want


_budget_rows = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.integers(min_value=1, max_value=40),
    ),
    min_size=1,
    max_size=20,
).map(lambda rs: [(g, t, i) for i, (g, t) in enumerate(rs)])


@given(_budget_rows, st.integers(min_value=1, max_value=80))
@_SETTINGS
def test_token_budget_sample_matches_serial_greedy(spark, rows, budget):
    """The distributed window selection equals the serial greedy prefix
    in the same md5 order, for any rows and budget."""
    import hashlib

    from gather_datawarehouse_sync_spark.operators.sampling import (
        token_budget_sample,
    )

    df = spark.createDataFrame(rows, "grp string, toks long, id long")
    got = sorted(
        r["id"] for r in token_budget_sample(df, "grp", "toks", budget, "id").collect()
    )
    want = []
    for grp in {g for g, _, _ in rows}:
        members = sorted(
            ((hashlib.md5(f"0:{i}".encode()).hexdigest(), i, t) for g, t, i in rows if g == grp),
        )
        cum = 0
        for _, i, t in members:
            if cum < budget:
                want.append(i)
            cum += t
    assert got == sorted(want)


# duplicate_spans: random tiny-vocab corpora (collisions likely) vs a
# serial Python oracle that recomputes duplicated-gram positions and
# merges islands by hand
_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10),
    min_size=1,
    max_size=6,
).map(lambda docs: [(i, " ".join(ws)) for i, ws in enumerate(docs)])


@given(_span_docs, st.integers(min_value=1, max_value=4))
@_SETTINGS
def test_duplicate_spans_matches_python_oracle(spark, docs, n):
    from gather_datawarehouse_sync_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, n=n, min_docs=2).collect()
    )

    # serial oracle
    toks = {i: t.split() for i, t in docs if t}
    grams: dict[tuple, set] = {}
    for i, ws in toks.items():
        for p in range(len(ws) - n + 1):
            grams.setdefault(tuple(ws[p : p + n]), set()).add(i)
    dup = {g for g, ids in grams.items() if len(ids) >= 2}
    want = []
    for i, ws in toks.items():
        hits = [p for p in range(len(ws) - n + 1) if tuple(ws[p : p + n]) in dup]
        start = prev = None
        for p in hits:
            if start is None:
                start = prev = p
            elif p - prev <= n:
                prev = p
            else:
                want.append((i, start, prev + n - 1))
                start = prev = p
        if start is not None:
            want.append((i, start, prev + n - 1))
    assert got == sorted(want)
    # spans in one doc never touch: merged islands are maximal
    by_doc: dict[int, list] = {}
    for d, s, e in got:
        by_doc.setdefault(d, []).append((s, e))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1


# vectors with sign changes, tiny magnitudes (below the SQ scale step),
# and ordinary values — the ranges where float quantization bugs live
_vec_component = st.one_of(
    st.floats(
        min_value=-100.0, max_value=100.0,
        allow_nan=False, allow_infinity=False, width=64,
    ),
    st.sampled_from([0.0, 1e-7, -1e-7, 1.27e-4, -0.5, 123.456]),
)
_vec_sets = st.lists(
    st.tuples(_vec_component, _vec_component, _vec_component),
    min_size=2, max_size=6,
).map(lambda vs: [(i, list(v)) for i, v in enumerate(vs)])


@given(_vec_sets)
@_SETTINGS
def test_floored_micro_kernel_matches_jvm_expression(spark, rows):
    """The numpy floored-micro kernel (the scoring hot path) must equal
    the JVM aggregate(zip_with(floor(x*y*1e6))) expression BIT-FOR-BIT
    on arbitrary vectors — every value-hash oracle for the int_micro /
    MMR / hybrid tiers rests on this numpy ≡ JVM IEEE equivalence, so
    it is pinned as a property, not assumed."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        _floored_micro_terms,
    )

    df = spark.createDataFrame(rows, "id long, v array<double>")
    a = df.selectExpr("id AS ia", "v AS va")
    b = df.selectExpr("id AS ib", "v AS vb")
    hof = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"),
            lambda x, y: F.floor(x * y * F.lit(1_000_000.0)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    got = {
        (r["ia"], r["ib"]): r["s"]
        for r in a.crossJoin(b).withColumn("s", hof).collect()
    }
    vecs = dict(rows)
    for (ia, ib), s in got.items():
        X = np.asarray([vecs[ia]], dtype=np.float64)
        y = np.asarray(vecs[ib], dtype=np.float64)
        assert int(_floored_micro_terms(X, y)[0]) == s, (ia, ib)


@given(_vec_sets)
@_SETTINGS
def test_floored_micro_matrix_equals_stacked_terms(rows):
    """The batched fast kernel (float-side exact sum, reused temp) must
    equal the per-query reference form element-for-element on arbitrary
    vectors — AND on magnitudes past the 2^53 partial-sum bound, where
    it must take the int64 fallback and still agree (the guard itself
    is under test: a wrong bound would silently break hash oracles)."""
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import (
        _floored_micro_matrix,
        _floored_micro_terms,
    )

    M = np.asarray([v for _, v in rows], dtype=np.float64)
    ref = np.stack([_floored_micro_terms(M, M[i]) for i in range(len(M))])
    assert np.array_equal(_floored_micro_matrix(M, M), ref)
    # push past the bound: scale so dim·max|C|·max|Q|·1e6 ≥ 2^53 — both
    # paths may overflow float range identically; silence the benign
    # inf-cast warning so the parity assert is the signal
    big = M * (2.0**30)
    with np.errstate(invalid="ignore", over="ignore"):
        ref_big = np.stack(
            [_floored_micro_terms(big, big[i]) for i in range(len(big))]
        )
        got_big = _floored_micro_matrix(big, big)
    assert np.array_equal(got_big, ref_big)


@given(_vec_sets)
@_SETTINGS
def test_sq_kernel_scores_match_jvm_expression(spark, rows):
    """sq_topk's int64-matmul scores must equal the JVM
    aggregate(zip_with) integer-dot expression over the same encoded
    codes — the x_sq_ann / x_release_gate value-hash oracles rest on
    this equivalence across arbitrary (including tiny and zero)
    vectors."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        sq_encode,
        sq_topk,
    )

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n = len(rows)
    got = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in sq_topk(df, df, k=n).collect()
    }
    enc = sq_encode(df)
    a = enc.selectExpr("vec_id AS qid", "codes AS qc", "scale_micro AS qs")
    b = enc.selectExpr("vec_id AS nid", "codes AS cc", "scale_micro AS cs")
    idot = F.aggregate(
        F.zip_with(
            F.col("qc"), F.col("cc"), lambda x, y: (x * y).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    want = {
        (r["qid"], r["nid"]): r["s"]
        for r in a.crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("s", idot * F.col("qs") * F.col("cs"))
        .collect()
    }
    assert got == want


_unit_texts = st.lists(
    # small unit alphabet → cross-doc repeats likely; empty string
    # exercises the doubled-separator path
    st.lists(
        st.sampled_from(["menu", "nav", "body", "x1", "x2", ""]),
        min_size=0,
        max_size=6,
    ).map(" ".join),
    min_size=1,
    max_size=8,
).map(lambda ts: [(i, t) for i, t in enumerate(ts)])


@given(_unit_texts, st.integers(min_value=1, max_value=4))
@_SETTINGS
def test_remove_frequent_units_properties(spark, rows, min_docs):
    """For ANY corpus and threshold: (1) no frequent unit survives in
    any cleaned text; (2) kept units preserve their original relative
    order; (3) cleaning again with the SAME stored set is the identity
    (idempotence under a fixed set — the increment-path contract);
    (4) units_removed + units_kept equals the original unit count."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        frequent_units,
        remove_frequent_units,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    stored = frequent_units(df, min_docs=min_docs)
    banned = {r["unit"] for r in stored.collect()}
    out = {
        r["doc_id"]: (r["clean_text"], r["units_removed"], r["units_kept"])
        for r in remove_frequent_units(df, frequent=stored).collect()
    }
    assert set(out) == {i for i, _ in rows}
    for doc_id, text in rows:
        clean, removed, kept = out[doc_id]
        orig_units = text.split(" ") if text else [""]
        clean_units = clean.split(" ") if clean else ([""] if kept else [])
        # (4) conservation
        assert removed + kept == len(orig_units)
        # (1) no banned unit survives (empty units are never banned)
        assert not (set(clean_units) & banned)
        # (2) order: cleaned units are exactly the non-banned originals
        assert clean_units == [u for u in orig_units if u not in banned]
    cleaned_df = spark.createDataFrame(
        [(i, c) for i, (c, _, _) in out.items()], "doc_id long, text string"
    )
    again = {
        r["doc_id"]: (r["clean_text"], r["units_removed"])
        for r in remove_frequent_units(cleaned_df, frequent=stored).collect()
    }
    assert {i: c for i, (c, _) in again.items()} == {
        i: c for i, (c, _, _) in out.items()
    }
    assert all(r == 0 for _, r in again.values())


_dup_docs = st.lists(
    # (text, number of rows carrying the document)
    st.tuples(
        st.lists(
            st.sampled_from(["menu", "nav", "body", ""]), min_size=0, max_size=5
        ).map(" ".join),
        st.integers(min_value=1, max_value=3),
    ),
    min_size=1,
    max_size=6,
)


@given(_dup_docs, st.integers(min_value=1, max_value=4))
@example(docs=[("menu nav", 2)], min_docs=2)  # one doc, two rows
@_SETTINGS
def test_frequent_units_counts_rows_precondition(spark, docs, min_docs):
    """``frequent_units``' documented precondition is ONE row per
    document: a unit's count is the number of ROWS containing it, so a
    document repeated over several rows counts once per row (and can
    push a unit over ``min_docs`` on its own).  Collapsing to one row
    per document id first makes the count a document count."""
    from collections import Counter

    from gather_datawarehouse_sync_spark.operators.dedup import frequent_units

    rows = [(i, t) for i, (t, k) in enumerate(docs) for _ in range(k)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def frequent(rs):
        n = Counter(u for _, t in rs for u in set(t.split(" ")) if u)
        return {u for u, c in n.items() if c >= min_docs}

    def got(frame):
        return {r["unit"] for r in frequent_units(frame, min_docs=min_docs).collect()}

    assert got(df) == frequent(rows)
    one_per_doc = [(i, t) for i, (t, _) in enumerate(docs)]
    assert got(df.dropDuplicates(["doc_id"])) == frequent(one_per_doc)


# ---------------------------------------------------------------------------
# cut_duplicate_spans under ADVERSARIAL spans (r13-ADVICE item 7):
# overlapping, nested, touching, zero-length, out-of-range — the
# coverage rule must hold for ANY span table, not just the well-formed
# islands duplicate_spans emits
# ---------------------------------------------------------------------------

_adv_docs = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8),
    min_size=1,
    max_size=4,
).map(lambda ds: [(i, " ".join(ws)) for i, ws in enumerate(ds)])

_adv_spans = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # doc_id
        st.integers(min_value=-2, max_value=10),  # span_start
        st.integers(min_value=-2, max_value=12),  # span_end
    ),
    min_size=0,
    max_size=8,
)


@given(_adv_docs, _adv_spans)
@_SETTINGS
def test_cut_duplicate_spans_adversarial_spans(spark, docs, spans):
    """For ANY precomputed span table — overlapping, nested, inverted
    (start > end ⇒ empty), negative, or past the end of the document —
    cut_duplicate_spans keeps exactly the tokens no span covers,
    re-joined in order, and the removed/kept counts partition the
    token count."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        cut_duplicate_spans,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    span_df = spark.createDataFrame(
        spans, "doc_id long, span_start long, span_end long"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["tokens_removed"], r["tokens_kept"])
        for r in cut_duplicate_spans(df, spans=span_df).collect()
    }
    for doc_id, text in docs:
        toks = text.split()
        my_spans = [(s, e) for d, s, e in spans if d == doc_id]
        kept = [
            t
            for i, t in enumerate(toks)
            if not any(s <= i <= e for s, e in my_spans)
        ]
        assert got[doc_id] == (
            " ".join(kept),
            len(toks) - len(kept),
            len(kept),
        ), f"doc {doc_id}: spans={my_spans} toks={toks}"


# ---------------------------------------------------------------------------
# _ci_glob under non-ASCII / metacharacter suffixes (r13-ADVICE item 7):
# the listing glob must ADMIT A SUPERSET of the case-insensitive suffix
# rule _inventory enforces — a too-narrow glob silently drops files
# before the exact filter ever sees them
# ---------------------------------------------------------------------------

_suffix_chars = st.sampled_from(
    list(".shpSHP09") + ["ß", "é", "Д", "д", "İ", "ſ", "[", "]", "*", "?", "{", ",", "\\", "帀"]
)
_suffixes = st.lists(_suffix_chars, min_size=1, max_size=6).map("".join)


@given(_suffixes, st.lists(st.booleans(), min_size=6, max_size=6))
@_SETTINGS
def test_ci_glob_superset_of_admit_rule(suffix, flips):
    """Python-level fuzz with fnmatch as the glob proxy (same *, ?, []
    semantics as Hadoop's GlobFilter for these patterns): every
    filename built as a per-char upper/lower flip of the suffix that
    the admit rule (lower(name).endswith(lower(suffix))) accepts must
    also match the listing glob."""
    import fnmatch

    from gather_datawarehouse_sync_spark.sources.filescan import _ci_glob

    glob = _ci_glob(suffix)
    assert glob.startswith("*")
    # candidate filenames: per-char case flips of the suffix
    name_chars = []
    for ch, up in zip(suffix, flips):
        v = ch.upper() if up else ch.lower()
        # multi-char case expansion (ß→SS) changes length — the admit
        # rule itself rejects those names, so keep the original char
        name_chars.append(v if len(v) == 1 else ch)
    name = "x" + "".join(name_chars)
    if name.lower().endswith(suffix.lower()):
        assert fnmatch.fnmatchcase(name, glob), (
            f"suffix={suffix!r} glob={glob!r} misses admitted {name!r}"
        )


def test_scan_files_exotic_suffixes(spark, tmp_path):
    """End-to-end through the REAL JVM glob: suffixes with a sharp s,
    Cyrillic letters, and glob metacharacters list-and-admit exactly
    the case-insensitive matches (metacharacters degrade to ? in the
    listing; the exact filter decides)."""
    import os

    from gather_datawarehouse_sync_spark.sources.filescan import scan_files

    root = str(tmp_path / "scan")
    os.makedirs(root)
    names = [
        "a.gpß", "b.GPß", "c.gpss",        # ß: no case class, ? degrade
        "d.дан", "e.ДАН", "f.дам",          # Cyrillic: [дД] classes work
        "g.s[p", "h.S[P", "i.sxp",          # metachar [ degrades to ?
    ]
    for n in names:
        with open(os.path.join(root, n), "wb") as fh:
            fh.write(b"x")
    got = lambda suf: {  # noqa: E731
        r["file"] for r in scan_files(spark, root, suf).collect()
    }
    assert got(".gpß") == {"a.gpß", "b.GPß"}
    assert got(".дан") == {"d.дан", "e.ДАН"}
    assert got(".s[p") == {"g.s[p", "h.S[P"}


# ---------------------------------------------------------------------------
# Filesystem sync: the plan against a row-at-a-time model of its steps
# ---------------------------------------------------------------------------

_SYNC_PATHS = ["a/x.shp", "a/y.shp", "b/x.shp", "z.shp"]
_SYNC_MD5S = ["m1", "m2", "m3"]

# (file, md5, size, ino): paths and md5s from small pools, so files share
# md5 groups and paths; inos are unique, as in a real inventory
_sync_files = st.lists(
    st.tuples(
        st.sampled_from(_SYNC_PATHS), st.sampled_from(_SYNC_MD5S), st.integers(0, 9)
    ),
    max_size=8,
).flatmap(
    lambda rows: st.lists(
        st.integers(-99, 99), min_size=len(rows), max_size=len(rows), unique=True
    ).map(lambda inos: [(f, m, s, i) for (f, m, s), i in zip(rows, inos)])
)

# (id, p_file, p_md5, archived): p_file None = no metadata.file; paths and
# md5s collide with the files' and with each other; ids unique, as REST
# returns them
_sync_projects = st.lists(
    st.tuples(
        st.sampled_from(_SYNC_PATHS + ["gone.shp", None]),
        st.sampled_from(_SYNC_MD5S + ["m9"]),
        st.booleans(),
    ),
    max_size=7,
).flatmap(
    lambda rows: st.lists(
        st.integers(1, 99), min_size=len(rows), max_size=len(rows), unique=True
    ).map(lambda ids: [(i, f, m, a) for (f, m, a), i in zip(rows, ids)])
)


def _sync_model(files, projects):
    """``plan_filesystem_sync``'s rows, one file and one project at a
    time: canonical duplicate = min path (then ino); exact path tier,
    then md5 tier, min project id within a tier; one claim per project,
    exactMatch before md5Match, then min ino; an orphan takes its md5's
    min-ino alias, and min project id wins a contested alias; unclaimed
    aliases insert."""
    P = sorted((i, f, m) for i, f, m, _ in projects if f is not None)
    canon = {}
    for f, m, _, i in sorted(files, key=lambda r: (r[0], r[3])):
        canon.setdefault(m, i)
    mains = [r for r in files if canon[r[1]] == r[3]]
    aliases = sorted((r[3], r) for r in files if canon[r[1]] != r[3])

    def pick(f, m):
        for match, hits in (
            ("exactMatch", [p for p in P if p[1] == f]),
            ("md5Match", [p for p in P if p[2] == m]),
        ):
            if hits:
                return match, hits[0]
        return "none", None

    picks = {r[3]: pick(r[0], r[1]) for r in mains}
    claim = {}
    for ino, (match, p) in sorted(picks.items(), key=lambda kv: (kv[1][0] != "exactMatch", kv[0])):
        if p is not None:
            claim.setdefault(p[0], ino)
    rows = []
    for f, m, s, i in mains:
        match, p = picks[i]
        if p is None or claim[p[0]] != i:
            rows.append(("insert", "none", f, m, s, i, None, None, None, None))
        else:
            action = "keep" if (p[1], p[2]) == (f, m) else "update"
            rows.append((action, match, f, m, s, i, None, *p))
    won = {}
    for p in P:
        if p[0] in claim:
            continue
        first = next((r for _, r in aliases if r[1] == p[2]), None)
        if first is not None and first[3] not in won:
            won[first[3]] = p
        else:
            rows.append(("archive", "none", None, None, None, None, None, *p))
    for i, (f, m, s, _) in aliases:
        if i in won:
            rows.append(("update", "md5Match", f, m, s, i, canon[m], *won[i]))
        else:
            rows.append(("insert", "none", f, m, s, i, canon[m], None, None, None))
    return rows


def _sync_universes(universes):
    """Several independent inputs as one: each universe gets its own
    path prefix, md5s and ino / id ranges (order kept within it), so one
    Spark plan checks several examples."""
    files, projects = [], []
    for k, (fs, ps) in enumerate(universes):
        files += [(f"u{k}/{f}", f"u{k}:{m}", s, 1000 * k + i) for f, m, s, i in fs]
        projects += [
            (1000 * k + i, None if f is None else f"u{k}/{f}", f"u{k}:{m}", a)
            for i, f, m, a in ps
        ]
    return files, projects


@given(
    st.lists(st.tuples(_sync_files, _sync_projects), min_size=1, max_size=4),
    st.booleans(),
)
@example(  # r16: a smaller-ino md5Match must not steal a path-exact claim
    universes=[([("a/x.shp", "m1", 1, 50), ("b/x.shp", "m2", 1, 10)], [(7, "a/x.shp", "m2", False)])],
    one_partition=False,
)
@example(  # two orphans contest one alias: min id wins, the other archives;
    # a third orphan's alias sits at its own path and md5, still an update
    universes=[
        (
            [("a/x.shp", "m1", 1, 1), ("b/x.shp", "m1", 1, 2)],
            [(5, "a/x.shp", "m1", False), (9, "z.shp", "m1", True), (3, "gone.shp", "m1", False)],
        ),
        (
            [("a/x.shp", "m1", 1, 1), ("a/x.shp", "m1", 1, 2)],
            [(1, "a/x.shp", "m1", False), (2, "a/x.shp", "m1", False)],
        ),
    ],
    one_partition=True,
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_filesystem_sync_matches_row_model(spark, universes, one_partition):
    """For ANY inventory and project set, ``plan_filesystem_sync`` emits
    exactly the model's rows: the row-identity guard for the plan's
    shape (aggregate picks and claims instead of per-row windows).
    ``one_partition`` hands the project frames over as one partition,
    as ``fetch_paginated`` does, so no project-side aggregate shuffles."""
    from collections import Counter

    from gather_datawarehouse_sync_spark.sources.rest import PROJECT_SCHEMA
    from gather_datawarehouse_sync_spark.sync import plan_filesystem_sync

    files, projects = _sync_universes(universes)

    def frame(archived):
        df = spark.createDataFrame(
            [
                {
                    "id": i,
                    "metadata": {
                        "iam": "gatherbot",
                        "file": None if f is None else {"file": f, "md5": m},
                    },
                    "archived": a,
                }
                for i, f, m, a in projects
                if a == archived
            ],
            PROJECT_SCHEMA,
        )
        return df.coalesce(1) if one_partition else df

    inventory = spark.createDataFrame(files, "file string, md5 string, size long, ino long")
    got = plan_filesystem_sync(inventory, frame(False), frame(True)).collect()
    assert Counter(map(tuple, got)) == Counter(_sync_model(files, projects))


_split_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda t: t[0] != t[1]
    ),
    min_size=0,
    max_size=25,
)


@given(_split_edges, st.sampled_from([0.0, 0.1, 0.5, 1.0]))
@example(edges=[(0, 1), (1, 2), (3, 4)], frac=0.5)
@_SETTINGS
def test_leakage_safe_split_cluster_integrity_any_graph(spark, edges, frac):
    """For ANY near-dup graph: every serially-computed connected
    component lands wholly on one side of the split, and the
    precomputed-components path is row-identical to the pairs path."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        connected_components,
    )
    from gather_datawarehouse_sync_spark.operators.sampling import (
        leakage_safe_split,
    )

    ids = sorted({i for e in edges for i in e} | set(range(5)))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "a long, b long"
    ).filter("a <> b")
    out = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            df, pairs, "doc_id", test_fraction=frac
        ).collect()
    }
    assert set(out) == set(ids)
    # serial union-find: all members of a component share one side
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, set] = {}
    for i in ids:
        comps.setdefault(find(i), set()).add(i)
    for members in comps.values():
        assert len({out[m] for m in members}) == 1, (members, out)
    if frac == 0.0:
        assert set(out.values()) == {"train"}
    if frac == 1.0:
        assert set(out.values()) == {"test"}
    # precomputed-components path ≡ pairs path
    comp_df = connected_components(pairs.select("a", "b"))
    out2 = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            df, None, "doc_id", test_fraction=frac, components=comp_df
        ).collect()
    }
    assert out2 == out


_scd2_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # key
            st.sampled_from(["a", "b", "c"]),  # attr value
            st.booleans(),  # tombstone?
        ),
        min_size=0,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    min_size=1,
    max_size=3,
)

_scd2_dir = iter(range(10**9))


@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    _scd2_batches,
)
@example(base=[(1, "a")], batches=[[(1, "a", True)], [(1, "a", True)]])
@example(base=[(1, "a")], batches=[[(1, "a", False)]])  # identical no-op
@example(base=[(1, "a")], batches=[[(1, "b", False)], [(1, "a", False)]])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_scd2_random_sequences_match_serial_model(
    spark, tmp_path, base, batches
):
    """Any sequence of CDC batches (changes, identical no-ops,
    tombstones, revivals, new keys) leaves the SCD2 history exactly
    where the serial one-key-at-a-time model puts it: per key ≤ 1 open
    version, closed intervals [from, to) chain contiguously, attribute
    values match the model at every version."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
    )

    root = tmp_path / f"scd2_{next(_scd2_dir)}"
    root.mkdir()
    base_df = spark.createDataFrame(base, "k long, v string")
    p = str(root / "h0")
    init_scd2_history(spark, base_df, p, ("k",), seq=0, n_buckets=2)
    # serial model: history rows (k, v, from, to_or_None)
    hist = [[k, v, 0, None] for k, v in base]
    for q, batch in enumerate(batches, start=1):
        nxt = str(root / f"h{q}")
        bdf = spark.createDataFrame(
            [(k, v, d) for k, v, d in batch], "k long, v string, is_del boolean"
        )
        merge_scd2(spark, p, nxt, bdf, ("k",), seq=q, delete_col="is_del")
        p = nxt
        for k, v, is_del in batch:
            cur = next(
                (row for row in hist if row[0] == k and row[3] is None), None
            )
            if is_del:
                if cur:
                    cur[3] = q
            elif cur is None:
                hist.append([k, v, q, None])
            elif cur[1] != v:
                cur[3] = q
                hist.append([k, v, q, None])
    got = {
        (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(p)
        .select("k", "v", "valid_from", "valid_to", "is_current")
        .collect()
    }
    want = {(k, v, f, t, t is None) for k, v, f, t in hist}
    assert got == want


_scd2_ooo_batches = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=8),  # seq stamp (may regress)
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),  # key
                st.sampled_from(["a", "b"]),  # attr value
                st.booleans(),  # tombstone?
            ),
            min_size=1,
            max_size=3,
            unique_by=lambda t: t[0],
        ),
    ),
    min_size=1,
    max_size=4,
)

_scd2_ooo_dir = __import__("itertools").count()


@given(_scd2_ooo_batches)
@example(batches=[(5, [(1, "a", True)]), (3, [(1, "b", False)])])
@example(batches=[(5, [(1, "a", True)]), (5, [(1, "b", False)])])
@example(batches=[(2, [(1, "b", False)]), (2, [(1, "b", False)])])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_scd2_out_of_order_batches_never_overlap(
    spark, tmp_path, batches
):
    """Batches with ARBITRARY (possibly regressing) seq stamps either
    apply or refuse loudly — never corrupt: after the run, every key's
    intervals are pairwise non-overlapping under half-open [from, to)
    semantics with at most one open version, and a batch strictly newer
    than everything applied so far is never refused (the guard must not
    over-fire).  Pins the closed-version side of the stale-batch guard
    (a currents-only probe let a stale re-insert after a tombstone open
    an overlapping interval — found by review, fixed in artifacts.py)."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
    )

    root = tmp_path / f"scd2ooo_{next(_scd2_ooo_dir)}"
    root.mkdir()
    base_df = spark.createDataFrame([(1, "a")], "k long, v string")
    p = str(root / "h0")
    init_scd2_history(spark, base_df, p, ("k",), seq=0, n_buckets=2)
    applied_max = 0
    for i, (q, batch) in enumerate(batches, start=1):
        nxt = str(root / f"h{i}")
        bdf = spark.createDataFrame(
            [(k, v, d) for k, v, d in batch], "k long, v string, is_del boolean"
        )
        try:
            merge_scd2(spark, p, nxt, bdf, ("k",), seq=q, delete_col="is_del")
            p = nxt
            applied_max = max(applied_max, q)
        except ValueError:
            assert q <= applied_max, (
                f"guard over-fired: seq={q} refused with nothing applied "
                f"past {applied_max}"
            )
    rows = (
        spark.read.parquet(p)
        .select("k", "valid_from", "valid_to", "is_current")
        .collect()
    )
    by_key: dict[int, list[tuple[int, float, bool]]] = {}
    for r in rows:
        to = float("inf") if r["valid_to"] is None else r["valid_to"]
        by_key.setdefault(r["k"], []).append(
            (r["valid_from"], to, r["is_current"])
        )
    for k, ivals in by_key.items():
        assert sum(1 for _, _, cur in ivals if cur) <= 1, (k, ivals)
        ivals.sort()
        for (f1, t1, _), (f2, _, _) in zip(ivals, ivals[1:]):
            assert t1 <= f2, f"overlapping intervals for key {k}: {ivals}"
        for f, t, _ in ivals:
            assert f < t, f"inverted interval for key {k}: {ivals}"


_td_table = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),  # key
        st.sampled_from(["a", "b", None]),  # data value (null-safe compare)
        st.sampled_from(["x", "y"]),  # partition
    ),
    min_size=0,
    max_size=6,
    unique_by=lambda t: t[0],
)

_td_dir = __import__("itertools").count()


@given(_td_table, _td_table)
@example(old=[(1, "a", "x")], new=[(1, "a", "y")])  # partition-only move
@example(old=[(1, None, "x")], new=[(1, None, "x")])  # null-safe no-op
@example(old=[(1, "a", "x")], new=[])  # delete-all
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_table_diff_merge_roundtrip_random_versions(spark, tmp_path, old, new):
    """For ANY pair of keyed versions, table_diff's change set is
    MINIMAL (one row per genuinely differing key — null-safe, partition
    moves included) and applying it through merge_table (upserts then
    deletes) reproduces the new version exactly — the randomized form
    of the hand-checked round-trip test."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
        table_diff,
    )

    schema = "id long, val string, p string"
    old_df = spark.createDataFrame(old, schema)
    new_df = spark.createDataFrame(new, schema)
    diff_rows = {
        tuple(r) for r in table_diff(old_df, new_df, ("id",)).collect()
    }
    om = {k: (v, p) for k, v, p in old}
    nm = {k: (v, p) for k, v, p in new}
    want = set()
    for k in om.keys() | nm.keys():
        if k not in nm:
            want.add((k, *om[k], True))
        elif k not in om or om[k] != nm[k]:
            want.add((k, *nm[k], False))
    assert diff_rows == want

    root = tmp_path / f"td_{next(_td_dir)}"
    root.mkdir()
    old_path = str(root / "v1")
    cached_parquet(
        spark, old_path, lambda: spark.createDataFrame(old, schema),
        partition_by=("p",),
    )
    diff = table_diff(old_df, new_df, ("id",))
    ups = diff.filter(~F.col("is_del")).drop("is_del")
    dels = diff.filter(F.col("is_del")).drop("is_del")
    pa = str(root / "v2a")
    merge_table(spark, old_path, pa, ups, key_cols=("id",), partition_col="p")
    replayed = merge_table(
        spark, pa, str(root / "v2b"), dels,
        key_cols=("id",), partition_col="p",
        when_matched="delete", when_not_matched="ignore",
    )
    got = {tuple(r) for r in replayed.select("id", "val", "p").collect()}
    assert got == set(new)


_temp_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", "fr", None]),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[1],
)


@given(_temp_rows, st.sampled_from([500, 1000]))
@example(rows=[("en", i) for i in range(20)] + [("de", 100)], alpha=500)
@example(rows=[(None, 1)], alpha=500)  # null-group rows drop
@_SETTINGS
def test_temperature_resample_matches_integer_formula(spark, rows, alpha):
    """The resampled epoch equals the documented exact-integer contract
    row-for-row: per-group micro replication factor from the quantized
    n^alpha share, per-doc copy count = DIV plus the md5-fraction
    remainder draw, null-group rows drop, copies are 1-based."""
    import hashlib
    import math

    from gather_datawarehouse_sync_spark.operators.sampling import (
        temperature_resample,
    )

    df = spark.createDataFrame(rows, "lang string, doc_id long")
    got: dict[int, list[int]] = {}
    for r in temperature_resample(df, "lang", "doc_id", alpha_milli=alpha).collect():
        got.setdefault(r["doc_id"], []).append(r["copy"])
    n_by: dict[str, int] = {}
    for g, _ in rows:
        if g is not None:
            n_by[g] = n_by.get(g, 0) + 1
    want: dict[int, list[int]] = {}
    if n_by:
        total = sum(n_by.values())
        if alpha == 1000:
            w_by = {g: n * 1_000_000 for g, n in n_by.items()}
        else:
            w_by = {
                g: math.floor(math.sqrt(n) * 1_000_000.0)
                for g, n in n_by.items()
            }
        s = sum(w_by.values())
        for g, i in rows:
            if g is None:
                continue
            r_micro = (total * ((w_by[g] * 1000) // s) * 1000) // n_by[g]
            hfrac = (
                int(hashlib.md5(f"temp:{i}".encode()).hexdigest()[:8], 16)
                % 1_000_000
            )
            nc = r_micro // 1_000_000 + (1 if hfrac < r_micro % 1_000_000 else 0)
            if nc >= 1:
                want[i] = list(range(1, nc + 1))
    assert {k: sorted(v) for k, v in got.items()} == want


_winnow_docs = st.lists(
    st.lists(
        st.sampled_from(["aa", "ab", "ba", "cc", "d"]),
        min_size=0,
        max_size=14,
    ),
    min_size=1,
    max_size=3,
).map(lambda ds: [(i, " ".join(ws)) for i, ws in enumerate(ds)])


@given(_winnow_docs, st.integers(1, 3), st.integers(1, 5))
@example(docs=[(0, "aa ab ba")], n=2, window=4)  # short-doc fallback
@example(docs=[(0, "d d d d d d")], n=1, window=3)  # all-tie windows
@example(docs=[(0, "")], n=1, window=1)  # token-less doc: no fps
@_SETTINGS
def test_winnow_fingerprints_match_serial_oracle(spark, docs, n, window):
    """Winnowing fingerprints equal the serial Schleimer-style
    definition for any doc/n/window: distinct sliding-window
    LEXICOGRAPHIC minima over ordered word n-grams, short docs
    (fewer than `window` grams) contribute each gram, gram-less docs
    contribute nothing."""
    import re

    from gather_datawarehouse_sync_spark.functions.text import (
        winnow_fingerprint_table,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprint_table(
        df, "doc_id", "text", n=n, window=window
    ).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    want: dict[int, set] = {}
    for i, t in docs:
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        grams = [
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        ]
        if not grams:
            continue
        if len(grams) < window:
            want[i] = set(grams)
        else:
            want[i] = {
                min(grams[j : j + window])
                for j in range(len(grams) - window + 1)
            }
    assert got == want


_mix_rows = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),
        st.integers(min_value=-20, max_value=10_000),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[1],
)


@given(
    _mix_rows,
    st.dictionaries(
        st.sampled_from(["s1", "s2", "s3"]),
        st.integers(min_value=1, max_value=5000),
        max_size=3,
    ),
    st.integers(min_value=1, max_value=3000),
)
@example(rows=[("s1", 0), ("s1", 1), ("s2", 2)], weights={"s1": 3000}, default=1000)
@example(rows=[("s1", 5)], weights={}, default=1)  # empty map → default path
@_SETTINGS
def test_weighted_interleave_matches_serial_schedule(spark, rows, weights, default):
    """Stride-scheduling keys equal the serial virtual-time definition
    for any source mix, weight map (absent sources take the default),
    and id distribution: the n-th row of source s (1-based, ordered by
    id) gets key floor(n*10^6 / w_s) — integer arithmetic only."""
    from gather_datawarehouse_sync_spark.operators.sampling import (
        weighted_interleave,
    )

    df = spark.createDataFrame(rows, "src string, id long")
    got = {
        r["id"]: (r["src_rn"], r["mix_key"])
        for r in weighted_interleave(
            df, "src", weights, "id", default_weight_milli=default
        ).collect()
    }
    by_src: dict[str, list[int]] = {}
    for s, i in sorted(rows, key=lambda t: t[1]):
        by_src.setdefault(s, []).append(i)
    want = {
        i: (n, (n * 1_000_000) // weights.get(s, default))
        for s, ids in by_src.items()
        for n, i in enumerate(ids, start=1)
    }
    assert got == want


_jacc_docs = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        min_size=0,
        max_size=8,
    ),
    min_size=2,
    max_size=10,
).map(lambda ds: [(i, " ".join(ws)) for i, ws in enumerate(ds)])


@given(_jacc_docs, st.sampled_from([0.25, 0.34, 0.5, 0.75, 0.8, 1.0]))
@example(docs=[(0, "aa bb"), (1, "aa bb"), (2, "")], threshold=1.0)
@example(docs=[(0, "aa bb cc"), (1, "aa bb dd")], threshold=0.5)  # J=1/2
@_SETTINGS
def test_jaccard_tiers_match_bruteforce_oracle(spark, docs, threshold):
    """Both exact-Jaccard pair tiers (prefix filter and bitset
    all-pairs) and the adaptive dispatcher equal the brute-force
    definition for ANY corpus and threshold — duplicate tokens
    collapse to sets, empty/token-less docs pair with nothing, the
    compare is integer-exact at the engine's Fraction conversion, and
    the two physical strategies are interchangeable by construction.
    The cross-corpus join (even ids new, odd ids reference) equals the
    same definition over the new × reference grid on both tiers."""
    import re
    from fractions import Fraction

    from gather_datawarehouse_sync_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_between,
        jaccard_pairs_bitset,
        jaccard_pairs_prefix,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(id_col="doc_id", text_col="text", threshold=threshold, ngram=1)
    tiers = {
        "prefix": jaccard_pairs_prefix,
        "bitset": jaccard_pairs_bitset,
        "dispatch": jaccard_pairs,
    }
    frac = Fraction(threshold).limit_denominator(10_000)
    sets = {
        i: {w for w in re.split(r"[^a-z0-9]+", t.lower()) if w}
        for i, t in docs
    }

    def similar(a, b):
        return (
            sets[a]
            and sets[b]
            and len(sets[a] & sets[b]) * frac.denominator
            >= frac.numerator * len(sets[a] | sets[b])
        )

    want = {(a, b) for a in sets for b in sets if a < b and similar(a, b)}
    for name, fn in tiers.items():
        got = {(r["a"], r["b"]) for r in fn(df, **kw).collect()}
        assert got == want, (name, got, want)

    want_x = {
        (a, b)
        for a in sets
        for b in sets
        if a % 2 == 0 and b % 2 == 1 and similar(a, b)
    }
    new, ref = df.filter(df.doc_id % 2 == 0), df.filter(df.doc_id % 2 == 1)
    # a vocabulary of at most 5 words takes the bitset tier; a limit of
    # 0 forces the prefix tier
    for limit in (1024, 0):
        between = jaccard_pairs_between(new, ref, bitset_vocab_limit=limit, **kw)
        got = {(r["a"], r["b"]) for r in between.collect()}
        assert got == want_x, (limit, got, want_x)


_chunk_docs = st.lists(
    st.lists(st.sampled_from(["aa", "b1", "ccc", "d"]), min_size=0, max_size=12),
    min_size=1,
    max_size=3,
).map(lambda ds: [(i, " ".join(ws)) for i, ws in enumerate(ds)])


@given(_chunk_docs, st.integers(1, 6), st.integers(1, 6))
# Pinned counterexamples (the example DB is gitignored, so carry them here):
# r14's wrong-answer bug — stride > chunk_tokens made F.sequence(lo, hi)
# DESCEND for gap tokens instead of yielding nothing (packing.py fix).
@example(docs=[(0, "aa aa")], chunk=1, stride=2)  # minimal falsifier
@example(docs=[(0, "aa b1 ccc d aa")], chunk=2, stride=5)  # wide gap
@example(docs=[(0, "aa b1 ccc d aa b1")], chunk=3, stride=3)  # tumbling
@example(docs=[(0, "aa b1 ccc")], chunk=1, stride=1)  # unit windows
@example(docs=[(0, ""), (1, "aa b1")], chunk=4, stride=2)  # trailing partial
@_SETTINGS
def test_chunk_spans_matches_python_oracle(spark, docs, chunk, stride):
    """RAG window chunking equals the serial definition for ANY
    chunk/stride combination (stride > chunk gaps, stride == chunk
    tumbling, stride < chunk overlap; empty docs emit nothing; trailing
    partial windows kept)."""
    import re

    from gather_datawarehouse_sync_spark.operators.packing import chunk_spans

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_seq"]): (
            r["n_tokens"], r["chunk_text"], r["start_pos"]
        )
        for r in chunk_spans(
            df, "doc_id", "text", chunk_tokens=chunk, stride=stride
        ).collect()
    }
    want = {}
    for i, t in docs:
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        c = 0
        while c * stride < len(toks):
            window = toks[c * stride : c * stride + chunk]
            if window:
                want[(i, c)] = (len(window), " ".join(window), c * stride)
            c += 1
    assert got == want


# DSIR: random tiny-vocab corpora (bucket collisions likely at 16
# buckets) vs a serial Python oracle re-deriving grams, md5 buckets,
# smoothed integer ratios, and per-doc weight sums
_dsir_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d1"]), min_size=0, max_size=8),
    min_size=1,
    max_size=8,
).map(lambda ds: [(i, " ".join(ws)) for i, ws in enumerate(ds)])


@given(_dsir_docs, st.integers(min_value=1, max_value=3))
@example(docs=[(0, "")], n=1)                      # gramless corpus
@example(docs=[(0, "a"), (1, "a b a")], n=2)       # target ⊂ source
@_SETTINGS
def test_dsir_weights_match_python_oracle(spark, docs, n):
    """Bucket ratios and per-document weights equal the serial
    definition for ANY corpus shape and gram width — including docs
    shorter than n (zero weight) and bucket collisions (16 buckets
    force them)."""
    import hashlib
    import re
    from collections import Counter

    from gather_datawarehouse_sync_spark.operators.terms import (
        dsir_bucket_ratios,
        dsir_weights,
    )

    B = 16
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tgt = df.filter(F.col("doc_id") % 2 == 0)
    ratios = dsir_bucket_ratios(df, tgt, n=n, buckets=B)
    out = dsir_weights(df, ratios, n=n, buckets=B)

    def grams(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    src_c = Counter(bucket(g) for _, t in docs for g in grams(t))
    tgt_c = Counter(bucket(g) for i, t in docs if i % 2 == 0 for g in grams(t))
    ratio = {
        b: (tgt_c.get(b, 0) + 1) * 1_000_000 // (c + 1) for b, c in src_c.items()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["weight_ppm"], r["avg_ppm"])
        for r in out.collect()
    }
    want = {}
    for i, t in docs:
        gs = grams(t)
        w = sum(ratio[bucket(g)] for g in gs)
        want[i] = (len(gs), w, w // len(gs) if gs else 0)
    assert got == want


# merge_table seq_col: random interleavings of upsert and delete batches
# with arbitrary (stale, equal, newer) sequence stamps vs a serial
# key->row dict model applying the documented monotonic rules
_mt_batches = st.lists(
    st.tuples(
        st.booleans(),  # True = delete batch, False = upsert batch
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=6),   # key
                st.sampled_from(["a", "b", "c"]),        # value
                st.sampled_from(["pa", "pb"]),           # partition
                st.integers(min_value=0, max_value=6),   # seq stamp
            ),
            min_size=0,
            max_size=5,
            unique_by=lambda t: t[0],
        ),
    ),
    min_size=1,
    max_size=3,
)

_mt_dir = iter(range(10**9))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["pa", "pb"]),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    _mt_batches,
)
@example(
    base=[(1, "a", "pa", 2)],
    batches=[(False, [(1, "b", "pb", 2)])],  # equal seq: no-op (strict >)
)
@example(
    base=[(1, "a", "pa", 3)],
    batches=[(True, [(1, "a", "pa", 2)]), (False, [(1, "c", "pb", 4)])],
)
@example(
    base=[(1, "a", "pa", 0)],
    batches=[(True, [(1, "a", "pa", 1)]), (False, [(1, "b", "pa", 0)])],
)  # delete then a STALER re-insert: inserts (no tombstone, documented)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_table_seq_random_batches_match_serial_model(
    spark, tmp_path, base, batches
):
    """Any interleaving of seq-stamped upsert and delete batches leaves
    the table exactly where the serial per-key model puts it: a matched
    row changes only under a STRICTLY newer stamp, deletes only delete
    forward, unmatched upsert rows insert at any stamp (no tombstones —
    the documented contract), and partition moves follow the winning
    row."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
    )

    root = tmp_path / f"mt_{next(_mt_dir)}"
    root.mkdir()
    p = str(root / "t0")
    base_rows = list(base)
    cached_parquet(
        spark,
        p,
        lambda: spark.createDataFrame(
            base_rows, "id long, v string, p string, seq long"
        ),
        partition_by=("p",),
    )
    model = {k: (v, part, s) for k, v, part, s in base_rows}
    for q, (is_delete, rows) in enumerate(batches, start=1):
        nxt = str(root / f"t{q}")
        src = spark.createDataFrame(
            list(rows) or [], "id long, v string, p string, seq long"
        )
        merge_table(
            spark,
            p,
            nxt,
            src,
            key_cols=("id",),
            partition_col="p",
            when_matched="delete" if is_delete else "update",
            when_not_matched="ignore" if is_delete else "insert",
            seq_col="seq",
        )
        p = nxt
        for k, v, part, s in rows:
            if is_delete:
                if k in model and s > model[k][2]:
                    del model[k]
            elif k not in model:
                model[k] = (v, part, s)
            elif s > model[k][2]:
                model[k] = (v, part, s)
    got = {
        (r["id"], r["v"], r["p"], r["seq"])
        for r in spark.read.parquet(p).collect()
    }
    want = {(k, v, part, s) for k, (v, part, s) in model.items()}
    assert got == want


# --- r16 verdict item 4: sq edge regimes, blocked interleave ---------------

_sq_vecs = st.lists(
    st.lists(
        st.sampled_from(
            [0.0, 1e-30, -1e-30, 1.27e-4, -1.0, 1.0, 0.5, 1e30, -1e30]
        ),
        min_size=2,
        max_size=2,
    ),
    min_size=1,
    max_size=8,
).map(lambda vs: [(i, v) for i, v in enumerate(vs)])


@given(_sq_vecs)
@example(vecs=[(0, [0.0, 0.0])])  # all-zero corpus
@example(vecs=[(0, [1e-30, 0.0]), (1, [1e30, 1e30])])  # scale extremes
@_SETTINGS
def test_sq_encode_matches_python_oracle_at_scale_boundaries(spark, vecs):
    """sq_encode is one deterministic IEEE-double pipeline — a pure
    Python recompute (same op order: v/ma·127+0.5, floor; scale =
    max(floor(ma/127·1e6), 1), zero vector → (zeros, 0)) must match
    bit for bit at EVERY magnitude regime: exact zeros, denormal-class
    1e-30 (scale clamps to 1), the 1.27e-4 clamp boundary, and 1e30
    (scale ~7.87e33 — exceeds int64!  pinned here so the overflow
    contract is explicit, see assertion below)."""
    import math

    from gather_datawarehouse_sync_spark.operators.similarity import sq_encode

    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (list(r["codes"]), r["scale_micro"])
        for r in sq_encode(df).collect()
    }
    for i, v in vecs:
        ma = max(abs(x) for x in v)
        if ma == 0.0:
            want = ([0] * len(v), 0)
        else:
            codes = [int(math.floor(x / ma * 127.0 + 0.5)) for x in v]
            scale_f = math.floor(ma / 127.0 * 1_000_000.0)
            # Spark's floor(double).cast(bigint) of a value beyond
            # int64 saturates at Long.MAX — mirror that here so the
            # contract is pinned rather than silently engine-specific
            scale = max(min(int(scale_f), 9223372036854775807), 1)
            want = (codes, scale)
        assert got[i] == want, f"vec {i}: {got[i]} != {want}"


_sq_corpus = st.lists(
    st.lists(
        st.sampled_from([0.0, -1.0, 1.0, 0.5, 0.25, 2.0, 1e-30]),
        min_size=2,
        max_size=2,
    ),
    min_size=2,
    max_size=8,
).map(lambda vs: [(i, v) for i, v in enumerate(vs)])


@given(_sq_corpus, st.integers(min_value=1, max_value=4))
@example(vecs=[(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 0.0])], k=2)
@_SETTINGS
def test_sq_topk_matches_python_oracle_with_zero_vectors(spark, vecs, k):
    """sq_topk's integer scoring — (Σ qcᵢ·ccᵢ)·qs·cs, top-k by score
    desc then min neighbor id, self excluded — equals a serial Python
    oracle on corpora MIXING zero vectors (scale 0: every score 0,
    ranked purely by id among themselves) with normal and
    clamp-boundary vectors.  Queries = the whole corpus."""
    import math

    from gather_datawarehouse_sync_spark.operators.similarity import sq_topk

    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in sq_topk(df, df, k=k).collect()
    )

    def enc(v):
        ma = max(abs(x) for x in v)
        if ma == 0.0:
            return [0] * len(v), 0
        return (
            [int(math.floor(x / ma * 127.0 + 0.5)) for x in v],
            max(int(math.floor(ma / 127.0 * 1_000_000.0)), 1),
        )

    codes = {i: enc(v) for i, v in vecs}
    want = []
    for qi, _ in vecs:
        qc, qs = codes[qi]
        scored = sorted(
            (
                -(sum(a * b for a, b in zip(qc, codes[ni][0])) * qs * codes[ni][1]),
                ni,
            )
            for ni, _ in vecs
            if ni != qi
        )
        for rank, (negs, ni) in enumerate(scored[:k], start=1):
            want.append((qi, rank, ni, -negs))
    assert got == sorted(want)


_blocked_rows = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.integers(min_value=-(2**62), max_value=2**62),
    ),
    min_size=1,
    max_size=16,
)


@given(_blocked_rows, st.integers(min_value=1, max_value=5))
@example(rows=[("s1", 7), ("s1", 7), ("s1", 7)], block=2)  # id collisions
@example(rows=[("s1", -(2**62)), ("s1", 2**62), ("s1", 0)], block=1)  # huge gaps
@_SETTINGS
def test_blocked_interleave_ranks_any_id_distribution(spark, rows, block):
    """The numeric-id blocked path (r15 verdict item: collisions/gaps)
    assigns the SAME rank multiset as the serial schedule for any id
    distribution — duplicate ids (ties within a block: rank order among
    them is arbitrary but the set {1..n} per source is exact), ids at
    ±2⁶² (block = floor(id/size) runs through DOUBLE division, which is
    monotonic — blur at the boundary can merge blocks but never invert
    order), and any block size."""
    from gather_datawarehouse_sync_spark.operators.sampling import (
        weighted_interleave,
    )

    df = spark.createDataFrame(rows, "src string, id long")
    out = weighted_interleave(
        df, "src", {"s1": 2000}, "id", id_block_size=block
    ).collect()
    assert len(out) == len(rows)
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["src"], []).append(r)
    for src, rs in by_src.items():
        n = len(rs)
        # ranks are exactly {1..n} per source
        assert sorted(r["src_rn"] for r in rs) == list(range(1, n + 1))
        # rank order respects id order (ties excepted): sorting by rank
        # must yield a non-decreasing id sequence
        ids_by_rank = [r["id"] for r in sorted(rs, key=lambda r: r["src_rn"])]
        assert ids_by_rank == sorted(ids_by_rank)
        # keys are the serial stride schedule of the ranks
        w = 2000 if src == "s1" else 1000
        for r in rs:
            assert r["mix_key"] == (r["src_rn"] * 1_000_000) // w


_bloom_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=4),
        ),
        st.tuples(st.just("compact"), st.none()),
    ),
    min_size=1,
    max_size=4,
)

_bloom_dir_seq = __import__("itertools").count()


@given(_bloom_ops)
@example(ops=[("compact", None)])  # the r15-verdict interleaving, bare
@example(ops=[("append", [1]), ("compact", None), ("append", [2])])
@example(ops=[("compact", None), ("compact", None)])
@_SETTINGS
def test_bloom_refresh_tracks_any_append_compact_interleaving(
    spark, tmp_path, ops
):
    """r15 verdict item 4: the bloom index's incremental refresh racing
    compact_files — for ANY interleaving of appends and in-place full
    compactions, the maintained index stays row-identical to a
    from-scratch build of the current files, with the identity guard
    firing EXACTLY when compaction zeroed the overlap (every stored
    file replaced) and allow_full_rebuild then recovering.  Also pins
    the superset guarantee after every step: pruning with the
    maintained index never loses a file that holds a probe."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gather_datawarehouse_sync_spark.sources.layout import (
        _list_parquet_files,
        compact_files,
        file_bloom_index,
        refresh_file_bloom_index,
        scan_with_bloom_pruning,
    )

    NB, NH = 1 << 10, 3
    base = tmp_path / f"btab{next(_bloom_dir_seq)}"
    path = str(base)
    spark.createDataFrame(
        [(i,) for i in (100, 101)], "k long"
    ).repartition(2).write.parquet(path)
    idx = file_bloom_index(spark, path, "k", NB, NH).localCheckpoint()
    extra = 0
    for op, vals in ops:
        if op == "append":
            extra += 1
            pq.write_table(
                pa.table({"k": pa.array([int(v) for v in vals], pa.int64())}),
                os.path.join(path, f"part-extra-{extra:03d}.parquet"),
            )
        else:
            compact_files(spark, path, target_file_bytes=1 << 30)
        stored = {r["file"] for r in idx.select("file").distinct().collect()}
        overlap = stored & set(_list_parquet_files(path))
        if not overlap:
            with pytest.raises(ValueError, match="path-identity|full rewrite"):
                refresh_file_bloom_index(spark, path, idx, "k", NB, NH)
            idx = refresh_file_bloom_index(
                spark, path, idx, "k", NB, NH, allow_full_rebuild=True
            ).localCheckpoint()
        else:
            idx = refresh_file_bloom_index(
                spark, path, idx, "k", NB, NH
            ).localCheckpoint()
        want = file_bloom_index(spark, path, "k", NB, NH)
        assert sorted(map(tuple, idx.collect())) == sorted(
            map(tuple, want.collect())
        ), f"index drifted from rebuild after {op}"
    # superset guarantee on the final maintained index: a probe present
    # in the table must keep at least every file that holds it
    full = spark.read.parquet(path)
    keys = [r["k"] for r in full.limit(3).collect()]
    if keys:
        reader, kept, total = scan_with_bloom_pruning(
            spark,
            idx,
            spark.createDataFrame([(k,) for k in keys], "k long"),
            NB,
            NH,
        )
        got = sorted(r["k"] for r in reader.filter(F.col("k").isin(keys)).collect())
        want_rows = sorted(
            r["k"] for r in full.filter(F.col("k").isin(keys)).collect()
        )
        assert got == want_rows


# ---------------------------------------------------------------------------
# r16 verdict item 4: asof_join vs a serial oracle under randomized NULL
# patterns and duplicate timestamps — the exact regime of the r16
# torn-row fix (joins.py:172-181).
# ---------------------------------------------------------------------------

_asof_left = st.lists(
    st.tuples(
        st.sampled_from([1, 2, None]),  # key (NULL key matches nothing)
        st.sampled_from([0, 1, 2, 3, 5, None]),  # ts (NULL ts matches nothing)
    ),
    min_size=1,
    max_size=8,
).map(lambda rs: [(i, k, t) for i, (k, t) in enumerate(rs)])

_asof_right = st.lists(
    st.tuples(
        st.sampled_from([1, 2, None]),  # key
        st.sampled_from([0, 1, 2, 4, None]),  # ts — dups ON PURPOSE
        st.sampled_from(["a", "b", None]),  # payload v (NULL → torn-row bait)
        st.sampled_from([10, 20, None]),  # payload w
    ),
    min_size=0,
    max_size=8,
)


def _asof_serial(left, right, direction, tol):
    """One-left-row-at-a-time model of the documented semantics:
    NULL key/ts never matches; nearest right_ts (inclusive); among
    equal (key, ts) right rows the winner sorts LAST by the remaining
    payload columns ascending with NULLs FIRST (i.e. max with None
    smallest); tolerance voids matches farther than the horizon."""

    def none_first(x):
        return (x is not None, x)

    out = []
    for lid, k, lt in left:
        match = None
        if k is not None and lt is not None:
            cands = [
                r
                for r in right
                if r[0] == k
                and r[1] is not None
                and (r[1] <= lt if direction == "backward" else r[1] >= lt)
            ]
            if cands:
                best_ts = (max if direction == "backward" else min)(
                    r[1] for r in cands
                )
                tied = [r for r in cands if r[1] == best_ts]
                match = max(
                    tied, key=lambda r: (none_first(r[2]), none_first(r[3]))
                )
                if tol is not None and abs(lt - best_ts) > tol:
                    match = None
        out.append(
            (lid, k, lt)
            + ((match[1], match[2], match[3]) if match else (None, None, None))
        )
    return sorted(out, key=lambda t: tuple(none_first(x) for x in t))


@given(
    _asof_left,
    _asof_right,
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, 1]),
)
@example(  # the r16 torn-row regime: NULL payload field on the true
    # as-of row must NOT be backfilled from the older right row
    left=[(0, 1, 2)],
    right=[(1, 1, "a", 10), (1, 2, None, 20)],
    direction="backward",
    tol=None,
)
@example(  # duplicate right ts: deterministic max-by-payload winner,
    # with a NULL payload column sorting FIRST (loses)
    left=[(0, 1, 1)],
    right=[(1, 1, None, 20), (1, 1, "a", None), (1, 1, "a", 10)],
    direction="backward",
    tol=None,
)
@example(  # NULL left ts under forward: desc_nulls_last would hand it
    # the earliest right row — must match nothing
    left=[(0, 1, None)],
    right=[(1, 0, "a", 10)],
    direction="forward",
    tol=None,
)
@example(  # equal lts == rts: boundary is inclusive both directions
    left=[(0, 1, 2), (1, 1, 2)],
    right=[(1, 2, "b", 20)],
    direction="forward",
    tol=None,
)
@example(  # tolerance exactly at the gap: <= keeps the match
    left=[(0, 1, 3)],
    right=[(1, 2, "a", 10), (1, 0, "b", 20)],
    direction="backward",
    tol=1,
)
@_SETTINGS
def test_asof_join_matches_serial_oracle_nulls_and_dup_ts(
    spark, left, right, direction, tol
):
    from gather_datawarehouse_sync_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(left, "lid long, k long, lts long")
    rdf = spark.createDataFrame(
        right, "k long, rts long, v string, w long"
    )
    got = asof_join(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts",
        direction=direction, tolerance_seconds=tol,
    ).collect()
    got_rows = sorted(
        (
            (r["lid"], r["k"], r["lts"], r["rts"], r["v"], r["w"])
            for r in got
        ),
        key=lambda t: tuple((x is not None, x) for x in t),
    )
    assert got_rows == _asof_serial(left, right, direction, tol)


# ---------------------------------------------------------------------------
# r16 verdict item 4: merge_scd2 schema_evolution × seq interaction —
# random CDC sequences where the source GROWS an attr column mid-chain.
# ---------------------------------------------------------------------------

_scd2_evo_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # key
            st.sampled_from(["a", "b"]),  # original attr v
            st.sampled_from([100, 200, None]),  # added attr w (post-evolution)
            st.booleans(),  # tombstone?
        ),
        min_size=0,
        max_size=4,
        unique_by=lambda t: t[0],
    ),
    min_size=1,
    max_size=4,
)

_scd2_evo_dir = __import__("itertools").count()


@given(
    st.lists(
        st.tuples(st.integers(1, 4), st.sampled_from(["a", "b"])),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t[0],
    ),
    _scd2_evo_batches,
    st.integers(min_value=0, max_value=3),
)
@example(  # only-change-is-the-added-column: closes + opens (docstring)
    base=[(1, "a")],
    batches=[[(1, "a", 100, False)], [(1, "a", 200, False)]],
    evo_at=0,
)
@example(  # NULL in the added column + identical v: a no-op, NOT a
    # spurious version (null-safe compare over the backfilled NULL)
    base=[(1, "a")],
    batches=[[(1, "a", None, False)]],
    evo_at=0,
)
@example(  # evolution mid-chain: pre-evolution close/open stamps and the
    # post-evolution NULL backfill coexist on one key's chain
    base=[(1, "a")],
    batches=[[(1, "b", 100, False)], [(1, "b", 100, False)], [(1, "b", 200, True)]],
    evo_at=1,
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_scd2_schema_evolution_random_sequences(
    spark, tmp_path, base, batches, evo_at
):
    """Any CDC sequence that grows an attribute column at batch index
    ``evo_at`` matches the serial model in which pre-evolution versions
    carry w=NULL: closed versions stay immutable in value (their w reads
    NULL forever), the null-safe attr compare spans (v, w), tombstones
    and revivals stamp the same seq numbers as the non-evolved test, and
    a w-only change is a real new version."""
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
    )

    root = tmp_path / f"scd2evo_{next(_scd2_evo_dir)}"
    root.mkdir()
    base_df = spark.createDataFrame(base, "k long, v string")
    p = str(root / "h0")
    init_scd2_history(spark, base_df, p, ("k",), seq=0, n_buckets=2)
    # serial model rows: [k, v, w, from, to_or_None]
    hist = [[k, v, None, 0, None] for k, v in base]
    for q, batch in enumerate(batches, start=1):
        evolved = (q - 1) >= evo_at
        nxt = str(root / f"h{q}")
        if evolved:
            bdf = spark.createDataFrame(
                [(k, v, w, d) for k, v, w, d in batch],
                "k long, v string, w long, is_del boolean",
            )
            merge_scd2(
                spark, p, nxt, bdf, ("k",), seq=q,
                delete_col="is_del", schema_evolution=True,
            )
        else:
            bdf = spark.createDataFrame(
                [(k, v, d) for k, v, _, d in batch],
                "k long, v string, is_del boolean",
            )
            merge_scd2(spark, p, nxt, bdf, ("k",), seq=q, delete_col="is_del")
        p = nxt
        for k, v, w, is_del in batch:
            w_eff = w if evolved else None
            cur = next(
                (row for row in hist if row[0] == k and row[4] is None), None
            )
            if is_del:
                if cur:
                    cur[4] = q
            elif cur is None:
                hist.append([k, v, w_eff, q, None])
            elif (cur[1], cur[2]) != (v, w_eff):
                cur[4] = q
                hist.append([k, v, w_eff, q, None])
    stored = spark.read.parquet(p)
    cols = ["k", "v", "valid_from", "valid_to", "is_current"]
    has_w = "w" in stored.columns
    assert has_w == (evo_at < len(batches)), "w appears iff evolution ran"
    if has_w:
        cols.insert(2, "w")
        got = {
            (r["k"], r["v"], r["w"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in stored.select(*cols).collect()
        }
        want = {(k, v, w, f, t, t is None) for k, v, w, f, t in hist}
    else:
        got = {
            (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in stored.select(*cols).collect()
        }
        want = {(k, v, f, t, t is None) for k, v, _, f, t in hist}
    assert got == want


# ---------------------------------------------------------------------------
# r16 verdict item 4: reassign_drifted_cells racing compact_epoch_artifact
# on ONE version lineage — any interleaving of epoch appends, epoch
# folds, and drifted-cell re-assignments leaves the artifact exactly
# where the serial multiset model puts it; pending epochs keep their
# ORIGINAL cell stamps across a base re-assignment (the race).
# ---------------------------------------------------------------------------

_C_AXES = [
    [[1.0, 0.0], [0.0, 1.0]],  # C0: even ids → cell 0, odd → cell 1
    [[0.0, 1.0], [1.0, 0.0]],  # C1: the swap — even → 1, odd → 0
]


def _axis_vec(i):
    return [2.0, 0.0] if i % 2 == 0 else [0.0, 2.0]


def _axis_cell(ci, i):
    return (i % 2) if ci == 0 else 1 - (i % 2)


_lineage_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(st.integers(min_value=4, max_value=30), min_size=1, max_size=3),
        ),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(
            st.just("reassign"),
            st.tuples(
                st.sampled_from([0, 1]),
                st.sampled_from([[0], [1], [0, 1]]),
            ),
        ),
    ),
    min_size=1,
    max_size=4,
)

_lineage_dir = __import__("itertools").count()


@given(_lineage_ops)
@example(ops=[("append", [5]), ("reassign", (1, [0, 1])), ("compact", None)])
@example(ops=[("reassign", (0, [0, 1]))])  # fixed point: same quantizer
@example(
    ops=[
        ("append", [7]),
        ("compact", None),
        ("reassign", (1, [0])),
        ("append", [8]),
        ("compact", None),
    ]
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_reassign_racing_epoch_compaction_matches_serial_model(
    spark, tmp_path, ops
):
    import numpy as np

    from gather_datawarehouse_sync_spark.operators.similarity import ivf_invert
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        compact_epoch_artifact,
    )
    from gather_datawarehouse_sync_spark.operators.similarity import (
        reassign_drifted_cells,
    )

    root = tmp_path / f"lineage_{next(_lineage_dir)}"
    root.mkdir()

    def emb_df(ids):
        return spark.createDataFrame(
            [(int(i), _axis_vec(i)) for i in ids],
            "vec_id long, embedding array<double>",
        )

    cur_ci = 0  # quantizer in force for appends
    cur = str(root / "v0")
    cached_parquet(
        spark,
        cur,
        lambda: ivf_invert(emb_df([0, 1, 2, 3]), np.array(_C_AXES[0])),
        partition_by=("cell",),
    )
    flat = sorted((i, _axis_cell(0, i)) for i in [0, 1, 2, 3])  # model
    pending = []  # (id, cell) rows sitting in un-folded epochs
    epochs = str(root / "e0")
    ep_n, ver, ep_ver = 0, 0, 0
    for op, arg in ops:
        if op == "append":
            ep_n += 1
            rows = [(i, _axis_cell(cur_ci, i)) for i in arg]
            (
                ivf_invert(emb_df(arg), np.array(_C_AXES[cur_ci]))
                .withColumn("epoch", F.lit(ep_n))
                .write.mode("append")
                .partitionBy("epoch", "cell")
                .parquet(epochs)
            )
            pending.extend(rows)
        elif op == "compact":
            if not pending:
                continue
            ver += 1
            nxt = str(root / f"v{ver}")
            compact_epoch_artifact(spark, cur, epochs, nxt, "cell")
            cur = nxt
            # THE RACE ASSERTION: epochs fold with their ORIGINAL cell
            # stamps even if the base was re-assigned in between
            flat = sorted(flat + pending)
            pending = []
            ep_ver += 1
            epochs = str(root / f"e{ep_ver}")
        else:
            ci, drifted = arg
            ver += 1
            nxt = str(root / f"v{ver}")
            reassign_drifted_cells(
                spark, cur, nxt, np.array(_C_AXES[ci]), drifted
            )
            cur = nxt
            dset = set(drifted)
            flat = sorted(
                (i, _axis_cell(ci, i) if c in dset else c) for i, c in flat
            )
            cur_ci = ci
        got = sorted(
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(cur).select("vec_id", "cell").collect()
        )
        assert got == flat, f"lineage diverged from model after {op}"
    if pending:  # drain: the final fold still matches
        ver += 1
        nxt = str(root / f"v{ver}")
        compact_epoch_artifact(spark, cur, epochs, nxt, "cell")
        flat = sorted(flat + pending)
        got = sorted(
            (r["vec_id"], r["cell"])
            for r in spark.read.parquet(nxt).select("vec_id", "cell").collect()
        )
        assert got == flat
