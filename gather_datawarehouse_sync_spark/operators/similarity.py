"""Vector similarity search over an embedding column (extension surface).

Not present in the reference (its only notion of similarity is exact md5
equality, ``src/DataWarehouse.js:558``); mandated by the driver's
LLM-pipeline extension list.  Two tiers:

- exact tiers: brute-force top-k (broadcast cross join, small-query
  side) and block-grid threshold pairs (distributed all-pairs, no
  nested-loop join) — the correctness baselines and oracles for the
  approximate paths;
- LSH-bucketed (random hyperplane signs) and IVF approximate search:
  candidates only within matching buckets/cells, the 100 TB path
  (bounded fan-out instead of an all-pairs cross join).

Every top-k tier ends in ONE rank window (:func:`_ranked_topk`:
``row_number`` over (score desc, neighbor_id), cut at k).  The scan
tiers with a bounded query side — :func:`sq_topk`, :func:`pq_topk` and
the floored-micro exact tier — share ONE broadcast-query scorer
(:func:`_broadcast_query_topk`) and differ only in their query payload
and score matrix; :func:`ivf_sq_topk` is the one-rung case of
:func:`ivf_sq_topk_ladder`.

Scoring hot paths (SQ codes, the floored-micro integer tier, MMR
relevance, hybrid retrieval) run as exact int64 numpy kernels over
Arrow batches — measured faster than both the interpreted
``aggregate(zip_with(...))`` higher-order-function form (HOFs never
enter whole-stage codegen) and an unrolled fixed-width expression
(which outgrows the JIT method limit at real dims).  The float
``dot``/``cosine`` Column helpers keep the HOF form: they serve
plan-composable oracle tiers where a numpy rewrite would change float
accumulation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gather_datawarehouse_sync_spark.functions.text import ascii_tokens
from gather_datawarehouse_sync_spark.operators.dedup import spread


def dot(a: Column, b: Column) -> Column:
    """Elementwise product then sum — all JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Cross join (queries × corpus) → score → ``row_number`` per query.
    The cross join broadcasts the smaller side; cost is |Q|·|C| scoring
    ops spread over the cluster — the exact baseline you validate the
    approximate path against.  Ties broken by minimum neighbor id
    (deterministic, matches the Q43 oracle).

    Returns (query_id, neighbor_id, score, rank).
    """
    if metric == "int_micro":
        # per-element-floored integer micro dot — rank-stable across
        # engines (no float accumulation order in the comparator), the
        # reference tier recall_report oracles against; scored in the
        # vectorized Arrow-batch kernel, not a per-pair expression
        return _floored_micro_topk(queries, corpus, k, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    # the corpus is the big side: spread it so the per-pair scoring loop
    # parallelizes even when the input arrives as one parquet file
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    score = {
        "dot": dot(F.col("__qv"), F.col("__cv")),
        "cosine": cosine(F.col("__qv"), F.col("__cv")),
    }[metric]
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", score)
    )
    return _ranked_topk(scored, k)


def _spark_type_of(df: DataFrame, col: str) -> str:
    """Spark SQL type string of a column — the broadcast-query kernels
    emit id columns with the INPUT's id type (string/uuid ids included),
    so the output schema must be derived, not hard-coded to bigint."""
    return dict(df.dtypes)[col]


# Query-side chunk of the broadcast-query scorer: bounds the per-batch
# score matrix at (chunk × |batch|) regardless of how many queries the
# broadcast budget admits — at the 100k budget an
# unchunked (|Q| × batch) matrix alone is ~8 GB per in-flight batch.
_QUERY_CHUNK = 1024


def _batch_topk_rows(qids, S, valid, nid, k):
    """Per-batch per-query top-k over a (chunk × batch) int64 or float64
    score matrix: stable argsort on the negated scores — the batch rows
    are pre-sorted by neighbor id, so ties break to the smaller id
    without a lexsort (which cannot handle object-dtype ids).  ``valid``
    masks self-pairs; masked cells sort last via a max sentinel.
    Returns (query_ids, neighbor_ids, scores) row arrays."""
    kk = min(k, S.shape[1])
    last = np.inf if S.dtype.kind == "f" else np.iinfo(np.int64).max
    key = np.where(valid, -S, last)
    order = np.argsort(key, axis=1, kind="stable")[:, :kk]
    qi = np.repeat(np.arange(len(qids)), kk)
    ni = order.ravel()
    keep = valid[qi, ni]
    return qids[qi][keep], nid[ni][keep], S[qi, ni][keep]


def _ranked_topk(scored: DataFrame, k: int, by: tuple[str, ...] = ()) -> DataFrame:
    """The one final rank window of every top-k tier: ``row_number``
    per query (and per ``by`` key — the ladder's ``nprobe``) over
    (score desc, neighbor_id), cut at ``k`` — so every tier breaks
    score ties to the minimum neighbor id, matching the Q43 oracle.
    Returns (*by, query_id, neighbor_id, score, rank)."""
    w = Window.partitionBy(*by, "query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*by, "query_id", "neighbor_id", "score", "rank")
    )


def _broadcast_query_topk(
    tier: str,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    budget: int,
    prepare,
    batch_scores,
    score_t: str = "long",
    encode=None,
) -> DataFrame:
    """The one broadcast-query scorer of the scan tiers (:func:`sq_topk`,
    :func:`pq_topk`, :func:`_floored_micro_topk`): each tier supplies
    only its query payload and its score matrix.

    Query rows with a non-NULL id and vector, projected by ``encode``
    (default ``(id_col, vec_col)``), are collected under the ``budget``
    guard (the :func:`brute_force_topk` small-side contract); none
    returns an empty result typed by the input's id type.
    ``prepare(rows)`` gives (query payload, corpus frame); the payload
    is broadcast, and ``mapInPandas`` drops each corpus batch's NULL
    rows (they can never win a rank), pre-sorts it by id (so
    :func:`_batch_topk_rows` breaks ties to the smaller id) and scores
    it per ``_QUERY_CHUNK`` of queries through ``batch_scores(payload,
    batch)(lo, hi)``.  Each batch emits only its per-query top-k
    (|Q|·k rows, never |Q|·|C|); :func:`_ranked_topk` cuts the rest.
    """
    id_t = _spark_type_of(queries, id_col)
    live = queries.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
    q_side = encode(live) if encode else live.select(id_col, vec_col)
    rows = q_side.limit(budget + 1).collect()
    if len(rows) > budget:
        raise ValueError(
            f"{tier} queries side exceeds the broadcast budget "
            f"({budget}); swap sides or raise the budget"
        )
    schema = f"query_id {id_t}, neighbor_id {id_t}, score {score_t}"
    if not rows:
        return queries.sparkSession.createDataFrame([], schema + ", rank int")
    qids = np.array([r[id_col] for r in rows])
    payload, corpus = prepare(rows)
    bc = queries.sparkSession.sparkContext.broadcast((qids, payload))
    kk = int(k)

    def _score(batches):
        ids, P = bc.value
        for pdf in batches:
            pdf = pdf.dropna()
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(id_col, kind="stable")
            nid = pdf[id_col].to_numpy()
            scores = batch_scores(P, pdf)
            for lo in range(0, len(ids), _QUERY_CHUNK):
                hi = min(lo + _QUERY_CHUNK, len(ids))
                valid = ids[lo:hi, None] != nid[None, :]
                rq, rn, rs = _batch_topk_rows(
                    ids[lo:hi], scores(lo, hi), valid, nid, kk
                )
                yield pd.DataFrame(
                    {"query_id": rq, "neighbor_id": rn, "score": rs}
                )

    return _ranked_topk(corpus.mapInPandas(_score, schema), k)


def normalized(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Project to (id, unit-norm vector); zero vectors dropped."""
    n = l2_norm(F.col(vec_col))
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), n.alias("nrm"))
        .filter(F.col("nrm") > 0)
        .select("id", F.transform("v", lambda x: x / F.col("nrm")).alias("v"))
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs ≥ ``threshold``.

    The embedding analogue of :func:`...dedup.jaccard_pairs`: normalize
    once, then enumerate the pair space with a **block-grid** layout —
    ids hash into ``num_blocks`` blocks, each vector replicates to the
    upper-triangle grid cells it participates in, and each cell scores
    its (block × block) tile with ONE vectorized numpy matmul inside
    ``applyInPandas``.  No broadcast nested-loop join and no per-pair
    expression evaluation: neither side must fit in one executor, the
    O(n²) scoring distributes over B(B+1)/2 cells at BLAS speed, and
    shuffle volume is n·(B+1)/2 rows (B defaults to ~√(2·parallelism);
    size B so two blocks of vectors fit one task's memory).

    Compute is inherently O(n²) — that is what "exact at an arbitrary
    threshold" costs; use :func:`cosine_pairs_lsh` beyond ~1e5 vectors
    when the threshold reflects true near-duplicates.

    Returns (a, b, cos) with a < b.
    """
    spark = df.sparkSession
    B = num_blocks or max(
        2, int(round((2 * spark.sparkContext.defaultParallelism) ** 0.5))
    )
    thr = float(threshold)
    nv = normalized(df, id_col, vec_col).localCheckpoint(eager=True)
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    # row side owns grid cells (bi, j) for j ≥ bi; col side (i, bj) for
    # i ≤ bj — every unordered block pair {p ≤ q} meets in exactly one
    # cell, so each vector pair is scored exactly once.  Scoring is one
    # numpy matmul per cell (BLAS) instead of an interpreted
    # higher-order-function dot per pair — measured ~3× on 5 k vectors,
    # and the gap grows with pair count.  The plan is a union + ONE
    # shuffle on the cell id + FlatMapGroupsInPandas: no join operator
    # at all.
    rows = (
        spread(nv)
        .select("id", "v", blk.alias("ci"))
        .withColumn("cj", F.explode(F.sequence(F.col("ci"), F.lit(B - 1))))
        .withColumn("side", F.lit(0))
    )
    cols = (
        nv.select("id", "v", blk.alias("cj"))
        .withColumn("ci", F.explode(F.sequence(F.lit(0), F.col("cj"))))
        .withColumn("side", F.lit(1))
    )
    both = rows.unionByName(cols.select(*rows.columns))

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": pd.Series(dtype="int64"),
                              "b": pd.Series(dtype="int64"),
                              "cos": pd.Series(dtype="float64")})
        r = pdf[pdf["side"] == 0]
        c = pdf[pdf["side"] == 1]
        if r.empty or c.empty:
            return empty
        RM = np.stack([np.asarray(x, dtype=np.float64) for x in r["v"]])
        CM = np.stack([np.asarray(x, dtype=np.float64) for x in c["v"]])
        S = RM @ CM.T
        ii, jj = np.nonzero(S >= thr)
        if len(ii) == 0:
            return empty
        a = r["id"].to_numpy()[ii]
        b = c["id"].to_numpy()[jj]
        cos = S[ii, jj]
        if int(pdf["ci"].iat[0]) == int(pdf["cj"].iat[0]):
            # diagonal cell holds one block on both sides: each unordered
            # pair appears twice plus the self-pair — keep a < b once
            keep = a < b
            a, b, cos = a[keep], b[keep], cos[keep]
        return pd.DataFrame(
            {"a": np.minimum(a, b), "b": np.maximum(a, b), "cos": cos}
        )

    return both.groupBy("ci", "cj").applyInPandas(
        _score, "a long, b long, cos double"
    )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane LSH buckets
    generate candidates (bounded fan-out, no all-pairs join), then the
    exact cosine verifies each candidate — same shape as MinHash-LSH →
    exact-Jaccard verify on the text side.  Recall < 1 by construction
    (a pair whose buckets never collide is missed); more tables raise it.

    Pass ``dim`` when known to skip the one-row probe job.  The bucket
    table is materialized once — it feeds both sides of the candidate
    self-join, which would otherwise re-run the sketch UDF per side.
    """
    nv = normalized(df, id_col, vec_col).localCheckpoint(eager=True)
    bucketed = _hyperplane_buckets(
        nv, "id", "v", num_planes, num_tables, seed, dim=dim
    ).localCheckpoint(eager=True)
    a = bucketed.select(F.col("id").alias("a"), "table", "bucket")
    b = bucketed.select(F.col("id").alias("b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    va = nv.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = nv.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", dot(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def _plane_matrix(dim: int, num_planes: int, num_tables: int, seed: int):
    """The (dim × tables·planes) random-hyperplane matrix — ONE seeded
    construction shared by the bucket and multi-probe sketches, so a
    query's probe set and the corpus's stored buckets always live in
    the same table geometry."""
    import random

    rng = random.Random(seed)
    return np.array(
        [
            [rng.gauss(0.0, 1.0) for _ in range(num_tables * num_planes)]
            for _ in range(dim)
        ]
    )


def _hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    num_tables: int,
    seed: int,
    dim: int | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """(id, table, bucket) rows: sign-sketch bucket of ``vec_col`` in each
    of ``num_tables`` random-hyperplane tables.

    All tables' projections happen in ONE vectorized pandas UDF — a
    single (batch × dim) @ (dim × tables·planes) matmul — instead of
    tables·planes interpreted higher-order-function dot products per row
    (HOF expressions are not codegen'd; the matmul is ~100× cheaper).
    Pass ``dim`` when known to skip the one-row probe job that otherwise
    derives it at plan time.

    ``n_probes > 1`` is MULTI-PROBE (Lv et al. 2007): per table, emit
    the base bucket plus the ``n_probes − 1`` buckets reached by
    flipping one sign bit each, least-confident planes first (smallest
    |projection| — the boundaries the vector most plausibly sits on the
    other side of).  Probing neighbors recovers the recall extra tables
    would buy WITHOUT growing the stored sketch: the corpus side keeps
    ``n_probes=1``; only the (small) query side fans out, so the join
    stays (table, bucket)-bounded with query-side fan-out ×n_probes.
    """
    if not 1 <= n_probes <= num_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, num_planes+1], got {n_probes}"
        )
    if dim is None:
        dim_row = df.select(F.size(vec_col).alias("d")).first()
        dim = int(dim_row["d"])
    M = _plane_matrix(dim, num_planes, num_tables, seed)
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        P = X @ M  # (n, tables*planes) projections
        Pr = P.reshape(len(X), num_tables, num_planes)
        B = (Pr >= 0) @ weights  # (n, tables) base buckets
        if n_probes == 1:
            return pd.Series(list(B))
        # single-bit perturbations in ascending-|projection| order
        order = np.argsort(np.abs(Pr), axis=2, kind="stable")
        out = np.empty((len(X), num_tables, n_probes), dtype=np.int64)
        out[:, :, 0] = B
        for j in range(1, n_probes):
            out[:, :, j] = B ^ (np.int64(1) << order[:, :, j - 1])
        return pd.Series(list(out.reshape(len(X), -1)))

    # nondeterministic marking pins ONE evaluation (see dedup._minhash)
    _buckets = _buckets.asNondeterministic()
    exploded = (
        spread(df)
        .select(F.col(id_col).alias("id"), _buckets(F.col(vec_col)).alias("bs"))
        .select("id", F.posexplode("bs").alias("pos", "bucket"))
    )
    if n_probes == 1:
        return exploded.select("id", F.col("pos").alias("table"), "bucket")
    return exploded.select(
        "id",
        (F.col("pos") / n_probes).cast("int").alias("table"),
        "bucket",
    )


def kmeans_centroids(
    corpus: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> np.ndarray:
    """Trained coarse quantizer for IVF: distributed k-means (Spark ML,
    deterministic seed) over the corpus — better cell balance than
    first-N centroids on skewed embedding distributions.  Returns the
    (nlist × dim) centroid matrix (bounded driver transfer — this IS the
    broadcast quantizer)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
    return np.stack([np.asarray(c, dtype=np.float64) for c in model.clusterCenters()])


def _normalize_rows(C: np.ndarray) -> np.ndarray:
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def _cell_udf(Cn: np.ndarray):
    """Vectorized nearest-centroid assignment (one matmul per Arrow
    batch) against a broadcast-by-closure normalized centroid matrix."""

    @F.pandas_udf(T.IntegerType())
    def _cell(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        Xn = _normalize_rows(X)
        return pd.Series((Xn @ Cn.T).argmax(axis=1).astype("int32"))

    return _cell


def _probe_cells_udf(Cn: np.ndarray, n_probe: int):
    """Vectorized nearest-``n_probe``-cells probe against a broadcast
    normalized centroid matrix — the ONE probe kernel :func:`ivf_topk`
    and :func:`ivf_sq_topk_ladder` (hence :func:`ivf_sq_topk`) share,
    so the tiers' probe sets cannot drift (the round-9 stable-sort tie
    fix would otherwise have to land in two copies)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _probe_cells(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        Xn = _normalize_rows(X)
        S = Xn @ Cn.T
        # stable sort: tied cells order by index, matching the argmax
        # (first-wins) assignment convention — an unstable quicksort
        # could exclude a vector's own cell from its probe set on an
        # exact centroid-similarity tie at the nprobe boundary
        order = np.argsort(-S, axis=1, kind="stable")[:, :n_probe].astype(
            "int32"
        )
        return pd.Series(list(order))

    return _probe_cells


def ivf_invert(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF **inverted lists** — the data half of the index that
    :func:`kmeans_centroids` (the trained half) leaves to query time.

    Returns (cell, ``id_col``, ``vec_col``): every corpus vector tagged
    with its nearest-centroid cell, vectors kept at full precision
    (IVF-flat, the FAISS `IndexIVFFlat` layout).  Persist this table once
    per corpus version (``sources/artifacts.cached_parquet``, partitioned
    by cell) and serve queries via ``ivf_topk(lists=...)``: the per-query
    cost drops from a full-corpus assignment matmul to a parquet scan of
    the ``nprobe`` probed cells — with cell as a partition column the
    scan prunes to nprobe/nlist of the files, which is the entire point
    of an inverted file at 100 TB.
    """
    Cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    cell = _cell_udf(Cn)
    return spread(corpus).select(
        cell(F.col(vec_col)).alias("cell"),
        F.col(id_col),
        F.col(vec_col),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 1,
    nlist: int = 32,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    lists: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second scale path next
    to :func:`lsh_topk`, mirroring FAISS's IVF-flat design.

    - **Coarse quantizer**: ``nlist`` centroids — pass
      ``centroids=kmeans_centroids(...)`` for a trained quantizer, else
      the first ``nlist`` corpus vectors by id are used (deterministic;
      same partitioning contract either way) — broadcast to executors as
      a numpy matrix.
    - **Inverted lists**: each corpus vector is assigned to its nearest
      centroid (one vectorized matmul per Arrow batch) — at 100 TB this
      is the partitioning column, so each query only shuffles against
      ``nprobe``/``nlist`` of the corpus.
    - **Probe**: each query explodes to its ``nprobe`` nearest cells;
      candidates come from a plain equi-join on cell id, then exact dot
      products rank them.

    With ``nprobe == nlist`` every cell is probed and the result equals
    :func:`brute_force_topk` exactly (asserted in tests); smaller
    ``nprobe`` trades recall for a 1/``nlist``-scale candidate set.
    Ties broken by minimum neighbor id, matching the exact tier.

    **Serving path**: pass ``lists=`` a persisted :func:`ivf_invert`
    table (cell, ``id_col``, ``vec_col``) to skip the per-query corpus
    assignment pass entirely — the query plan is then (probe cells →
    equi-join the stored lists → exact dot rank), and the corpus
    argument is ignored (pass ``None``).  Identical results to the
    recompute path by construction (assignment is deterministic;
    parity-pinned in tests).
    """
    if lists is None and corpus is None:
        raise ValueError("ivf_topk: pass corpus or lists")
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    elif lists is not None:
        raise ValueError(
            "ivf_topk: lists= requires centroids= (the stored lists were "
            "assigned under a specific quantizer; probing with a "
            "different one would silently miss cells)"
        )
    else:
        cent_rows = (
            corpus.orderBy(id_col)
            .limit(nlist)
            .select(vec_col)
            .collect()
        )
        C = np.stack([np.asarray(r[0], dtype=np.float64) for r in cent_rows])
    Cn = _normalize_rows(C)
    n_cells = len(C)
    _probe_cells = _probe_cells_udf(Cn, min(nprobe, n_cells))

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(_probe_cells(F.col(vec_col))).alias("cell"),
    )
    if lists is None:
        lists = ivf_invert(corpus, C, id_col, vec_col)
    else:
        # serving path: the query batch is small by assumption (that is
        # what "serving" means); broadcasting it makes the lists side
        # the streamed side of a BroadcastHashJoin, which lets dynamic
        # partition pruning push the probed cell set into the stored
        # lists' PartitionFilters — the scan then reads only the
        # nprobe/nlist probed partitions (plan-pinned in tests).
        q = F.broadcast(q)
    c = lists.select(
        F.col("cell"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
    )
    cand = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", dot(F.col("__qv"), F.col("__cv")))
    )
    return _ranked_topk(cand, k)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    nprobe_buckets: int = 1,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH (sign sketches).

    ``num_tables`` independent sketches of ``num_planes`` hyperplanes
    each; a query only scores corpus vectors sharing a bucket in at least
    one table.  Join key = (table, bucket) — a plain shuffle join with
    bounded fan-out, no cross join: the scale path.  Recall improves with
    more tables; exactness is *not* guaranteed (validated against
    :func:`brute_force_topk` in tests, never hash-compared).

    ``nprobe_buckets > 1`` turns on MULTI-PROBE (Lv et al. 2007): each
    query additionally probes the buckets one sign-flip away, least-
    confident planes first — recall rises WITHOUT re-sketching or
    growing the stored corpus buckets (only the small query side fans
    out ×nprobe_buckets), which is the right trade at 100 TB where the
    corpus sketch is the persisted artifact and tables are expensive.
    ``nprobe_buckets=1`` is exactly the classic single-probe plan
    (equality pinned in tests); recall monotonicity is tested too.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).localCheckpoint(eager=True)
    qb = _hyperplane_buckets(
        q, "query_id", "__qv", num_planes, num_tables, seed, dim=dim,
        n_probes=nprobe_buckets,
    ).withColumnRenamed("id", "query_id")
    cb = _hyperplane_buckets(
        c, "neighbor_id", "__cv", num_planes, num_tables, seed, dim=dim
    ).withColumnRenamed("id", "neighbor_id")
    cand = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("score", dot(F.col("__qv"), F.col("__cv")))
    )
    return _ranked_topk(cand, k)


def train_pq_codebooks(
    corpus: DataFrame,
    num_subspaces: int = 8,
    num_centroids: int = 16,
    vec_col: str = "embedding",
    sample: int = 4096,
    seed: int = 42,
    iters: int = 10,
    order_col: str | None = None,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011 / FAISS PQ):
    per-subspace k-means over a BOUNDED training sample.

    Splits the dimension into ``num_subspaces`` contiguous blocks and
    runs seeded Lloyd iterations independently per block.  The sample
    collect is the same bounded-driver-transfer contract as the IVF
    centroid matrix and the BPE training sample: cost is constant in
    corpus size (``sample`` rows), which is exactly how production PQ
    trainers work — codebooks are trained on a slice, applied to
    everything.  Returns (num_subspaces, num_centroids, dim/num_subspaces).

    The sample is DETERMINISTIC: rows are ordered (by ``order_col`` when
    given, else by the vector column itself — arrays are orderable in
    Spark) before the limit, so the trained codebooks — and every ANN
    verdict derived from them — are reproducible across file/partition
    layouts, not just within one.  orderBy+limit plans as
    TakeOrderedAndProject (per-partition top-n, then a bounded merge),
    so determinism costs no full sort at 100 TB.
    """
    sort_key = order_col if order_col is not None else vec_col
    cols = [vec_col] if sort_key == vec_col else [vec_col, sort_key]
    # NULL vectors are not training data (an ascending sort would put
    # them first in the sample)
    rows = (
        corpus.select(*cols)
        .filter(F.col(vec_col).isNotNull())
        .orderBy(sort_key)
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq_codebooks: empty training sample")
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    n, dim = X.shape
    # real errors, not asserts: under python -O a non-divisible dim
    # would silently truncate the vector tail out of every subspace
    if dim % num_subspaces != 0:
        raise ValueError(
            f"dim {dim} does not divide into {num_subspaces} subspaces"
        )
    if n < num_centroids:
        raise ValueError(
            f"training sample ({n}) smaller than codebook ({num_centroids})"
        )
    dsub = dim // num_subspaces
    rng = np.random.default_rng(seed)
    books = np.empty((num_subspaces, num_centroids, dsub))
    for m in range(num_subspaces):
        S = X[:, m * dsub : (m + 1) * dsub]
        C = S[rng.choice(n, size=num_centroids, replace=False)].copy()
        for _ in range(iters):
            # argmin ‖s−c‖² ≡ argmin (‖c‖² − 2·s·c): the ‖s‖² term is
            # constant per row, and the matmul form avoids the
            # (n × K × dsub) broadcast temp; centroid update is one
            # bincount per sub-dimension instead of K boolean masks
            # (measured 3.0 s → 1.4 s on the default 4096×64 sample)
            d = (C**2).sum(1)[None, :] - 2.0 * (S @ C.T)
            assign = d.argmin(axis=1)
            cnt = np.bincount(assign, minlength=num_centroids)
            sums = np.stack(
                [
                    np.bincount(assign, weights=S[:, j], minlength=num_centroids)
                    for j in range(dsub)
                ],
                axis=1,
            )
            nz = cnt > 0  # empty cell keeps its centroid
            C[nz] = sums[nz] / cnt[nz, None]
        books[m] = C
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the corpus to its PQ **code table** — the data half of the
    PQ index (the codebooks are the trained half).

    Returns (``id_col``, codes array<int>): each vector reduced to
    ``num_subspaces`` nearest-centroid codes, M bytes of index per
    vector instead of dim floats.  Persist this once per corpus version
    (``sources/artifacts.cached_parquet``) and serve queries via
    ``pq_topk(codes=...)``: the per-query cost drops from a full-corpus
    encode matmul (32 subspaces × every vector, the pass PQ exists to
    avoid) to a scan of the compact code table.  Encoding is
    deterministic given the codebooks, so stored ≡ recomputed codes
    bit-for-bit (parity-pinned in tests).
    """
    B = np.asarray(codebooks, dtype=np.float64)
    M, K, dsub = B.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(vecs: pd.Series) -> pd.Series:
        # a NULL vector encodes to a NULL code
        rows = np.flatnonzero(vecs.notna().to_numpy())
        out = [None] * len(vecs)
        if not len(rows):
            return pd.Series(out, dtype=object)
        X = np.stack([np.asarray(vecs.iat[i], dtype=np.float64) for i in rows])
        codes = np.empty((len(X), M), dtype=np.int32)
        for m in range(M):
            S = X[:, m * dsub : (m + 1) * dsub]
            # same matmul trick as the trainer: no (B × K × dsub) temp
            d = (B[m] ** 2).sum(1)[None, :] - 2.0 * (S @ B[m].T)
            codes[:, m] = d.argmin(axis=1)
        for i, c in zip(rows, codes):
            out[i] = c
        return pd.Series(out, dtype=object)

    _encode = _encode.asNondeterministic()
    return spread(corpus).select(
        F.col(id_col), _encode(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 1,
    num_subspaces: int = 8,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
    seed: int = 42,
    broadcast_queries_max: int = 100_000,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k: the memory-compression ANN tier next to
    :func:`ivf_topk` (candidate pruning) and :func:`lsh_topk` (bucket
    pruning).

    Corpus vectors are ENCODED once to ``num_subspaces`` small codes
    (nearest per-subspace centroid — at 100 TB the stored index is
    M bytes/vector instead of dim floats, a 32× shrink at the
    defaults); queries score against codes via **asymmetric distance
    computation**: per query, one (num_subspaces × num_centroids)
    inner-product lookup table ⟨q_m, c_{m,j}⟩, then each corpus score
    is a table-lookup sum — no full-precision corpus read at query
    time.  When every corpus subvector coincides with a codebook
    centroid the reconstruction is exact and ADC equals the exact dot
    product (pinned in tests); otherwise recall degrades with
    quantization error, the PQ trade.

    Scoring is the shared broadcast-query scorer
    (:func:`_broadcast_query_topk`): the per-query ADC tables are the
    broadcast payload (bounded at ``broadcast_queries_max``) and each
    code batch's score matrix is the table-lookup sum; encode is one
    Arrow pass over the corpus.  Ties break to min neighbor id,
    matching the exact tier.

    **Serving path**: pass ``codes=`` a persisted :func:`pq_encode`
    table (``id_col``, codes) to skip the per-query corpus encode pass
    — the query then never touches a full-precision corpus vector at
    all, which is the deployment PQ was invented for; ``codebooks=`` is
    required alongside (the ADC tables come from them) and ``corpus``
    is ignored (pass ``None``).  The stored codes' width is probed on
    one row and must equal ``num_subspaces`` — a code table built under
    different codebooks would silently score garbage.
    """
    if codes is None and corpus is None:
        raise ValueError("pq_topk: pass corpus or codes")
    if codes is not None and codebooks is None:
        raise ValueError(
            "pq_topk: codes= requires codebooks= (ADC lookup tables are "
            "built from the codebooks the codes were encoded under)"
        )

    def prepare(rows):
        # runs only for a non-empty query side: an empty one returns
        # empty (matching brute_force_topk) BEFORE any codebook training
        # — training on a small corpus can legitimately raise, and a
        # driver-side k-means for zero queries is wasted work either way
        B = codebooks
        if B is None:
            B = train_pq_codebooks(
                corpus, num_subspaces, num_centroids, vec_col, seed=seed,
                order_col=id_col,
            )
        B = np.asarray(B, dtype=np.float64)
        M, K, dsub = B.shape
        Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
        # per-query ADC tables: adc[q, m, j] = <q_m, c_{m,j}>
        adc = np.einsum("qmd,mjd->qmj", Q.reshape(len(Q), M, dsub), B)
        if codes is None:
            return adc, pq_encode(
                corpus.filter(F.col(vec_col).isNotNull()), B, id_col, vec_col
            )
        probe = codes.select(F.size("codes").alias("m")).limit(1).collect()
        if probe and probe[0]["m"] != M:
            raise ValueError(
                f"pq_topk: stored codes have {probe[0]['m']} subspaces, "
                f"codebooks have {M} — mismatched index artifacts"
            )
        return adc, codes.select(id_col, "codes")

    def adc_scores(tables, pdf):
        C = np.stack([np.asarray(c) for c in pdf["codes"]])

        def chunk(lo, hi):
            S = np.zeros((hi - lo, len(C)))
            for m in range(tables.shape[1]):
                S += tables[lo:hi, m, C[:, m]]
            return S

        return chunk

    return _broadcast_query_topk(
        "pq_topk", queries, k, id_col, vec_col, broadcast_queries_max,
        prepare, adc_scores, score_t="double",
    )


def sq_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization (per-vector symmetric max-abs): the
    third compression tier next to PQ-ADC — 4× smaller than float32 /
    8× smaller than float64 storage with one multiply to decode, the
    layout FAISS calls ``SQ8`` and every vector database ships as its
    default compressed tier.

    Per vector: ``codes_i = floor(v_i / maxabs · 127 + 0.5)`` (int8
    range, half-up) and ``scale_micro = max(floor(maxabs / 127 · 10⁶),
    1)`` (the integer-micros dequantization step, the group_centroids
    quantization convention).  A zero vector encodes as all-zero codes
    with scale 0; a NON-zero vector's scale is clamped to ≥ 1 micro —
    without the clamp any vector with ``maxabs < 1.27e-4`` would floor
    to scale 0 and every score involving it would be exactly 0,
    degenerating its top-k to min-id order; with it the codes (which
    span the full int8 range regardless of magnitude) still rank
    within-query, at the cost of magnitudes below ~1.27e-4 collapsing
    to the same scale step.  Everything is JVM-side array expressions —
    no UDF, no shuffle: a pure scan-side projection, so encoding 100 TB
    is one pass that writes the compact (id, codes, scale_micro) table
    (the array HOFs evaluate interpreted, but this is the
    once-per-corpus-version build pass, not the per-query scoring loop —
    the scoring loops are the numpy kernels).

    Returns (``id_col``, codes array<int>, scale_micro bigint).
    Persist via ``sources/artifacts.cached_parquet`` and serve with
    :func:`sq_topk` — the same train-nothing/store-data-half contract
    as :func:`ivf_invert`, minus the training half (SQ has none).
    """
    codes, scale = _sq_code_cols(vec_col)
    return corpus.select(
        F.col(id_col), codes.alias("codes"), scale.alias("scale_micro")
    )


def _sq_code_cols(vec_col: str) -> tuple[Column, Column]:
    """The (codes, scale_micro) projection expressions of
    :func:`sq_encode` — shared with :func:`ivf_sq_invert`, whose single
    build scan computes them alongside the cell assignment."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ma = F.array_max(F.transform(v, F.abs))
    codes = F.when(ma == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x / ma * F.lit(127.0) + F.lit(0.5)).cast("int"),
        )
    )
    scale = F.when(ma == 0.0, F.lit(0).cast("bigint")).otherwise(
        F.greatest(
            F.floor(ma / F.lit(127.0) * F.lit(1_000_000.0)).cast("bigint"),
            F.lit(1).cast("bigint"),
        )
    )
    return codes, scale


def sq_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
    broadcast_queries_max: int = 100_000,
) -> DataFrame:
    """Approximate top-k by dot product over int8 scalar-quantized
    vectors — ranking runs ENTIRELY in integer arithmetic, so unlike
    every other ANN tier this one is hash-exact across engines and
    carries a full value oracle.

    Score: ``(Σ qcodeᵢ·ccodeᵢ) · q_scale · c_scale`` — the integer
    image of ``dot(q, c)`` under per-vector symmetric quantization.
    Dropping the constant ``q_scale`` would not change per-query
    ranking, but keeping it keeps the score comparable across queries.
    Overflow headroom: |Σ| ≤ dim·127² (≈10⁶ at dim 64) and scales are
    ≤ maxabs/127·10⁶ (≈10⁴ for unit-scale embeddings), so the product
    stays ≪ 2⁶³ for any dim < 10⁵.

    Pass ``codes=`` a persisted :func:`sq_encode` table to serve from
    the compact artifact — the corpus float vectors are never read
    (``corpus`` is then ignored; pass ``None``).

    Scoring is the shared broadcast-query scorer
    (:func:`_broadcast_query_topk`), the measured-fast form for a
    compressed scan tier: the query codes are the broadcast payload
    (bounded at ``broadcast_queries_max``) and each code batch's score
    matrix is ONE exact int64 numpy matmul instead of a per-pair
    expression (an ``aggregate(zip_with(...))`` scoring column
    evaluates interpreted per element, and an unrolled fixed-width sum
    outgrows the JIT method limit: both measured slower at 1M pairs —
    0.55 s / 1.7 s vs 0.48 s for the matmul).  At 100 TB the composed
    path is IVF cells over SQ codes (:func:`ivf_sq_topk`), which
    computes the same integer score per candidate.

    Ties broken by minimum neighbor id, matching every other tier.
    """
    if codes is None and corpus is None:
        raise ValueError("sq_topk: pass corpus or codes")

    def prepare(rows):
        Q = np.stack([np.asarray(r["codes"], dtype=np.int64) for r in rows])
        qsc = np.array([r["scale_micro"] for r in rows], dtype=np.int64)
        c = codes if codes is not None else sq_encode(
            spread(corpus), id_col, vec_col
        )
        return (Q, qsc), c.select(id_col, "codes", "scale_micro")

    def sq_scores(payload, pdf):
        Q, qs = payload
        C = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["codes"]])
        if C.shape[1] != Q.shape[1]:
            raise ValueError(
                f"sq_topk: stored codes have width {C.shape[1]}, "
                f"queries {Q.shape[1]} — mismatched index artifacts"
            )
        cs = pdf["scale_micro"].to_numpy(dtype=np.int64)
        # exact int64 arithmetic end-to-end — the value-hash oracle
        # depends on it (no float accumulation anywhere)
        return lambda lo, hi: (Q[lo:hi] @ C.T) * qs[lo:hi, None] * cs[None, :]

    return _broadcast_query_topk(
        "sq_topk", queries, k, id_col, vec_col, broadcast_queries_max,
        prepare, sq_scores,
        encode=lambda q: sq_encode(q, id_col, vec_col),
    )


def _floored_micro_terms(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """``Σᵢ floor(Xᵢⱼ·yᵢⱼ·10⁶)`` per row, exact int64 — the numpy image
    of the per-element-quantized integer dot convention (each term is
    one IEEE double multiply + one floor → exact integers,
    order-invariant sum; identical to the DuckDB oracles'
    ``list_transform(list_zip(a,b), x -> floor(x[1]*x[2]*1e6))`` and
    hash-exact across engines).  ``y`` is either one vector (dim,)
    scored against every row of ``X``, or a matching (n, dim) matrix
    for rowwise pair scoring — numpy broadcasting covers both.
    Vectorized per Arrow batch — the JVM-expression form of this loop
    (``aggregate(zip_with(...))``) evaluates interpreted per element
    and measured 2-4× slower on the scoring hot paths, so every caller
    routes through this one kernel (the convention must not fork)."""
    return np.floor(X * y * 1_000_000.0).astype(np.int64).sum(axis=1)


def _floored_micro_matrix(C: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """The (|Q| × |C|) int64 score matrix of the per-element-floored
    micro dot — semantically ``_floored_micro_terms(C, Q[i])`` stacked,
    but with ONE reused float temp across queries and the row sum taken
    float-side before a single cast (measured 1.5× faster than the
    astype-per-query reference at chunk=1024 × batch=10k × dim=64; the
    "vectorize it all the way" forms — blocked 3-D elementwise and
    per-dim outer-product accumulation — measured 3-4× SLOWER on memory
    traffic, and a true GEMM cannot reproduce per-element floors at
    all: rejections recorded in SCALE.md round 10).

    The float-side sum is EXACT, not approximate: every floored term is
    an integer-valued double, and adding integer-valued doubles is
    exact while every partial sum stays below 2⁵³ — guaranteed up front
    by the bound ``dim · max|C| · max|Q| · 10⁶ + dim < 2⁵³`` (one max()
    scan per side; the ``+ dim`` term covers floor's slack on negative
    products, where |floor(t)| can exceed |t| by up to 1 per element).
    Inputs past the bound take the int64-accumulation reference loop,
    so the hash contract holds for ALL magnitudes."""
    nq, nc = len(Q), len(C)
    S = np.empty((nq, nc), dtype=np.int64)
    if nq == 0 or nc == 0:
        return S
    bound = (
        float(np.abs(C).max()) * float(np.abs(Q).max()) * 1e6 * C.shape[1]
        + C.shape[1]
    )
    if not bound < 2.0**53:  # NaN-safe: NaN falls to the reference path
        for i in range(nq):
            S[i] = _floored_micro_terms(C, Q[i])
        return S
    P = np.empty(C.shape, dtype=np.float64)
    for i in range(nq):
        np.multiply(C, Q[i], out=P)
        P *= 1_000_000.0
        np.floor(P, out=P)
        np.copyto(S[i], P.sum(axis=1), casting="unsafe")
    return S


def _floored_micro_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries_max: int = 100_000,
) -> DataFrame:
    """Exact top-k by the per-element-floored integer micro dot
    (:func:`_floored_micro_terms`) — the hash-exact reference tier
    ``recall_report`` oracles against, and the candidate generator for
    :func:`mmr_rerank`.

    Scored by the shared broadcast-query scorer
    (:func:`_broadcast_query_topk`): the query matrix is the broadcast
    payload and each corpus batch's score matrix is
    :func:`_floored_micro_matrix`.  Ties break to min neighbor id.

    Returns (query_id, neighbor_id, score bigint, rank).
    """

    def prepare(rows):
        Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
        return Q, spread(corpus).select(id_col, vec_col)

    def micro_scores(Q, pdf):
        C = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        # the kernel reuses one float temp per batch and stays per-query
        # inside (the vectorized 3-D forms measured slower — see
        # _floored_micro_matrix)
        return lambda lo, hi: _floored_micro_matrix(C, Q[lo:hi])

    return _broadcast_query_topk(
        "int_micro", queries, k, id_col, vec_col, broadcast_queries_max,
        prepare, micro_scores,
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    candidates: int = 20,
    lam_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries_max: int = 100_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): pick ``k`` results per query that are RELEVANT but mutually
    DIVERSE — the standard fix for retrieval returning ``k`` near-
    duplicates of the same passage, which in a dedup-imperfect corpus
    is the common failure of plain top-k.

    Greedy selection over a bounded candidate list: first pick the
    max-relevance candidate, then repeatedly pick
    ``argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)``.
    All scoring is exact integer arithmetic — relevance and pairwise
    similarity are per-element-floored micro dots
    (:func:`_floored_micro_terms`), λ is ``lam_milli``/1000, and the MMR
    objective is ``lam_milli·rel − (1000−lam_milli)·maxsim`` in bigint —
    so the greedy trace is deterministic and cross-engine hash-exact
    (the registered query carries a FULL oracle: the k-step greedy
    unrolled as k SQL CTE blocks).

    Scale shape: candidate generation here is the documented all-pairs
    scan tier (same as :func:`brute_force_topk`) — the oracle-friendly
    exact form; the 100 TB serving composition over DPP-pruned IVF×SQ
    candidates is :func:`mmr_rerank_ivfsq`, which shares this greedy.
    The greedy runs per query in ONE Arrow kernel over its ≤
    ``candidates`` rows (an O(k·c²·dim) numpy loop on bounded data —
    never over the corpus), parallel across queries.  Ties break by
    minimum candidate id at every step.

    Returns (query_id, neighbor_id, ord) — ord = 1-based selection
    order (ord 1 is the plain top-1; the rest trade relevance for
    diversity).
    """
    if not 0 <= lam_milli <= 1000:
        raise ValueError("lam_milli must be in [0, 1000]")
    if k < 1 or candidates < k:
        raise ValueError("need k >= 1 and candidates >= k")
    # candidate generation: the shared floored-micro top-k kernel (same
    # scores and tie-break the old crossJoin+window form produced, but
    # batch-vectorized and emitting only |Q|·candidates rows); the
    # greedy then needs each candidate's vector — a broadcast-hash join
    # of the tiny candidate table against ONE corpus scan (output
    # bounded by |Q|·candidates; at 100 TB the scan cost is the same
    # single pass the candidate stage already paid)
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
    )
    cand = (
        F.broadcast(
            _floored_micro_topk(
                queries, corpus, candidates, id_col, vec_col,
                broadcast_queries_max=broadcast_queries_max,
            )
            .withColumnRenamed("score", "rel")
            .drop("rank")
        )
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", "rel", "__cv")
    )
    return _mmr_greedy(cand, k, lam_milli)


def _mmr_greedy(cand: DataFrame, k: int, lam_milli: int) -> DataFrame:
    """The per-query greedy MMR selection over a prepared candidate
    table (query_id, neighbor_id, rel bigint, __cv array<double>) —
    shared by :func:`mmr_rerank` (floored-micro exact candidates) and
    :func:`mmr_rerank_ivfsq` (DPP-pruned composed-index candidates):
    the greedy is candidate-source-agnostic, one Arrow kernel per query
    over its bounded rows.  Ids keep their native type — the greedy
    pre-sorts each group by neighbor id, so every argmax tie-break is a
    stable first-wins over that base order, never an int coercion."""
    lam = int(lam_milli)
    take = int(k)
    id_t = _spark_type_of(cand, "neighbor_id")

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id", kind="stable").reset_index(
            drop=True
        )
        n = len(pdf)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__cv"]])
        # pairwise per-element-floored micro sims — the same expression
        # the SQL oracle computes with list_zip + floor
        S = (
            np.floor(V[:, None, :] * V[None, :, :] * 1_000_000.0)
            .sum(axis=2)
            .astype(np.int64)
        )
        rel = pdf["rel"].to_numpy(dtype=np.int64)
        nid = pdf["neighbor_id"].to_numpy()
        selected: list[int] = []
        remaining = list(range(n))
        while remaining and len(selected) < take:
            if not selected:
                # canonical MMR: the first pick is the most relevant
                # candidate regardless of λ (matches the oracle's pick1)
                score = rel[remaining]
            else:
                maxsim = S[np.ix_(remaining, selected)].max(axis=1)
                score = lam * rel[remaining] - (1000 - lam) * maxsim
            # argmax, ties by min neighbor id: `remaining` is in nid
            # order (the pre-sort), so a stable argsort on -score picks
            # the smallest id among ties for ANY id dtype
            pick = remaining[
                int(np.argsort(-score, kind="stable")[0])
            ]
            selected.append(pick)
            remaining.remove(pick)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[:1].repeat(len(selected)).to_numpy(),
                "neighbor_id": nid[selected],
                "ord": np.arange(1, len(selected) + 1, dtype=np.int32),
            }
        )

    return cand.groupBy("query_id").applyInPandas(
        _mmr, f"query_id {id_t}, neighbor_id {id_t}, ord int"
    )


def mmr_rerank_ivfsq(
    queries: DataFrame,
    centroids: np.ndarray,
    lists: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    candidates: int = 20,
    nprobe: int = 4,
    lam_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR re-ranking over COMPOSED-INDEX candidates — the 100 TB
    serving shape end-to-end: candidate generation is
    :func:`ivf_sq_topk` (DPP-pruned scan of the stored cell-partitioned
    int8 code lists — the full-precision corpus is never scanned), then
    the ≤ ``candidates`` winners per query fetch their full-precision
    vectors by id (bounded point lookups via a broadcast join, the
    fetch step every retrieval stack performs before re-ranking),
    relevance is re-scored exactly (per-element-floored micro dot —
    quantization error from the candidate tier does not leak into the
    greedy objective), and the greedy is the same
    :func:`_mmr_greedy` kernel :func:`mmr_rerank` runs.

    Candidate recall < 1 by construction (``nprobe`` < nlist probes a
    subset), so results are engine-specific → rows-only evidence; the
    greedy-over-candidates stage itself is deterministic and shared
    with the fully-oracled exact form.

    Returns (query_id, neighbor_id, ord).
    """
    if not 0 <= lam_milli <= 1000:
        raise ValueError("lam_milli must be in [0, 1000]")
    if k < 1 or candidates < k:
        raise ValueError("need k >= 1 and candidates >= k")
    cand_ids = ivf_sq_topk(
        queries, centroids, lists, k=candidates, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    cvec = spread(corpus).filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
    )
    qvec = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )

    @F.pandas_udf(T.LongType())
    def _pair_rel(a: pd.Series, b: pd.Series) -> pd.Series:
        # exact re-scoring of the bounded candidate rows (|Q|·candidates
        # pairs — vectorized per Arrow batch, never corpus-sized), via
        # the ONE pinned floored-micro kernel so the hash-exact
        # convention cannot diverge between call sites
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(_floored_micro_terms(A, B))

    cand = (
        F.broadcast(cand_ids)
        .join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("rel", _pair_rel("__qv", "__cv"))
        .select("query_id", "neighbor_id", "rel", "__cv")
    )
    return _mmr_greedy(cand, k, lam_milli)


def ivf_sq_invert(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build IVF inverted lists over int8 SQ codes — the COMPOSED
    serving layout (FAISS `IndexIVFScalarQuantizer`) and the shape a
    100 TB deployment actually stores: the cell partition column prunes
    the scan to nprobe/nlist of the files (the IVF half) AND each
    stored row is the 4-8×-smaller (codes, scale_micro) pair instead of
    the full-precision vector (the SQ half).

    One scan pass: nearest-centroid assignment (vectorized Arrow
    matmul, the same kernel :func:`ivf_invert` uses) computed alongside
    the codegen'd :func:`sq_encode` projection in a SINGLE select over
    one ``spread(corpus)`` — cell and codes are independent projections
    of the same row, so a join between two corpus scans (a corpus-sized
    shuffle at build time) would be pure waste.  Returns (cell,
    ``id_col``, codes, scale_micro); persist via ``cached_parquet(...,
    partition_by=("cell",))`` and serve with :func:`ivf_sq_topk`.
    """
    Cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    cell = _cell_udf(Cn)
    codes, scale = _sq_code_cols(vec_col)
    return spread(corpus).select(
        cell(F.col(vec_col)).alias("cell"),
        F.col(id_col),
        codes.alias("codes"),
        scale.alias("scale_micro"),
    )


def cell_histogram(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    count_col: str = "ref_n",
) -> DataFrame:
    """(bin, count): the coarse-quantizer ASSIGNMENT histogram of a
    corpus — how many vectors land in each IVF cell under the pinned
    quantizer (same kernel as :func:`ivf_invert`, so the histogram is
    exactly the stored lists' partition sizes).  The persistable
    reference half of :func:`quantizer_drift`: store it once per corpus
    version (an nlist-row artifact) and every append-or-retrain check
    joins against it instead of re-assigning the old corpus."""
    Cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    cell = _cell_udf(Cn)
    return (
        spread(corpus)
        .select(cell(F.col(vec_col)).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def quantizer_drift(
    ref_hist: DataFrame,
    new: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """The APPEND-OR-RETRAIN decision for incremental index
    maintenance, made measurable: per-cell assignment-share drift of a
    crawl increment against the stored per-version cell histogram.

    ``append_partitioned_artifact`` / ``start_incremental_index_append``
    are only valid under the PINNED quantizer; when new data
    concentrates in different cells than the quantizer was trained for
    (an embedding-distribution shift), the inverted lists skew — hot
    cells blow past task memory, probe recall degrades — and the right
    move is a retrain + rebuild, not another append.  This gate is how
    a maintenance job decides: only the increment is assigned (one
    Arrow pass over the new rows; the old corpus is never rescanned —
    the same incremental contract as the dedup side), and the report is
    the exact-integer share arithmetic of ``operators/profile``
    (``share_drift``): one row per cell with (ref_n, new_n,
    ref_share_bp, new_share_bp, delta_bp).  Gate on ``max |delta_bp|``
    like the score-distribution drift gate.
    """
    from gather_datawarehouse_sync_spark.operators.profile import share_drift

    return share_drift(
        ref_hist,
        cell_histogram(new, centroids, vec_col, count_col="new_n"),
    )


def reassign_drifted_cells(
    spark,
    old_path: str,
    new_path: str,
    centroids: np.ndarray,
    drifted: "list[int]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectors: DataFrame | None = None,
) -> DataFrame:
    """The middle option between "append again" and "full rebuild" when
    :func:`quantizer_drift` flags drifted cells: re-assign ONLY the
    drifted cells' vectors under the updated ``centroids`` — a
    delete+append composition over the dirty-cell set expressed through
    one ``rewrite_partitioned_artifact`` pass, so clean cells hardlink
    across untouched and the work is O(drifted rows), not O(corpus).

    Mechanics: the drifted partitions' rows are re-read (statically
    pruned), their vectors re-assigned to the nearest updated centroid
    (the :func:`ivf_invert` kernel), and the LANDING cells — wherever
    the movers arrive — join the dirty set so their replacement rows
    are (their unchanged residents) ∪ (the arrivals); every other cell
    carries over by hardlink.  Vectors may land back in a drifted cell;
    the fixed point (re-assignment under the SAME centroids) is a
    content no-op, pinned in tests.

    For IVF-flat lists (cell, id, vector) the stored vector drives the
    re-assignment directly.  For IVF×SQ code lists the full-precision
    vector is NOT stored (that is the point of SQ), so pass
    ``vectors=`` an (id, vector) table covering at least the drifted
    cells' ids — missing ids fail loudly rather than silently dropping
    index rows.  Semantics are engine-internal maintenance; parity
    with the explicit delete+append composition and with a full
    rebuild at drifted=all is pinned in tests."""
    import os as _os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        rewrite_partitioned_artifact,
    )

    if _os.path.exists(_os.path.join(new_path, "_SUCCESS")):
        return spark.read.parquet(new_path)
    if not _os.path.exists(_os.path.join(old_path, "_SUCCESS")):
        raise ValueError(
            f"reassign_drifted_cells: no complete artifact at {old_path}"
        )
    old = spark.read.parquet(old_path)
    drifted_set = sorted({int(c) for c in drifted})
    Cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))
    cell = _cell_udf(Cn)
    movers = old.filter(F.col("cell").isin(drifted_set)).drop("cell")
    if vectors is not None:
        v = vectors.select(
            F.col(id_col), F.col(vec_col).alias("__reassign_vec")
        )
        lost = movers.join(v, id_col, "left_anti").limit(1).count()
        if lost:
            raise ValueError(
                "reassign_drifted_cells: vectors= does not cover every "
                "drifted-cell id — refusing to silently drop index rows"
            )
        # a duplicated (id, vector) row would silently MULTIPLY index
        # rows via join fan-out — the same loud-refusal contract as
        # merge_table's duplicate-source-key guard
        dup = (
            v.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "reassign_drifted_cells: duplicate ids in vectors= — the "
                "re-assignment join would duplicate index rows"
            )
        moved = (
            movers.join(v, id_col)
            .withColumn("cell", cell(F.col("__reassign_vec")))
            .select("cell", *movers.columns)
        )
    elif vec_col in movers.columns:
        moved = movers.withColumn("cell", cell(F.col(vec_col))).select(
            "cell", *movers.columns
        )
    else:
        raise ValueError(
            f"reassign_drifted_cells: lists store no {vec_col!r} column "
            "(SQ codes?) — pass vectors=(id, vector) for the drifted ids"
        )
    landing = sorted(
        r[0] for r in moved.select("cell").distinct().collect()
    )
    dirty = sorted(set(drifted_set) | set(landing))
    stay_cells = [c for c in dirty if c not in set(drifted_set)]

    def _replacement() -> DataFrame:
        stay = old.filter(F.col("cell").isin(stay_cells))
        return stay.unionByName(moved.select(*old.columns))

    return rewrite_partitioned_artifact(
        spark, old_path, new_path, _replacement, dirty, "cell"
    )


def ivf_sq_topk(
    queries: DataFrame,
    centroids: np.ndarray,
    lists: DataFrame,
    k: int = 1,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over the composed IVF×SQ index — the one-rung
    case of :func:`ivf_sq_topk_ladder` (``nprobes=(nprobe,)``, its
    ``nprobe`` column dropped): probe the ``nprobe`` nearest cells
    (same probe kernel as :func:`ivf_topk`), equi-join the PARTITIONED
    stored code lists (the broadcast query side feeds dynamic partition
    pruning, so the scan reads only the probed cells' files), and rank
    candidates by the same integer SQ score :func:`sq_topk` computes —
    so with ``nprobe == nlist`` the result EQUALS ``sq_topk`` exactly
    (integer scores, same tie-break; parity-pinned in tests), and
    smaller ``nprobe`` trades recall for reading 1/``nlist``-scale data
    per query.

    The full-precision corpus is never touched at query time — that is
    the whole point: per-query cost is (probed-partition scan of int8
    codes) + (bounded integer dot per candidate).
    """
    return ivf_sq_topk_ladder(
        queries, centroids, lists, k, (nprobe,), id_col, vec_col
    ).drop("nprobe")


def ivf_sq_topk_ladder(
    queries: DataFrame,
    centroids: np.ndarray,
    lists: DataFrame,
    k: int = 1,
    nprobes: "tuple[int, ...]" = (4, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every rung of an ``nprobe`` ladder from ONE candidate pass —
    the measurement kernel :func:`...pipelines.choose_nprobe` escalates
    over, and with one rung the whole of :func:`ivf_sq_topk`.  Probing
    is the shared stable-argsort kernel, so the top-p cells are a
    PREFIX of the top-``max(nprobes)`` order: one probe at the widest
    rung, with each candidate carrying its cell's probe rank,
    reproduces every narrower rung exactly as a filter
    (``probe_rank < p``) — per-rung output is row-identical to an
    independent one-rung run at that ``nprobe`` (pinned in tests).
    Cost: one scan of the widest rung's cells and one scoring pass
    TOTAL, where the escalation loop paid one scan+score per rung
    measured.

    Scoring runs as a per-batch kernel over the joined candidate stream
    emitting only each batch's per-rung, per-query leaders (≤ |Q|·k
    rows per rung per batch), then the one rank window
    (:func:`_ranked_topk`, partitioned by ``nprobe`` too) — NO
    per-query group is ever materialized in memory, so a hot cell
    sort-spills in the window instead of OOMing a task (the hazard a
    groupBy-apply form would have), and memory stays bounded by the
    Arrow batch regardless of nprobe or skew.  Rows whose id/codes are
    NULL are excluded (they can never win a rank).  Returns (nprobe,
    query_id, neighbor_id, score, rank) covering every requested rung.
    """
    rungs = sorted({int(p) for p in nprobes})
    if not rungs or rungs[0] < 1:
        raise ValueError(f"ivf_sq_topk_ladder: bad nprobes {nprobes!r}")
    C = np.asarray(centroids, dtype=np.float64)
    Cn = _normalize_rows(C)
    pmax = min(rungs[-1], len(C))
    _probe_cells = _probe_cells_udf(Cn, pmax)

    q = F.broadcast(
        sq_encode(
            queries.filter(
                F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
            ),
            id_col,
            vec_col,
        )
        .join(
            queries.select(
                F.col(id_col),
                F.posexplode(_probe_cells(F.col(vec_col))).alias(
                    "__pr", "cell"
                ),
            ),
            id_col,
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col("codes").alias("__qc"),
            F.col("scale_micro").alias("__qs"),
            "cell",
            "__pr",
        )
    )
    c = lists.filter(
        F.col(id_col).isNotNull() & F.col("codes").isNotNull()
    ).select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        F.col("codes").alias("__cc"),
        F.col("scale_micro").alias("__cs"),
    )
    # no pair-dedup needed: each corpus vector lives in exactly ONE
    # cell and a query's probed cells are distinct, so (query_id,
    # neighbor_id) is already unique — a dropDuplicates here would
    # be a gratuitous shuffle
    cand = q.join(c, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    kk = int(k)
    id_t = _spark_type_of(lists, id_col)

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            QC = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["__qc"]])
            CC = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["__cc"]])
            s = (
                np.einsum("ij,ij->i", QC, CC)
                * pdf["__qs"].to_numpy(dtype=np.int64)
                * pdf["__cs"].to_numpy(dtype=np.int64)
            )
            # pandas sort handles ANY orderable id dtype (string ids
            # included); stable, (score desc, id asc)
            out = (
                pdf[["query_id", "neighbor_id", "__pr"]]
                .assign(score=s)
                .sort_values(
                    ["query_id", "score", "neighbor_id"],
                    ascending=[True, False, True],
                    kind="stable",
                )
            )
            yield pd.concat(
                out[out["__pr"] < p]
                .groupby("query_id", sort=False)
                .head(kk)
                .assign(nprobe=np.int32(p))
                for p in rungs
            )[["nprobe", "query_id", "neighbor_id", "score"]]

    partial = cand.mapInPandas(
        _score,
        f"nprobe int, query_id {id_t}, neighbor_id {id_t}, score long",
    )
    return _ranked_topk(partial, k, by=("nprobe",))


def recall_report(
    approx: DataFrame,
    exact: DataFrame,
    ks: tuple[int, ...] = (1, 5, 10),
) -> DataFrame:
    """Recall@k of an approximate ANN tier against a reference tier —
    the evaluation harness every index deployment needs before trading
    exactness for speed (FAISS's own benchmark protocol): for each
    ``k``, the fraction of (query, neighbor) pairs in the reference
    top-k that the approximate top-k recovered.

    Both inputs are (query_id, neighbor_id, rank) tables — the shared
    output shape of every tier here (:func:`brute_force_topk`,
    :func:`sq_topk`, :func:`ivf_topk`, :func:`lsh_topk`,
    :func:`pq_topk`) — so any pair of tiers composes.  Exact integer
    output: (k, n_queries, hits, total, recall_bp) with
    ``recall_bp = (10⁴·hits) DIV total`` where total counts the
    reference pairs at that k (handles queries with < k reference
    neighbors without float division).

    Scale shape: ONE pass — the two tier tables (each ≤ |Q|·k_max rows,
    bounded by construction, never corpus-sized) are rank-joined once
    on (query_id, neighbor_id), each row fans out to the |ks| report
    rows it contributes to, and a single groupBy(k) aggregates
    conditional counts.  No per-k re-execution of the tier pipelines.

    Every requested ``k`` gets a report row: a ``k`` with zero
    reference pairs (empty reference tier, or every query has < k
    neighbors... impossible for k≥1 unless the table is empty) emits
    (k, 0, 0, 0, 0) rather than silently vanishing — a consumer
    iterating the requested ks must not misread a missing row as a
    measured recall.
    """
    if not ks or any(k < 1 for k in ks):
        raise ValueError("ks must be non-empty positive ints")
    kmax = max(ks)
    ref = exact.filter(F.col("rank") <= kmax).select(
        "query_id", "neighbor_id", F.col("rank").alias("__er")
    )
    got = approx.filter(F.col("rank") <= kmax).select(
        "query_id", "neighbor_id", F.col("rank").alias("__ar")
    )
    ks_sorted = sorted(set(int(k) for k in ks))
    ks_col = F.explode(F.array(*[F.lit(k) for k in ks_sorted])).alias("k")
    counts = (
        # both sides are ≤ |Q|·k_max rows by the tier contract, but they
        # come out of mapInPandas kernels whose size the planner cannot
        # estimate — without the hint this tiny join plans as a
        # SortMergeJoin with two exchanges (seen in x_ann_recall,
        # x_ivfsq_recall, x_lsh_mp_recall, x_release_gate plans, r18)
        ref.join(F.broadcast(got), ["query_id", "neighbor_id"], "left")
        .select("query_id", "__er", "__ar", ks_col)
        .filter(F.col("__er") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.count(
                F.when(F.col("__ar") <= F.col("k"), F.lit(1))
            ).cast("long").alias("hits"),
            F.count(F.lit(1)).cast("long").alias("total"),
        )
    )
    ks_frame = approx.sparkSession.createDataFrame(
        [(k,) for k in ks_sorted], "k int"
    )
    zero = F.lit(0).cast("long")
    return (
        # counts is ≤ |ks| rows by construction — hint it so the final
        # per-k fill join never plans as a sort-merge (same
        # unestimatable-kernel-output reason as the rank join above)
        ks_frame.join(F.broadcast(counts), "k", "left")
        .select(
            "k",
            F.coalesce("n_queries", zero).alias("n_queries"),
            F.coalesce("hits", zero).alias("hits"),
            F.coalesce("total", zero).alias("total"),
        )
        .withColumn(
            "recall_bp",
            F.when(F.col("total") > 0, F.expr("10000 * hits DIV total"))
            .otherwise(zero)
            .cast("long"),
        )
        .select("k", "n_queries", "hits", "total", "recall_bp")
    )


def _assign_spherical_cells(nv: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(id, v, cell) for already-unit-norm ``nv`` rows: argmax dot
    against the normalized centroid matrix — the ONE assignment kernel
    :func:`semantic_dedup` and :func:`semantic_cells` both use, so the
    persisted membership cannot drift from the recompute path."""
    Cn = _normalize_rows(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf(T.IntegerType())
    def _cell(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series((X @ Cn.T).argmax(axis=1).astype("int32"))

    return spread(nv).select("id", "v", _cell(F.col("v")).alias("cell"))


def semantic_cells(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the (id, cell) membership table — the persistable data half
    of :func:`semantic_dedup` (the spherical quantizer is the trained
    half).  Cache it once per corpus version
    (``sources/artifacts.cached_parquet``) and pass it back via
    ``semantic_dedup(cells=...)``: every subsequent dedup pass skips the
    assignment matmul and goes straight to the per-cell keep scan.
    Assignment is the same kernel the recompute path runs (shared
    helper), so stored ≡ recomputed verdicts exactly."""
    return _assign_spherical_cells(
        normalized(df, id_col, vec_col), centroids
    ).select("id", "cell")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    seed: int = 42,
    max_iter: int = 10,
    cells: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, then within
    each cluster drop every vector that has a smaller-id near-duplicate
    at cosine ≥ ``threshold``.  Pairs in different clusters are never
    compared — that is the pruning that makes the O(n²) semantic-dup
    scan tractable: per-cluster work is |cell|², and ``nlist`` grows
    with the corpus so cells stay task-sized.

    Keep rule (deterministic): within a cell, order by id; a vector is
    DROPPED iff some smaller-id vector in the same cell is ≥
    ``threshold`` similar (greedy keep-first — the common deterministic
    variant of the paper's keep-one-per-group; with ``nlist=1`` this is
    exactly the clustering-free rule "drop b iff ∃ a<b with cos(a,b) ≥
    τ", which is what the parity test pins against brute force).

    100 TB shape: centroids are a bounded driver matrix (the IVF
    quantizer contract, :func:`kmeans_centroids`); assignment is one
    narrow Arrow pass; the only shuffle is the groupBy on cell id.  A
    pathologically hot cell (≫ task memory) would need the block-grid
    sub-tiling of :func:`cosine_pairs` inside the cell — at sane
    ``nlist`` (≥ corpus/10⁴) cells are k ≈ 10⁴ rows and one numpy
    k×k matmul per cell is the fast path.

    **Serving path**: pass ``cells=`` a persisted (id, cell) membership
    table (built once per corpus version from this function's own
    output, or any assignment) to skip the per-call quantizer training
    AND the per-call assignment matmul — membership joins in by id and
    the only remaining work is the per-cell keep scan.  Stored ≡
    recomputed verdicts by determinism (parity-pinned in tests).

    Returns (id, cell, keep) for every non-zero vector.
    """
    thr = float(threshold)
    # one materialization feeds both the k-means trainer (which iterates
    # over its input max_iter times) and the assignment pass — without
    # it the scan+normalize pipeline re-runs per consumer and Spark ML
    # warns about uncached input
    nv = normalized(df, id_col, vec_col).localCheckpoint(eager=True)
    if cells is not None:
        # LEFT join + loud failure: an inner join would silently DROP
        # any vector missing from a stale/partial membership table,
        # violating the "every non-zero vector" contract.  raise_error
        # fails the job at execution time with zero extra passes; a
        # duplicated id inside a cell is caught in the keep kernel.
        assigned = spread(nv).join(
            cells.select("id", F.col("cell").cast("int").alias("cell")),
            "id",
            "left",
        ).withColumn(
            "cell",
            F.when(
                F.col("cell").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "semantic_dedup: cells= membership has no row "
                            "for id "
                        ),
                        F.col("id").cast("string"),
                        F.lit(
                            " — stale or partial artifact; rebuild with "
                            "semantic_cells"
                        ),
                    )
                ).cast("int"),
            ).otherwise(F.col("cell")),
        )
    elif centroids is None and nlist == 1:
        # one cell = no prune (the brute-force oracle configuration;
        # Spark ML's KMeans rejects k=1, and no quantizer is needed)
        assigned = spread(nv).select(
            "id", "v", F.lit(0).cast("int").alias("cell")
        )
    else:
        if centroids is not None:
            C = np.asarray(centroids, dtype=np.float64)
        else:
            # cluster the UNIT-NORM vectors (the paper's layout:
            # spherical k-means ≈ k-means on the unit sphere) so cell
            # geometry matches the cosine threshold geometry
            C = kmeans_centroids(
                nv, nlist, vec_col="v", seed=seed, max_iter=max_iter
            )
        assigned = _assign_spherical_cells(nv, C)

    def _keep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        if pdf["id"].duplicated().any():
            dup_id = pdf["id"][pdf["id"].duplicated()].iloc[0]
            raise ValueError(
                f"semantic_dedup: duplicate id {dup_id} in cell "
                f"{pdf['cell'].iloc[0]} — corrupt cells= membership "
                "(semantic_cells output is unique by construction)"
            )
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        S = M @ M.T
        # drop j iff any i<j has S[i,j] >= thr: strict upper triangle,
        # column-wise any
        dup = np.any(np.triu(S >= thr, k=1), axis=0)
        return pd.DataFrame(
            {"id": pdf["id"], "cell": pdf["cell"], "keep": ~dup}
        )

    return assigned.groupBy("cell").applyInPandas(
        _keep, "id long, cell int, keep boolean"
    )


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dims: int | None = None,
    quantum: int = 1000,
) -> DataFrame:
    """Per-group centroid of an embedding column, dimension-wise.

    posexplode → hash aggregate on (group, position): one shuffle keyed
    by group×dim, map-side partials, no vector ever materialized on the
    driver — the shape survives a 100 TB corpus because the output is
    |groups|×dim rows regardless of input size.

    Components are quantized to integer 1/``quantum`` units with FLOOR
    before summing (floats promote to double exactly, FLOOR has no tie
    semantics), so the sums are exact integers and the final
    ``centroid_milli = sum / n`` double is bit-stable across engines —
    this is what lets a DuckDB oracle hash-compare a float-vector
    aggregate.  Returns (group, pos, n, s_milli, centroid_milli) with
    pos 0-based, optionally truncated to the first ``dims`` positions.
    """
    exploded = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    if dims is not None:
        exploded = exploded.filter(F.col("pos") < dims)
    q = F.floor(F.col("v").cast("double") * quantum).cast("long")
    return (
        exploded.select("grp", "pos", q.alias("q"))
        .groupBy("grp", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("s_milli"))
        .withColumn("centroid_milli", F.col("s_milli").cast("double") / F.col("n"))
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    vecs: DataFrame,
    query_terms: list[str],
    query_vec: "np.ndarray | list[float]",
    k: int = 10,
    candidates: int = 100,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    keyword: str = "tf",
) -> DataFrame:
    """HYBRID retrieval: keyword and vector candidate lists fused by
    Reciprocal Rank Fusion (Cormack et al. 2009) — the standard
    two-tower serving layout (BM25-side ∪ ANN-side → RRF) expressed
    relationally.

    - **Keyword side** (``keyword=``): ``"tf"`` ranks by per-doc
      query-term occurrence count over the shared ascii tokenization —
      the cheap approximation; ``"bm25"`` ranks by
      :func:`~gather_datawarehouse_sync_spark.operators.terms.bm25_topk`'s
      milli-floored integer Okapi score — the published scorer (rank
      lists only differ when tf ties break differently under length
      normalization and IDF).  Either way: top ``candidates`` by
      (score desc, id).
    - **Vector side**: dot product against the broadcast query vector,
      FLOOR-quantized to integer micros PER ELEMENT before summing (the
      true ``group_centroids`` convention: each term is an exact
      integer, so the sum is order-invariant and genuinely hash-exact
      across engines — quantizing after a float summation would rest on
      both engines accumulating doubles in the same order); top
      ``candidates`` by (qdot_micro desc, id).
    - **Fusion**: rank within each candidate list, then
      ``score = Σ 10⁶ DIV (rrf_k + rank)`` in exact integer arithmetic
      (a doc absent from one list contributes nothing for it); final
      top ``k`` by (score desc, id).

    Scale shape: each candidate list is ``orderBy().limit()`` — Spark
    plans TakeOrderedAndProject (per-partition top-n + bounded merge,
    NO global window over the corpus); the only windows run over the
    ≤ ``candidates``-row lists.  The query vector broadcasts by closure
    into one vectorized Arrow-batch scoring kernel — no join, no
    collect of the corpus.
    """
    q = [float(x) for x in query_vec]
    terms = F.array(*[F.lit(t) for t in query_terms])
    if keyword == "bm25":
        from gather_datawarehouse_sync_spark.operators.terms import bm25_topk

        t_cand = bm25_topk(
            docs, query_terms, k=candidates, id_col=id_col, text_col=text_col
        ).select(F.col(id_col).alias("id"), F.col("score").alias("tf"))
    elif keyword == "tf":
        # the dedup-surface's shared tokenization — keyword retrieval
        # must see the same tokens the dedup/quality operators see
        tf = F.size(
            F.filter(
                ascii_tokens(F.col(text_col)),
                lambda x: F.array_contains(terms, x),
            )
        )
        t_cand = (
            docs.select(F.col(id_col).alias("id"), tf.alias("tf"))
            .filter(F.col("tf") > 0)
            .orderBy(F.col("tf").desc(), "id")
            .limit(candidates)
        )
    else:
        raise ValueError(f"hybrid_rrf_topk: unknown keyword tier {keyword!r}")
    # per-element quantization: floor(vᵢ·qᵢ·10⁶) is one IEEE multiply +
    # one floor per term — exact integers, order-invariant bigint sum
    # (the shared convention, see _floored_micro_terms) — evaluated as
    # one vectorized Arrow-batch kernel against the broadcast-by-closure
    # query vector instead of an interpreted per-row HOF expression;
    # NULL-vector rows are excluded (they could never make the list)
    qv = np.array(q, dtype=np.float64)

    @F.pandas_udf(T.LongType())
    def _qdot(vecs_s: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs_s])
        return pd.Series(_floored_micro_terms(X, qv))

    v_cand = (
        vecs.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_id_col).alias("id"), _qdot(F.col(vec_col)).alias("qd"))
        .orderBy(F.col("qd").desc(), "id")
        .limit(candidates)
    )
    wt = Window.orderBy(F.col("tf").desc(), "id")
    wv = Window.orderBy(F.col("qd").desc(), "id")
    rt = t_cand.select("id", F.row_number().over(wt).alias("rt"))
    rv = v_cand.select("id", F.row_number().over(wv).alias("rv"))

    def _rrf(rank_col: str) -> Column:
        d = F.lit(rrf_k) + F.col(rank_col)
        num = F.lit(1_000_000)
        return F.when(
            F.col(rank_col).isNotNull(),
            ((num - F.pmod(num, d)) / d).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    fused = (
        rt.join(rv, "id", "full_outer")
        .select(
            "id",
            (_rrf("rt") + _rrf("rv")).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "id")
        .limit(k)
    )
    return fused.select(F.col("id").alias(id_col), "rrf_score")
