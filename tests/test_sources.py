"""Source/sink connector tests (S1-S11) against tmpdir trees and an
in-memory fake transport."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from gather_datawarehouse_sync_spark.sources.filescan import scan_files
from gather_datawarehouse_sync_spark.sources.rest import (
    PROJECT_SCHEMA,
    fetch_paginated,
    foreach_partition_writer,
)


@pytest.fixture()
def tree(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "b").mkdir()
    files = {
        "a/one.shp": b"content-one",
        "a/b/two.SHP": b"content-two",  # case-insensitive admit (ref :34)
        "a/skip.txt": b"nope",
        "three.shp": b"content-one",  # duplicate bytes of one.shp
    }
    for rel, data in files.items():
        (tmp_path / rel).write_bytes(data)
    return str(tmp_path), files


def test_scan_files_inventory(spark, tree):
    root, files = tree
    rows = {r["file"]: r for r in scan_files(spark, root).collect()}
    # only *.shp admitted, relative paths, recursive
    assert set(rows) == {"a/one.shp", "a/b/two.SHP", "three.shp"}
    one = rows["a/one.shp"]
    assert one["md5"] == hashlib.md5(b"content-one").hexdigest()
    assert one["size"] == len(b"content-one")
    # duplicate content ⇒ same md5, distinct surrogate ino
    assert rows["three.shp"]["md5"] == one["md5"]
    assert rows["three.shp"]["ino"] != one["ino"]


def test_scan_files_streaming_plan_builds(spark, tree):
    from gather_datawarehouse_sync_spark.sources.filescan import scan_files_stream

    root, _ = tree
    sdf = scan_files_stream(spark, root)
    assert sdf.isStreaming
    assert set(sdf.columns) == {"file", "md5", "size", "ino"}


def test_fetch_paginated_coerces_ids(spark):
    pages = [
        [{"id": str(i), "metadata": None, "archived": False} for i in range(2)],
        [{"id": "7", "metadata": {"iam": "x", "file": None}, "archived": True}],
    ]

    def transport(method, path, body):
        assert method == "GET"
        page = int(path.split("page=")[1].split("&")[0])
        return pages[page] if page < len(pages) else []

    df = fetch_paginated(spark, transport, "/projects", PROJECT_SCHEMA, page_size=2)
    rows = {r["id"]: r for r in df.collect()}
    # stringly ids coerced once at the boundary (ref parseInt at :158 et al.)
    assert set(rows) == {0, 1, 7}
    assert rows[7]["metadata"]["iam"] == "x"


def test_fetch_paginated_empty(spark):
    df = fetch_paginated(spark, lambda *a: [], "/projects", PROJECT_SCHEMA)
    assert df.count() == 0 and df.schema == PROJECT_SCHEMA


def test_fetch_paginated_is_a_local_table_scan(spark):
    """The fetched rows reach the JVM as one Arrow table: every scan is a
    JVM-local LocalTableScan, never a Python-worker ``Scan ExistingRDD``,
    and the schema (non-nullable ``id`` included) is kept."""
    pages = [[{"id": str(i), "metadata": None, "archived": False} for i in range(3)]]

    def transport(method, path, body):
        page = int(path.split("page=")[1].split("&")[0])
        return pages[page] if page < len(pages) else []

    df = fetch_paginated(spark, transport, "/projects", PROJECT_SCHEMA)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.schema == PROJECT_SCHEMA


def test_foreach_partition_writer_bounded_sink(spark, tmp_path):
    log = tmp_path / "calls.jsonl"
    df = spark.createDataFrame([(i, f"f{i}") for i in range(20)], "id long, file string")

    log_path = str(log)

    def transport_factory():
        def transport(method, path, body):
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"m": method, "p": path, "b": body}) + "\n")

        return transport

    foreach_partition_writer(
        df.repartition(4),
        lambda row: ("POST", "/projects", {"id": row["id"]}, f"idem-{row['id']}"),
        transport_factory,
        max_in_flight=2,
    )
    calls = [json.loads(l) for l in log.read_text().splitlines()]
    # every row written exactly once, idempotency key attached
    assert len(calls) == 20
    assert {c["b"]["id"] for c in calls} == set(range(20))
    assert all("idempotency_key=idem-" in c["p"] for c in calls)


def test_foreach_partition_writer_retries_then_fails(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id long")
    attempts = tmp_path / "attempts.log"
    attempts_path = str(attempts)

    def transport_factory():
        def transport(method, path, body):
            with open(attempts_path, "a") as fh:
                fh.write("x\n")
            raise RuntimeError("boom")

        return transport

    with pytest.raises(Exception, match="sink write failed"):
        foreach_partition_writer(
            df.coalesce(1),
            lambda row: ("POST", "/p", {}, "k"),
            transport_factory,
            max_retries=3,
        )
    assert attempts.read_text().count("x") == 3


# ---------------------------------------------------------------------------
# S12: SQL sink (df.write.jdbc) — Derby embedded round-trip
# ---------------------------------------------------------------------------


def test_jdbc_sink_round_trip(spark, tmp_path):
    """S12 (`src/DataWarehouse.js:744-755`, `_toSql`): the category
    dimension lands in a SQL table via the JDBC writer and reads back
    byte-identical.  Derby embedded is the in-process target (it ships
    on Spark's own classpath); the writer code is database-agnostic."""
    from gather_datawarehouse_sync_spark.operators.hierarchy import path_categories
    from gather_datawarehouse_sync_spark.sources.jdbc import (
        category_insert_rows,
        read_jdbc,
        write_jdbc,
    )

    files = spark.createDataFrame(
        [("proj/maps/one.shp",), ("proj/maps/two.shp",), ("proj/other/x.shp",)],
        "file string",
    )
    rows = category_insert_rows(path_categories(files))
    url = f"jdbc:derby:{tmp_path}/s12db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    write_jdbc(rows, url, "categories", mode="append", properties=props, num_partitions=1)
    back = read_jdbc(spark, url, "categories", properties=props)
    assert set(back.columns) == {"type", "name", "metadata", "shortName"}
    want = {tuple(r) for r in rows.collect()}
    got = {tuple(r) for r in back.collect()}
    # filenames are dropped: files/proj, files/proj/maps, files/proj/other
    assert got == want and len(got) == 3
    meta = json.loads(next(iter(got))[2])
    assert meta == {"iam": "gatherbot", "selectable": False, "editable": False}


def test_jdbc_merge_upsert_idempotent_converges(spark, tmp_path):
    """S9 update-by-key semantics (`src/DataWarehouse.js:294-309`) against
    a real SQL store: stage-then-MERGE upsert.  Re-applying the same
    batch is a no-op (idempotent), a changed batch updates in place, and
    unknown keys insert — the three MERGE behaviours the reference's
    PUT-per-project loop implements row-at-a-time."""
    from gather_datawarehouse_sync_spark.sources.jdbc import (
        merge_jdbc,
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/mergedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    base = spark.createDataFrame(
        [(1, "alpha", "a.shp"), (2, "beta", "b.shp")],
        "id int, iam string, file string",
    )
    write_jdbc(base, url, "projects", mode="append", properties=props, num_partitions=1)

    def snapshot():
        return {
            r["id"]: (r["iam"], r["file"])
            for r in read_jdbc(spark, url, "projects", properties=props).collect()
        }

    batch = spark.createDataFrame(
        [(2, "beta-v2", "b2.shp"), (3, "gamma", "c.shp")],
        "id int, iam string, file string",
    )
    merge_jdbc(batch, url, "projects", ("id",), properties=props, num_partitions=1)
    want = {1: ("alpha", "a.shp"), 2: ("beta-v2", "b2.shp"), 3: ("gamma", "c.shp")}
    assert snapshot() == want

    # idempotent re-apply: exact same batch, exact same converged state
    merge_jdbc(batch, url, "projects", ("id",), properties=props, num_partitions=1)
    assert snapshot() == want


# ---------------------------------------------------------------------------
# delimited/JSONL ingestion (sources/textfiles.py)
# ---------------------------------------------------------------------------


def test_read_jsonl_quarantines_corrupt_rows(spark, tmp_path):
    from gather_datawarehouse_sync_spark.sources.textfiles import (
        read_jsonl,
        split_corrupt,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "notanint", "text": "gamma"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id BIGINT, text STRING")
    clean, bad = split_corrupt(df)
    rows = {tuple(r) for r in clean.collect()}
    assert rows == {(1, "alpha"), (2, "beta")}
    assert "_corrupt_record" not in clean.columns
    raws = [r.raw for r in bad.collect()]
    assert len(raws) == 2 and "this is not json" in raws


def test_read_csv_schema_and_corrupt(spark, tmp_path):
    from gather_datawarehouse_sync_spark.sources.textfiles import (
        read_csv,
        split_corrupt,
    )

    p = tmp_path / "t.csv"
    p.write_text("id,price\n1,9.5\n2,notaprice\n3,1.25\n")
    df = read_csv(spark, str(p), "id BIGINT, price DOUBLE")
    clean, bad = split_corrupt(df)
    assert {tuple(r) for r in clean.collect()} == {(1, 9.5), (3, 1.25)}
    assert bad.count() == 1


def test_read_parquet_evolved_merges_added_column(spark, tmp_path):
    from gather_datawarehouse_sync_spark.sources.textfiles import (
        read_parquet_evolved,
    )

    old = str(tmp_path / "v1")
    new = str(tmp_path / "v2")
    spark.createDataFrame([(1, "a")], "id BIGINT, name STRING").write.parquet(old)
    spark.createDataFrame(
        [(2, "b", "en")], "id BIGINT, name STRING, lang STRING"
    ).write.parquet(new)
    df = read_parquet_evolved(spark, old, new)
    rows = {tuple(r) for r in df.select("id", "name", "lang").collect()}
    assert rows == {(1, "a", None), (2, "b", "en")}


def test_compact_files_reduces_file_count(spark, tmp_path):
    from gather_datawarehouse_sync_spark.sources.layout import compact_files

    path = str(tmp_path / "accreted")
    # simulate a streaming sink's accretion: 16 tiny appends
    for i in range(16):
        spark.createDataFrame(
            [(i * 10 + j, f"v{i}-{j}") for j in range(10)], "id BIGINT, v STRING"
        ).write.mode("append").parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 16
    n = compact_files(spark, path, target_file_bytes=1 << 30)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert n == 1 and after == 1
    df = spark.read.parquet(path)
    assert df.count() == 160
    assert {tuple(r) for r in df.filter("id < 3").collect()} == {
        (0, "v0-0"), (1, "v0-1"), (2, "v0-2"),
    }

    # a stale .old corpse beside a COMPLETE live table (crash between
    # the final rename and the sweep) is swept by the pre-flight, not a
    # repeated full-rewrite-then-ENOTEMPTY failure
    import os

    os.makedirs(path + ".old")
    open(os.path.join(path + ".old", "leftover"), "w").close()
    assert compact_files(spark, path, target_file_bytes=1 << 30) == 1
    assert not os.path.exists(path + ".old")
    assert spark.read.parquet(path).count() == 160
    # .old beside an INCOMPLETE live table is the parked crash state:
    # refuse with recovery guidance rather than destroy either copy
    import pytest as _pytest
    import shutil as _shutil

    _shutil.copytree(path, path + ".old")
    os.remove(os.path.join(path, "_SUCCESS"))
    with _pytest.raises(ValueError, match="renaming"):
        compact_files(spark, path, target_file_bytes=1 << 30)
    # recover per the message; compaction works again
    _shutil.rmtree(path)
    os.rename(path + ".old", path)
    assert compact_files(spark, path, target_file_bytes=1 << 30) == 1


def test_compact_files_sorted_restores_clustering(spark, tmp_path):
    from gather_datawarehouse_sync_spark.sources.layout import compact_files

    path = str(tmp_path / "accreted2")
    for i in range(8):
        spark.createDataFrame(
            [((i + 7 * j) % 80, i) for j in range(10)], "k BIGINT, src INT"
        ).write.mode("append").parquet(path)
    n = compact_files(spark, path, target_file_bytes=1, sort_cols=["k"])
    # target_file_bytes=1 forces one file per byte-budget unit: many files,
    # range-partitioned on k so each file owns a disjoint k range
    import pyarrow.parquet as pq
    import glob

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.read_metadata(f)
        if md.num_rows == 0:
            continue
        col = md.row_group(0).column(0).statistics
        ranges.append((col.min, col.max))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "range-compacted files must own disjoint key ranges"
    assert spark.read.parquet(path).count() == 80


def test_backfill_partitions_touches_only_incoming(spark, tmp_path):
    """Dynamic partition overwrite: re-writing one partition's data must
    leave the others byte-identical (static mode would wipe the root),
    and the rewritten partition must fully replace its old content."""
    from gather_datawarehouse_sync_spark.sources.layout import (
        backfill_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(d, i, f"v{d}{i}") for d in ("d1", "d2", "d3") for i in range(4)],
        "day string, k int, v string",
    )
    write_partitioned(base, path, ["day"])

    fix = spark.createDataFrame(
        [("d2", 99, "fixed")], "day string, k int, v string"
    )
    backfill_partitions(fix, path, ["day"])

    out = spark.read.parquet(path)
    # d2 fully replaced (old 4 rows gone), d1/d3 untouched
    assert out.filter("day = 'd2'").count() == 1
    assert out.filter("day = 'd2' AND v = 'fixed'").count() == 1
    assert out.filter("day = 'd1'").count() == 4
    assert out.filter("day = 'd3'").count() == 4
    assert out.count() == 9


def test_export_jsonl_shards_roundtrip_and_manifest(spark, sf_dir, tmp_path):
    """The delivery handshake end-to-end: export writes rank-packed
    shard=<n> JSONL dirs plus a _manifest; reading the files back and
    re-deriving the manifest FROM THE FILES reproduces it exactly
    (count and content hash per shard); every shard but the last holds
    exactly docs_per_shard docs; the whole corpus round-trips."""
    from gather_datawarehouse_sync_spark.sources.textfiles import (
        export_jsonl_shards,
        shard_manifest,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    path = str(tmp_path / "delivery")
    manifest = export_jsonl_shards(docs, path, 64, payload_cols=["doc_id", "text"])
    rows = {r["shard"]: (r["n_rows"], r["content_hash"]) for r in manifest.collect()}
    assert sum(s for s, _ in rows.values()) == n
    full, last = [s for s, _ in rows.values() if s == 64], [
        s for s, _ in rows.values() if s != 64
    ]
    assert len(last) <= 1 and len(full) == n // 64

    back = spark.read.json(f"{path}/shard=*/")
    assert back.count() == n
    assert sorted(
        map(tuple, back.select("doc_id", "text").collect())
    ) == sorted(map(tuple, docs.collect()))

    # verify the delivery the way a RECEIVER does: recompute the
    # manifest from the read-back files and diff against the shipped one
    rederived = {
        r["shard"]: (r["n_rows"], r["content_hash"])
        for r in shard_manifest(
            back.select("doc_id", "text"), 64, payload_cols=["doc_id", "text"]
        ).collect()
    }
    assert rederived == rows

    # tamper detection: drop one row → that shard's count AND hash move
    from pyspark.sql import functions as F

    tampered = shard_manifest(
        back.filter(F.col("doc_id") != back.select("doc_id").first()[0]),
        64,
        payload_cols=["doc_id", "text"],
    )
    t = {r["shard"]: (r["n_rows"], r["content_hash"]) for r in tampered.collect()}
    assert t != rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="docs_per_shard"):
        shard_manifest(docs, 0)


# ---------------------------------------------------------------------------
# two-process CAS race (r13 verdict item 6): the lock-file
# compare-and-swap must hold under REAL concurrent processes, not just
# interleaved in-process writers
# ---------------------------------------------------------------------------


def _cas_increment_worker(root: str, iters: int) -> None:
    """Spin a CAS counter: read pointer 'v<N>', commit 'v<N+1>' expected
    'v<N>'; a lost race re-reads and retries.  Module-level so
    multiprocessing can import it in the child."""
    import time as _time

    from gather_datawarehouse_sync_spark.sources import artifacts as A

    done = 0
    while done < iters:
        cur = A.read_version_pointer(root, default="v0")
        try:
            A.swap_version_pointer(root, f"v{int(cur[1:]) + 1}", expected=cur)
            done += 1
        except A.VersionConflictError:
            _time.sleep(0.001)  # contention or moved pointer: re-read


def test_swap_version_pointer_two_process_cas(tmp_path):
    """Mutual exclusion under real concurrent PROCESSES (the in-process
    interleaving test in test_streaming pins the protocol; this pins the
    file-lock semantics the protocol rides on): two workers each commit
    100 CAS increments against one chain — any lost update (two writers
    both succeeding against the same expected value) would leave the
    final counter below 200."""
    import multiprocessing as mp
    import os

    root = str(tmp_path / "cas_chain")
    os.makedirs(root)
    from gather_datawarehouse_sync_spark.sources import artifacts as A

    iters = 100
    ctx = mp.get_context("fork")  # cheap on linux; no JVM use in children
    workers = [
        ctx.Process(target=_cas_increment_worker, args=(root, iters))
        for _ in range(2)
    ]
    for w in workers:
        w.start()
    for w in workers:
        w.join(timeout=120)
        assert w.exitcode == 0
    assert A.read_version_pointer(root) == f"v{2 * iters}"
    # the lock never leaks on the success path
    assert not os.path.exists(os.path.join(root, "_cdc_current.__lock__"))


def test_fetch_paginated_survives_server_clamped_pages(spark):
    """r16 review find: termination on len(batch) < page_size silently
    truncated the dataset when the server clamps the requested limit (a
    common API policy).  Termination is now the EMPTY page: a server
    returning short-but-nonempty pages yields every row."""
    pages = [
        [{"id": str(i), "metadata": None, "archived": False}] for i in range(5)
    ]  # server clamps every page to 1 row despite page_size=1000

    def transport(method, path, body):
        page = int(path.split("page=")[1].split("&")[0])
        return pages[page] if page < len(pages) else []

    df = fetch_paginated(spark, transport, "/projects", PROJECT_SCHEMA, page_size=1000)
    assert {r["id"] for r in df.collect()} == set(range(5))


def test_foreach_partition_writer_idempotency_is_query_param(spark, tmp_path):
    """r16 review find: the idempotency key rode in a URL FRAGMENT,
    which real HTTP clients strip before the request leaves the machine
    (RFC 3986) — the retried write was not actually idempotent
    server-side.  Now a query parameter, appending with & when the path
    already carries a query string."""
    log = tmp_path / "calls.jsonl"
    df = spark.createDataFrame([(1,), (2,)], "id long")
    log_path = str(log)

    def transport_factory():
        def transport(method, path, body):
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"p": path}) + "\n")

        return transport

    foreach_partition_writer(
        df.coalesce(1),
        lambda row: ("POST", f"/projects?v={row['id']}", {}, f"k{row['id']}"),
        transport_factory,
    )
    paths = [json.loads(l)["p"] for l in log.read_text().splitlines()]
    assert sorted(paths) == ["/projects?v=1&idempotency_key=k1",
                             "/projects?v=2&idempotency_key=k2"]
    assert not any("#" in p for p in paths)


def test_jdbc_merge_drops_staging_on_failure_and_rejects_bad_names(
    spark, tmp_path
):
    """r16 review finds: a failed MERGE (duplicate-key source rows, the
    documented precondition violation) must still drop the staging
    table — the leak the docstring promises to prevent; and table names
    are validated before interpolation into the statement."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.sources.jdbc import (
        merge_jdbc,
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/dropdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    base = spark.createDataFrame([(1, "a")], "id int, v string")
    write_jdbc(base, url, "t1", mode="append", properties=props, num_partitions=1)
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "id int, v string")
    with _pytest.raises(Exception):
        merge_jdbc(dup, url, "t1", ("id",), properties=props, num_partitions=1)
    # staging gone: reading it must fail, while the target still reads
    with _pytest.raises(Exception):
        read_jdbc(spark, url, "t1_staging", properties=props).collect()
    assert read_jdbc(spark, url, "t1", properties=props).count() == 1

    with _pytest.raises(ValueError, match="invalid table identifier"):
        merge_jdbc(base, url, "t1; DROP TABLE t1", ("id",), properties=props)
    with _pytest.raises(ValueError, match="invalid table identifier"):
        merge_jdbc(
            base, url, "t1", ("id",),
            staging_table='x"y', properties=props,
        )


def test_metadata_caches_bounded_and_invalidated(spark, tmp_path):
    """r19 cache hygiene: the metadata caches stay bounded under key
    churn, dead-application memo entries evict on miss, a schema-cache
    miss flushes the spread partition-count cache, and a regular-FILE
    path never enters the read-schema cache (its walk fingerprint was
    content-independent)."""
    from pyspark.sql import functions as F

    from gather_datawarehouse_sync_spark import session as S
    from gather_datawarehouse_sync_spark.functions import text as TX
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        _dir_fingerprint,
    )

    app = spark.sparkContext.applicationId

    # column memo: a miss evicts past the size cap instead of growing
    TX._COLUMN_MEMO.clear()
    for i in range(TX._COLUMN_MEMO_MAX + 5):
        TX._COLUMN_MEMO[(app, "fake", f"expr{i}", ())] = object()
    TX.quality_score_bp(F.lit("cache-probe"))
    assert len(TX._COLUMN_MEMO) <= TX._COLUMN_MEMO_MAX + 1
    # dead-application entries evict on the next miss
    TX._COLUMN_MEMO[("dead-app", "fake", "x", ())] = object()
    TX.quality_score_bp(F.lit("cache-probe-2"))
    assert all(k[0] == app for k in TX._COLUMN_MEMO)

    # spread cache: flushed by the schema-change signal
    S._SPREAD_NPART_CACHE[(app, 12345)] = 7
    S._invalidate_spread_cache()
    assert not S._SPREAD_NPART_CACHE

    # schema cache: bounded under key churn (simulate the cap boundary)
    S._SCHEMA_CACHE.clear()
    for i in range(S._SCHEMA_CACHE_MAX):
        S._SCHEMA_CACHE[(f"/fake/{i}", i, i)] = None
    import pyarrow as pa
    import pyarrow.parquet as pq

    # load_table only caches single-FILE tables — write one directly
    pq.write_table(
        pa.table({"id": [1, 2, 3]}), str(tmp_path / "t.parquet")
    )
    S.load_table(spark, str(tmp_path), "t")  # miss at the cap -> clear
    assert len(S._SCHEMA_CACHE) <= 1

    # regular-file paths skip the read-schema fingerprint entirely
    f = tmp_path / "plain.parquet"
    f.write_bytes(b"not really parquet")
    assert _dir_fingerprint(str(f)) is None
    assert _dir_fingerprint(str(tmp_path)) is not None


def test_column_memo_evicts_least_recently_used(spark, monkeypatch):
    """At its cap the column memo drops the least-recently-used build,
    so a hot key survives a churn of one-off keys (a wholesale clear at
    the cap would rebuild it after every clear)."""
    from pyspark.sql import functions as F

    from gather_datawarehouse_sync_spark.functions import text as TX

    monkeypatch.setattr(TX, "_COLUMN_MEMO", type(TX._COLUMN_MEMO)())
    monkeypatch.setattr(TX, "_COLUMN_MEMO_MAX", 4)
    builds: list[str] = []

    def memo(key: str):
        def build():
            builds.append(key)
            return key

        return TX._memo_column("probe", F.lit(key), (), build)

    memo("hot")
    for i in range(20):
        memo(f"cold{i}")
        memo("hot")
    assert builds.count("hot") == 1
    assert len(TX._COLUMN_MEMO) == 4
