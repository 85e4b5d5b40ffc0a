"""Streaming surface tests: run each streaming operator over a file
source with Trigger.AvailableNow and cross-check against its batch
equivalent on the same data (the streaming/batch parity contract)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.streaming import (
    session_counts,
    sliding_counts,
    snapshot_inventory,
    stateful_running_totals,
    streaming_dedup,
    tumbling_counts,
)

_SCHEMA = "event_id long, user_id string, ts timestamp, value double"


_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
#: everything at/after this instant is watermark ballast, not data
_SENTINEL_CUTOFF = _T0 + dt.timedelta(days=5)


def _event_rows():
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                f"u{i % 3}",
                _T0 + dt.timedelta(minutes=7 * i),
                float(i),
            )
        )
    # one exact duplicate event id (late copy)
    rows.append((5, "u2", _T0 + dt.timedelta(minutes=35), 5.0))
    # sentinel events far in the future: in append mode a window is only
    # emitted once the watermark passes it, so these push the watermark
    # beyond every real window (their own windows stay open and are
    # excluded from comparisons by _SENTINEL_CUTOFF)
    for u in range(3):
        rows.append((1000 + u, f"u{u}", _T0 + dt.timedelta(days=10), 0.0))
    return rows


@pytest.fixture(scope="module")
def event_source(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("events_src")
    batch = spark.createDataFrame(_event_rows(), _SCHEMA)
    batch.coalesce(2).write.parquet(str(src / "part1"))
    return str(src), batch


def _run_stream(spark, tmp_path, stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _read_stream(spark, path):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def _finalized(df):
    return df.filter(F.col(df.columns[0]) < F.lit(_SENTINEL_CUTOFF))


def test_tumbling_counts_stream_matches_batch(spark, event_source, tmp_path):
    path, batch = event_source
    stream = tumbling_counts(_read_stream(spark, path), width="1 hour")
    got = _finalized(_run_stream(spark, tmp_path, stream, "t_tumble", "append"))
    want = _finalized(tumbling_counts(batch, width="1 hour"))
    assert sorted((r["window_start"], r["c"]) for r in got.collect()) == sorted(
        (r["window_start"], r["c"]) for r in want.collect()
    )
    assert got.count() > 0


def test_sliding_counts_stream_matches_batch(spark, event_source, tmp_path):
    path, batch = event_source
    got = _finalized(
        _run_stream(
            spark,
            tmp_path,
            sliding_counts(_read_stream(spark, path)),
            "t_slide",
            "append",
        )
    )
    want = _finalized(sliding_counts(batch))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_session_counts_stream_matches_batch(spark, event_source, tmp_path):
    path, batch = event_source
    # events are 7 min apart per stream but 21 min apart per *user*, so a
    # 25-minute gap merges them per user; use the per-user cadence
    def finalized_sessions(df):
        return df.filter(F.col("session_start") < F.lit(_SENTINEL_CUTOFF))

    got = finalized_sessions(
        _run_stream(
            spark,
            tmp_path,
            session_counts(_read_stream(spark, path), gap="25 minutes"),
            "t_sess",
            "append",
        )
    )
    want = finalized_sessions(session_counts(batch, gap="25 minutes"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # sanity: finalized sessions cover every non-sentinel event exactly once
    n_real = batch.filter(F.col("ts") < F.lit(_SENTINEL_CUTOFF)).count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_real


def test_streaming_dedup_drops_late_duplicate(spark, event_source, tmp_path):
    path, batch = event_source
    got = _run_stream(
        spark,
        tmp_path,
        streaming_dedup(_read_stream(spark, path), keys=("event_id",)),
        "t_dedup",
        "append",
    )
    assert got.count() == batch.dropDuplicates(["event_id"]).count()
    assert got.filter(F.col("event_id") == 5).count() == 1


def test_stateful_running_totals_stream(spark, event_source, tmp_path):
    path, batch = event_source
    got = _run_stream(
        spark,
        tmp_path,
        stateful_running_totals(_read_stream(spark, path)),
        "t_state",
        "update",
    )
    # final state per key (one batch → one emission per key)
    final = {r["user_id"]: (r["n"], r["total"]) for r in got.collect()}
    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in stateful_running_totals(batch).collect()
    }
    assert final == want


def test_continuous_inventory_idle_stop(spark, tmp_path):
    from gather_datawarehouse_sync_spark.streaming import start_inventory_stream

    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "first.shp").write_bytes(b"one")
    seen: list[str] = []

    q = start_inventory_stream(
        spark,
        str(watch),
        str(tmp_path / "ckpt_cont"),
        on_batch=lambda df, bid: seen.extend(r["file"] for r in df.collect()),
        interval="500 milliseconds",
        idle_timeout_s=4.0,
    )
    # the idle latch (T1) must stop the query by itself once quiescent
    q.awaitTermination(60)
    assert not q.isActive
    assert seen == ["first.shp"]


def test_debounce_latch_burst_then_quiet(spark, tmp_path):
    """T1 latch parity with ``_checkIdle`` (`src/DataWarehouse.js:639-659`):
    events arriving inside the idle window keep resetting the timer (the
    query must survive the whole burst), and once the directory goes
    quiet the latch fires the 'idle' handover EXACTLY once, after which
    every burst file has been observed."""
    import time as _time

    from gather_datawarehouse_sync_spark.streaming import start_inventory_stream

    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "f0.shp").write_bytes(b"zero")
    seen: list[str] = []
    idle_fired: list[float] = []

    idle_timeout = 5.0
    q = start_inventory_stream(
        spark,
        str(watch),
        str(tmp_path / "ckpt_burst"),
        on_batch=lambda df, bid: seen.extend(r["file"] for r in df.collect()),
        interval="250 milliseconds",
        idle_timeout_s=idle_timeout,
        on_idle=lambda: idle_fired.append(_time.monotonic()),
    )
    # burst: three more files, each inside the idle window of the last —
    # the reference resets its debounce timer on every event, so the
    # stream must still be active after each write
    last_write = _time.monotonic()
    for i in range(1, 4):
        _time.sleep(1.5)
        assert q.isActive, f"latch fired mid-burst (before write {i})"
        (watch / f"f{i}.shp").write_bytes(b"x" * i)
        last_write = _time.monotonic()
    # quiet: the latch must now fire on its own
    q.awaitTermination(120)
    assert not q.isActive
    assert len(idle_fired) == 1, "idle handover must be one-shot"
    # fired only after a FULL quiet window since the last event (the
    # data batch for the last write lands at/after the write itself)
    assert idle_fired[0] - last_write >= idle_timeout - 0.5
    assert sorted(seen) == ["f0.shp", "f1.shp", "f2.shp", "f3.shp"]


def test_snapshot_inventory(spark, tmp_path):
    (tmp_path / "w").mkdir()
    (tmp_path / "w" / "a.shp").write_bytes(b"alpha")
    (tmp_path / "w" / "b.txt").write_bytes(b"skip")
    inv = snapshot_inventory(
        spark, str(tmp_path / "w"), str(tmp_path / "ckpt_inv"), table="t_inv"
    )
    rows = inv.collect()
    assert [r["file"] for r in rows] == ["a.shp"]
    assert rows[0]["size"] == 5


def test_interval_join_stream_matches_batch(spark, event_source, tmp_path):
    from gather_datawarehouse_sync_spark.streaming import interval_join

    src, batch = event_source
    left_b = batch.filter(F.col("event_id") % 2 == 0)
    right_b = batch.filter(F.col("event_id") % 2 == 1)

    def realized(df):
        rows = df.filter(
            (F.col("ts") < F.lit(_SENTINEL_CUTOFF))
            & (F.col("r_ts") < F.lit(_SENTINEL_CUTOFF))
        ).collect()
        return sorted((r["event_id"], r["r_event_id"]) for r in rows)

    expected = realized(interval_join(left_b, right_b, "user_id", "ts", "ts"))
    assert expected  # fixture must actually produce attribution pairs

    ls = _read_stream(spark, src).filter(F.col("event_id") % 2 == 0)
    rs = _read_stream(spark, src).filter(F.col("event_id") % 2 == 1)
    out = _run_stream(
        spark, tmp_path, interval_join(ls, rs, "user_id", "ts", "ts"), "ij"
    )
    assert realized(out) == expected


def test_epoch_sink_exactly_once_under_replay(spark, event_source, tmp_path):
    from gather_datawarehouse_sync_spark.streaming.sink import (
        epoch_parquet_sink,
        write_stream_exactly_once,
    )

    src, batch = event_source
    out = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt_eos")

    q = write_stream_exactly_once(_read_stream(spark, src), out, ckpt)
    q.awaitTermination()
    total = batch.count()
    assert spark.read.parquet(out).count() == total

    # crash-replay of an already-written epoch must be a no-op, not an
    # append: deliver epoch 0's data again under the same epoch id
    epoch_parquet_sink(out)(batch.limit(5), 0)
    epoch_parquet_sink(out)(batch.limit(5), 0)
    lake = spark.read.parquet(out)
    assert lake.filter(F.col("epoch") == 0).count() == 5

    # restarting the drained stream discovers nothing new: no new epochs
    epochs_before = {r["epoch"] for r in lake.select("epoch").distinct().collect()}
    q2 = write_stream_exactly_once(_read_stream(spark, src), out, ckpt)
    q2.awaitTermination()
    epochs_after = {
        r["epoch"]
        for r in spark.read.parquet(out).select("epoch").distinct().collect()
    }
    assert epochs_after == epochs_before


def test_classifier_gate_composes_with_streaming(spark, tmp_path):
    """Extension ops are plain column expressions, so they run unchanged
    inside Structured Streaming: classifier gate over a file stream ==
    the batch result on the same files (stateless projection — no
    watermark needed)."""
    from gather_datawarehouse_sync_spark.functions.classify import (
        classify_documents,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    batch = spark.createDataFrame(
        [(i, "table sort merge" if i % 3 == 0 else "the a slow") for i in range(30)],
        "doc_id long, text string",
    )
    batch.coalesce(2).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    got = _run_stream(
        spark,
        tmp_path,
        classify_documents(stream, keep_threshold_milli=150),
        "t_classify",
        "append",
    )
    want = classify_documents(batch, keep_threshold_milli=150)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.filter(F.col("keep")).count() == 10


def test_incremental_dedup_stream_matches_batch(spark, tmp_path, sf_dir):
    """foreachBatch incremental dedup: the streamed verdicts equal the
    batch operator's on the same files (per-batch semantics by
    construction), and the epoch sink makes replays idempotent."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        minhash_dedup_against,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")

    src = tmp_path / "new_src"
    new.coalesce(2).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "verdicts")
    q = start_incremental_dedup(
        stream, ref, out, str(tmp_path / "ckpt_inc"), threshold=0.5
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("doc_id", "ref_match", "est_jaccard")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            minhash_dedup_against(new, ref, threshold=0.5).collect(),
        )
    )
    assert got == want and got, "expected non-empty verdicts"


def test_incremental_dedup_stream_serves_stored_sketch(spark, tmp_path, sf_dir):
    """Streaming incremental dedup against a STORED signature artifact:
    the reference text is never read by the stream — verdicts still
    equal the batch recompute on the same files."""
    from gather_datawarehouse_sync_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_signatures,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    sketch = cached_parquet(
        spark,
        str(tmp_path / "ref_sketch"),
        lambda: minhash_signatures(ref),
    )

    src = tmp_path / "new_src2"
    new.coalesce(2).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "verdicts2")
    q = start_incremental_dedup(
        stream,
        None,
        out,
        str(tmp_path / "ckpt_inc2"),
        threshold=0.5,
        reference_signatures=sketch,
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("doc_id", "ref_match", "est_jaccard")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, minhash_dedup_against(new, ref, threshold=0.5).collect())
    )
    assert got == want and got, "expected non-empty verdicts"


def test_quality_monitor_stream_matches_batch_drift(spark, tmp_path, sf_dir):
    """Streaming drift monitor: per-batch reports against the stored
    reference histogram equal the batch operator on the same files."""
    from gather_datawarehouse_sync_spark.functions.text import quality_score_bp
    from gather_datawarehouse_sync_spark.operators.profile import (
        drift_against_profile,
        score_histogram,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet
    from gather_datawarehouse_sync_spark.streaming.monitor import (
        start_quality_monitor,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    hist = cached_parquet(
        spark,
        str(tmp_path / "ref_hist"),
        lambda: score_histogram(
            ref.select(quality_score_bp(F.col("text")).alias("q")), "q", 500
        ),
    )

    src = tmp_path / "mon_src"
    new.coalesce(1).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "drift_out")
    q = start_quality_monitor(
        stream,
        hist,
        quality_score_bp(F.col("text")),
        out,
        str(tmp_path / "ckpt_mon"),
        bin_width=500,
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("bin", "ref_n", "new_n", "ref_share_bp", "new_share_bp", "delta_bp")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            drift_against_profile(
                hist,
                new.select(quality_score_bp(F.col("text")).alias("q")),
                "q",
                500,
            ).collect(),
        )
    )
    assert got == want and got, "expected non-empty drift report"


def test_incremental_span_dedup_stream_matches_batch(spark, tmp_path, sf_dir):
    """foreachBatch span dedup against a STORED gram-key artifact: the
    streamed span verdicts equal the batch operator's on the same files
    (per-batch semantics by construction), the reference text is never
    read by the stream, and a bad setup fails at stream START."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.dedup import (
        duplicate_spans_against,
        reference_gram_keys,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_span_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    keys = cached_parquet(
        spark,
        str(tmp_path / "ref_gram_keys"),
        lambda: reference_gram_keys(ref, n=8),
    )

    src = tmp_path / "span_src"
    new.coalesce(2).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "span_verdicts")
    q = start_incremental_span_dedup(
        stream, None, out, str(tmp_path / "ckpt_spans"), n=8,
        reference_keys=keys,
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("doc_id", "span_start", "span_end", "span_tokens")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duplicate_spans_against(new, n=8, reference_keys=keys).collect(),
        )
    )
    assert got == want and got, "expected non-empty span verdicts"
    # setup errors surface at stream start, not inside the first batch
    with pytest.raises(ValueError, match="not both"):
        start_incremental_span_dedup(
            stream, ref, out, str(tmp_path / "ckpt_bad"), reference_keys=keys
        )
    with pytest.raises(ValueError, match="not both"):
        start_incremental_span_dedup(
            stream, None, out, str(tmp_path / "ckpt_bad2")
        )


def test_incremental_boilerplate_stream_matches_batch(spark, tmp_path, sf_dir):
    """foreachBatch boilerplate removal against a STORED frequent-unit
    artifact: streamed cleaned text equals the batch operator's on the
    same files, and a missing set fails at stream START (batch-local
    thresholds are deliberately not accepted)."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.dedup import (
        frequent_units,
        remove_frequent_units,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_boilerplate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    stored = cached_parquet(
        spark,
        str(tmp_path / "frequent_units"),
        lambda: frequent_units(ref, min_doc_frac_bp=7800),
    )

    src = tmp_path / "bp_src"
    new.coalesce(2).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "bp_clean")
    q = start_incremental_boilerplate(
        stream, stored, out, str(tmp_path / "ckpt_bp")
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .select("doc_id", "clean_text", "units_removed", "units_kept")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            remove_frequent_units(new, frequent=stored).collect(),
        )
    )
    assert got == want and got, "expected non-empty cleaned rows"
    assert any(r[2] > 0 for r in got), "expected some boilerplate cut"
    with pytest.raises(ValueError, match="stored frequent_units"):
        start_incremental_boilerplate(
            stream, None, out, str(tmp_path / "ckpt_bp_bad")
        )


def test_incremental_index_append_stream_matches_batch(spark, tmp_path, sf_dir):
    """foreachBatch index maintenance under a pinned quantizer: the
    streamed epoch/cell-partitioned lists hold exactly the batch
    builder's rows for the same vectors, serving IVF×SQ top-k from the
    streamed index equals serving from the batch-built lists, the
    serving scan still prunes on cell, and a bad quantizer fails at
    stream START."""
    import pytest

    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_sq_invert,
        ivf_sq_topk,
        kmeans_centroids,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_index_append,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    C = kmeans_centroids(emb, nlist=4)

    src = tmp_path / "vec_src"
    emb.coalesce(2).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "stream_index")
    q = start_incremental_index_append(
        stream, C, out, str(tmp_path / "ckpt_index")
    )
    q.awaitTermination()

    streamed = spark.read.parquet(out)
    got = sorted(map(tuple, streamed.select(
        "cell", "vec_id", "codes", "scale_micro"
    ).collect()))
    want = sorted(map(tuple, ivf_sq_invert(emb, C).collect()))
    assert got == want and got

    qv = emb.filter(F.col("vec_id") < 5)
    from_stream = sorted(map(tuple, ivf_sq_topk(
        qv, C, streamed.select("cell", "vec_id", "codes", "scale_micro"),
        k=2, nprobe=4,
    ).collect()))
    from_batch = sorted(map(tuple, ivf_sq_topk(
        qv, C, ivf_sq_invert(emb, C), k=2, nprobe=4,
    ).collect()))
    assert from_stream == from_batch and from_stream

    # version bump: fold the drained epochs into the flat per-version
    # artifact (stream-born index: base=None) — the epoch level is
    # gone, rows and served top-k unchanged
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        compact_epoch_artifact,
    )

    flat = compact_epoch_artifact(
        spark, None, out, str(tmp_path / "stream_index_flat_v2")
    )
    assert sorted(map(tuple, flat.select(
        "cell", "vec_id", "codes", "scale_micro"
    ).collect())) == want
    import os

    assert not any(
        d.startswith("epoch=")
        for d in os.listdir(str(tmp_path / "stream_index_flat_v2"))
    )
    from_flat = sorted(map(tuple, ivf_sq_topk(
        qv, C, flat.select("cell", "vec_id", "codes", "scale_micro"),
        k=2, nprobe=4,
    ).collect()))
    assert from_flat == from_batch

    with pytest.raises(ValueError, match="non-empty"):
        start_incremental_index_append(
            stream, [], out, str(tmp_path / "ckpt_bad")
        )


def test_incremental_index_append_ivf_flat_variant(spark, tmp_path, sf_dir):
    """sq=False streams FULL-PRECISION inverted lists (the IVF-flat
    layout) through the same foreachBatch machinery: streamed rows
    equal the batch ivf_invert output for the same vectors."""
    from gather_datawarehouse_sync_spark.operators.similarity import (
        ivf_invert,
        kmeans_centroids,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_index_append,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        .filter(F.col("vec_id") < 20)
    )
    C = kmeans_centroids(emb, nlist=2)
    src = tmp_path / "vec_src_flat"
    emb.coalesce(1).write.parquet(str(src / "p1"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out = str(tmp_path / "stream_index_flat")
    q = start_incremental_index_append(
        stream, C, out, str(tmp_path / "ckpt_flat"), sq=False
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(out).select(
        "cell", "vec_id", "embedding"
    ).collect()))
    want = sorted(map(tuple, ivf_invert(emb, C).collect()))
    assert got == want and got


def test_cdc_apply_stream_matches_batch_and_replays_exactly_once(
    spark, tmp_path
):
    """Streaming CDC apply: draining two change micro-batches through
    start_cdc_apply leaves the pointed-to table version row-identical
    to composing the same batches through the batch merge_table verb
    (upserts then deletes per batch) — and replaying the WHOLE stream
    from a wiped checkpoint changes nothing (every epoch's version
    short-circuits on its _SUCCESS), the exactly-once contract."""
    import os
    import shutil

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        merge_table,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_cdc_apply,
    )

    base_path = str(tmp_path / "table_v0")
    rows = [(i, f"v{i}", ["a", "b"][i % 2]) for i in range(20)]
    cached_parquet(
        spark,
        base_path,
        lambda: spark.createDataFrame(rows, "id long, val string, p string"),
        partition_by=("p",),
    )

    schema = "id long, val string, p string, is_del boolean"
    batch1 = [(0, "patched", "a", False), (100, "fresh", "b", False),
              (1, "v1", "b", True)]
    batch2 = [(0, "moved", "c", False), (2, "v2", "a", True),
              (200, "n", "z", False)]
    src = tmp_path / "cdc_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    # pin epoch order: the file source orders by modification time
    now = 1_700_000_000
    for i, d in enumerate(("b1", "b2")):
        for dirpath, _, names in os.walk(str(src / d)):
            for n in names:
                os.utime(os.path.join(dirpath, n), (now + i, now + i))

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )

    versions = str(tmp_path / "cdc_versions")
    q = start_cdc_apply(
        _stream(), base_path, versions, str(tmp_path / "cdc_ckpt"),
        key_cols=("id",), partition_col="p",
    )
    q.awaitTermination()

    pointer = os.path.join(versions, "_cdc_current")
    final = open(pointer).read().strip()
    got = sorted(
        map(tuple, spark.read.parquet(final).select("id", "val", "p").collect())
    )

    # the batch composition of the same two batches
    cur = base_path
    for i, batch in enumerate((batch1, batch2)):
        bdf = spark.createDataFrame(batch, schema)
        ups = bdf.filter(~F.col("is_del")).drop("is_del")
        dels = bdf.filter(F.col("is_del")).drop("is_del")
        pa = str(tmp_path / f"comp_{i}a")
        merge_table(spark, cur, pa, ups, key_cols=("id",), partition_col="p")
        pb = str(tmp_path / f"comp_{i}b")
        merge_table(
            spark, pa, pb, dels, key_cols=("id",), partition_col="p",
            when_matched="delete", when_not_matched="ignore",
        )
        cur = pb
    want = sorted(
        map(tuple, spark.read.parquet(cur).select("id", "val", "p").collect())
    )
    assert got == want and got
    # spot-check semantics: delete gone, move landed, inserts present
    ids = {r[0] for r in got}
    assert 1 not in ids and 2 not in ids
    assert (0, "moved", "c") in got and (200, "n", "z") in got

    # full replay from a wiped checkpoint: every epoch short-circuits
    dirs_before = sorted(os.listdir(versions))
    shutil.rmtree(str(tmp_path / "cdc_ckpt"))
    q2 = start_cdc_apply(
        _stream(), base_path, versions, str(tmp_path / "cdc_ckpt"),
        key_cols=("id",), partition_col="p",
    )
    q2.awaitTermination()
    assert sorted(os.listdir(versions)) == dirs_before
    assert open(pointer).read().strip() == final
    got2 = sorted(
        map(tuple, spark.read.parquet(final).select("id", "val", "p").collect())
    )
    assert got2 == got


def test_cdc_seq_col_in_batch_compaction_and_stale_events(spark, tmp_path):
    """seq_col CDC: (1) delete-then-reinsert of one key INSIDE one
    micro-batch compacts to the latest event (the row survives — the
    no-seq applier would have silently lost it); (2) a later batch
    carrying STALE events (old upsert, old delete) cannot regress rows
    the table already advanced past; (3) without seq_col, a
    multi-event-per-key batch fails LOUDLY instead of corrupting."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import cached_parquet
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_cdc_apply,
    )

    base_path = str(tmp_path / "sq_v0")
    rows = [(i, f"v{i}", 10, ["a", "b"][i % 2]) for i in range(4)]
    cached_parquet(
        spark, base_path,
        lambda: spark.createDataFrame(
            rows, "id long, val string, seq long, p string"
        ),
        partition_by=("p",),
    )
    schema = "id long, val string, seq long, p string, is_del boolean"
    batch1 = [
        (0, "x", 12, "a", True),       # delete …
        (0, "reborn", 13, "a", False), # … then re-insert, SAME batch
        (1, "up1", 11, "b", False),
    ]
    batch2 = [
        (0, "stale", 5, "a", False),   # stale upsert: must not regress
        (1, "gone", 5, "b", True),     # stale delete: must not delete
        (2, "up2", 20, "c", False),    # newer: wins and moves partition
    ]
    src = tmp_path / "sq_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    now = 1_700_000_000
    for i, d in enumerate(("b1", "b2")):
        for dirpath, _, names in os.walk(str(src / d)):
            for n in names:
                os.utime(os.path.join(dirpath, n), (now + i, now + i))

    versions = str(tmp_path / "sq_versions")
    q = start_cdc_apply(
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src)),
        base_path, versions, str(tmp_path / "sq_ckpt"),
        key_cols=("id",), partition_col="p", seq_col="seq",
    )
    q.awaitTermination()

    final = open(os.path.join(versions, "_cdc_current")).read().strip()
    got = {
        r["id"]: (r["val"], r["seq"], r["p"])
        for r in spark.read.parquet(final).collect()
    }
    assert got == {
        0: ("reborn", 13, "a"),  # in-batch compaction kept the re-insert
        1: ("up1", 11, "b"),     # stale delete bounced off seq 11
        2: ("up2", 20, "c"),     # moved
        3: ("v3", 10, "b"),      # untouched
    }

    # no seq_col + two events for one key in a batch → loud failure
    q2 = start_cdc_apply(
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src / "b1")),
        base_path, str(tmp_path / "ns_versions"), str(tmp_path / "ns_ckpt"),
        key_cols=("id",), partition_col="p",
    )
    with pytest.raises(Exception, match="multiple events"):
        q2.awaitTermination()


def test_quantile_refresh_stream_matches_batch(spark, tmp_path):
    """Streaming quantile-MV maintenance: draining two micro-batches
    leaves the pointed-to state BIT-IDENTICAL to the one-pass batch
    state over the union (the exact monoid law under streaming — same
    contract as x_quantile_mv's nightly refresh), quantiles serve from
    the pointer target, wiped-checkpoint replay is a no-op, and a
    base_path seed folds a pre-existing corpus state into epoch 0."""
    import os
    import shutil

    from gather_datawarehouse_sync_spark.operators.incremental_agg import (
        quantile_state,
        quantiles_from_state,
    )
    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_quantile_refresh,
    )

    schema = "g string, v long"
    batch1 = [("a", i) for i in range(0, 50)] + [("b", 2 * i) for i in range(20)]
    batch2 = [("a", i) for i in range(50, 100)] + [("b", 120)]
    src = tmp_path / "qr_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "b2")
    )
    now = 1_700_000_000
    for i, d in enumerate(("b1", "b2")):
        for dirpath, _, names in os.walk(str(src / d)):
            for n in names:
                os.utime(os.path.join(dirpath, n), (now + i, now + i))

    def _stream(path):
        return (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(path))
        )

    root = str(tmp_path / "qr_state")
    ckpt = str(tmp_path / "qr_ckpt")
    q = start_quantile_refresh(
        _stream(src), root, ckpt, ("g",), "v", 0, 100, bins=10
    )
    q.awaitTermination()

    pointer = os.path.join(root, "_cdc_current")
    final = open(pointer).read().strip()
    got = sorted(map(tuple, spark.read.parquet(final).collect()))
    want_df = quantile_state(
        spark.createDataFrame(batch1 + batch2, schema), ["g"], "v", 0, 100, 10
    )
    assert got == sorted(map(tuple, want_df.collect()))

    # quantiles served from the pointer equal the batch finalization
    got_q = sorted(
        map(
            tuple,
            quantiles_from_state(
                spark.read.parquet(final), ["g"], [5000, 9900], 0, 100, 10
            ).collect(),
        )
    )
    want_q = sorted(
        map(
            tuple,
            quantiles_from_state(
                want_df, ["g"], [5000, 9900], 0, 100, 10
            ).collect(),
        )
    )
    assert got_q == want_q and got_q

    # wiped-checkpoint full replay: every epoch short-circuits
    dirs_before = sorted(os.listdir(root))
    shutil.rmtree(ckpt)
    q2 = start_quantile_refresh(
        _stream(src), root, ckpt, ("g",), "v", 0, 100, bins=10
    )
    q2.awaitTermination()
    assert sorted(os.listdir(root)) == dirs_before
    assert open(pointer).read().strip() == final

    # base_path seeding: a persisted corpus state folds into epoch 0
    seed_rows = [("a", 99), ("c", 5)]
    seed_path = str(tmp_path / "qr_seed")
    cached_parquet(
        spark, seed_path,
        lambda: quantile_state(
            spark.createDataFrame(seed_rows, schema), ["g"], "v", 0, 100, 10
        ),
    )
    root2 = str(tmp_path / "qr_state2")
    q3 = start_quantile_refresh(
        _stream(src / "b1"), root2, str(tmp_path / "qr_ckpt2"),
        ("g",), "v", 0, 100, bins=10, base_path=seed_path,
    )
    q3.awaitTermination()
    final2 = open(os.path.join(root2, "_cdc_current")).read().strip()
    got2 = sorted(map(tuple, spark.read.parquet(final2).collect()))
    want2 = quantile_state(
        spark.createDataFrame(seed_rows + batch1, schema), ["g"], "v", 0, 100, 10
    )
    assert got2 == sorted(map(tuple, want2.collect()))


def test_cdc_versions_root_refuses_foreign_checkpoint(spark, tmp_path):
    """A populated version chain is bound to the checkpoint that built
    it: re-pointing a NEW stream (different checkpoint path) at it must
    refuse loudly — epoch numbering restarts at 0, so the
    write-if-absent short-circuit would resurrect stale v0 data and
    roll the current pointer back.  Same checkpoint PATH (even wiped)
    stays legal — that's the full-replay contract."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        claim_versions_root,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_cdc_apply,
    )

    base_path = str(tmp_path / "fc_v0")
    cached_parquet(
        spark, base_path,
        lambda: spark.createDataFrame(
            [(0, "v0", "a")], "id long, val string, p string"
        ),
        partition_by=("p",),
    )
    schema = "id long, val string, p string, is_del boolean"
    src = tmp_path / "fc_src"
    spark.createDataFrame(
        [(1, "one", "a", False)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    versions = str(tmp_path / "fc_versions")
    ckpt = str(tmp_path / "fc_ckpt")
    q = start_cdc_apply(
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src)),
        base_path, versions, ckpt,
        key_cols=("id",), partition_col="p",
    )
    q.awaitTermination()
    pointer = os.path.join(versions, "_cdc_current")
    before = open(pointer).read().strip()

    # foreign checkpoint → refused at start, pointer untouched
    with pytest.raises(ValueError, match="belongs to the stream"):
        start_cdc_apply(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src)),
            base_path, versions, str(tmp_path / "other_ckpt"),
            key_cols=("id",), partition_col="p",
        )
    assert open(pointer).read().strip() == before

    # a pre-claim chain (marker deleted) also refuses a new claim while
    # version dirs exist — with adoption guidance in the message
    os.remove(os.path.join(versions, "_cdc_run"))
    with pytest.raises(ValueError, match="_cdc_run marker"):
        claim_versions_root(versions, ckpt)


def test_claim_versions_root_torn_marker_refused(tmp_path):
    """A claimant that died between the O_CREAT|O_EXCL create and the
    content write leaves an EMPTY marker; a later claim (including the
    legitimate owner's restart) must get the torn-claim message with
    repair guidance, not the confusing belongs-to-'' owner mismatch —
    and after the instructed removal the claim goes through."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        claim_versions_root,
    )

    root = str(tmp_path / "torn_versions")
    os.makedirs(root)
    marker = os.path.join(root, "_cdc_run")
    open(marker, "w").close()  # the crash window's artifact
    with pytest.raises(ValueError, match="torn claim"):
        claim_versions_root(root, str(tmp_path / "ckpt"))
    os.remove(marker)  # the instructed repair
    claim_versions_root(root, str(tmp_path / "ckpt"))
    assert open(marker).read().strip() == os.path.abspath(
        str(tmp_path / "ckpt")
    )


def test_version_pointer_cas_two_batch_writers(spark, tmp_path):
    """Optimistic concurrency for BATCH writers on one version chain:
    two concurrent merge_table callers both merge off the same base;
    the first commit (CAS on the pointer) wins, the second raises
    VersionConflictError and the chain is uncorrupted — last-writer-wins
    silent loss becomes first-writer-wins loud refusal.  The loser then
    retries the documented way (re-read pointer, re-merge, CAS) and
    both writers' effects land.  A leaked lock file refuses loudly."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        VersionConflictError,
        cached_parquet,
        merge_table,
        read_version_pointer,
        swap_version_pointer,
    )

    schema = "id long, val string, p string"
    base_path = str(tmp_path / "cas_v0")
    cached_parquet(
        spark, base_path,
        lambda: spark.createDataFrame(
            [(0, "base0", "a"), (1, "base1", "b")], schema
        ),
        partition_by=("p",),
    )
    root = str(tmp_path / "cas_versions")
    os.makedirs(root)

    # both writers read the same pointer (chain not yet swapped: base)
    seen_a = read_version_pointer(root, default=base_path)
    seen_b = read_version_pointer(root, default=base_path)
    assert seen_a == seen_b == base_path

    va = str(tmp_path / "cas_vA")
    merge_table(
        spark, seen_a, va,
        spark.createDataFrame([(0, "from_A", "a")], schema),
        key_cols=("id",), partition_col="p",
    )
    vb = str(tmp_path / "cas_vB")
    merge_table(
        spark, seen_b, vb,
        spark.createDataFrame([(2, "from_B", "a")], schema),
        key_cols=("id",), partition_col="p",
    )

    swap_version_pointer(root, va, expected=seen_a)  # A commits first
    assert read_version_pointer(root) == va
    with pytest.raises(VersionConflictError, match="moved"):
        swap_version_pointer(root, vb, expected=seen_b)  # B lost
    assert read_version_pointer(root) == va  # chain uncorrupted
    assert {tuple(r) for r in spark.read.parquet(va).collect()} == {
        (0, "from_A", "a"), (1, "base1", "b")
    }

    # loser retries: re-read, re-merge against the winner, CAS again
    seen_b2 = read_version_pointer(root, default=base_path)
    vb2 = str(tmp_path / "cas_vB2")
    merge_table(
        spark, seen_b2, vb2,
        spark.createDataFrame([(2, "from_B", "a")], schema),
        key_cols=("id",), partition_col="p",
    )
    swap_version_pointer(root, vb2, expected=seen_b2)
    assert read_version_pointer(root) == vb2
    assert {tuple(r) for r in spark.read.parquet(vb2).collect()} == {
        (0, "from_A", "a"), (1, "base1", "b"), (2, "from_B", "a")
    }

    # a writer that died holding the lock leaks it — later CAS refuses
    # loudly (never silently steals) until the named file is removed
    lock = os.path.join(root, "_cdc_current.__lock__")
    open(lock, "w").close()
    with pytest.raises(VersionConflictError, match="lock file"):
        swap_version_pointer(root, va, expected=vb2)
    os.remove(lock)
    swap_version_pointer(root, va, expected=vb2)
    assert read_version_pointer(root) == va
    # unconditional swap (streaming single-writer path) stays available
    swap_version_pointer(root, vb2)
    assert read_version_pointer(root) == vb2


def test_cdc_apply_schema_evolution(spark, tmp_path):
    """An EVOLVED change stream (upstream grew a column) maintains a
    pre-evolution base through start_cdc_apply(schema_evolution=True):
    the first evolved epoch widens the table (carried rows back-filled
    NULL), upserts carry the new column, deletes still apply — without
    the flag merge_table's replacement-row contract would silently
    drop the column from every batch."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        read_version_pointer,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_cdc_apply,
    )

    base_path = str(tmp_path / "evs_v0")
    cached_parquet(
        spark, base_path,
        lambda: spark.createDataFrame(
            [(0, "zero", "a"), (1, "one", "b")],
            "id long, val string, p string",
        ),
        partition_by=("p",),
    )
    wide = "id long, val string, p string, tag string, is_del boolean"
    src = tmp_path / "evs_src"
    spark.createDataFrame(
        [
            (1, "one2", "b", "t1", False),   # update carrying the new col
            (5, "five", "c", "t5", False),   # insert into a new partition
            (0, "zero", "a", None, True),    # delete of a carried row
        ],
        wide,
    ).coalesce(1).write.parquet(str(src / "b1"))

    q = start_cdc_apply(
        spark.readStream.schema(wide)
        .option("recursiveFileLookup", "true")
        .parquet(str(src)),
        base_path,
        str(tmp_path / "evs_versions"),
        str(tmp_path / "evs_ckpt"),
        key_cols=("id",), partition_col="p",
        schema_evolution=True,
    )
    q.awaitTermination()
    current = read_version_pointer(str(tmp_path / "evs_versions"))
    got = set(
        map(
            tuple,
            spark.read.parquet(current)
            .select("id", "val", "p", "tag")
            .collect(),
        )
    )
    assert got == {(1, "one2", "b", "t1"), (5, "five", "c", "t5")}
    # the untouched-partition files carry the widened footer schema
    assert os.path.exists(os.path.join(current, "_SUCCESS"))


def test_merge_table_versioned_commit_loop(spark, tmp_path, monkeypatch):
    """The batch commit loop: sequential writers chain commits through
    the CAS; a crashed attempt dir (merged against a base this run
    never read) is SKIPPED, never republished; an already-committed
    batch name returns its version without re-merging (at-most-once);
    exhausted retries raise with the documented message."""
    import os

    from gather_datawarehouse_sync_spark.sources import artifacts as A

    schema = "id long, val string, p string"
    base_path = str(tmp_path / "mtv_v0")
    A.cached_parquet(
        spark, base_path,
        lambda: spark.createDataFrame([(0, "base0", "a")], schema),
        partition_by=("p",),
    )
    root = str(tmp_path / "mtv_versions")

    va = A.merge_table_versioned(
        spark, root, base_path,
        spark.createDataFrame([(1, "from_A", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="batchA",
    )
    assert A.read_version_pointer(root) == va

    # a crashed earlier run left batchB's attempt-0 dir merged against
    # the ORIGINAL base (it never saw A's commit) — the helper must
    # skip it and merge against the CURRENT pointer in the next slot
    stale = os.path.join(root, "batchB")
    A.merge_table(
        spark, base_path, stale,
        spark.createDataFrame([(2, "from_B", "a")], schema),
        key_cols=("id",), partition_col="p",
    )
    vb = A.merge_table_versioned(
        spark, root, base_path,
        spark.createDataFrame([(2, "from_B", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="batchB",
    )
    assert vb == os.path.join(root, "batchB_r1")
    assert {tuple(r) for r in spark.read.parquet(vb).collect()} == {
        (0, "base0", "a"), (1, "from_A", "a"), (2, "from_B", "a")
    }

    # at-most-once: replaying the committed batch returns its version
    assert vb == A.merge_table_versioned(
        spark, root, base_path,
        spark.createDataFrame([(2, "from_B", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="batchB",
    )

    # exact batch identity: a batch whose name merely EXTENDS the
    # committed one ('batchB' committed as batchB_r1; 'batchB_r' is a
    # different batch) must still commit, not silently return
    vx = A.merge_table_versioned(
        spark, root, base_path,
        spark.createDataFrame([(3, "from_X", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="batchB_r",
    )
    assert os.path.basename(vx) == "batchB_r"
    assert A.read_version_pointer(root) == vx
    assert {tuple(r) for r in spark.read.parquet(vx).collect()} == {
        (0, "base0", "a"), (1, "from_A", "a"), (2, "from_B", "a"),
        (3, "from_X", "a"),
    }

    # the retry namespace is RESERVED: a batch literally named like a
    # sibling's retry attempt ('batchB_r1' next to 'batchB') would let
    # a later 'batchB' call mistake batchB_r1's commit for its own and
    # silently drop its batch — refused loudly at entry
    with pytest.raises(ValueError, match="reserved retry suffix"):
        A.merge_table_versioned(
            spark, root, base_path,
            spark.createDataFrame([(4, "x", "a")], schema),
            key_cols=("id",), partition_col="p", version_name="batchB_r1",
        )

    # a STREAM-claimed chain refuses batch writers outright: the
    # stream's unconditional epoch swap would silently overwrite any
    # CAS-committed batch
    claimed = str(tmp_path / "mtv_claimed")
    os.makedirs(claimed)
    open(os.path.join(claimed, "_cdc_run"), "w").write("/some/ckpt")
    with pytest.raises(ValueError, match="streaming applier"):
        A.merge_table_versioned(
            spark, claimed, base_path,
            spark.createDataFrame([(9, "x", "a")], schema),
            key_cols=("id",), partition_col="p", version_name="b1",
        )

    # maintenance sweep: include_batch_dirs retires superseded commits
    # and the skipped stale attempt, NEVER the pointer target
    pruned = A.prune_table_versions(root, include_batch_dirs=True)
    assert os.path.join(root, "batchA") in pruned
    assert stale in pruned  # the crashed attempt dir
    assert vb in pruned  # superseded by vx
    assert vx not in pruned and os.path.exists(vx)
    assert A.read_version_pointer(root) == vx

    # the at-most-once shortcut needs an ACTUAL pointer file: on a
    # fresh chain whose BASE dir happens to share the batch's basename,
    # the batch must still merge and commit, not silently skip
    named_base = str(tmp_path / "batchZ")
    A.cached_parquet(
        spark, named_base,
        lambda: spark.createDataFrame([(0, "b", "a")], schema),
        partition_by=("p",),
    )
    fresh_root = str(tmp_path / "mtv_fresh")
    vz = A.merge_table_versioned(
        spark, fresh_root, named_base,
        spark.createDataFrame([(1, "z", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="batchZ",
    )
    assert vz == os.path.join(fresh_root, "batchZ")
    assert {tuple(r) for r in spark.read.parquet(vz).collect()} == {
        (0, "b", "a"), (1, "z", "a")
    }

    # a leaked CAS lock (pointer never moves, lock always held) gets its
    # own diagnosis — not "a hotter writer", and no useless re-merges
    lock2 = os.path.join(root, "_cdc_current.__lock__")
    open(lock2, "w").close()
    with pytest.raises(A.VersionConflictError, match="died holding the lock"):
        A.merge_table_versioned(
            spark, root, base_path,
            spark.createDataFrame([(4, "from_D", "a")], schema),
            key_cols=("id",), partition_col="p", version_name="batchD",
        )
    os.remove(lock2)

    # a permanently-HOTTER writer (pointer moves on every attempt)
    # exhausts the retries loudly
    real_swap = A.swap_version_pointer

    def _always_lose(vr, target, expected=None):
        # the rival flips the pointer between two REAL tables so every
        # retry sees it moved (re-merge path, never the leaked-lock one)
        cur = A.read_version_pointer(vr, default="")
        real_swap(vr, base_path if cur == vx else vx)
        raise A.VersionConflictError("simulated lost race")

    monkeypatch.setattr(A, "swap_version_pointer", _always_lose)
    with pytest.raises(A.VersionConflictError, match="lost the pointer race"):
        A.merge_table_versioned(
            spark, root, base_path,
            spark.createDataFrame([(3, "from_C", "a")], schema),
            key_cols=("id",), partition_col="p", version_name="batchC",
            max_retries=1,
        )


def test_versioned_commit_lock_liveness_and_prune_guard(spark, tmp_path):
    """r13-ADVICE hardening of the commit/maintenance protocol:
    (a) a CAS lock recorded by a LIVE process gets a do-NOT-remove
    diagnosis after the backoff window (a paused writer must not be
    mistaken for a dead one — following 'remove the lock file' against
    a live writer would break mutual exclusion); (b)
    prune_table_versions(include_batch_dirs=True) REFUSES while the CAS
    lock exists (a writer is inside its commit window) and honors
    batch_dir_min_age_seconds (a writer between merge and CAS holds a
    FRESH unpublished dir)."""
    import os

    from gather_datawarehouse_sync_spark.sources import artifacts as A

    schema = "id long, val string, p string"
    base = str(tmp_path / "llv_v0")
    A.cached_parquet(
        spark, base,
        lambda: spark.createDataFrame([(0, "base", "a")], schema),
        partition_by=("p",),
    )
    root = str(tmp_path / "llv_versions")
    v1 = A.merge_table_versioned(
        spark, root, base,
        spark.createDataFrame([(1, "x", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="b1",
    )

    lock = os.path.join(root, "_cdc_current.__lock__")
    with open(lock, "w") as fh:
        fh.write(str(os.getpid()))  # a live holder: this very process
    with pytest.raises(A.VersionConflictError, match="STILL ALIVE"):
        A.merge_table_versioned(
            spark, root, base,
            spark.createDataFrame([(2, "y", "a")], schema),
            key_cols=("id",), partition_col="p", version_name="b2",
        )
    # the maintenance sweep refuses while a writer may be mid-commit —
    # and a REFUSED call must have mutated NOTHING (r14-ADVICE: the
    # epoch keep_last sweep used to run before the lock check), so a
    # prunable superseded epoch dir survives the refusal intact
    old_epoch = os.path.join(root, "v1_final")
    new_epoch = os.path.join(root, "v2_final")
    for d in (old_epoch, new_epoch):
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    with pytest.raises(ValueError, match="CAS lock"):
        A.prune_table_versions(root, include_batch_dirs=True)
    assert os.path.exists(old_epoch) and os.path.exists(v1)
    os.remove(lock)
    # without the lock the same call retires the superseded epoch dir
    assert os.path.normpath(old_epoch) in {
        os.path.normpath(p)
        for p in A.prune_table_versions(root, include_batch_dirs=True,
                                        batch_dir_min_age_seconds=3600.0)
    }
    assert os.path.exists(new_epoch)

    v2 = A.merge_table_versioned(
        spark, root, base,
        spark.createDataFrame([(2, "y", "a")], schema),
        key_cols=("id",), partition_col="p", version_name="b2",
    )
    # freshly superseded batch dirs survive a min-age sweep …
    assert A.prune_table_versions(
        root, include_batch_dirs=True, batch_dir_min_age_seconds=3600.0
    ) == []
    assert os.path.exists(v1)
    # … and are retired once no age floor applies
    pruned = {
        os.path.normpath(p)
        for p in A.prune_table_versions(root, include_batch_dirs=True)
    }
    assert os.path.normpath(v1) in pruned
    assert os.path.exists(v2)  # the pointer target always survives


def test_cdc_version_chain_time_travel_and_prune(spark, tmp_path):
    """The version chain is the time-travel surface: after two applied
    batches, list_table_versions orders upsert-before-final per epoch,
    an OLD version still reads exactly as that step left it (immutable
    under later rewrites), and prune_table_versions retires everything
    but the newest + the pointer target."""
    import os

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        cached_parquet,
        list_table_versions,
        merge_table,
        prune_table_versions,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_cdc_apply,
    )

    base_path = str(tmp_path / "t_v0")
    rows = [(i, f"v{i}", ["a", "b"][i % 2]) for i in range(10)]
    cached_parquet(
        spark,
        base_path,
        lambda: spark.createDataFrame(rows, "id long, val string, p string"),
        partition_by=("p",),
    )
    schema = "id long, val string, p string, is_del boolean"
    src = tmp_path / "chain_src"
    spark.createDataFrame(
        [(0, "first", "a", False)], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [(0, "second", "a", False), (1, "v1", "b", True)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    now = 1_700_000_000
    for i, d in enumerate(("b1", "b2")):
        for dirpath, _, names in os.walk(str(src / d)):
            for n in names:
                os.utime(os.path.join(dirpath, n), (now + i, now + i))

    versions = str(tmp_path / "chain_versions")
    q = start_cdc_apply(
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src)),
        base_path,
        versions,
        str(tmp_path / "chain_ckpt"),
        key_cols=("id",),
        partition_col="p",
    )
    q.awaitTermination()

    chain = list_table_versions(versions)
    assert [n for n, _ in chain] == [
        "v0_upsert", "v0_final", "v1_upsert", "v1_final"
    ]
    # time travel: epoch 0's final still shows the FIRST patch and the
    # undeleted key 1, untouched by epoch 1's rewrite
    v0 = dict(chain)["v0_final"]
    t0 = {
        (r["id"], r["val"])
        for r in spark.read.parquet(v0).select("id", "val").collect()
    }
    assert (0, "first") in t0 and any(i == 1 for i, _ in t0)
    cur = open(os.path.join(versions, "_cdc_current")).read().strip()
    t2 = {
        (r["id"], r["val"])
        for r in spark.read.parquet(cur).select("id", "val").collect()
    }
    assert (0, "second") in t2 and not any(i == 1 for i, _ in t2)

    # a torn version dir (no _SUCCESS) is invisible to the listing
    os.makedirs(os.path.join(versions, "v9_final"))
    assert "v9_final" not in [n for n, _ in list_table_versions(versions)]

    pruned = prune_table_versions(versions, keep_last=1)
    assert sorted(os.path.basename(p) for p in pruned) == [
        "v0_final", "v0_upsert", "v1_upsert"
    ]
    left = [n for n, _ in list_table_versions(versions)]
    assert left == ["v1_final"]
    assert open(os.path.join(versions, "_cdc_current")).read().strip() == cur
    # the survivor (the pointer target) still reads
    assert spark.read.parquet(cur).count() == len(t2)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_last"):
        prune_table_versions(versions, keep_last=0)
    # a fresh merge after pruning continues the chain from the pointer
    nxt = str(tmp_path / "after_prune")
    merge_table(
        spark, cur, nxt,
        spark.createDataFrame([(7, "seven", "a")], "id long, val string, p string"),
        key_cols=("id",), partition_col="p",
    )
    assert (7, "seven") in {
        (r["id"], r["val"])
        for r in spark.read.parquet(nxt).select("id", "val").collect()
    }


def test_scd2_apply_stream_matches_batch_and_time_travels(spark, tmp_path):
    """Streaming SCD2 maintenance: two change micro-batches through
    start_scd2_apply leave the pointed-to history row-identical to the
    batch merge_scd2 chain at seq 1, 2 — and scd2_as_of(h, e+1) reads
    the dimension exactly as micro-batch e left it; wiped-checkpoint
    replay changes nothing."""
    import os
    import shutil

    from gather_datawarehouse_sync_spark.sources.artifacts import (
        init_scd2_history,
        merge_scd2,
        scd2_as_of,
    )
    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_scd2_apply,
    )

    base = spark.createDataFrame(
        [(i, f"n{i}", 100 + i) for i in range(1, 7)],
        "k long, nm string, bal long",
    )
    base_path = str(tmp_path / "h0")
    init_scd2_history(spark, base, base_path, ("k",), seq=0, n_buckets=4)

    schema = "k long, nm string, bal long, is_del boolean"
    b1 = [(1, "n1", 999, False), (2, "n2", 102, True)]
    b2 = [(1, "n1", 555, False), (9, "new", 9, False)]
    src = tmp_path / "scd2_src"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    now = 1_700_000_000
    for i, d in enumerate(("b1", "b2")):
        for dirpath, _, names in os.walk(str(src / d)):
            for n in names:
                os.utime(os.path.join(dirpath, n), (now + i, now + i))

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )

    versions = str(tmp_path / "scd2_versions")
    q = start_scd2_apply(
        _stream(), base_path, versions, str(tmp_path / "scd2_ckpt"),
        key_cols=("k",),
    )
    q.awaitTermination()

    pointer = os.path.join(versions, "_cdc_current")
    final = open(pointer).read().strip()
    hist = spark.read.parquet(final)
    got = {
        (r["k"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in hist.select(
            "k", "bal", "valid_from", "valid_to", "is_current"
        ).collect()
    }

    # batch composition: same batches at seq 1, 2
    p1 = str(tmp_path / "cmp1")
    merge_scd2(
        spark, base_path, p1, spark.createDataFrame(b1, schema), ("k",),
        seq=1, delete_col="is_del",
    )
    p2 = str(tmp_path / "cmp2")
    merge_scd2(
        spark, p1, p2, spark.createDataFrame(b2, schema), ("k",),
        seq=2, delete_col="is_del",
    )
    want = {
        (r["k"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(p2).select(
            "k", "bal", "valid_from", "valid_to", "is_current"
        ).collect()
    }
    assert got == want and got

    # time travel: after micro-batch 0 (seq 1) k=1 is 999 and k=2 gone
    at1 = {(r["k"], r["bal"]) for r in scd2_as_of(hist, 1).collect()}
    assert (1, 999) in at1 and not any(k == 2 for k, _ in at1)
    at2 = {(r["k"], r["bal"]) for r in scd2_as_of(hist, 2).collect()}
    assert (1, 555) in at2 and (9, 9) in at2

    # wiped-checkpoint full replay: every epoch short-circuits
    dirs_before = sorted(os.listdir(versions))
    shutil.rmtree(str(tmp_path / "scd2_ckpt"))
    q2 = start_scd2_apply(
        _stream(), base_path, versions, str(tmp_path / "scd2_ckpt"),
        key_cols=("k",),
    )
    q2.awaitTermination()
    assert sorted(os.listdir(versions)) == dirs_before
    assert open(pointer).read().strip() == final


def test_stateful_running_totals_nonstring_key(spark, event_source, tmp_path):
    """r16 review find: the output/state schema hardcoded the key column
    as 'string', so a bigint key (event_id here) crashed the streaming
    path at Arrow conversion while the batch fallback kept bigint —
    breaking the stream≡batch parity contract.  The key type now derives
    from the input schema."""
    path, batch = event_source
    stream = stateful_running_totals(_read_stream(spark, path), key_col="event_id")
    got = _run_stream(spark, tmp_path, stream, "t_state_long", "update")
    assert dict(got.dtypes)["event_id"] == "bigint"
    final = {r["event_id"]: (r["n"], r["total"]) for r in got.collect()}
    want = {
        r["event_id"]: (r["n"], r["total"])
        for r in stateful_running_totals(batch, key_col="event_id").collect()
    }
    assert final == want and final


def test_incremental_dedup_rejects_neither_reference(spark, tmp_path):
    """r16 review find: reference=None with reference_signatures=None
    passed the old both-given guard and failed inside the first
    micro-batch — the XOR check now fails at stream START like the
    sibling span-dedup starter."""
    import pytest as _pytest

    from gather_datawarehouse_sync_spark.streaming.incremental import (
        start_incremental_dedup,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    docs = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    with _pytest.raises(ValueError, match="exactly one"):
        start_incremental_dedup(
            docs, None, str(tmp_path / "out"), str(tmp_path / "ck")
        )


def test_snapshot_inventory_landing_dir(spark, tmp_path):
    """landing_dir (r16): the drained snapshot lands as parquet instead
    of the driver-memory table — same rows, scan-backed return."""
    (tmp_path / "w2").mkdir()
    (tmp_path / "w2" / "a.shp").write_bytes(b"alpha")
    inv = snapshot_inventory(
        spark,
        str(tmp_path / "w2"),
        str(tmp_path / "ckpt_inv2"),
        landing_dir=str(tmp_path / "land"),
    )
    rows = inv.collect()
    assert [r["file"] for r in rows] == ["a.shp"] and rows[0]["size"] == 5


def test_running_totals_all_null_values_batch_matches_stream_semantics(spark):
    """An all-NULL-value key must total 0.0 on the batch fallback, not
    NULL: the streaming path's pandas sum over an all-NaN series is 0.0
    (skipna), and batch≡stream parity is the operator's contract (r17
    review find)."""
    from gather_datawarehouse_sync_spark.streaming.windows import (
        stateful_running_totals,
    )

    df = spark.createDataFrame(
        [("u1", 1, None), ("u1", 2, None), ("u2", 3, 5.0)],
        "user_id string, ts long, value double",
    )
    rows = {
        r["user_id"]: (r["n"], r["total"])
        for r in stateful_running_totals(df).collect()
    }
    assert rows["u1"] == (2, 0.0), rows
    assert rows["u2"] == (1, 5.0), rows
