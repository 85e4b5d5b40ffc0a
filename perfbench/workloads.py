"""The two workloads: each drives the package's public entry points the
way a user would, on inputs from ``gen``.

A workload object lives for one run.  ``generate`` writes its inputs
(untimed), ``prepare`` is the workload's share of set-up (problems it
finds go to ``setup_problems`` and fail the run), ``iterate`` is one
timed iteration, ``e2e`` turns the first, cold one into the end-to-end
metrics and ``layers`` turns the traced iterations into per-layer
metrics.  Each
``iterate`` returns a dict of measurements; a non-empty ``problems``
list in it marks that iteration's operations as failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import gen
from perfbench.fake_rest import Lister, SinkFactory, read_sink_log
from perfbench.trace import Tracer, ledger_for_group, tree_cpu_s


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    xs = list(xs)
    return float(np.percentile(xs, q)) if xs else 0.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def sum_counts(spans, key: str) -> float:
    return float(sum(sp.counts.get(key, 0.0) for sp in spans))


class Workload:
    name = ""
    #: per-iteration key the tracing overhead is measured on (seconds)
    overhead_key = ""

    def __init__(self, work: str):
        self.work = work
        self.inputs = os.path.join(work, "in")
        self.setup_problems: list[str] = []

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Workload-specific set-up, billed to ``setup_s``."""

    def iterate(self, spark, tr: Tracer, i: int) -> dict:
        raise NotImplementedError

    def e2e(self, iters: list[dict]) -> dict[str, float]:
        raise NotImplementedError

    def layers(self, iters: list[dict], spans: list) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------


class FsSync(Workload):
    """The file layer twice: a batch sync (scan → plan files + categories
    → report → apply to a fake sink), then a stream (open-loop arrivals
    drained by ``start_inventory_stream`` into ``epoch_parquet_sink``)."""

    name = "fs_sync"
    overhead_key = "sync_s"
    N_FILES = 2_000
    SERVICE_S = 0.002  # fake warehouse: fixed service time per call
    PAGE = 500
    RATE_PER_S = 20.0  # stream arrivals; see README.md for the choice
    DURATION_S = 3.0  # arrival time per stream
    TRIGGER = "1 second"
    DRAIN_TIMEOUT_S = 60.0
    WARM_FILES = 10  # arrivals in the set-up stream that warms its plans

    def generate(self, seed: int) -> None:
        self.fs = gen.make_fs_sync(os.path.join(self.inputs, "tree"), seed, self.N_FILES)
        self.schedule = gen.make_stream_schedule(seed, self.RATE_PER_S, self.DURATION_S)

    def prepare(self, spark) -> None:
        warm = self.schedule.files[: self.WARM_FILES]
        self.setup_problems = self._stream(spark, Tracer(False), "warm", warm)["problems"]

    def iterate(self, spark, tr: Tracer, i: int) -> dict:
        """The sync, then (first iteration only) the stream.  Later
        iterations, which only a traced run makes, need the sync alone:
        for the count check and the tracing overhead."""
        with tr.span("fs_sync.iteration"):
            res = self._sync(spark, tr, i)
            if i == 0:
                stream = self._stream(spark, tr, str(i), self.schedule.files)
        if tr.enabled and i == 0:
            res.update(self._layer_probes(spark, tr, res.pop("frames")))
        res.pop("frames", None)
        res["failed_ops"] = bool(res["problems"])
        if i == 0:
            res["failed_ops"] += bool(stream["problems"])
            res["problems"] += stream.pop("problems")
            res.update(stream, ops=2)
        return res

    def _sync(self, spark, tr: Tracer, i: int) -> dict:
        from gather_datawarehouse_sync_spark.sources.filescan import scan_files
        from gather_datawarehouse_sync_spark.sources.rest import (
            CATEGORY_SCHEMA,
            PROJECT_SCHEMA,
            fetch_paginated,
        )
        from gather_datawarehouse_sync_spark.sync.engine import (
            apply_file_actions,
            plan_category_sync,
            plan_filesystem_sync,
            sync_report,
        )

        fs = self.fs
        log_dir = fresh_dir(os.path.join(self.work, "sink", str(i)))
        lister = Lister(
            {"/projects": fs.projects, "/categories": fs.categories}, self.SERVICE_S
        )
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with tr.span("filescan.scan_files", ledger=True):
            files = scan_files(spark, fs.root)
        with tr.span("rest.fetch", ledger=True):
            projects = fetch_paginated(spark, lister, "/projects", PROJECT_SCHEMA, self.PAGE)
            cats = fetch_paginated(spark, lister, "/categories", CATEGORY_SCHEMA, self.PAGE)
        with tr.span("sync_engine.plan", ledger=True):
            actions = plan_filesystem_sync(files, projects)
            cat_plan = plan_category_sync(files, cats)
        with tr.span("sync_engine.report", ledger=True):
            report = sync_report(actions)
            cat_report = sync_report(cat_plan)
        with tr.span("rest.apply", ledger=True):
            apply_file_actions(actions, SinkFactory(log_dir, self.SERVICE_S), max_in_flight=8)
        c_end, t_end = tree_cpu_s(), time.perf_counter()
        calls = read_sink_log(log_dir)
        keys = [c[3] for c in calls]
        problems = []
        if report != fs.sync_counts:
            problems.append(f"sync report {report} != planted {fs.sync_counts}")
        if cat_report != fs.category_counts:
            problems.append(f"category report {cat_report} != planted {fs.category_counts}")
        if len(keys) != len(set(keys)):
            problems.append(f"{len(keys) - len(set(keys))} repeated idempotency keys")
        if set(keys) != fs.expected_keys:
            problems.append(
                f"sink keys: {len(fs.expected_keys - set(keys))} missing, "
                f"{len(set(keys) - fs.expected_keys)} unexpected"
            )
        return {
            "sync_s": t_end - t0,
            "sync_cpu_s": c_end - c0,
            "problems": problems,
            "calls": len(calls),
            "unique_keys": len(set(keys)),
            "missing": len(fs.expected_keys - set(keys)),
            "busy_s": sum(c[1] - c[0] for c in calls),
            "list_calls": lister.calls,
            "frames": (files, projects),
        }

    def _layer_probes(self, spark, tr: Tracer, frames) -> dict:
        """The sync's operators called on their own, so each gets a wall."""
        from pyspark.sql import functions as F

        from gather_datawarehouse_sync_spark.operators.dedup import mark_duplicates
        from gather_datawarehouse_sync_spark.operators.joins import cascading_join

        files, projects = frames
        with tr.span("filescan.md5", ledger=True) as sp_scan:
            n = files.filter(F.col("md5").isNotNull()).count()
        with tr.span("dedup.mark_duplicates", ledger=True) as sp_mark:
            marked = mark_duplicates(files, hash_col="md5", id_col="ino", order_col="file")
            marked.filter(F.col("alias").isNotNull()).count()
        flat = projects.filter(F.col("metadata.file").isNotNull()).select(
            F.col("id").alias("project_id"),
            F.col("metadata.file.file").alias("p_file"),
            F.col("metadata.file.md5").alias("p_md5"),
        )
        with tr.span("joins.cascading_join", ledger=True) as sp_join:
            cascading_join(
                marked.filter(F.col("alias").isNull()),
                flat,
                tiers=[
                    ("exactMatch", lambda l, r: l["file"] == r["p_file"]),
                    ("md5Match", lambda l, r: l["md5"] == r["p_md5"]),
                ],
            ).count()
        return {
            "scanned": n,
            "scan_s": sp_scan.dur,
            "scan_cpu_s": sp_scan.counts["exec_cpu_s"],
            "scan_bytes": sp_scan.counts["input_bytes"],
            "mark_s": sp_mark.dur,
            "cascade_s": sp_join.dur,
        }

    def _stream(self, spark, tr: Tracer, tag: str, files) -> dict:
        from gather_datawarehouse_sync_spark.streaming.ingest import (
            start_inventory_stream,
        )
        from gather_datawarehouse_sync_spark.streaming.sink import epoch_parquet_sink

        base = fresh_dir(os.path.join(self.work, "stream", tag))
        tree, staging = os.path.join(base, "tree"), os.path.join(base, "staging")
        lake, ckpt = os.path.join(base, "lake"), os.path.join(base, "ckpt")
        os.makedirs(tree)
        os.makedirs(staging)
        sink = epoch_parquet_sink(lake)
        commits: dict[int, float] = {}
        committed = [0]  # rows installed so far, read from parquet footers

        # the batches run in a callback thread: give its jobs their own group
        group = f"pb-{os.getpid()}-stream-{tag}"

        def on_batch(df, batch_id: int) -> None:
            import pyarrow.parquet as pq

            if tr.enabled:
                spark.sparkContext.setJobGroup(group, "stream batch")
            sink(df, batch_id)
            commits[batch_id] = time.time()
            epoch = os.path.join(lake, f"epoch={batch_id}")
            committed[0] += sum(
                pq.read_metadata(os.path.join(epoch, f)).num_rows
                for f in os.listdir(epoch)
                if f.endswith(".parquet")
            )

        t0 = time.perf_counter()
        with tr.span("ingest.start"):
            q = start_inventory_stream(spark, tree, ckpt, on_batch, interval=self.TRIGGER)
            # arrivals start once the first (empty) trigger has run
            t_wait = time.time() + self.DRAIN_TIMEOUT_S
            while not q.recentProgress and time.time() < t_wait:
                time.sleep(0.02)
        with tr.span("bench.arrivals"):
            written, late = self._arrive(tree, staging, files)
        with tr.span("ingest.drain"):
            t_wait = time.time() + self.DRAIN_TIMEOUT_S
            while committed[0] < len(files) and time.time() < t_wait:
                if q.exception() is not None:
                    break
                time.sleep(0.02)
            progress = list(q.recentProgress)
            q.stop()
        problems = []
        if q.exception() is not None:
            problems.append(f"stream failed: {q.exception()}")
        lat, epochs, rows = self._latencies(lake, commits, written)
        got = {(r["file"], r["md5"], r["size"]) for r in rows}
        truth = {(rel, hashlib.md5(data).hexdigest(), len(data)) for _, rel, data in files}
        if got != truth or len(rows) != len(files):
            problems.append(
                f"lake: {len(rows)} rows, {len(truth - got)} files missing, "
                f"{len(got - truth)} unexpected"
            )
        if len(rows) != len({r["file"] for r in rows}):
            problems.append("a file landed in two epochs")
        busy = [p for p in progress if p["numInputRows"] > 0]
        res = {
            "stream_s": time.perf_counter() - t0,
            "latencies": lat,
            "problems": problems,
            "batches": len(commits),
            "rows_per_batch": [p["numInputRows"] for p in busy],
            "trigger_ms": [p["durationMs"].get("triggerExecution", 0) for p in busy],
            "add_batch_ms": [p["durationMs"].get("addBatch", 0) for p in busy],
            "latest_offset_ms": [p["durationMs"].get("latestOffset", 0) for p in busy],
            "backlog_max": self._backlog_max(written, commits, epochs),
            "late_ms_max": 1000 * max(late) if late else 0.0,
        }
        if tr.enabled:
            res["stream_ledger"] = ledger_for_group(spark, group)
        return res

    @staticmethod
    def _arrive(tree: str, staging: str, files):
        """Open loop: each file is renamed into the tree when it is due,
        however far the stream has fallen behind."""
        t_base = time.time()
        written, late = [], []
        for due, rel, data in files:
            wait = t_base + due - time.time()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(staging, rel.replace("/", "_"))
            with open(tmp, "wb") as fh:
                fh.write(data)
            dst = os.path.join(tree, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(tmp, dst)
            written.append((rel, t_base + due))
            late.append(time.time() - (t_base + due))
        return written, late

    @staticmethod
    def _latencies(lake: str, commits, written):
        import pyarrow.parquet as pq

        rows, epochs = [], {}
        if os.path.isdir(lake):
            for d in sorted(os.listdir(lake)):
                if not d.startswith("epoch="):
                    continue
                epoch = int(d.split("=", 1)[1])
                t = pq.read_table(os.path.join(lake, d), columns=["file", "md5", "size"])
                for r in t.to_pylist():
                    rows.append(r)
                    epochs[r["file"]] = epoch
        due = dict(written)
        lat = [commits[epochs[f]] - due[f] for f in epochs if f in due and epochs[f] in commits]
        return lat, epochs, rows

    @staticmethod
    def _backlog_max(written, commits, epochs) -> float:
        """Most files written but not yet committed, sampled at each commit."""
        due = sorted(t for _, t in written)
        per_epoch: dict[int, int] = {}
        for e in epochs.values():
            per_epoch[e] = per_epoch.get(e, 0) + 1
        done = worst = 0
        for e, t in sorted(commits.items(), key=lambda kv: kv[1]):
            worst = max(worst, sum(1 for x in due if x <= t) - done)
            done += per_epoch.get(e, 0)
        return float(worst)

    def e2e(self, iters):
        return {
            "rate_per_s": self.fs.n_files / iters[0]["sync_s"],
            "latency_ms": 1000 * median(iters[0]["latencies"]),
        }

    def layers(self, iters, spans):
        def by(name):
            return [sp for sp in spans if sp.name == name]

        def flat(key):
            return [x for it in iters for x in it[key]]

        n = len(iters)
        eng = by("sync_engine.plan") + by("sync_engine.report")
        return {
            "filescan.files": median(it["scanned"] for it in iters),
            "filescan.input_bytes": median(it["scan_bytes"] for it in iters),
            "filescan.wall_s": median(it["scan_s"] for it in iters),
            "filescan.exec_cpu_s": median(it["scan_cpu_s"] for it in iters),
            "sync_engine.build_s": median(sp.dur for sp in by("sync_engine.plan")),
            "sync_engine.exec_s": median(sp.dur for sp in by("sync_engine.report")),
            "sync_engine.jobs": sum_counts(eng, "jobs") / n,
            "sync_engine.stages": sum_counts(eng, "stages") / n,
            "sync_engine.shuffle_write_bytes": sum_counts(eng, "shuffle_write_bytes") / n,
            "proc.cpu_s": median(it["sync_cpu_s"] for it in iters),
            "dedup.mark_s": median(it["mark_s"] for it in iters),
            "joins.cascade_s": median(it["cascade_s"] for it in iters),
            "rest.calls": median(it["calls"] + it["list_calls"] for it in iters),
            "rest.retries": median(it["calls"] - it["unique_keys"] for it in iters),
            "rest.failed": median(it["missing"] for it in iters),
            "rest.wall_s": median(sp.dur for sp in by("rest.apply")),
            "rest.service_busy_s": median(it["busy_s"] for it in iters),
            "ingest.batches": median(it["batches"] for it in iters),
            "ingest.rows_per_batch_p50": median(flat("rows_per_batch")),
            "ingest.trigger_ms_p50": median(flat("trigger_ms")),
            "ingest.add_batch_ms_p50": median(flat("add_batch_ms")),
            "ingest.latest_offset_ms_p50": median(flat("latest_offset_ms")),
            "ingest.backlog_max": max(it["backlog_max"] for it in iters),
            "ingest.gen_late_ms_max": max(it["late_ms_max"] for it in iters),
            "ingest.p99_ms": 1000 * pct(flat("latencies"), 99),
        }


# ---------------------------------------------------------------------------

#: ``x_curation_full``'s and ``x_pretrain_mix``'s registry parameters
CURATE_PARAMS = dict(
    langs=["en", "de", "fr", "es"],
    min_chars=50,
    min_alpha_bp=4000,
    fuzzy_threshold=0.7,
    test_fraction=0.1,
    fuzzy_hash_mode="portable",
    split_method="md5",
)
MIX_PARAMS = dict(
    min_chars=50,
    min_alpha_bp=4000,
    classifier_threshold_milli=150,
    self_dedup=True,
    mix_weights_milli={"src0": 3000, "src1": 3000},
)
#: registry builders that between them reach the queries layer,
#: operators.similarity and sources.artifacts (x_sq_ann: SQ codes cached
#: as an artifact, then a top-k scan) and operators.terms (x_bm25, a
#: ROADMAP item 2 target)
REGISTRY_QUERIES = ("x_sq_ann", "x_bm25")


def duck_rows(tables: dict[str, str], sql: str):
    """Run an oracle SQL over parquet files; rows normalized the way
    ``tests/oracle.py`` compares them."""
    import duckdb
    from tests.oracle import normalize_rows

    con = duckdb.connect()
    try:
        for t, path in tables.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_rows else []
    return normalize_rows(tbl.column_names, rows)


def spark_rows(df):
    from tests.oracle import normalize_rows

    return normalize_rows(df.columns, [tuple(r) for r in df.collect()])


class CorpusRegistry(Workload):
    """``pipelines.curate`` and ``pipelines.pretrain_mix`` over a corpus,
    then hot registry builders over their artifacts, each + count()."""

    name = "corpus_registry"
    overhead_key = "curate_s"
    N_DOCS = 2_000
    # curate and pretrain_mix are timed cold, first in their session, as
    # the sync is: in ten runs their second and third runs, still on the
    # JIT's warm-up curve, spread 0.27 and 0.39 from run to run, the cold
    # pass 0.15.  A pass of the builders takes ~2 s; the first pass after
    # curate and pretrain_mix runs slower and more unevenly, so it only
    # warms the builders and the median is taken over the hot passes
    # after it.
    REGISTRY_PASSES = 5

    def generate(self, seed: int) -> None:
        from gather_datawarehouse_sync_spark.queries import REGISTRY

        self.corpus = gen.make_corpus(
            os.path.join(self.inputs, "corpus", "documents.parquet"), seed, self.N_DOCS
        )
        self.sf_dir = os.path.join(self.inputs, "sf")
        tables = gen.make_registry_tables(self.sf_dir, seed)
        rng = np.random.default_rng(seed)
        self.order = [REGISTRY_QUERIES[k] for k in rng.permutation(len(REGISTRY_QUERIES))]
        # every oracle runs on the generated parquet, before Spark starts
        self.mix_oracle = duck_rows(
            {"documents": self.corpus.path}, REGISTRY["x_pretrain_mix"].oracle
        )
        self.oracle = {q: duck_rows(tables, REGISTRY[q].oracle) for q in REGISTRY_QUERIES}

    def prepare(self, spark) -> None:
        """Build the registry's artifact directory: one cold pass of the
        builders, which is also their full-value check against the
        oracles, so the timed passes run hot."""
        from gather_datawarehouse_sync_spark.queries import REGISTRY

        for q in self.order:
            if spark_rows(REGISTRY[q].spark(spark, self.sf_dir)) != self.oracle[q]:
                self.setup_problems.append(f"{q}: result differs from its oracle")

    def _check_values(self, spark, docs) -> list[str]:
        """The full-value check, after the timed calls: the curate
        survivors against the planted set, the pretrain_mix rows against
        the ``x_pretrain_mix`` oracle."""
        from gather_datawarehouse_sync_spark.pipelines import curate

        problems = []
        ids = {r[0] for r in curate(docs, **CURATE_PARAMS).select("doc_id").collect()}
        if ids != self.corpus.survivors:
            problems.append(
                f"curate survivors: {len(self.corpus.survivors - ids)} missing, "
                f"{len(ids - self.corpus.survivors)} unexpected"
            )
        if spark_rows(self._mix(docs)) != self.mix_oracle:
            problems.append("pretrain_mix output differs from the x_pretrain_mix oracle")
        return problems

    def _mix(self, docs):
        from gather_datawarehouse_sync_spark.functions.classify import ascii_tokens
        from gather_datawarehouse_sync_spark.pipelines import pretrain_mix

        return pretrain_mix(docs, classifier_tokenizer=ascii_tokens, **MIX_PARAMS)

    def iterate(self, spark, tr: Tracer, i: int) -> dict:
        from gather_datawarehouse_sync_spark.pipelines import curate
        from gather_datawarehouse_sync_spark.queries import REGISTRY

        problems = []
        with tr.span("corpus_registry.iteration"):
            docs = spark.read.parquet(self.corpus.path)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with tr.span("pipelines.curate_build", ledger=True) as sp_cb:
                out = curate(docs, **CURATE_PARAMS)
            with tr.span("pipelines.curate_exec", ledger=True) as sp_ce:
                n_out = out.count()
            c1, t1 = tree_cpu_s(), time.perf_counter()
            with tr.span("pipelines.mix_build", ledger=True):
                mix = self._mix(docs)
            with tr.span("pipelines.mix_exec", ledger=True):
                n_mix = mix.count()
            t2 = time.perf_counter()
            build, exec_, jobs, stages = ({q: [] for q in self.order} for _ in range(4))
            passes = []
            for _ in range(self.REGISTRY_PASSES):
                t_pass = time.perf_counter()
                for q in self.order:
                    with tr.span(f"queries.{q}.build", ledger=True) as sb:
                        df = REGISTRY[q].spark(spark, self.sf_dir)
                    with tr.span(f"queries.{q}.exec", ledger=True) as se:
                        n = df.count()
                    build[q].append(sb.dur)
                    exec_[q].append(se.dur)
                    jobs[q].append(sb.counts.get("jobs", 0) + se.counts.get("jobs", 0))
                    stages[q].append(sb.counts.get("stages", 0) + se.counts.get("stages", 0))
                    if n != len(self.oracle[q][1]):
                        problems.append(f"{q}: {n} rows, oracle {len(self.oracle[q][1])}")
                    del df
                passes.append(time.perf_counter() - t_pass)
        if n_out != len(self.corpus.survivors):
            problems.append(f"curate kept {n_out}, planted {len(self.corpus.survivors)}")
        if n_mix != len(self.mix_oracle[1]):
            problems.append(f"pretrain_mix {n_mix} rows, oracle {len(self.mix_oracle[1])}")
        if i == 0:
            problems += self._check_values(spark, docs)
        res = {
            "curate_s": t1 - t0,
            "mix_s": t2 - t1,
            "curate_cpu_s": c1 - c0,
            "registry_s": passes,
            "build": build,
            "exec": exec_,
            "jobs": jobs,
            "stages": stages,
            "ops": 2 + len(passes) * len(self.order),
            "failed_ops": len(problems),
            "problems": problems,
        }
        if tr.enabled and i == 0:
            res["curate_jobs"] = sp_cb.counts["jobs"] + sp_ce.counts["jobs"]
            res.update(self._layer_probes(spark, tr, docs))
        return res

    def _layer_probes(self, spark, tr: Tracer, docs) -> dict:
        from pyspark.sql import functions as F

        from gather_datawarehouse_sync_spark.functions.classify import (
            ascii_tokens,
            classifier_score_milli,
        )
        from gather_datawarehouse_sync_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_min_agree,
            minhash_signatures,
        )
        from gather_datawarehouse_sync_spark.pipelines import curate

        # the survivors of the filters and exact dedup: fuzzy dedup's input
        exact = curate(
            docs,
            **{k: CURATE_PARAMS[k] for k in ("langs", "min_chars", "min_alpha_bp")},
        )
        with tr.span("dedup.minhash_signatures", ledger=True) as sp_sig:
            minhash_signatures(exact, hash_mode="portable").count()
        with tr.span("dedup.lsh_pairs", ledger=True):
            pairs = minhash_lsh_pairs(exact, hash_mode="portable")
            row = pairs.agg(
                F.count(F.lit(1)).alias("cand"),
                F.count(
                    F.when(
                        F.col("est_jaccard") * 64 >= minhash_min_agree(0.7), 1
                    )
                ).alias("hit"),
            ).first()
        with tr.span("classify.score", ledger=True) as sp_cls:
            docs.select(
                classifier_score_milli(F.col("text"), tokenizer=ascii_tokens).alias("s")
            ).agg(F.sum("s")).first()
        return {
            "cand": row["cand"],
            "hit": row["hit"],
            "minhash_s": sp_sig.dur,
            "score_s": sp_cls.dur,
        }

    def e2e(self, iters):
        cold = iters[0]
        return {
            "rate_per_s": self.corpus.n_docs / (cold["curate_s"] + cold["mix_s"]),
            "latency_ms": 1000 * median(cold["registry_s"][1:]),
        }

    def layers(self, iters, spans):
        def med(name):
            return median(sp.dur for sp in spans if sp.name == name)

        out = {
            "proc.cpu_s": median(it["curate_cpu_s"] for it in iters),
            "pipelines.curate_build_s": med("pipelines.curate_build"),
            "pipelines.curate_exec_s": med("pipelines.curate_exec"),
            "pipelines.curate_jobs": median(it["curate_jobs"] for it in iters),
            "pipelines.mix_build_s": med("pipelines.mix_build"),
            "pipelines.mix_exec_s": med("pipelines.mix_exec"),
            "dedup.lsh_candidate_pairs": median(it["cand"] for it in iters),
            "dedup.pair_yield": median(it["hit"] / max(it["cand"], 1) for it in iters),
            "dedup.minhash_s": median(it["minhash_s"] for it in iters),
            "classify.score_s": median(it["score_s"] for it in iters),
        }
        for key, suffix in (("build", "build_s"), ("exec", "exec_s"), ("jobs", "jobs"), ("stages", "stages")):
            for q in REGISTRY_QUERIES:
                out[f"queries.{q}.{suffix}"] = median(x for it in iters for x in it[key][q][1:])
        return out


WORKLOADS = {w.name: w for w in (FsSync, CorpusRegistry)}
