#!/usr/bin/env python3
"""Workflow benchmark for gather_datawarehouse_sync_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload fs_sync --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload, each in its own process, and
prints every end-to-end metric per workload.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import Counter

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.trace import STAGE_FIELDS, RssSampler, Tracer, storage_mem_bytes  # noqa: E402
from perfbench.workloads import REGISTRY_QUERIES, WORKLOADS, median  # noqa: E402

#: end-to-end metrics (reported with --trace 0): name → unit
END_TO_END = {
    "setup_s": "s",
    "rate_per_s": "1/s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}

SELF_LAYERS = (
    "bench", "filescan", "rest", "sync_engine", "dedup", "joins",
    "ingest", "pipelines", "classify", "queries",
)
SPARK_FIELDS = (
    ("exec_cpu_s", "s"), ("exec_run_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("jobs", "count"), ("stages", "count"),
    ("tasks", "count"),
)

#: per-layer metrics (reported with --trace 1): name → unit
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "filescan.files": "count",
    "filescan.input_bytes": "bytes",
    "filescan.wall_s": "s",
    "filescan.exec_cpu_s": "s",
    "sync_engine.build_s": "s",
    "sync_engine.exec_s": "s",
    "sync_engine.jobs": "count",
    "sync_engine.stages": "count",
    "sync_engine.shuffle_write_bytes": "bytes",
    "dedup.mark_s": "s",
    "joins.cascade_s": "s",
    "rest.calls": "count",
    "rest.retries": "count",
    "rest.failed": "count",
    "rest.wall_s": "s",
    "rest.service_busy_s": "s",
    "ingest.batches": "count",
    "ingest.rows_per_batch_p50": "count",
    "ingest.trigger_ms_p50": "ms",
    "ingest.add_batch_ms_p50": "ms",
    "ingest.latest_offset_ms_p50": "ms",
    "ingest.backlog_max": "count",
    "ingest.gen_late_ms_max": "ms",
    "ingest.p99_ms": "ms",
    "pipelines.curate_build_s": "s",
    "pipelines.curate_exec_s": "s",
    "pipelines.curate_jobs": "count",
    "dedup.lsh_candidate_pairs": "count",
    "dedup.pair_yield": "ratio",
    "dedup.minhash_s": "s",
    "pipelines.mix_build_s": "s",
    "pipelines.mix_exec_s": "s",
    "classify.score_s": "s",
    **{
        f"queries.{q}.{m}": u
        for q in REGISTRY_QUERIES
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"))
    },
    "proc.cpu_s": "s",
    **{f"spark.{f}": u for f, u in SPARK_FIELDS},
    "spark.storage_mem_bytes_end": "bytes",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
    "gate.error_rate": "ratio",
}

#: a traced run: the first iteration (traced) gives the per-layer
#: metrics, the second runs untraced, and the warm traced ones after it
#: must repeat their Spark job and stage counts exactly (see
#: ``_counts_settled``); their wall minus the second's is the tracing
#: overhead
MIN_TRACED_ITERS = 4
WORKLOAD_NAMES = tuple(WORKLOADS)


def _checkout_ok() -> bool:
    need = ("gather_datawarehouse_sync_spark/__init__.py", "bench.py", "tests/oracle.py")
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in need)


def _configure_env(work: str) -> None:
    """Point every scratch location of Spark, the package and Python at
    the run's own directory, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "artifacts"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        {
            # every process the run starts inherits it: see _run_pids
            "PERFBENCH_RUN": work,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_ARTIFACTS": os.path.join(work, "artifacts"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            # every JVM (spark-submit's launcher too): temp files in the
            # run directory, no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    "--conf spark.ui.retainedJobs=100000",
                    "--conf spark.ui.retainedStages=100000",
                    "pyspark-shell",
                ]
            ),
        }
    )


def _run_pids(work: str) -> list[int]:
    """Live processes other than this one that carry this run's
    ``PERFBENCH_RUN`` marker: the JVM, its Python daemon and workers,
    also after they are reparented."""
    mark = f"PERFBENCH_RUN={work}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
        except OSError:  # ended, or not ours
            continue
        if mark in env:  # a zombie's environ reads empty
            pids.append(int(name))
    return pids


def _stop_run_processes(work: str) -> None:
    """Stop Spark and every process the run started, and wait until
    each has ended; called on every way out of a run."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as e:  # the JVM is stopped below either way
            print(f"perfbench: spark.stop failed: {e}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        # the JVM exits (running its shutdown hooks) when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 30
        for pid in _run_pids(work):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while _run_pids(work) and time.monotonic() < deadline:
            time.sleep(0.05)
    left = _run_pids(work)
    if left:
        raise RuntimeError(f"processes of this run still alive: {left}")


def _warm_up(spark) -> None:
    """JVM and Python-worker-fleet warm-up, as bench.py does before its
    timed region: a codegen'd aggregate, then one pandas batch per core
    so every Python worker is spawned before timing."""
    import pandas  # noqa: F401  (the UDF closure below stays cheap)
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 200_000, 1, cores).selectExpr("id % 97 AS k").groupBy("k").count().collect()

    @F.pandas_udf("double")
    def _warm_worker(v):
        return v * 1.0

    spark.range(0, cores * 1024, 1, cores).select(
        _warm_worker(F.col("id").cast("double"))
    ).count()


def _own_ledger_spans(it: dict, spans) -> list:
    """The ledger spans inside one iteration's span (the layer probes run
    after it, at the top level)."""
    return [
        sp
        for sp in spans
        if sp.trace_id == it["trace"] and sp.parent is not None and "jobs" in sp.counts
    ]


def _iteration_ledger(it: dict, spans) -> dict:
    """Spark counters of one iteration's own calls: its ledger spans plus
    the stream's micro-batches."""
    own = _own_ledger_spans(it, spans)
    stream = it.get("stream_ledger", {})
    return {
        k: sum(sp.counts[k] for sp in own) + stream.get(k, 0)
        for k in (*STAGE_FIELDS, "stages", "jobs")
    }


def _count_key(it: dict, spans) -> tuple:
    """Jobs and stages of the benchmark's spans in one iteration, which
    must repeat exactly between traced iterations.  The stream's
    micro-batches are left out: how many run follows the clock."""
    own = _own_ledger_spans(it, spans)
    return sum(sp.counts["jobs"] for sp in own), sum(sp.counts["stages"] for sp in own)


def _warm_counts(iters: list[dict], spans) -> Counter:
    """How often each (jobs, stages) pair occurred among the warm traced
    iterations; the first call may run extra jobs (a memo a later call
    finds filled), so the first iteration is left out."""
    return Counter(_count_key(it, spans) for it in iters[1:] if it["traced"])


def _counts_settled(iters: list[dict], spans) -> bool:
    """Two warm traced iterations agree, or a third one decides.  AQE
    now and then runs one extra single-task job (seen in
    ``sync_report``), so one odd iteration out of three is tolerated
    and reported; counts that drift every time still fail."""
    counts = _warm_counts(iters, spans)
    n = sum(counts.values())
    return n >= 3 or (n == 2 and len(counts) == 1)


def _layer_metrics(wl, iters, tracer, setup) -> tuple[dict, list[str]]:
    """Per-layer metrics of the first iteration, the one the untraced
    run's end-to-end metrics describe; the later iterations check that
    the counters repeat and measure the tracing overhead."""
    # the first iteration's spans, without the layer probes run after it
    first = [
        s
        for s in tracer.spans
        if s.trace_id == iters[0]["trace"]
        and (s.parent is not None or s.name.endswith(".iteration"))
    ]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup["start_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out.update(wl.layers(iters[:1], first))
    ledger = _iteration_ledger(iters[0], tracer.spans)
    for f, _ in SPARK_FIELDS:
        out[f"spark.{f}"] = ledger[f]
    out["spark.storage_mem_bytes_end"] = float(iters[-1]["storage_mem"])

    problems = []
    counts = _warm_counts(iters, tracer.spans)
    (mode, seen), = counts.most_common(1)
    if seen < 2:
        problems.append(f"spark jobs/stages differ between traced iterations: {sorted(counts)}")
    elif len(counts) > 1:
        print(
            f"perfbench: {wl.name}: one warm traced iteration ran other spark "
            f"jobs/stages than {mode}: {sorted(counts)}",
            file=sys.stderr,
        )

    for name, v in tracer.self_times(first).items():
        layer = name.split(".", 1)[0]
        layer = layer if layer in SELF_LAYERS else "bench"
        out[f"self.{layer}_s"] += v
    # overhead on warm iterations only: traced minus untraced
    key = wl.overhead_key
    t_on = median(it[key] for it in iters[1:] if it["traced"])
    t_off = median(it[key] for it in iters[1:] if not it["traced"])
    out["trace.overhead_s"] = t_on - t_off
    out["trace.overhead_pct"] = 100.0 * (t_on - t_off) / t_off
    return out, problems


def run_one(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from bench import _cpu_jiffies, settle_box
    from gather_datawarehouse_sync_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    box = settle_box(ncpu / 8, 0.0)  # record the weather; never wait
    iow0, tot0 = _cpu_jiffies()
    wl = WORKLOADS[workload](work)
    wl.generate(seed)

    with RssSampler() as rss:
        # one cold set-up: the JVM launch is part of it
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        _warm_up(spark)
        t2 = time.perf_counter()
        wl.prepare(spark)
        setup = {"start_s": t1 - t0, "warmup_s": t2 - t1, "prepare_s": time.perf_counter() - t2}

        tracer = Tracer(trace, spark)
        iters: list[dict] = []
        deadline = time.perf_counter() + seconds
        while (
            time.perf_counter() < deadline
            or not iters
            or (
                trace
                and (len(iters) < MIN_TRACED_ITERS or not _counts_settled(iters, tracer.spans))
            )
        ):
            tracer.enabled = trace and len(iters) != 1
            tracer.new_trace()
            it = wl.iterate(spark, tracer, len(iters))
            it["traced"] = tracer.enabled
            it["trace"] = tracer.trace_id
            it["storage_mem"] = storage_mem_bytes(spark)
            iters.append(it)
        problems = [p for it in iters for p in it["problems"]]
        gate_problems = list(wl.setup_problems)
        spark.stop()

    iow1, tot1 = _cpu_jiffies()
    box["iowait_pct"] = round(100.0 * (iow1 - iow0) / (tot1 - tot0), 2) if tot1 > tot0 else 0.0

    if trace:
        metrics, count_problems = _layer_metrics(wl, iters, tracer, setup)
        problems += count_problems
    else:
        metrics = {
            "setup_s": sum(setup.values()),
            "peak_rss_mb": rss.peak / 2**20,
            **wl.e2e(iters),
        }
    problems += gate_problems

    attempted = sum(it.get("ops", 1) for it in iters)
    failed = sum(it.get("failed_ops", 1 if it["problems"] else 0) for it in iters)
    if problems and (gate_problems or not failed):
        # a failed set-up check or count check fails the whole run
        failed = attempted
    if trace:
        metrics["gate.error_rate"] = failed / attempted
    for p in problems:
        print(f"perfbench: {workload}: {p}", file=sys.stderr)

    record = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "box": box,
        "setup": setup,
        "iterations": [
            {k: v for k, v in it.items() if k != "latencies"} for it in iters
        ],
        "problems": problems,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if trace:
        tracer.dump(stem + ".spans.jsonl")
    print(f"perfbench: {workload}: box {json.dumps(box)}", file=sys.stderr)
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def run_all(args) -> int:
    """Every workload in its own process; one line per metric, then a
    combined JSON line keyed ``<workload>.<metric>``."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            print(f"{name:14s} {metric:32s} {v['value']:14.4f} {v['unit']}")
            total["metrics"][f"{name}.{metric}"] = v
        print(f"{name:14s} {'error_rate':32s} {res['failed'] / res['attempted']:14.4f} ratio")
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _checkout_ok():
        print(
            "perfbench: run from the root of a checkout holding "
            "gather_datawarehouse_sync_spark/, bench.py and tests/oracle.py",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    try:
        result = run_one(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        _stop_run_processes(work)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
