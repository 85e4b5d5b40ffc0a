"""Isolated per-query optimization probe (r18 optimization round).

Runs the named registry queries in one warm session — same timed action
as bench.py (builder call + ``count()``) — for N suite-major passes and
reports min/median wall seconds per query, so a single operator change
can be A/B'd in ~seconds instead of a full 187-query suite run.  Also
captures ``explain("formatted")`` for each query into a plans directory
(the judge-facing before/after evidence).

Usage:
    python tools/opt_probe.py [--passes N] [--plans DIR] [--suffix TAG]
                              [--sf-dir DIR] query [query ...]

Timing caveat (same as bench.py): the builder call is INSIDE the timed
region because several builders do eager work (artifact probes,
checkpoints) that the suite bench also bills.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gather_datawarehouse_sync_spark.plans.inspect import plan_str  # noqa: E402
from gather_datawarehouse_sync_spark.queries import REGISTRY  # noqa: E402
from gather_datawarehouse_sync_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--plans", default=None, help="directory for plan dumps")
    ap.add_argument("--suffix", default="before", help="plan file suffix")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    unknown = [q for q in args.queries if q not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("opt_probe")
    # warm-up: JVM + parquet footers + the Python worker fleet (bench.py
    # policy — cold fleet spawn otherwise lands in the first pass)
    REGISTRY["q1"].spark(spark, args.sf_dir).collect()
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _warm(v):
        return v * 1.0

    ncores = os.cpu_count() or 8
    spark.range(0, ncores * 1024, 1, ncores).select(
        _warm(F.col("id").cast("double"))
    ).count()

    tracker = spark.sparkContext.statusTracker()
    samples: dict[str, list[float]] = {q: [] for q in args.queries}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    for p in range(args.passes):
        for name in args.queries:
            group = f"probe:{name}:pass{p}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = REGISTRY[name].spark(spark, args.sf_dir)
            df.count()
            samples[name].append(time.perf_counter() - t0)
            if p == 0:
                ids = tracker.getJobIdsForGroup(group)
                jobs[name] = len(ids)
                stages[name] = sum(
                    len(tracker.getJobInfo(j).stageIds)
                    for j in ids
                    if tracker.getJobInfo(j) is not None
                )
            if args.plans and p == 0:
                os.makedirs(args.plans, exist_ok=True)
                with open(
                    os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
                ) as fh:
                    fh.write(plan_str(df, "formatted"))
            del df
            gc.collect()

    out = {}
    for name, times in samples.items():
        out[name] = {
            "median": round(statistics.median(times), 3),
            "min": round(min(times), 3),
            "max": round(max(times), 3),
            "passes": [round(t, 3) for t in times],
            "jobs": jobs.get(name, -1),
            "stages": stages.get(name, -1),
        }
        print(
            f"{name:30s} median={out[name]['median']:7.3f} "
            f"min={out[name]['min']:7.3f} max={out[name]['max']:7.3f} "
            f"jobs={out[name]['jobs']:3d} stages={out[name]['stages']:3d}"
        )
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
