"""Checks of the benchmark itself (no Spark): generator determinism,
seed isolation, span arithmetic and BENCHMARK.json consistency.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _all_inputs(base: str, seed: int) -> tuple:
    fs = gen.make_fs_sync(os.path.join(base, "tree"), seed, n_files=300)
    corpus = gen.make_corpus(os.path.join(base, "corpus", "documents.parquet"), seed, n_docs=400)
    sched = gen.make_stream_schedule(seed, 50.0, 2.0)
    gen.make_registry_tables(os.path.join(base, "sf"), seed, n_docs=50, n_vecs=50)
    return fs, corpus, sched


@pytest.mark.parametrize("seed", [1, 7])
def test_same_seed_gives_byte_identical_inputs(tmp_path, seed):
    a = _all_inputs(str(tmp_path / "a"), seed)
    b = _all_inputs(str(tmp_path / "b"), seed)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert a[0].projects == b[0].projects and a[0].categories == b[0].categories
    assert a[0].expected_keys == b[0].expected_keys
    assert a[1].survivors == b[1].survivors
    assert a[2].files == b[2].files


def test_different_seed_gives_different_inputs(tmp_path):
    a = _all_inputs(str(tmp_path / "a"), 1)
    b = _all_inputs(str(tmp_path / "b"), 2)
    for sub in ("tree", "corpus", "sf"):
        assert _tree_digest(str(tmp_path / "a" / sub)) != _tree_digest(str(tmp_path / "b" / sub))
    assert a[2].files != b[2].files
    # same sizes and planted shares, so runs on different seeds compare
    assert a[0].sync_counts == b[0].sync_counts
    assert a[1].n_docs == b[1].n_docs and a[1].shares == b[1].shares


def test_fs_truth_matches_planted_shares(tmp_path):
    fs = gen.make_fs_sync(str(tmp_path), 3, n_files=1000)
    assert fs.n_files == 1000
    assert fs.sync_counts == {"keep": 500, "update": 200, "insert": 300, "archive": 50}
    # every insert/update/archive is one sink call with its own key
    assert len(fs.expected_keys) == 550
    names = [n for _, _, ns in os.walk(tmp_path) for n in ns]
    assert sum(n.endswith(".txt") for n in names) == 100
    assert any(n.endswith(".SHP") for n in names)


def test_seed_reaches_only_the_generators():
    """The package sees generated inputs only: in workloads.py the seed
    is read by ``generate`` methods alone, and the run directory name
    carries neither seed nor workload name."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tree = ast.parse(open(os.path.join(here, "workloads.py")).read())
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        for fn in (n for n in cls.body if isinstance(n, ast.FunctionDef)):
            if fn.name == "generate":
                continue
            used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
            assert "seed" not in used, f"{cls.name}.{fn.name} reads the seed"
    run_src = open(os.path.join(here, "run.py")).read()
    assert 'f"run-{os.getpid()}"' in run_src


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.new_trace()
    with tr.span("bench.iteration") as outer:
        with tr.span("filescan.scan") as inner:
            pass
    st = tr.self_times()
    assert st["bench.iteration"] == pytest.approx(outer.dur - inner.dur)
    assert st["filescan.scan"] == pytest.approx(inner.dur)
    assert inner.parent == outer.id and inner.trace_id == outer.trace_id == 1


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("filescan.scan", ledger=True) as sp:
        pass
    assert tr.spans == []
    assert sp.end >= sp.start  # the block is still timed


def test_benchmark_json_matches_the_runner():
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOAD_NAMES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOAD_NAMES
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_count_check_settles_on_two_agreeing_warm_iterations():
    from perfbench.run import _counts_settled
    from perfbench.trace import Span

    def it(trace, traced=True):
        return {"trace": trace, "traced": traced}

    def sp(trace, jobs):
        s = Span("sync_engine.report", 0.0, trace, parent=0, id=trace)
        s.counts = {"jobs": jobs, "stages": jobs}
        return s

    iters = [it(1), it(2, traced=False), it(3), it(4)]
    # the cold first iteration is not compared
    assert _counts_settled(iters, [sp(1, 31), sp(3, 30), sp(4, 30)])
    # two warm iterations disagree: a third must decide
    assert not _counts_settled(iters, [sp(3, 30), sp(4, 31)])
    assert _counts_settled(iters + [it(5)], [sp(3, 30), sp(4, 31), sp(5, 30)])
