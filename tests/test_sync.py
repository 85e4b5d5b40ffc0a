"""End-to-end sync scenario tests (SURVEY §5.2's golden-state matrix):
new file / renamed / content change / duplicate / deleted, against
in-memory project tables and a fake REST transport.
"""

from __future__ import annotations

import hashlib
import json
import uuid

import pytest
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.sources.filescan import scan_files
from gather_datawarehouse_sync_spark.sources.rest import CATEGORY_SCHEMA, PROJECT_SCHEMA
from gather_datawarehouse_sync_spark.sync import (
    apply_file_actions,
    plan_category_sync,
    plan_filesystem_sync,
    sync_report,
)


def _files(spark, rows):
    return spark.createDataFrame(rows, "file string, md5 string, size long, ino long")


def _projects(spark, rows):
    """rows: (id, file, md5) with file=None → project without metadata.file"""
    data = [
        {
            "id": pid,
            "metadata": {
                "iam": "gatherbot",
                "file": None if f is None else {"file": f, "md5": m},
            },
            "archived": False,
        }
        for pid, f, m in rows
    ]
    return spark.createDataFrame(data, PROJECT_SCHEMA)


def _recorder(log_path):
    """A transport factory that appends each request to ``log_path``
    (the transports run in Python workers, so the record is a file)."""

    def transport_factory():
        def transport(method, path, body):
            with open(log_path, "a") as fh:
                fh.write(json.dumps({"m": method, "p": path, "b": body}) + "\n")

        return transport

    return transport_factory


def _jobs_run_by(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts, read from the status
    tracker under a job group unique to this call."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(spark, files, projects):
    df = plan_filesystem_sync(_files(spark, files), _projects(spark, projects))
    return {r["ino"] if r["ino"] is not None else f"p{r['project_id']}": r for r in df.collect()}


def test_new_files_insert(spark):
    out = _plan(spark, [("a/x.shp", "m1", 5, 1)], [])
    assert out[1]["action"] == "insert" and out[1]["match"] == "none"


def test_identical_state_keeps(spark):
    out = _plan(
        spark,
        [("a/x.shp", "m1", 5, 1)],
        [(10, "a/x.shp", "m1")],
    )
    assert out[1]["action"] == "keep"
    assert out[1]["match"] == "exactMatch" and out[1]["project_id"] == 10


def test_renamed_file_md5_match_updates(spark):
    # same bytes, new path → md5 tier catches it, path update flows (ref :264)
    out = _plan(
        spark,
        [("a/renamed.shp", "m1", 5, 1)],
        [(10, "a/old.shp", "m1")],
    )
    assert out[1]["action"] == "update" and out[1]["match"] == "md5Match"
    assert out[1]["project_id"] == 10


def test_content_change_exact_match_updates(spark):
    # same path, new bytes → path tier wins, md5 update flows (ref :282 —
    # the reference only *logs* this; we persist, SURVEY §7 deviation)
    out = _plan(
        spark,
        [("a/x.shp", "NEW", 5, 1)],
        [(10, "a/x.shp", "OLD")],
    )
    assert out[1]["action"] == "update" and out[1]["match"] == "exactMatch"


def test_path_tier_beats_md5_tier(spark):
    # one file, two candidate projects: path match must win (ref :544-554)
    out = _plan(
        spark,
        [("a/x.shp", "m1", 5, 1)],
        [(20, "other.shp", "m1"), (10, "a/x.shp", "zz")],
    )
    assert out[1]["match"] == "exactMatch" and out[1]["project_id"] == 10
    # the md5-only project is orphaned; its md5 matches no *alias* → archive
    assert out["p20"]["action"] == "archive"


def test_deleted_file_archives_project(spark):
    out = _plan(spark, [], [(10, "gone.shp", "m1")])
    assert out["p10"]["action"] == "archive" and out["p10"]["project_id"] == 10


def test_duplicate_files_one_main_one_leftover_insert(spark):
    # two identical files, no projects: canonical (min path) inserts as
    # main; the alias is unclaimed → step-8 leftover insert (ref :211-221)
    out = _plan(
        spark,
        [("b/copy.shp", "m1", 5, 2), ("a/orig.shp", "m1", 5, 1)],
        [],
    )
    assert out[1]["action"] == "insert" and out[1]["alias"] is None
    assert out[2]["action"] == "insert" and out[2]["alias"] == 1


def test_orphan_second_chance_claims_alias(spark):
    # project matches no main but shares md5 with the *alias* copy →
    # update against the alias file instead of archive (ref :178-203)
    out = _plan(
        spark,
        [("a/orig.shp", "m1", 5, 1), ("b/copy.shp", "m1", 5, 2)],
        [(10, "a/orig.shp", "m1"), (20, "b/old-copy.shp", "m1")],
    )
    assert out[1]["action"] == "keep" and out[1]["project_id"] == 10
    assert out[2]["action"] == "update" and out[2]["project_id"] == 20
    assert out[2]["match"] == "md5Match"
    # no leftover insert: the alias was claimed
    assert len(out) == 2


def test_one_project_claims_one_file(spark):
    # two mains share nothing; one project md5-matches main 1 only once
    out = _plan(
        spark,
        [("a/x.shp", "m1", 5, 1), ("b/y.shp", "m2", 5, 2)],
        [(10, "zz", "m1")],
    )
    assert out[1]["action"] == "update" and out[1]["project_id"] == 10
    assert out[2]["action"] == "insert" and out[2]["project_id"] is None


def test_sync_report_counts(spark):
    actions = plan_filesystem_sync(
        _files(spark, [("a.shp", "m1", 1, 1), ("b.shp", "m2", 1, 2)]),
        _projects(spark, [(10, "a.shp", "m1"), (30, "dead.shp", "zz")]),
    )
    assert sync_report(actions) == {"keep": 1, "insert": 1, "archive": 1}


def test_projects_without_file_metadata_ignored(spark):
    # P1 (ref :79-81): projects lacking metadata.file never participate
    out = _plan(spark, [("a.shp", "m1", 1, 1)], [(10, None, None)])
    assert out[1]["action"] == "insert"
    assert "p10" not in out  # not archived either — it was never considered


def test_apply_file_actions_requests(spark, tmp_path):
    log = tmp_path / "rpc.jsonl"
    actions = plan_filesystem_sync(
        _files(spark, [("a/new.shp", "m9", 1, 1), ("b/same.shp", "m2", 1, 2)]),
        _projects(spark, [(10, "b/same.shp", "m2"), (30, "dead.shp", "zz")]),
    )

    apply_file_actions(actions, _recorder(str(log)))
    calls = [json.loads(l) for l in log.read_text().splitlines()]
    by_method = {}
    for c in calls:
        # strip the idempotency key (a query param since r16 — a #fragment
        # never reached the server) to group by the logical endpoint
        by_method.setdefault(
            (c["m"], c["p"].split("?")[0].split("#")[0]), []
        ).append(c)
    # keep rows never produce RPCs; insert carries derived title (ref :364)
    assert len(calls) == 2
    ins = by_method[("POST", "/projects")][0]
    assert ins["b"]["attributes"] == {"title": "new", "isDataset": True}
    assert ins["b"]["metadata"]["file"] == {"file": "a/new.shp", "md5": "m9"}
    assert ("POST", "/projects/30/archive") in by_method


def test_apply_applies_the_reported_snapshot(spark, tmp_path):
    """The plan is a snapshot of the tree, like the reference's one plan
    per ``syncFilesystem`` run: bytes rewritten and files added after
    the report must not leak into the apply, which sends exactly the
    reported actions with the md5s hashed at planning time."""
    root = tmp_path / "tree"
    root.mkdir()
    content = {"same.shp": b"same-bytes", "drift.shp": b"old-bytes!", "new.shp": b"new"}
    for name, data in content.items():
        (root / name).write_bytes(data)
    md5 = {name: hashlib.md5(data).hexdigest() for name, data in content.items()}
    actions = plan_filesystem_sync(
        scan_files(spark, str(root)),
        _projects(
            spark,
            [(10, "same.shp", md5["same.shp"]), (20, "drift.shp", "stale"), (30, "gone.shp", "zz")],
        ),
    )
    report = sync_report(actions)
    assert report == {"keep": 1, "update": 1, "insert": 1, "archive": 1}

    # same length, new bytes: only the md5 can tell the two trees apart
    (root / "drift.shp").write_bytes(b"new-bytes!")
    (root / "late.shp").write_bytes(b"late")
    log = tmp_path / "rpc.jsonl"
    apply_file_actions(actions, _recorder(str(log)))

    calls = [json.loads(l) for l in log.read_text().splitlines()]
    assert len(calls) == report["insert"] + report["update"] + report["archive"]
    sent = {
        c["b"]["metadata"]["file"]["file"]: c["b"]["metadata"]["file"]["md5"]
        for c in calls
        if c["b"] is not None
    }
    assert sent == {"drift.shp": md5["drift.shp"], "new.shp": md5["new.shp"]}
    assert [c["p"].split("?")[0] for c in calls if c["b"] is None] == ["/projects/30/archive"]


def test_apply_after_report_runs_one_job(spark, tmp_path):
    """Once the report has read the plan, the apply scans the stored
    action rows: one job, with no plan stage re-run."""
    actions = plan_filesystem_sync(
        _files(spark, [("a/new.shp", "m9", 1, 1), ("b/same.shp", "m2", 1, 2)]),
        _projects(spark, [(10, "b/same.shp", "m1"), (30, "dead.shp", "zz")]),
    )
    sync_report(actions)
    log = tmp_path / "rpc.jsonl"
    jobs = _jobs_run_by(spark, lambda: apply_file_actions(actions, _recorder(str(log))))
    assert jobs == 1
    assert len(log.read_text().splitlines()) == 3


def test_category_plan_reads_the_file_plans_snapshot(spark, tmp_path):
    """The file plan and the category plan read one snapshot of the
    tree, as the reference runs both syncs over one inventory: files
    added to a new directory, or moved there, after the file plan was
    reported must not reach the category plan built from the same
    ``files`` frame (a re-read of the tree would also fail on the
    moved file's old path)."""
    root = tmp_path / "tree"
    (root / "A").mkdir(parents=True)
    (root / "A" / "x.shp").write_bytes(b"x")
    files = scan_files(spark, str(root))
    assert sync_report(plan_filesystem_sync(files, _projects(spark, []))) == {"insert": 1}

    (root / "NEW").mkdir()
    (root / "NEW" / "y.shp").write_bytes(b"y")
    (root / "A" / "x.shp").rename(root / "NEW" / "x.shp")
    server = spark.createDataFrame([], CATEGORY_SCHEMA)
    assert sync_report(plan_category_sync(files, server)) == {"insert": 1}
    assert [r["name"] for r in plan_category_sync(files, server).collect()] == ["files/A"]


def test_warm_sync_finds_its_generated_classes(spark, tmp_path):
    """A watcher daemon syncs again and again in one session.  One sync
    generates about 90 distinct classes, and Spark's JVM-wide
    generated-class cache must hold them all: at Spark's default of 100
    entries the LRU cycles, and every later sync recompiles every
    class.  A second identical sync compiles (almost) nothing."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    root = tmp_path / "tree"
    for name, data in {"a/x.shp": b"x", "a/y.shp": b"y", "b/x.shp": b"x"}.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_bytes(data)
    projects = _projects(
        spark,
        [(10, "a/x.shp", hashlib.md5(b"x").hexdigest()), (20, "a/old.shp", "zz"), (30, "c/z.shp", "m")],
    )
    server = spark.createDataFrame([], CATEGORY_SCHEMA)

    def sync(i):
        files = scan_files(spark, str(root))
        actions = plan_filesystem_sync(files, projects)
        sync_report(actions)
        sync_report(plan_category_sync(files, server))
        apply_file_actions(actions, _recorder(str(tmp_path / f"rpc{i}.jsonl")))

    sync(0)
    before = compiles.getCount()
    sync(1)
    assert compiles.getCount() - before <= 20


def test_category_sync_three_way(spark):
    files = _files(
        spark,
        [("A/B/x.shp", "m1", 1, 1), ("A/y.shp", "m2", 1, 2), ("C/z.shp", "m3", 1, 3)],
    )
    server = spark.createDataFrame(
        [
            # matched: files/A
            {"id": 1, "type": "files", "name": "files/A", "metadata": {"iam": "gatherbot"}},
            # deprecated: files/OLD
            {"id": 2, "type": "files", "name": "files/OLD", "metadata": {"iam": "gatherbot"}},
            # foreign (iam != gatherbot) must be ignored entirely (ref :403-405)
            {"id": 3, "type": "files", "name": "files/C", "metadata": {"iam": "human"}},
        ],
    )
    plan = plan_category_sync(files, server)
    got = {(r["type"], r["name"]): r["action"] for r in plan.collect()}
    assert got[("files", "files/A")] == "keep"
    # type = lowercased parent path (ref :684)
    assert got[("files/a", "files/A/B")] == "insert"
    assert got[("files", "files/OLD")] == "delete"
    assert got[("files", "files/C")] == "insert"


def test_demoted_main_carries_no_stale_project_columns(spark):
    """A main whose md5Match claim is stolen by a path-exact main must
    insert with a FULLY null project tuple — stale p_file/p_md5 on the
    demoted row would leak the stolen project's identity into the
    auditable action plan (r17 review find).  Scenario: project 10 is
    (a/x.shp, mB); ino=1 sits at that path with drifted content (mA),
    ino=2 carries mB at another path.  The exact tier must keep the
    project on ino=1 (update), and ino=2's md5 claim demotes to an
    insert with no project residue."""
    out = _plan(
        spark,
        [("a/x.shp", "mA", 5, 1), ("b/y.shp", "mB", 5, 2)],
        [(10, "a/x.shp", "mB")],
    )
    assert out[1]["action"] == "update" and out[1]["project_id"] == 10
    demoted = out[2]
    assert demoted["action"] == "insert" and demoted["match"] == "none"
    assert demoted["project_id"] is None
    assert demoted["p_file"] is None and demoted["p_md5"] is None
