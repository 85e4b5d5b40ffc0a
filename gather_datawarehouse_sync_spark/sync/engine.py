"""The sync engine — the reference's top-level capability, re-expressed
as one DataFrame plan per sync, evaluated once.

``syncFilesystem`` (``src/DataWarehouse.js:67-258``) walks rows one at a
time through nine imperative steps; here the same semantics are a
*plan*: dedup → cascading match → orphan second-chance → action
classification, all declarative, so Catalyst fuses the steps.  The
inventory is shuffled once, by the md5 duplicate window; every other
exchange is project-sized (aggregates over the project side and the
claims, joined back by broadcast), whatever the number of files.  The action
DataFrame is data — auditable, countable, retryable — and the sink
applies it in bulk with bounded concurrency (the reference fires
unbounded per-row RPCs, ``:238-244``).

Like the reference, which computes one plan from one snapshot of the
tree and then applies it, the action DataFrame is a *snapshot*: the
plan is evaluated once and its rows kept, so :func:`sync_report` and
:func:`apply_file_actions` see the same rows even if the tree changes
in between (see :func:`plan_filesystem_sync`).

Action vocabulary (SURVEY §2.11):

- ``insert``  — file with no project (ref ``:235-244``) or unclaimed
  duplicate alias (step-8 semantics, ``:211-221``)
- ``update``  — matched but path/md5 differ (ref ``:260-291``; unlike the
  reference, the *new* md5 is what lands — SURVEY §7 watch-list)
- ``keep``    — matched and identical
- ``archive`` — project with no file (soft delete, ref ``:198-201``)
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gather_datawarehouse_sync_spark.operators.dedup import mark_duplicates
from gather_datawarehouse_sync_spark.operators.hierarchy import path_categories
from gather_datawarehouse_sync_spark.operators.reconcile import reconcile
from gather_datawarehouse_sync_spark.sources.rest import (
    Transport,
    foreach_partition_writer,
)

#: match-tag vocabulary (ref ``:551``, ``:565``)
EXACT_MATCH = "exactMatch"
MD5_MATCH = "md5Match"


def _flatten_projects(projects: DataFrame) -> DataFrame:
    """P1/P2 (ref ``:79-91``): keep projects carrying file metadata and
    project the nested struct to flat columns."""
    return projects.filter(F.col("metadata.file").isNotNull()).select(
        F.col("id").alias("project_id"),
        F.col("metadata.file.file").alias("p_file"),
        F.col("metadata.file.md5").alias("p_md5"),
    )


def plan_filesystem_sync(
    files: DataFrame,
    projects: DataFrame,
    archived_projects: DataFrame | None = None,
) -> DataFrame:
    """Classify every file and project into one sync action.

    Inputs: ``files`` = the inventory ``(file, md5, size, ino)`` (from
    :func:`~gather_datawarehouse_sync_spark.sources.filescan.scan_files`);
    ``projects`` / ``archived_projects`` with the nested
    ``metadata.file`` shape (``sources.rest.PROJECT_SCHEMA``).

    Returns one DataFrame, one row per file *or* orphaned project:
    ``(action, match, file, md5, size, ino, alias, project_id, p_file,
    p_md5)``.

    Mirrors ``syncFilesystem``'s nine steps (SURVEY §3.2) with the
    documented deterministic deviations: canonical duplicate = min path;
    greedy claims replaced by min-project-id picks.

    The result is a snapshot, not a lazy query over the live tree: it
    is a lazy local checkpoint, so its shuffle stages run inside this
    call (AQE plans the final stage by executing them) and the first
    action stores the action rows in the executors' block managers.
    Every later read (:func:`sync_report`, :func:`apply_file_actions`)
    scans those blocks instead of re-running the plan.
    The lineage is cut on purpose: rebuilding a lost block from a tree
    that changed since the report would apply a plan the report never
    showed.  The blocks live as long as the returned DataFrame: once the
    caller drops it and the JVM collects it, Spark's ContextCleaner
    frees them.
    """
    all_projects = _flatten_projects(
        projects if archived_projects is None else projects.unionByName(archived_projects)
    )
    project = F.struct("project_id", "p_file", "p_md5")
    # a file row, ino first: a min over its struct picks the min-ino file
    row = ("ino", "file", "md5", "size", "alias")

    # D1: annotate duplicates; canonical (deterministic: min path) rows
    # are the "mains" the match loop runs over (ref :99, :138-140).  The
    # md5 window is the plan's one inventory-sized shuffle: every later
    # step aggregates down to the project side and joins back by
    # broadcast.  Each branch below re-reads that shuffle (exchange
    # reuse), which holds only while the optimizer sees the same
    # inventory subtree in every branch: branches keep the whole file
    # row, and no join lets it infer an IS NOT NULL filter that it would
    # push below the window (tests/test_plans.py pins this).
    marked = mark_duplicates(files, hash_col="md5", id_col="ino", order_col="file")
    mains = marked.filter(F.col("alias").isNull())
    aliases = marked.filter(F.col("alias").isNotNull())

    # J1 cascade: exact path first, md5 only as fallback (ref :538-572);
    # each tier picks its min project id, replacing the reference's
    # first-in-array-order [0], so a main joins at most one row per tier
    def tier_pick(key: str, on: str, label: str) -> DataFrame:
        return F.broadcast(
            all_projects.groupBy(F.col(key).alias(on)).agg(F.min(project).alias(label))
        )

    matched = (
        mains.join(tier_pick("p_file", "file", "__exact"), "file", "left")
        .join(tier_pick("p_md5", "md5", "__by_md5"), "md5", "left")
        .select(
            F.coalesce("__exact", "__by_md5").alias("__p"),
            F.col("__exact").isNull().alias("__md5_tier"),
            *row,
        )
        # the filter the claim joins below would infer, stated once
        .filter(F.col("__p.project_id").isNotNull())
    )

    # a project may match several mains (same path can't repeat, but its
    # md5 might): ONE claim per project, carrying its main's row —
    # exactMatch claims beat md5Match claims (r16 review find: an
    # ino-only pick let a smaller-ino md5Match steal the project from its
    # path-exact main, which then re-inserted as a path-duplicate
    # project; tier priority preserves the cascade's exact-path-first
    # intent), ties to min ino
    claims = matched.groupBy("__p").agg(F.min(F.struct("__md5_tier", *row)).alias("__f"))

    # J5 orphan pass (ref :178-203): projects no main claimed get a
    # second chance against the *alias* files (md5 only — the alias set
    # shares content with its canonical, the path tier can't apply): the
    # min-ino alias of their md5, a per-md5 min over the window's own
    # partitioning.  One alias file can satisfy only one orphan
    # (greedy→deterministic: min project_id wins the alias); losers fall
    # through to archive.  The orphan test reads the whole claim (an
    # id-only anti-join would prune the claim to a narrower inventory
    # subtree), and the alias join is null-safe on a non-null p_md5
    # (``==`` would infer ``md5 IS NOT NULL`` under the window).
    orphans = (
        all_projects.join(
            F.broadcast(claims), F.col("project_id") == F.col("__p.project_id"), "left"
        )
        .filter(F.col("__f").isNull())
        .select("project_id", "p_file", "p_md5")
    )
    first_alias = aliases.groupBy("md5").agg(F.min(F.struct(*row)).alias("__f"))
    winners = (
        F.broadcast(orphans.filter(F.col("p_md5").isNotNull()))
        .join(first_alias, F.col("p_md5").eqNullSafe(F.col("md5")))
        .groupBy("__f")
        .agg(F.min(project).alias("__p"))
    )

    file_cols = [F.col(f"__f.{c}").alias(c) for c in row]
    # M1 diff: claimed mains → update when path or md5 drifted (ref
    # :260-291 — and unlike the reference we persist the new md5), else keep
    claimed = claims.select(
        F.when(
            ~F.col("__p.p_file").eqNullSafe(F.col("__f.file"))
            | ~F.col("__p.p_md5").eqNullSafe(F.col("__f.md5")),
            F.lit("update"),
        )
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.when(F.col("__f.__md5_tier"), F.lit(MD5_MATCH))
        .otherwise(F.lit(EXACT_MATCH))
        .alias("match"),
        *file_cols,
        "__p.*",
    )
    second_chance = winners.select(
        F.lit("update").alias("action"), F.lit(MD5_MATCH).alias("match"), *file_cols, "__p.*"
    )
    # archive (ref :198-201): the orphans no alias saved
    archived = orphans.join(
        F.broadcast(winners), F.col("project_id") == F.col("__p.project_id"), "left_anti"
    ).select(
        F.lit("archive").alias("action"),
        F.lit("none").alias("match"),
        "project_id",
        "p_file",
        "p_md5",
    )
    # insert: mains no project claimed (J4, ref :162-165 — a main whose
    # claim was taken carries no project residue) and aliases no orphan
    # claimed (step 8, ref :211-221)
    inserted = (
        marked.join(F.broadcast(claims), F.col("ino") == F.col("__f.ino"), "left_anti")
        .join(F.broadcast(winners), F.col("ino") == F.col("__f.ino"), "left_anti")
        .select(F.lit("insert").alias("action"), F.lit("none").alias("match"), *row)
    )

    # snapshot cut: the plan must not be recomputed from a changed tree
    return (
        claimed.unionByName(second_chance)
        .unionByName(archived, allowMissingColumns=True)
        .unionByName(inserted, allowMissingColumns=True)
        .select(
            "action", "match", "file", "md5", "size", "ino", "alias",
            "project_id", "p_file", "p_md5",
        )
        .localCheckpoint(eager=False)
    )


def plan_category_sync(
    files: DataFrame,
    server_categories: DataFrame,
    root_category: str = "files",
    iam: str = "gatherbot",
) -> DataFrame:
    """M4 category reconciliation (``syncCategories``, ref ``:392-463``).

    Derives the path-dimension from the inventory (H1/H2) and
    full-outer-diffs it against the server's bot-owned categories on
    ``(type, name)``: missing → ``insert``, matched → ``keep``,
    deprecated → ``delete``.  The reference hard-errors on duplicate
    ``(type, name)`` server rows (``:432-434``); use
    :func:`operators.reconcile.assert_unique_keys` upstream for that.
    """
    fs_cats = path_categories(files, path_col="file", root_category=root_category)
    server = server_categories.filter(F.col("metadata.iam") == iam).select(
        F.col("type"),
        F.col("name"),
        F.col("id").alias("category_id"),
    )
    return reconcile(
        fs_cats.select("type", "name", "short_name", "path", "depth"),
        server,
        keys=["type", "name"],
        compare_cols=[],
    )


def sync_report(actions: DataFrame) -> dict[str, int]:
    """The reference's end-of-run counters (``found/missing/updates``,
    ref ``:230``) from one aggregation over the action plan — the SAME
    aggregation as :func:`...operators.reconcile.action_counts`
    (reused, not re-spelled, so the report column/vocabulary cannot
    drift between the two surfaces)."""
    from gather_datawarehouse_sync_spark.operators.reconcile import (
        action_counts,
    )

    return {r["action"]: r["c"] for r in action_counts(actions).collect()}


def apply_file_actions(
    actions: DataFrame,
    transport_factory: Callable[[], Transport],
    max_in_flight: int = 8,
) -> None:
    """Apply an action plan to the warehouse through bounded-concurrency
    REST writers (S8-S10) — insert/update/archive; ``keep`` rows are
    no-ops and never leave the cluster.

    Request shapes follow the reference's sink calls: create with
    derived title + ``isDataset`` (``:351-375``), metadata update
    (``:294-309``), archive (``:376-389``).
    """

    def make_request(row: Any) -> tuple[str, str, Any, str]:
        if row["action"] == "insert":
            title = row["file"].rsplit("/", 1)[-1].rsplit(".", 1)[0]
            body = {
                "metadata": {"file": {"file": row["file"], "md5": row["md5"]}},
                "attributes": {"title": title, "isDataset": True},
            }
            return ("POST", "/projects", body, f"insert-{row['md5']}-{row['file']}")
        if row["action"] == "update":
            body = {
                "id": row["project_id"],
                "metadata": {"file": {"file": row["file"], "md5": row["md5"]}},
            }
            return (
                "PUT",
                f"/projects/{row['project_id']}/metadata",
                body,
                f"update-{row['project_id']}-{row['md5']}",
            )
        if row["action"] == "archive":
            return (
                "POST",
                f"/projects/{row['project_id']}/archive",
                None,
                f"archive-{row['project_id']}",
            )
        raise ValueError(f"unapplicable action: {row['action']}")

    foreach_partition_writer(
        actions.filter(F.col("action").isin("insert", "update", "archive")),
        make_request,
        transport_factory,
        max_in_flight=max_in_flight,
    )
