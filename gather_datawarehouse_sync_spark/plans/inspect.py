"""Physical-plan introspection: turn ``explain()`` output into data so
plan *shape* is testable.

The reference has no plan to inspect (control flow is the plan, SURVEY
§3/§4); in the Spark engine the plan is the product — whether a filter
reached the parquet scan, whether the dimension side broadcast, how many
exchanges a query costs.  These helpers parse the formatted explain
string so the test suite can pin those properties and fail loudly when a
regression un-pushes a predicate or degrades a broadcast join to a
shuffle — the 100 TB contract, checked at sf0.001.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (``explain()`` only prints).

    Modes: simple | extended | codegen | cost | formatted.
    """
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every predicate pushed into a scan, flattened across all scans.

    Parses ``PushedFilters: [IsNotNull(x), GreaterThan(y,45)]`` lines of
    the formatted plan — empty list ⇒ nothing reached the readers.
    """
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_str(df)):
        body = m.group(1).strip()
        if body:
            # split on top-level commas (predicates contain no nesting
            # beyond simple parens in practice)
            out.extend(p.strip() for p in re.split(r",\s*(?![^()]*\))", body))
    return out


def read_schemas(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each scan (``ReadSchema`` entries)
    — the column-pruning ground truth."""
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_str(df)):
        body = m.group(1)
        cols = [c.split(":")[0].strip() for c in body.split(",") if ":" in c]
        schemas.append(cols)
    return schemas


def shuffle_count(df: DataFrame) -> int:
    """Number of ``Exchange`` operators (shuffles) in the physical plan.

    Every exchange is a full network rewrite of the stream at 100 TB —
    the single most important number in a plan."""
    return len(re.findall(r"\bExchange\b", plan_str(df, "simple")))


def broadcast_join_count(df: DataFrame) -> int:
    """``BroadcastHashJoin`` occurrences — dimension joins that cost the
    fact side zero shuffles."""
    return len(re.findall(r"BroadcastHashJoin", plan_str(df, "simple")))


def codegen_stage_count(df: DataFrame, execute: bool = True) -> int:
    """Whole-stage-codegen span count; fused JVM loops.  A plan whose
    hot path sits inside few wide spans beats one fragmented by
    non-codegen operators (python UDFs, explodes of huge arrays...).

    Under AQE the codegen annotation only exists on the *final* plan, so
    by default the query is executed once (``count``) before reading it.
    """
    if execute:
        # collect (not count): count() builds a *different* query whose
        # execution leaves this df's adaptive plan unfinalized
        df.collect()
    text = plan_str(df)
    ids = re.findall(r"codegen id : (\d+)", text) + re.findall(
        r"WholeStageCodegen \((\d+)\)", text
    )
    return len(set(ids))
