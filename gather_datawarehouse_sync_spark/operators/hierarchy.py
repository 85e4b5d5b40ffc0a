"""Path-hierarchy dimension derivation (H1/H2).

The reference grows a trie one path at a time (``_addPath``,
``src/DataWarehouse.js:616-637``) and flattens it breadth-first into
category rows (``_flattenTreeChildrenBFS``, ``:662-709``).  Relationally
that whole structure is just "the distinct set of directory prefixes of
every file path", so the Spark version is split → prefix explosion →
distinct — no tree, no driver state, one shuffle for the distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def path_categories(
    df: DataFrame,
    path_col: str = "file",
    root_category: str = "files",
) -> DataFrame:
    """Derive the category dimension from file paths.

    Matches the reference's row shape (``src/DataWarehouse.js:683-689``):

    - ``type``      — lowercased parent path (``:684``)
    - ``name``      — full prefix path, original case (``:685``)
    - ``short_name`` — last path component (``:687``)
    - ``path``      — parent path + "/" (``:688``)
    - ``depth``     — levels under the root (ordering key; the reference's
      BFS order restored with ``ORDER BY depth, name``)

    The filename itself is dropped (``.slice(0, -1)`` at ``:622``) and the
    root row is not emitted (``list.slice(1)`` at ``:706``).

    Empty path components (a leading ``/``, doubled ``//``) are
    normalized away (r16 review find): without the filter an absolute
    path emits phantom rows — ``name='files/'`` with an empty
    short_name — that plan_category_sync would push to the server as
    inserts.  (Deliberate deviation from a byte-faithful JS ``split``:
    the reference only ever sees relative paths because S5 strips the
    scan root first.)

    Rows are deduplicated on ``(type, name)``, the category key.
    ``name`` fixes ``parent``, ``short_name`` and ``depth``, so the
    rows are those of a distinct over all columns; but the aggregate's
    output is partitioned by the key, so a join on ``(type, name)``
    (:func:`~gather_datawarehouse_sync_spark.sync.plan_category_sync`'s
    reconcile) reuses it and shuffles only the other side.
    """
    parts = F.expr(
        f"filter(slice(split({path_col}, '/'), 1, "
        f"size(split({path_col}, '/')) - 1), x -> x != '')"
    )
    root = F.lit(root_category)
    # posexplode of the directory components: a root-level file has an
    # empty parts array and naturally emits no rows (the old
    # sequence(1, size) formulation produced a *descending* [1,0] sequence
    # on empty input and crashed element_at)
    exploded = df.select(
        parts.alias("__parts"), F.posexplode(parts).alias("__pos", "__part")
    )
    prefixes = exploded.select(
        F.concat_ws(
            "/", root, F.slice("__parts", 1, F.col("__pos") + 1)
        ).alias("name"),
        F.when(F.col("__pos") == 0, root)
        .otherwise(F.concat_ws("/", root, F.slice("__parts", 1, F.col("__pos"))))
        .alias("parent"),
        F.col("__part").alias("short_name"),
        (F.col("__pos") + 1).alias("depth"),
    )
    return prefixes.select(
        F.lower("parent").alias("type"),
        "name",
        "short_name",
        F.concat(F.col("parent"), F.lit("/")).alias("path"),
        "depth",
    ).dropDuplicates(["type", "name"])
