"""File-inventory source (S1-S5, ``src/DataWarehouse.js:32-63``).

The reference builds its inventory from chokidar watcher events: one row
per ``*.shp`` file with relative path, md5, size and inode.  The Spark
expression is the built-in ``binaryFile`` source — recursive listing,
suffix predicate pushed into the scan via ``pathGlobFilter`` (the
reference pushed it by hand at ``:34``), content hashing as a JVM-side
``F.md5`` over the bytes.

At 100 TB the same plan holds: binaryFile splits the listing across
executors, the glob prunes before any byte is read, and the md5 is
computed where the data lives (no driver I/O, unlike the reference's
one-file-at-a-time ``md5File`` at ``:44``).  :func:`scan_files` merges
the splits into one task per core; its docstring gives what that costs
on trees of large files and under dynamic allocation.  As in the
reference, the md5 is computed once per sync: :func:`scan_files`
returns a snapshot that the file plan and the category plan both read.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Inventory schema (FIXTURES.md B / ref ``:48-56``).
FILE_COLUMNS = ("file", "md5", "size", "ino")

#: binaryFile's fixed schema — required explicitly by the streaming reader.
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), True),
        T.StructField("modificationTime", T.TimestampType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("content", T.BinaryType(), True),
    ]
)


# characters Hadoop's GlobFilter treats specially ("," only inside {}
# alternation — included anyway; an over-wide listing is always safe here)
_GLOB_SPECIALS = set("*?[]{}\\,")


def _ci_glob(suffix: str) -> str:
    """Case-insensitive glob for a suffix — ``.shp`` → ``*.[sS][hH][pP]``.

    Keeps the predicate pushed into the *listing* (no file opened, no row
    produced for non-matches) while matching the reference's
    case-insensitive admit (``:34`` lowercases before testing).

    The glob only needs to be a SUPERSET of the admit rule —
    :func:`_inventory` re-checks ``lower(path).endswith(lower(suffix))``
    exactly — so characters the simple ``[xX]`` class can't express
    safely degrade to ``?`` (any one char) instead of producing a wrong
    or broken pattern: letters with multi-char or asymmetric case
    mappings (``ß``.upper() == ``SS``; Turkish ``İ``), letters whose
    case variants aren't mutually reachable via lower/upper alone, and
    glob metacharacters appearing literally in the suffix.  The cost of
    ``?`` is listing (and reading) near-miss files that the exact filter
    then drops — IO, never correctness.
    """
    out = []
    for ch in suffix:
        lo, up = ch.lower(), ch.upper()
        if (
            ch.isalpha()
            and lo != up
            and len(lo) == 1
            and len(up) == 1
            # the class must re-admit the char itself, and round-trip:
            # a file char c matches the admit rule iff c.lower() ==
            # lo — for c ∈ {lo, up} that needs up.lower() == lo
            and ch in (lo, up)
            and up.lower() == lo
            and not ({lo, up} & _GLOB_SPECIALS)
        ):
            out.append(f"[{lo}{up}]")
        elif ch not in _GLOB_SPECIALS and lo == up:
            out.append(ch)
        else:
            out.append("?")
    return "*" + "".join(out)


def _inventory(df: DataFrame, root: str, suffix: str) -> DataFrame:
    """Project binaryFile rows to the reference's inventory shape."""
    rel = F.regexp_replace(
        F.col("path"), "^file:" + re.escape(root.rstrip("/")) + "/?", ""
    )
    return (
        df
        # glob matched case-sensitively upstream; keep the reference's
        # case-insensitive guard (ref :34 lowercases before testing)
        .filter(F.lower(F.col("path")).endswith(suffix.lower()))
        .select(
            rel.alias("file"),
            F.md5(F.col("content")).alias("md5"),
            F.col("length").alias("size"),
            # no portable inode through binaryFile: a stable surrogate id
            # derived from the absolute path (collision-safe enough for
            # identity; the reference only uses ino as an opaque id)
            F.xxhash64(F.col("path")).alias("ino"),
        )
    )


def scan_files(
    spark: SparkSession,
    root: str,
    suffix: str = ".shp",
) -> DataFrame:
    """Batch snapshot scan of a directory tree (S1 batch mode).

    Returns ``(file, md5, size, ino)`` with ``file`` relative to
    ``root`` (S5, ref ``:38``).

    The result is a snapshot, like the reference's one ``this._files``
    inventory: the tree is listed here, and the result is a lazy local
    checkpoint, so the first action that evaluates it reads and hashes
    the listed files once and stores the inventory rows in the
    executors' block managers.
    Every later read — the file plan, the category plan, any report —
    scans those blocks, not the tree.  The lineage is cut on purpose:
    rebuilding a lost block would re-hash a tree that may have changed
    since, and mix two snapshots in one sync.  The blocks belong to the
    returned DataFrame and live as long as it does (Spark's
    ContextCleaner frees them once the JVM collects it).

    The snapshot has at most one partition per core
    (``defaultParallelism``).  ``binaryFile`` packs about 32 files into
    a split, because each file counts as 4 MB of open cost however
    small it is, so a 2,000-file tree of shapefile stubs lists as 63
    tasks, and every read of the snapshot would run 63 tasks too.  A
    coalesce merges splits without a shuffle, so the scan, the hash and
    every later read run one task per core.  Two limits follow, since
    the coalesce sits under the hash:

    - it merges neighbouring splits by count, not by bytes, and
      ``binaryFile`` packs the largest files first, so the largest files
      of a tree are hashed by one task (a tree of six 64 MB files and
      600 small ones put all 384 MB into one of four tasks);
    - ``defaultParallelism`` is read when this is called.  On a cluster
      it counts the cores registered then; under dynamic allocation that
      can be 2, and the whole tree is then hashed by two tasks, however
      many executors join later.
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", _ci_glob(suffix))
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    # lineage cut: rebuilding a lost block would re-hash a tree that may have changed
    return (
        _inventory(df, root, suffix)
        .coalesce(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )


def scan_files_stream(
    spark: SparkSession,
    root: str,
    suffix: str = ".shp",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming variant (S1 live mode): the chokidar watcher becomes a
    Structured Streaming file source; new files surface as new rows.
    Pair with ``Trigger.AvailableNow`` for the reference's
    debounce-then-snapshot behavior (T1) or ``ProcessingTime`` for
    continuous tailing.
    """
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", _ci_glob(suffix))
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _inventory(reader.load(root), root, suffix)
