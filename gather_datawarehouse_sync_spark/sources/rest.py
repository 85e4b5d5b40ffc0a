"""REST-shaped source/sink connectors (S6-S11).

The reference talks to its warehouse through a paginating HTTP client
(``client.listProjects()`` etc., ``src/DataWarehouse.js:74``, ``:400``)
and applies per-row writes as unbounded fire-and-forget promises
(``:238-244``, ``:449-451`` — no backpressure, results never awaited).

The Spark versions fix both ends:

- **source**: a driver-side paginated fetch handed to the JVM as one
  Arrow table with an explicit schema.  ``createDataFrame`` turns an
  Arrow table into a ``LocalRelation``, so every scan of the result is a
  JVM-local ``LocalTableScan``; a Python row list would instead become a
  ``Scan ExistingRDD`` whose every scan re-serializes the rows through a
  Python worker.  Dimension tables are small (projects, categories), so
  a driver fetch is the right topology; a huge source would instead
  shard page ranges across ``mapInPandas`` workers;
- **sink**: ``foreachPartition`` writers with *bounded* per-partition
  concurrency and idempotency keys, so retries can't double-apply and a
  slow endpoint backpressures the job instead of ballooning memory.

No HTTP library is imported here: the transport is injected as a
callable, which keeps the module dependency-free and unit-testable (the
test suite injects an in-memory fake).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: transport: (method, path, json_body) -> parsed-json response
Transport = Callable[[str, str, Any], Any]

PROJECT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("iam", T.StringType(), True),
                    T.StructField(
                        "file",
                        T.StructType(
                            [
                                T.StructField("file", T.StringType(), True),
                                T.StructField("md5", T.StringType(), True),
                            ]
                        ),
                        True,
                    ),
                ]
            ),
            True,
        ),
        T.StructField("archived", T.BooleanType(), True),
    ]
)

CATEGORY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("shortName", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("iam", T.StringType(), True),
                    T.StructField("selectable", T.BooleanType(), True),
                    T.StructField("editable", T.BooleanType(), True),
                ]
            ),
            True,
        ),
    ]
)


def fetch_paginated(
    spark: SparkSession,
    transport: Transport,
    path: str,
    schema: T.StructType,
    page_size: int = 1000,
    id_coerce: tuple[str, ...] = ("id",),
) -> DataFrame:
    """Paginated GET → DataFrame with an explicit schema.

    The reference receives stringly-typed ids and ``parseInt``s them at
    every use site (``:158``, ``:179``, ``:298`` …); here the coercion
    happens once at the boundary (``id_coerce``).  The rows reach the
    JVM as one Arrow table, so the frame is a ``LocalTableScan`` that
    runs no Python worker however often a plan reads it.

    The frame is one partition.  It was fetched through the driver, so
    it is driver-sized by construction, and a single partition already
    satisfies the clustering of any aggregate over it: a plan's
    project-side ``groupBy`` runs in one task with no ``Exchange``,
    instead of a shuffle over one task per core.
    """
    rows: list[dict] = []
    page = 0
    while True:
        batch = transport("GET", f"{path}?page={page}&limit={page_size}", None) or []
        for r in batch:
            r = dict(r)
            for k in id_coerce:
                if k in r and r[k] is not None:
                    r[k] = int(r[k])
            rows.append(r)
        if not batch:
            # terminate on the EMPTY page, not on a short one: a server
            # that clamps the requested limit (max-page-size policies
            # are common) returns short pages while more data remains —
            # a len(batch) < page_size test would silently truncate the
            # dataset after page 0.  Cost: one extra empty request.
            break
        page += 1
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema).coalesce(1)


def foreach_partition_writer(
    df: DataFrame,
    make_request: Callable[[Row], tuple[str, str, Any, str]],
    transport_factory: Callable[[], Transport],
    max_in_flight: int = 8,
    max_retries: int = 3,
) -> None:
    """Apply one HTTP call per row with bounded concurrency + retries.

    ``make_request(row)`` returns ``(method, path, body, idempotency_key)``.
    Each partition opens its own transport (connections are not
    serializable) and bounds in-flight calls with a thread pool of
    ``max_in_flight`` — the backpressure the reference lacks
    (``src/DataWarehouse.js:238-244``).  The idempotency key rides as a
    QUERY PARAMETER (a ``#fragment`` would be stripped client-side per
    RFC 3986 and never reach the server, silently voiding the retry
    safety it exists for), so a retried request is safe server-side.
    Each pool THREAD gets its own transport (``transport_factory`` is
    called per thread, not per partition): the factory's product may
    wrap a single socket or other non-thread-safe client, and sharing
    one across ``max_in_flight`` threads would interleave protocol
    streams.
    """

    def write_partition(rows: Iterator[Row]) -> None:
        import threading
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
        from itertools import islice

        local = threading.local()

        def send(row: Row) -> None:
            transport = getattr(local, "transport", None)
            if transport is None:
                transport = local.transport = transport_factory()
            method, path, body, idem = make_request(row)
            sep = "&" if "?" in path else "?"
            last: Exception | None = None
            for _ in range(max_retries):
                try:
                    transport(method, f"{path}{sep}idempotency_key={idem}", body)
                    return
                except Exception as exc:  # pragma: no cover - retry path
                    last = exc
            raise RuntimeError(f"sink write failed after {max_retries} tries: {last}")

        # bounded SUBMISSION window, not pool.map: Executor.map drains
        # the whole row iterator up front, so a large partition would
        # materialize every pending request as a queued future — the
        # execution concurrency is bounded but the memory is not.  A
        # sliding window of 2×workers keeps the pool saturated while
        # holding O(max_in_flight) rows, and fails fast on the first
        # exhausted-retries error instead of after draining the iterator.
        it = iter(rows)
        with ThreadPoolExecutor(max_workers=max_in_flight) as pool:
            pending = {pool.submit(send, r) for r in islice(it, 2 * max_in_flight)}
            while pending:
                done, pending = wait(pending, return_when=FIRST_COMPLETED)
                for f in done:
                    f.result()  # re-raise a failed write immediately
                pending |= {pool.submit(send, r) for r in islice(it, len(done))}

    df.foreachPartition(write_partition)
