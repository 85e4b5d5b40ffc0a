"""Event-time windowed operators (Q38-Q40's streaming forms) and
stateful streaming dedup/aggregation.

The reference has no event time at all (SURVEY §2.12) — its only clock
is a processing-time debounce.  This module is the new-engine surface:
the same ``F.window`` / ``F.session_window`` expressions the batch
queries (queries.py q38-q40) use, made incremental with watermarks so
state is bounded on unbounded input.  Every function accepts either a
batch or a streaming DataFrame — the expressions are identical; only
the sink differs (collect vs writeStream).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    watermark: str = "2 hours",
    agg_cols: tuple = (),
) -> DataFrame:
    """Tumbling event-time window counts (+ optional extra aggregates).

    The watermark bounds state: windows older than max(event time) −
    ``watermark`` are finalized and evicted — late rows beyond it are
    dropped instead of growing state forever (the 100 TB requirement the
    reference's in-memory array cannot meet).
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, width).alias("w"))
        .agg(F.count(F.lit(1)).alias("c"), *agg_cols)
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding windows — each event lands in ``width/slide`` windows."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("window_start"), "c")
    )


def session_counts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per key with a quiescence ``gap`` — the
    event-time generalization of the reference's processing-time debounce
    (``_checkIdle``, ``:639-659``): a session closes when its key is
    silent for ``gap``."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: tuple = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once keyed dedup over a stream (D1's streaming form).

    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts
    key state once the watermark passes — bounded memory on an unbounded
    stream.  Batch input falls back to plain ``dropDuplicates`` (same
    result on a finite frame).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def stateful_running_totals(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful per-key accumulator via ``applyInPandasWithState``
    — the template for operators windows can't express (the reference's
    incremental trie maintenance T3 is this shape).

    Streaming: per-key state holds ``(count, total)`` across
    micro-batches, emitting one updated row per key per batch.  Batch
    input computes the same totals with a plain aggregation.

    The output key column keeps the INPUT's type (derived from the
    frame's schema, not hardcoded string): a bigint key under a
    hardcoded-string schema fails Arrow conversion in the streaming
    path while the batch fallback keeps bigint — breaking both the
    operator and its own stream≡batch parity contract.
    """
    key_t = events.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_t}, n bigint, total double"

    if not events.isStreaming:
        # coalesce to 0.0 for stream parity: an all-NULL-value key sums
        # to NULL here, while the streaming path's pandas sum over an
        # all-NaN series returns 0.0 (skipna)
        return events.groupBy(key_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.col(value_col).cast("double")), F.lit(0.0)
            ).alias("total"),
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same key that occur within ``(left_ts, left_ts +
    max_delay]`` — the click→purchase attribution shape.

    On streams, the watermark on BOTH inputs plus the closed time-range
    predicate is what lets Spark bound the join state: buffered left
    rows are evicted once the right watermark passes ``left_ts +
    max_delay`` (unbounded state otherwise — Spark rejects the join
    without the range condition).  On batch frames the same predicate
    runs as an ordinary join, which is the parity contract the tests
    check.  Every right column comes back ``r_``-prefixed so the two
    sides never collide.
    """
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    r = r.select(*[F.col(c).alias(f"r_{c}") for c in r.columns])
    rts = f"r_{right_ts}"
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(rts) > F.col(left_ts))
        & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner")
