"""Custom stateful streaming operator: applyInPandasWithState.

The built-in streaming aggregations (aggregations.py) cover windowed and
session state; this module is the ESCAPE HATCH tier - arbitrary per-key
state the built-ins can't express (SURVEY §2b "stateful streaming ops",
brief: "applyInPandasWithState for custom stateful operators").

Operator: per-user running feature accumulator. For every user_id the
state holds (n_events, total_value, max_ts_us); each micro-batch folds its
rows into the state and emits the updated snapshot. The pattern is the
streaming half of feature-store maintenance: cumulative per-entity
aggregates over an unbounded event stream, exactly-once per checkpoint.

Scale notes (100 TB/day stream):
  * state is O(|users|) fixed-width rows, hash-partitioned by user_id -
    the same layout a shuffle-partitioned batch agg would have;
  * rows cross the Python boundary in Arrow batches per key-group, not
    per row;
  * emitted snapshots are per-key upserts: downstream sinks treat them as
    an update stream (foreachBatch MERGE, or a key-value store write).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..operators.statistics import _RL_CAP
from ..registry import ORACLES, query
from .chunks import (
    STATE_PARTITIONS,
    append_batch,
    drain,
    plain_event_feed,
    read_events,
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_ts_us", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_ts_us", T.LongType()),
    ]
)


def _accumulate(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, max_ts = state.get
    else:
        n, total, max_ts = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            max_ts = max(max_ts, int(pdf["ts_us"].max()))
    state.update((n, total, max_ts))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_ts_us": [max_ts],
        }
    )


def running_user_totals(events_stream: DataFrame) -> DataFrame:
    """events_stream needs (user_id, value, ts_us). Emits one updated
    (user_id, n_events, total_value, max_ts_us) snapshot per key per
    micro-batch; pair with outputMode('update')."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Registered, hash-verified form of the operator. Exactness contract: the
# stream pre-quantizes value to integer micro-units (floor(value * 1e6),
# identical in both engines), the state accumulates int64 - so the total
# is EXACTLY the sum of the quantized inputs regardless of batch order -
# and one final division renders it as a double. That turns the custom
# stateful operator from tolerance-tested into value-hash-verified
# against the batch oracle.

U6_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_u6", T.LongType()),
        T.StructField("max_ts_us", T.LongType()),
    ]
)

U6_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_u6", T.LongType()),
        T.StructField("max_ts_us", T.LongType()),
    ]
)


def _accumulate_u6(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total_u6, max_ts = state.get
    else:
        n, total_u6, max_ts = 0, 0, 0
    for pdf in pdfs:
        n += len(pdf)
        total_u6 += int(pdf["value_u6"].sum())
        if len(pdf):
            max_ts = max(max_ts, int(pdf["ts_us"].max()))
    state.update((n, total_u6, max_ts))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_u6": [total_u6],
            "max_ts_us": [max_ts],
        }
    )


def running_user_totals_u6(events_stream: DataFrame) -> DataFrame:
    """Exact-arithmetic twin of running_user_totals: expects
    (user_id, value_u6: long, ts_us: long)."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _accumulate_u6,
        outputStructType=U6_OUTPUT_SCHEMA,
        stateStructType=U6_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stateful_running_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 1000000 AS total_value,
           max(epoch_us(ts)) AS max_ts_us
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stateful_running_totals(spark, sf_dir: str) -> DataFrame:
    """Drain the chunked event stream through the custom stateful
    accumulator; per-key snapshots land in an upsert log via foreachBatch
    (the documented downstream pattern), and the final state per user -
    the snapshot with the greatest n_events, which is strictly monotone
    per emission - must equal the batch aggregate, hash-exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    stream = read_events(
        spark, plain_event_feed(spark, sf_dir), max_files_per_trigger=3
    ).select(
        "user_id",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("value_u6"),
        F.unix_micros("ts").alias("ts_us"),
    )
    out, _ = drain(
        running_user_totals_u6(stream),
        "stateful_totals",
        foreach_batch=append_batch,
        output_mode="update",
        state_partitions=STATE_PARTITIONS,
    )
    upserts = spark.read.parquet(out)
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        upserts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_u6").cast("double") / 1_000_000).alias("total_value"),
            "max_ts_us",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming rate limiter: the stateful-stream twin of the batch
# rate_limit_flags operator (operators/statistics.py). Per-user state is
# ONE (current_hour, count) pair - bounded regardless of stream length -
# advanced row-by-row in event-time order; every event past the first
# _RL_CAP in its (user, clock-hour) bucket is emitted flagged. Exactness
# rests on the chunk feed's arrival-order == event-time-order guarantee
# (chunks.py: range-bucketed files, mtimes stamped in range order; equal
# timestamps never straddle a chunk) plus an in-group (ts, event_id)
# sort, which together replay the batch window's total order across
# micro-batch boundaries - so the drained flags match the batch oracle
# HASH-exactly, not approximately.
#
# Scale notes (100 TB/day stream): state is 3 ints per active user,
# hash-partitioned by user_id; rows cross the Python boundary in Arrow
# batches; emitted rows are append-only (no retraction), so any
# append-capable sink works downstream.
SRL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cur_hour", T.LongType()),
        T.StructField("cnt_in_hour", T.LongType()),
    ]
)

SRL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("throttled", T.LongType()),
    ]
)

_US_PER_HOUR = 3_600_000_000


def _rate_limit(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        cur_hour, cnt = state.get
    else:
        cur_hour, cnt = -1, 0
    pdf = pd.concat(list(pdfs), ignore_index=True)
    # restore the total order inside the micro-batch; order ACROSS
    # batches is the chunk feed's arrival-order guarantee
    pdf = pdf.sort_values(["ts_us", "event_id"], ignore_index=True)
    flags = []
    for ts_us in pdf["ts_us"]:
        hour = int(ts_us) // _US_PER_HOUR
        if hour != cur_hour:
            cur_hour, cnt = hour, 0
        cnt += 1
        flags.append(1 if cnt > _RL_CAP else 0)
    state.update((cur_hour, cnt))
    yield pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            "throttled": pd.Series(flags, dtype="int64"),
        }
    )


def rate_limit_stream(events_stream: DataFrame) -> DataFrame:
    """events_stream needs (user_id, event_id, event_type, ts_us). Emits
    one row per input event with its throttle flag; append output."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _rate_limit,
        outputStructType=SRL_OUTPUT_SCHEMA,
        stateStructType=SRL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_rate_limit_flags",
    # the batch twin's oracle verbatim: streaming must be hash-equal
    oracle=ORACLES["rate_limit_flags"],
)
def stream_rate_limit_flags(spark, sf_dir: str) -> DataFrame:
    """Drain the chunked event stream through the stateful limiter and
    roll the per-event flag log up by type - identical columns (and, by
    the ordering guarantee, identical values) to the batch
    rate_limit_flags window; the oracle is the same SQL."""
    from pyspark.sql import functions as F

    stream = read_events(
        spark, plain_event_feed(spark, sf_dir), max_files_per_trigger=3
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    out, _ = drain(
        rate_limit_stream(stream),
        "rate_limit",
        foreach_batch=append_batch,
        output_mode="append",
        state_partitions=STATE_PARTITIONS,
    )
    flags = spark.read.parquet(out)
    throttled = F.sum("throttled")
    return flags.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        throttled.cast("bigint").alias("n_throttled"),
        F.round(throttled.cast("double") / F.count("*"), 6).alias(
            "throttle_rate"
        ),
    )
