"""Streaming deduplication with bounded state: dropDuplicatesWithinWatermark.

The batch dedup operators (operators/dedup.py) assume they can shuffle the
whole corpus; a continuously-ingesting pipeline cannot. Structured
Streaming's dropDuplicatesWithinWatermark keeps only the keys younger than
the event-time watermark in state, so dedup state is O(arrival rate x
watermark) instead of O(corpus) - the standard exactly-once ingest-dedup
for at-least-once upstream feeds (duplicate deliveries land close in
event time; the reference's Snowpipe COPY gives the same guarantee
per-file, S:58-74, which T1 already covers - this extends it per-ROW).

Scale notes (100 TB): state is hash-partitioned by key across executors
and bounded by the watermark horizon; the only shuffle is the one on the
dedup key that any exact dedup needs. File-chunk creation inside the
registered query uses repartitionByRange(ts) - the distributed way to
write time-bucketed files (no global sort, no driver collection).

Correctness strategy: the registered query plants duplicate rows (a
deterministic md5-hash sample of events, so the dup set is a pure function
of the data), streams the union through dropDuplicatesWithinWatermark, and
must reproduce `events` EXACTLY (oracle: SELECT the raw table). Duplicates
ride in the same time-bucketed file as their originals, so they are always
inside the watermark when they arrive, whatever order the file source
lists the chunks in. The cross-batch behavior - dup arriving a batch later
is dropped while within the watermark, re-admitted once its key ages out -
is locked down in tests/test_streaming.py, where batch boundaries are
driven explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _SPARK_H32
from ..registry import query
from ..tables import load_table
from .chunks import STATE_PARTITIONS, drain, ensure_event_chunks, read_events

# deterministic ~15% duplicate injection: pure function of event_id
_DUP_PRED = (
    _SPARK_H32.format(s="concat('dupfeed-', cast(event_id as string))")
    + " < 644245094"  # floor(0.15 * 2^32)
)


def events_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    return ev.unionByName(ev.where(F.expr(_DUP_PRED)))


def dup_event_feed(spark: SparkSession, sf_dir: str) -> str:
    """Named chunk-feed builder (same single-builder-per-tag contract as
    chunks.plain_event_feed) for the planted-duplicate stream."""
    return ensure_event_chunks(
        spark,
        sf_dir,
        "events_dedup",
        lambda: events_with_planted_dups(spark, sf_dir),
    )


def dedup_within_watermark_stream(
    spark: SparkSession,
    chunk_dir: str,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The streaming operator under test: schema-bound file stream ->
    event-time watermark -> per-row dedup on event_id with bounded state."""
    return (
        read_events(spark, chunk_dir, max_files_per_trigger)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
    FROM events
    ORDER BY event_id
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6 time-bucketed chunk files; identical ts keys (original + its dup)
    # land in the same range partition by construction. The chunk content
    # is a pure function of the source data, so it is written ONCE per
    # source generation and reused across invocations (see chunks.py);
    # only the streaming run below - the operator under test - gets a
    # fresh checkpoint and output dir every time.
    chunks = dup_event_feed(spark, sf_dir)
    # 6 chunks / 3 per trigger = 2+ genuine micro-batches
    out, _ = drain(
        dedup_within_watermark_stream(spark, chunks, max_files_per_trigger=3),
        "events_dedup",
        state_partitions=STATE_PARTITIONS,
    )
    back = spark.read.parquet(out)
    return back.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    ).orderBy("event_id")
