"""Stream-static enrichment join: the most common production streaming
shape - a live event stream joined per micro-batch against a slowly-
changing batch dimension (feature store, product catalog, geo table).
Structured Streaming re-plans the static side each micro-batch, so the
dim is re-read (and picks up dim updates) without restarting the query;
no watermark or join state is needed because the static side is bounded
per batch - this is the STATELESS streaming join, in contrast to the
stream-stream interval join (joins.py) whose both sides buffer state.

Scale notes (100 TB/day stream): the static side is planned per batch -
Catalyst broadcasts it when it fits (the typical enrichment-dim case)
and falls back to a shuffle join when it does not (no forced hint here,
the round-5 cohort lesson); for a huge dim the production pattern is
pre-bucketing the dim on the join key so each micro-batch joins
bucket-aligned. The stream side is stateless projection - state is
O(batch), never O(stream history).

Correctness: the registered query runs the real micro-batch engine over
the time-bucketed chunk feed (availableNow, >1 batch), lands enriched
rows in parquet, and the result must equal the plain batch join - the
oracle - row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table
from .chunks import drain, plain_event_feed, read_events


def static_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrichment dimension: customer keyed into the event stream's
    user_id space (user_id = c_custkey - 1 covers every user)."""
    return load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )


def enrich_stream(
    spark: SparkSession,
    chunk_dir: str,
    dim: DataFrame,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The operator under test: file-source stream inner-joined per
    micro-batch against the static dim on user_id."""
    return read_events(spark, chunk_dir, max_files_per_trigger).join(
        dim, "user_id"
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           e.event_type, e.value, c.c_mktsegment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    ORDER BY e.event_id
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = plain_event_feed(spark, sf_dir)
    dim = static_user_dim(spark, sf_dir)
    out, _ = drain(
        enrich_stream(spark, chunks, dim, max_files_per_trigger=3),
        "static_enrich",
    )
    back = spark.read.parquet(out)
    return back.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        "c_mktsegment",
    ).orderBy("event_id")
