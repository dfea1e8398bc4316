"""Stream-stream event-time interval join with watermarked state.

The last major Structured Streaming surface the engine exposes: joining
two unbounded streams (here: purchase events to the clicks that preceded
them within an attribution window) where neither side can be buffered
whole. Spark keeps both sides in keyed state and uses the event-time
bounds in the join condition plus each side's watermark to evict rows
that can no longer match - state is O(arrival rate x (watermark + join
window)) per side, never O(stream).

The reference repo's pipeline is batch-only (its "continuous" tier is
Snowpipe file ingest, S:58-74, covered by streaming/ingest.py); this
generalizes it the way an event-attribution pipeline needs. Cites:
Airflow-docker/dags/spotify-airflow-pipeline.py:140-170 (the event feed
shape this extends).

Safety of availableNow over range-ordered chunks: the watermark only
advances AFTER a micro-batch completes, and state eviction keeps every
click within (join window + watermark delay) of the global minimum
watermark. Chunks are time-bucketed AND arrive in event-time order by
construction - FileStreamSource orders files by modification time, which
chunks.py stamps explicitly in range order (path order alone would not
guarantee this) - so a batch-N purchase can only need clicks newer than
watermark - window - delay, which are still in state; the driver-audited
result is therefore EXACTLY the batch join, which the DuckDB oracle
states directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .chunks import STATE_PARTITIONS, drain, plain_event_feed, read_events

# attribution window: clicks within 2h before the purchase
_JOIN_WINDOW = "2 hours"
_WATERMARK = "30 minutes"


def click_purchase_join_stream(
    spark: SparkSession,
    chunk_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The streaming operator under test: two file-source streams over the
    same chunk feed, watermarked both sides, inner-joined on user with an
    event-time interval condition (the state-eviction contract)."""
    return _click_purchase_join(
        read_events(spark, chunk_dir, max_files_per_trigger), "inner"
    )


def _click_purchase_join(raw: DataFrame, how: str) -> DataFrame:
    """Purchases joined (how) to the clicks of the same user within the
    attribution window before them, both sides watermarked."""
    clicks = (
        raw.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", _WATERMARK)
    )
    purchases = (
        raw.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", _WATERMARK)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"c_user = p_user AND "
            f"c_ts BETWEEN p_ts - INTERVAL {_JOIN_WINDOW} AND p_ts"
        ),
        how,
    )


def _drain_join(spark, chunks: str, name: str, how: str = "inner") -> DataFrame:
    """Drain the click/purchase join over chunks (3 files per trigger)
    and read the joined rows back."""
    out, _ = drain(
        _click_purchase_join(read_events(spark, chunks, 3), how),
        name,
        state_partitions=STATE_PARTITIONS,
    )
    return spark.read.parquet(out)


@query(
    "stream_join_click_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ORDER BY purchase_id, click_id
    """,
)
def stream_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _drain_join(
        spark, plain_event_feed(spark, sf_dir), "click_purchase_join"
    )
    return back.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    ).orderBy("purchase_id", "click_id")


# ---------------------------------------------------------------------------
# LEFT OUTER stream-stream join: purchases keep a NULL-extended row when
# no click preceded them in the attribution window. The semantic that
# makes this hard in streaming: the engine may emit the NULL-extended row
# only once the click-side watermark PROVES no match can still arrive, so
# outer results trail the inner ones by the watermark horizon - and a
# finite run would end with every trailing purchase's outer row stuck in
# state. The feed therefore appends one far-future SENTINEL row per side
# (event_id -1/-2, ts = 30 days past the fixture) in the last chunk:
# after the final data batch the watermark jumps past every real row's
# eviction horizon and Spark's watermark-only empty micro-batch flushes
# the remaining outer state (the availableNow state-flush contract).
# Sentinels are excluded from the returned rows by id.
#
# Scale notes (100 TB/day): state stays O(rate x (window + watermark))
# per side exactly as the inner form; the outer flush adds no state, only
# deferred emission. In production the stream never ends, so sentinels
# are unnecessary - they are the finite-run equivalent of "time passes".
_SENTINEL_DELTA = "INTERVAL 30 DAYS"


def outer_event_feed(spark: SparkSession, sf_dir: str) -> str:
    """events + one far-future sentinel per join side (single-builder-per-
    tag contract, see chunks.plain_event_feed)."""
    from ..tables import load_table
    from .chunks import ensure_event_chunks

    def build():
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        mx = ev.agg(F.max("ts").alias("m"))
        sent = mx.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(-1).cast("bigint").alias("event_id"),
                        F.lit(-1).cast("bigint").alias("user_id"),
                        F.expr(f"m + {_SENTINEL_DELTA}").alias("ts"),
                        F.lit("click").alias("event_type"),
                        F.lit(0.0).alias("value"),
                    ),
                    F.struct(
                        F.lit(-2).cast("bigint").alias("event_id"),
                        F.lit(-2).cast("bigint").alias("user_id"),
                        F.expr(f"m + {_SENTINEL_DELTA}").alias("ts"),
                        F.lit("purchase").alias("event_type"),
                        F.lit(0.0).alias("value"),
                    ),
                )
            ).alias("s")
        ).select("s.*")
        return ev.unionByName(sent)

    return ensure_event_chunks(spark, sf_dir, "events_outer", build)


@query(
    "stream_left_join_click_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM events p LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id, click_id
    """,
)
def stream_left_join_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    back = _drain_join(
        spark,
        outer_event_feed(spark, sf_dir),
        "click_purchase_left_join",
        "left_outer",
    )
    return (
        back.where(F.col("purchase_id") >= 0)  # drop the sentinel row
        .select(
            "purchase_id",
            "click_id",
            F.col("p_user").alias("user_id"),
            F.unix_micros("p_ts").alias("purchase_ts_us"),
            F.unix_micros("c_ts").alias("click_ts_us"),
        )
        .orderBy("purchase_id", "click_id")
    )


# ---------------------------------------------------------------------------
# FULL OUTER stream-stream join - the last member of the interval-join
# family (inner above, left above): purchases with no preceding click
# AND clicks that never led to a purchase both surface as NULL-extended
# rows. Spark supports this since 3.1 with watermarks on BOTH sides;
# each side's unmatched state flushes only when the OTHER side's
# watermark proves no partner can arrive, so both sentinels matter here
# (the left form only needed the click-side flush). Use case: the
# attribution audit that wants orphaned clicks (wasted ad spend) and
# un-attributed purchases (organic conversions) in one result.
#
# Scale notes (100 TB/day): state is O(rate x (window + watermark)) per
# side, identical to the inner/left forms - full outer changes WHEN
# rows emit, not what is kept.
@query(
    "stream_full_join_click_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           coalesce(p.user_id, c.user_id) AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    """,
)
def stream_full_join_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    back = _drain_join(
        spark,
        outer_event_feed(spark, sf_dir),
        "click_purchase_full_join",
        "full_outer",
    )
    return back.where(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user", "c_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
    )
