"""foreachBatch incremental-upsert sink: the idiom for maintaining a
keyed aggregate TABLE from a stream when the sink has no native upsert
(plain parquet here; with Delta/Iceberg the body would be a MERGE INTO).
Complements the other streaming sinks: append parquet (ingest.py),
update-mode in-memory (aggregations.py), applyInPandasWithState custom
state (stateful.py) - this one keeps the STATE IN THE SINK TABLE itself,
so a restart needs no state-store recovery, only the last committed
version.

Exactly-once across replays: each micro-batch writes state version
v{batch_id}, and the merge reads the latest version with id < batch_id -
a replayed batch therefore re-reads the same input version it read the
first time and overwrites its own output idempotently, never
double-counting itself (the transactional-sink pattern from the
Structured Streaming docs, expressed with versioned directories).

Scale notes (100 TB/day): per batch, one partial-agg shuffle of the
batch (O(batch)), one keyed merge groupBy of O(batch + keys) rows; the
unioned merge never rescans history - exactly the incremental_agg_refresh
merge plan (operators/extras.py) driven by the streaming engine. Old
versions are pruned after commit, so storage stays O(keys).

Correctness: the registered query streams the chunk feed with >1 real
micro-batch; the final state table must equal the batch groupBy over the
whole events fixture - the oracle.
"""

from __future__ import annotations

import re
import shutil
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .chunks import drain, plain_event_feed, read_events


def _versions(state_dir: Path) -> list[tuple[int, Path]]:
    out = []
    for p in state_dir.glob("v*"):
        m = re.fullmatch(r"v(\d+)", p.name)
        if m and (p / "_SUCCESS").exists():
            out.append((int(m.group(1)), p))
    return sorted(out)


def upsert_batch(
    spark: SparkSession, state_dir: Path, batch_df: DataFrame, batch_id: int
) -> None:
    """Merge one micro-batch's partial aggregates into the state table:
    new version = latest version with id < batch_id (replay-safe) unioned
    with the batch partials, one groupBy."""
    partial = batch_df.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_ts_us"),
    )
    prev = [(i, p) for i, p in _versions(state_dir) if i < batch_id]
    if prev:
        base = spark.read.parquet(str(prev[-1][1]))
        partial = base.unionByName(partial).groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"),
            F.max("last_ts_us").alias("last_ts_us"),
        )
    partial.write.mode("overwrite").parquet(str(state_dir / f"v{batch_id}"))
    # prune superseded versions (keep the one a replay of a LATER batch
    # might still need: everything below the just-read base is dead)
    for i, p in prev[:-1]:
        shutil.rmtree(p, ignore_errors=True)


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           max(epoch_us(ts)) AS last_ts_us
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = plain_event_feed(spark, sf_dir)
    # 6 chunks / 3 per trigger = multiple genuine micro-batches
    state, _ = drain(
        read_events(spark, chunks, max_files_per_trigger=3),
        "foreachbatch_upsert",
        foreach_batch=partial(upsert_batch, spark),
    )
    latest = _versions(Path(state))[-1][1]
    return spark.read.parquet(str(latest)).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        "last_ts_us",
    )
    # no output sort: one row per user, driver hash order-insensitive
