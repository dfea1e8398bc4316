"""Shared time-bucketed chunk feeds and the one run-to-completion path
of the streaming queries.

The registered streaming queries (dedup, stream-stream join, stateful
totals) exercise a file-source stream over the events fixture. The chunk
layout is a pure function of the source data and the builder logic, so it
is written ONCE per (source generation, builder version) and reused
across invocations - the per-run rebuild was bench noise (round-3
verdict). The cache key covers the source file's identity (size + mtime)
because the round driver regenerates /root/testdata between rounds, plus
the caller's builder-version string and n_chunks, because a code change
to the builder must not replay a stale layout from /tmp. The same writer
serves the PPM decode's payload feed (documents.parquet, doc_id ranges).

repartitionByRange(ts) is the distributed way to write time-bucketed
files: no global sort, no driver collection, and rows with equal ts land
in the same chunk by construction. Spark's FileStreamSource orders files
by MODIFICATION TIME (task/job-commit order), not path, so range-ordered
part file NAMES alone do not guarantee chronological arrival - a later
time bucket landing in an earlier micro-batch would advance the watermark
past rows still in flight and silently drop them as late. The builder
therefore stamps each part file's mtime explicitly in range (path) order
after the write, making arrival order == event-time order by
construction.

Event reader. read_events() is the one file-source reader over an event
chunk directory: EVENT_SCHEMA bound up front (a stream cannot infer
one) and maxFilesPerTrigger set on the READER - on the DataStreamWriter
Spark silently ignores it and availableNow collapses to one batch.

Drain. drain() runs a stream to completion the way every registered
query does: a fresh run_scratch dir (so a fresh checkpoint - the query
is replayable), trigger(availableNow=True) (every pending file, in as
many micro-batches as maxFilesPerTrigger allows, then stop),
awaitTermination; it returns the output location and the finished
query, whose recentProgress stays readable. The sink is the parquet
file sink unless foreach_batch is given: append_batch appends each
micro-batch to parquet, upsert_sink passes its own merge.
run_available_now() is the trigger step alone, for the ingest, whose
caller owns the sink and checkpoint paths.

State-partition override. A stateful operator keeps one state store per
shuffle partition (x4 for a stream-stream join) and every store pays
checkpoint I/O each micro-batch, so the partition count is sized to
STATE volume, not to the session's scan parallelism; a production run
sizes it to arrival rate x watermark. The seven stateful queries -
stream_dedup_events, the three click/purchase joins,
stream_session_rollup, stateful_running_totals and
stream_rate_limit_flags - pass state_partitions=STATE_PARTITIONS, set
for the run and restored in a finally. The stateless queries (ingest,
enrich, decode, the foreachBatch upsert) keep the session's count: they
hold no state store, and the upsert's per-batch groupBy is sized like
any batch shuffle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..session import with_shuffle_partitions

_CHUNK_ROOT = Path("/tmp/spark_graft_stream")

EVENT_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, "
    "event_type string, value double"
)

# shuffle (= state-store) partitions of the stateful queries' runs
STATE_PARTITIONS = 8


def _stamp_mtimes_in_range_order(chunks: Path) -> None:
    """Set part-file mtimes strictly increasing in path order (part-00000
    is the earliest range bucket). 2-second spacing, all in the past, so
    FileStreamSource's ms-granularity timestamp sort sees the same order
    a real chronological file-arrival feed would produce."""
    parts = sorted(p for p in chunks.glob("part-*") if p.is_file())
    base = time.time() - 2.0 * (len(parts) + 1)
    for i, p in enumerate(parts):
        t = base + 2.0 * i
        os.utime(p, (t, t))


def ensure_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build_df: Callable[[], DataFrame],
    n_chunks: int = 6,
    builder_version: str = "1",
    source: str = "events",
    order: tuple[str, ...] = ("ts", "event_id"),
) -> str:
    """Write build_df() as n_chunks parquet files range-bucketed on
    order[0] and sorted by `order` within each, once per (tag, generation
    of the `source` table's file, builder version); return the chunk
    directory path. Callers bump builder_version whenever the build_df
    logic changes so stale /tmp layouts are never replayed."""
    st = (Path(sf_dir) / f"{source}.parquet").stat()
    cache_id = hashlib.md5(
        f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
        f"|{n_chunks}|v{builder_version}".encode()
    ).hexdigest()[:12]
    chunks = _CHUNK_ROOT / f"{tag}_chunks" / cache_id
    if not (chunks / "_SUCCESS").exists():
        shutil.rmtree(chunks, ignore_errors=True)  # partial previous write
        (
            build_df()
            .repartitionByRange(n_chunks, order[0])
            .sortWithinPartitions(*order)
            .write.parquet(str(chunks))
        )
        _stamp_mtimes_in_range_order(chunks)
    return str(chunks)


def plain_event_feed(spark: SparkSession, sf_dir: str) -> str:
    """The un-augmented events chunk feed shared by the stream-stream join
    and the stateful-totals queries. A NAMED builder on purpose: every
    consumer (and the bench pre-warm) must go through the same build_df,
    because the cache key identifies the layout by tag+version, not by
    builder code - two call sites with drifting lambdas under one tag
    would silently serve each other's chunks."""
    from ..tables import load_table

    return ensure_event_chunks(
        spark,
        sf_dir,
        "events_plain",
        lambda: load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type", "value"
        ),
    )


_SWEPT_STALE_RUNS = False


def _sweep_dead_run_dirs() -> None:
    """Delete run_<pid> scratch trees left by processes that no longer
    exist - the fixed paths self-overwrote so disk use was bounded, and
    pid-scoping must not turn that into an unbounded /tmp leak. Runs
    once per process, on first scratch use; a live pid (signal-0 probe)
    is never touched."""
    for d in _CHUNK_ROOT.glob("run_*"):
        try:
            pid = int(d.name[4:])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid - leave it


def run_scratch(name: str) -> Path:
    """Per-process scratch dir for a streaming query's checkpoint +
    output sink. Pid-scoped so concurrent engine processes (a bench run
    beside a test run) can never clobber each other's in-flight
    checkpoints - observed once as a corrupted outer-join flush when two
    suites shared the same fixed /tmp path. The CHUNK feeds above stay
    process-shared deliberately: they are immutable once their _SUCCESS
    marker exists, so concurrent readers are safe and the build is
    marker-guarded. Stale trees of dead processes are swept on first
    use."""
    global _SWEPT_STALE_RUNS
    if not _SWEPT_STALE_RUNS:
        _SWEPT_STALE_RUNS = True
        _sweep_dead_run_dirs()
    return _CHUNK_ROOT / f"run_{os.getpid()}" / name


def read_events(
    spark: SparkSession,
    chunk_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over an event chunk directory."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(chunk_dir)


def append_batch(out: Path, batch_df: DataFrame, _batch_id: int) -> None:
    """foreachBatch sink: append each micro-batch to parquet at out."""
    batch_df.write.mode("append").parquet(str(out))


def sink_writer(
    stream: DataFrame,
    out: str | Path,
    checkpoint: str | Path,
    foreach_batch: Callable[[Path, DataFrame, int], None] | None = None,
    output_mode: str | None = None,
    partition_by: str | None = None,
) -> DataStreamWriter:
    """stream's writer into out: the parquet file sink, or
    foreach_batch(out, batch_df, batch_id) per micro-batch."""
    writer = stream.writeStream
    if foreach_batch is None:
        writer = writer.format("parquet").option("path", str(out))
    else:
        writer = writer.foreachBatch(
            lambda df, batch_id: foreach_batch(Path(out), df, batch_id)
        )
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    return writer.option("checkpointLocation", str(checkpoint))


def run_available_now(writer: DataStreamWriter) -> StreamingQuery:
    """Drain everything pending, then stop; return the finished query."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def drain(
    stream: DataFrame,
    name: str,
    foreach_batch: Callable[[Path, DataFrame, int], None] | None = None,
    output_mode: str | None = None,
    partition_by: str | None = None,
    state_partitions: int | None = None,
) -> tuple[str, StreamingQuery]:
    """Run stream to completion under a fresh run_scratch(name) dir and
    checkpoint; return (output location, finished query). With
    state_partitions, spark.sql.shuffle.partitions is that count for the
    run and restored afterwards, also when the run fails."""
    base = run_scratch(name)
    shutil.rmtree(base, ignore_errors=True)  # fresh checkpoint => replayable
    out = base / "data"
    writer = sink_writer(
        stream, out, base / "checkpoint", foreach_batch, output_mode,
        partition_by,
    )
    if state_partitions is None:
        return str(out), run_available_now(writer)
    with with_shuffle_partitions(stream.sparkSession, state_partitions):
        return str(out), run_available_now(writer)
