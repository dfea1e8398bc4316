"""Exactly-once streaming ingest of the raw JSON inbox - the Snowpipe
AUTO_INGEST analog (reference S:58-74: S3 event -> COPY INTO, exactly once
per file; sensor analog G:35-43; archival P:166-183).

Semantics mapping:
    T1 file-arrival exactly-once  -> file source + checkpoint (the source
                                     tracks consumed files; a replayed run
                                     ingests nothing)
    T3 daily micro-batch          -> trigger(availableNow=True): drain all
                                     pending files, then stop
    K4 continuous auto-ingest     -> same query without availableNow
    K5/T2 consumed-file archival  -> cleanSource='archive' +
                                     sourceArchiveDir (archive-after-commit:
                                     the checkpoint, not the inbox, is the
                                     source of truth - SURVEY §7.5)

Scale notes: the file source lists the inbox prefix per trigger (use
maxFilesPerTrigger to bound batch size); state is only the file log, no
aggregation state. The sink is date-partitioned Parquet, so the streamed
table is physically identical to the batch transform's output.

Object-store (S3A) safety - why this composition needs no atomic rename
anywhere (reference substrate is S3, P:166-183):
  * sink commit: the streaming parquet sink publishes each batch's files
    through the _spark_metadata manifest; readers of the output dir trust
    the manifest, never the listing, so a crashed task's stray upload is
    invisible (no directory-rename visibility barrier needed).
  * source progress: the checkpoint's compact file log records consumed
    files; it is the sole source of truth for exactly-once.
  * archival: cleanSource=archive is copy-then-delete on S3A. A crash in
    that window leaves the consumed file in BOTH inbox and archive - and
    that is safe, because re-listing a consumed path ingests nothing (the
    file log wins) and re-archiving is idempotent hygiene. The reference's
    own copy-then-delete (P:177-183) has the same window, unhandled.
  Asserted in tests/test_streaming.py::test_commit_then_archive_is_crash_window_safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..pipeline.schemas import RAW_PLAYLIST_SCHEMA
from ..pipeline.transforms import (
    _ORACLE_BASE,
    INBOX_DIR,
    explode_raw,
    songs_projection,
    with_scrape_date,
)
from ..registry import query
from .chunks import drain, run_available_now, sink_writer


def read_raw_stream(
    spark: SparkSession,
    inbox_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S5/T1: streaming twin of pipeline.transforms.read_raw."""
    reader = (
        spark.readStream.schema(RAW_PLAYLIST_SCHEMA)
        .option("multiLine", "true")
        .option("pathGlobFilter", "*.json")
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return with_scrape_date(reader.json(inbox_dir))


def _songs_writer(
    spark: SparkSession,
    inbox_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataStreamWriter:
    """The ingest query minus its trigger: inbox -> songs fact ->
    date-partitioned Parquet under one checkpoint."""
    raw = read_raw_stream(spark, inbox_dir, archive_dir, max_files_per_trigger)
    return sink_writer(
        songs_projection(explode_raw(raw)),
        dest_dir,
        checkpoint_dir,
        partition_by="scrape_date",
    )


def ingest_songs_available_now(
    spark: SparkSession,
    inbox_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """One daily micro-batch run: drain the inbox into date-partitioned
    Parquet exactly once, then stop. Re-running with the same checkpoint
    is a no-op unless new files arrived."""
    run_available_now(
        _songs_writer(
            spark, inbox_dir, dest_dir, checkpoint_dir, archive_dir,
            max_files_per_trigger,
        )
    )


def ingest_songs_continuous(
    spark: SparkSession,
    inbox_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    processing_interval: str = "1 second",
    archive_dir: str | None = None,
):
    """K4 continuous auto-ingest (Snowpipe AUTO_INGEST = True, reference
    S:59/S:65/S:71): the same exactly-once query as the availableNow daily
    form, but with a processingTime trigger so it keeps polling the inbox
    and ingests files as they arrive. Returns the running StreamingQuery;
    callers stop() it (tests drive it with processAllAvailable())."""
    return (
        _songs_writer(spark, inbox_dir, dest_dir, checkpoint_dir, archive_dir)
        .trigger(processingTime=processing_interval)
        .start()
    )


# ---------------------------------------------------------------------------
# The streaming pipeline as a registered, oracle-checked query: stream the
# committed inbox through a fresh checkpoint into Parquet, read the result
# back, and hash it against the same batch oracle as star_songs_fact. A
# genuinely-streaming plan whose output is provably identical to batch.
@query(
    "streaming_ingest_songs",
    oracle=_ORACLE_BASE + "SELECT * FROM songs ORDER BY scrape_date, rank",
)
def streaming_ingest_songs(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = read_raw_stream(spark, str(INBOX_DIR))
    out, _ = drain(
        songs_projection(explode_raw(raw)),
        "songs_ingest",
        partition_by="scrape_date",
    )
    back = spark.read.parquet(out)
    cols = [
        "song_id",
        "song_name",
        "duration_ms",
        "url",
        "popularity",
        "song_added_us",
        "album_id",
        "artist_id",
        "rank",
        "scrape_date",
    ]
    return back.select(*cols).orderBy("scrape_date", "rank")


# ---------------------------------------------------------------------------
# Pipe introspection: the SHOW PIPES / DESC PIPE analog (reference
# spotify-analysis.sql:76-82) over Spark's StreamingQuery surface. The
# reference used Snowflake's pipe metadata to debug AUTO_INGEST; the
# engine's equivalent operational state lives on StreamingQuery.status
# (current activity) and lastProgress (per-batch metrics). Driver-side
# metadata about a handful of queries - a createDataFrame of scalars is
# the right shape, nothing here scales with data.

PIPE_STATUS_SCHEMA = (
    "name string, run_id string, is_active boolean, message string, "
    "is_data_available boolean, is_trigger_active boolean, "
    "last_batch_id bigint, num_input_rows bigint, sources string, sink string"
)


def _pipe_row(q) -> tuple:
    """One SHOW-PIPES row from a StreamingQuery (active or stopped)."""
    st = q.status or {}
    prog = q.lastProgress or {}
    return (
        q.name,
        str(q.runId),
        q.isActive,
        st.get("message"),
        st.get("isDataAvailable"),
        st.get("isTriggerActive"),
        prog.get("batchId"),
        (prog.get("numInputRows") if prog else None),
        "; ".join(s.get("description", "") for s in prog.get("sources", [])) or None,
        (prog.get("sink") or {}).get("description"),
    )


def pipe_status(spark: SparkSession, query=None) -> DataFrame:
    """SHOW PIPES (no arg: every active query on the session) or DESC PIPE
    (pass a StreamingQuery, active or stopped, for its single row)."""
    qs = [query] if query is not None else list(spark.streams.active)
    return spark.createDataFrame(
        [_pipe_row(q) for q in qs], PIPE_STATUS_SCHEMA
    )
