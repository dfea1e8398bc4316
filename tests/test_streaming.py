"""Streaming-layer tests: exactly-once replay (T1), new-file incremental
ingest, cleanSource archival (T2/K5), and streaming-vs-batch window
equality under a watermark."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark.pipeline.fixture_gen import (
    INBOX_DIR,
)
from data_engineering_spotify_etl_airflow_aws_spark.streaming.aggregations import (
    streaming_session_agg,
    streaming_tumbling_agg,
)
from data_engineering_spotify_etl_airflow_aws_spark.streaming.ingest import (
    ingest_songs_available_now,
    ingest_songs_continuous,
)
from data_engineering_spotify_etl_airflow_aws_spark.tables import load_table

from .conftest import SF_CORRECT, SF_SMOKE

engine.load_all_operators()


def _count(spark, path):
    return spark.read.parquet(path).count()


def test_replay_is_exactly_once(spark, tmp_path):
    """SURVEY §5 replay test: two availableNow runs over the same inbox and
    checkpoint must not double-ingest; a third run after a new file arrives
    ingests exactly that file's rows."""
    inbox = tmp_path / "inbox"
    shutil.copytree(INBOX_DIR, inbox)
    dest, cp = str(tmp_path / "data"), str(tmp_path / "cp")

    ingest_songs_available_now(spark, str(inbox), dest, cp, max_files_per_trigger=1)
    assert _count(spark, dest) == 150

    ingest_songs_available_now(spark, str(inbox), dest, cp)  # replay
    assert _count(spark, dest) == 150, "replay must not double-ingest"

    # a fourth daily file arrives
    new_day = (inbox / "spotify_raw_2025-07-18.json").read_text().replace(
        "2025-07-18", "2025-07-21"
    )
    (inbox / "spotify_raw_2025-07-21.json").write_text(new_day)
    ingest_songs_available_now(spark, str(inbox), dest, cp)
    assert _count(spark, dest) == 200
    days = {
        r.scrape_date.isoformat()
        for r in spark.read.parquet(dest).select("scrape_date").distinct().collect()
    }
    assert "2025-07-21" in days


def test_clean_source_archives_consumed_files(spark, tmp_path):
    """T2: with cleanSource=archive the source moves consumed files out of
    the inbox; no file is lost and no row is duplicated."""
    inbox = tmp_path / "inbox"
    archive = tmp_path / "archive"
    shutil.copytree(INBOX_DIR, inbox)
    dest, cp = str(tmp_path / "data"), str(tmp_path / "cp")

    ingest_songs_available_now(
        spark, str(inbox), dest, cp, archive_dir=str(archive),
        max_files_per_trigger=1,
    )
    # archival is post-commit hygiene (possibly deferred to later batches);
    # run once more to let the cleaner catch up, then check conservation.
    ingest_songs_available_now(
        spark, str(inbox), dest, cp, archive_dir=str(archive)
    )
    assert _count(spark, dest) == 150
    left = {p.name for p in inbox.glob("*.json")}
    moved = {p.name for p in archive.rglob("*.json")}
    assert left | moved == {
        f"spotify_raw_2025-07-{d}.json" for d in ("18", "19", "20")
    }
    assert moved, "at least the first batches' files must be archived"


def test_continuous_trigger_matches_available_now(spark, tmp_path):
    """K4 continuous auto-ingest (Snowpipe AUTO_INGEST): the processingTime
    form must ingest the same rows exactly once as the availableNow daily
    form, including a file that arrives while the query is live."""
    inbox = tmp_path / "inbox"
    shutil.copytree(INBOX_DIR, inbox)

    cont_dest, cont_cp = str(tmp_path / "cont_data"), str(tmp_path / "cont_cp")
    q = ingest_songs_continuous(
        spark, str(inbox), cont_dest, cont_cp, processing_interval="1 second"
    )
    try:
        q.processAllAvailable()
        assert _count(spark, cont_dest) == 150
        # a new daily file lands while the query is running
        new_day = (inbox / "spotify_raw_2025-07-18.json").read_text().replace(
            "2025-07-18", "2025-07-21"
        )
        (inbox / "spotify_raw_2025-07-21.json").write_text(new_day)
        q.processAllAvailable()
        assert _count(spark, cont_dest) == 200
    finally:
        q.stop()

    # batch twin over the same final inbox: row-for-row identical
    batch_dest, batch_cp = str(tmp_path / "b_data"), str(tmp_path / "b_cp")
    ingest_songs_available_now(spark, str(inbox), batch_dest, batch_cp)
    cont_rows = sorted(
        tuple(r) for r in spark.read.parquet(cont_dest).collect()
    )
    batch_rows = sorted(
        tuple(r) for r in spark.read.parquet(batch_dest).collect()
    )
    assert cont_rows == batch_rows


def test_dedup_within_watermark_cross_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics across micro-batches, driven
    by explicit availableNow restarts over one checkpoint:
      * a duplicate landing in a LATER batch while its key is still within
        the watermark is dropped via checkpointed dedup state;
      * a duplicate (or any row) arriving with event time older than the
        watermark is dropped as late data - the output stays exactly-once
        either way, which is the property the ingest pipeline relies on;
      * genuinely new in-watermark rows pass through.
    """
    import datetime as dt

    from data_engineering_spotify_etl_airflow_aws_spark.streaming.dedup import (
        dedup_within_watermark_stream,
    )

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    schema = (
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double"
    )

    def write_chunk(name, rows):
        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(staging)
        )
        next(staging.glob("*.parquet")).rename(chunks / f"{name}.parquet")

    def run():
        q = (
            dedup_within_watermark_stream(spark, str(chunks), "30 minutes")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "data"))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r.event_id
            for r in spark.read.parquet(str(tmp_path / "data")).collect()
        )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_chunk("a", [(1, 1, t(10), "x", 1.0), (2, 1, t(12), "x", 2.0)])
    assert run() == [1, 2]
    # watermark is now 11:30 (max ts 12:00 - 30m). Batch 2 delivers: a dup
    # of the in-watermark row 2, a dup of row 1 that is older than the
    # watermark (late), and a new row 3.
    write_chunk(
        "b",
        [
            (2, 1, t(12), "x", 2.0),
            (1, 1, t(10), "x", 1.0),
            (3, 1, t(12, 30), "x", 3.0),
        ],
    )
    assert run() == [1, 2, 3], "both duplicate deliveries must be dropped"


def _events_stream(spark, tmp_path):
    """Events fixture as a time-ordered 3-chunk parquet stream (sorted
    chunks so nothing is late beyond the watermark; parquet keeps the
    microsecond timestamps exact - JSON would truncate to millis)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_CORRECT, "events")
    src = tmp_path / "events_chunks"
    ev.withColumn(
        "bucket", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    ).write.partitionBy("bucket").mode("overwrite").parquet(str(src))
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/bucket=*")
    )


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    out = str(tmp_path / "tumbling_out")
    q = (
        streaming_tumbling_agg(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp_t"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    batch = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in QUERIES["tumbling_window_agg"](spark, SF_CORRECT).collect()
    }
    # append mode only emits windows the final watermark has passed; all
    # emitted windows must match batch exactly and cover most of the range
    assert got, "streaming emitted nothing"
    assert set(got) <= set(batch)
    for k, v in got.items():
        assert batch[k] == v, (k, v, batch[k])
    assert len(got) >= 0.9 * len(batch)


def test_streaming_sessions_match_batch_closed_sessions(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    out = str(tmp_path / "session_out")
    q = (
        streaming_session_agg(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp_s"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_us): (r.last_event_us, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    batch = {
        (r.user_id, r.session_start_us): (r.last_event_us, r.n_events)
        for r in QUERIES["session_window_agg"](spark, SF_CORRECT).collect()
    }
    assert got, "streaming emitted nothing"
    assert set(got) <= set(batch)
    for k, v in got.items():
        assert batch[k] == v, (k, v, batch[k])
    assert len(got) >= 0.8 * len(batch)


def test_stateful_running_totals_match_batch(spark, tmp_path):
    """applyInPandasWithState: after draining the 3-chunk stream, the last
    emitted snapshot per user must equal the batch groupBy aggregate -
    cumulative state survives across micro-batches."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.stateful import (
        running_user_totals,
    )

    stream = _events_stream(spark, tmp_path).select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    final: dict[int, tuple] = {}

    def upsert(batch_df, batch_id):
        for r in batch_df.collect():
            final[r.user_id] = (r.n_events, r.total_value, r.max_ts_us)

    q = (
        running_user_totals(stream)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "cp_state"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    ev = load_table(spark, SF_CORRECT, "events")
    batch = {
        r.user_id: (r.n, r.total, r.mx)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.max(F.unix_micros("ts")).alias("mx"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, total, mx) in batch.items():
        fn, ftotal, fmx = final[uid]
        assert fn == n and fmx == mx, uid
        assert abs(ftotal - total) < 1e-6 * max(1.0, abs(total)), uid
def test_commit_then_archive_is_crash_window_safe(spark, tmp_path):
    """SURVEY §7 hard-part 5 / round-3 verdict #7: object-store (S3A)
    semantics for the ingest's two non-atomic moments.

    (a) Archive crash window: S3A archival is copy-then-delete; a crash
        between the checkpoint commit and the delete leaves the consumed
        file back in the inbox. The checkpoint - not the inbox listing -
        is the source of truth, so a re-run must ingest nothing.
    (b) Rename-less sink commit: the streaming parquet sink publishes
        files through the _spark_metadata manifest, never via directory
        rename, so an orphan part-file (a crashed task's leftover upload)
        in the output directory must be invisible to readers.
    """
    import shutil as sh

    inbox = tmp_path / "inbox"
    archive = tmp_path / "archive"
    sh.copytree(INBOX_DIR, inbox)
    dest, cp = str(tmp_path / "data"), str(tmp_path / "cp")

    ingest_songs_available_now(
        spark, str(inbox), dest, cp, archive_dir=str(archive),
        max_files_per_trigger=1,
    )
    ingest_songs_available_now(
        spark, str(inbox), dest, cp, archive_dir=str(archive)
    )
    assert _count(spark, dest) == 150
    archived = sorted(archive.rglob("*.json"))
    assert archived, "need at least one archived file to replay the crash"

    # (a) the interrupted copy-then-delete: file exists in BOTH archive
    # and inbox again; replay must not double-ingest it
    sh.copy(archived[0], inbox / archived[0].name)
    ingest_songs_available_now(
        spark, str(inbox), dest, cp, archive_dir=str(archive)
    )
    assert _count(spark, dest) == 150, "checkpoint must win over inbox listing"

    # (b) orphan part-file: simulate a crashed task's stray upload by
    # copying a committed parquet file to an uncommitted name; the
    # manifest-gated read must not see its rows
    parts = [
        p
        for p in Path(dest).rglob("part-*.parquet")
        if p.is_file()
    ]
    orphan = parts[0].with_name("part-99999-orphan.c000.snappy.parquet")
    sh.copy(parts[0], orphan)
    assert _count(spark, dest) == 150, (
        "streaming sink readers must trust _spark_metadata, not the listing"
    )
    # a plain directory listing WOULD see the orphan - the manifest is
    # what makes the commit rename-free and object-store safe
    assert len(list(Path(dest).rglob("part-*.parquet"))) == len(parts) + 1


def test_pipe_status_show_and_describe(spark, tmp_path):
    """SHOW PIPES / DESC PIPE analog (reference spotify-analysis.sql:76-82):
    pipe_status() must list an active continuous ingest with its progress
    metadata, and describe a stopped query without raising."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.ingest import (
        pipe_status,
    )

    inbox = tmp_path / "inbox"
    shutil.copytree(INBOX_DIR, inbox)
    q = ingest_songs_continuous(
        spark, str(inbox), str(tmp_path / "data"), str(tmp_path / "cp")
    )
    try:
        q.processAllAvailable()
        rows = pipe_status(spark).collect()
        mine = [r for r in rows if r.run_id == str(q.runId)]
        assert len(mine) == 1
        r = mine[0]
        assert r.is_active
        assert r.last_batch_id is not None and r.last_batch_id >= 0
        assert "FileStreamSource" in (r.sources or "")
        assert "FileSink" in (r.sink or "")
    finally:
        q.stop()
        q.awaitTermination()
    r = pipe_status(spark, q).collect()[0]
    assert r.run_id == str(q.runId)
    assert not r.is_active
    # a stopped pipe no longer appears in SHOW PIPES
    assert str(q.runId) not in {
        row.run_id for row in pipe_status(spark).collect()
    }


def test_stream_stream_join_matches_batch_across_batches(spark, tmp_path):
    """Stream-stream interval join: a click read in micro-batch 1 must
    still match a purchase read in micro-batch 2 (click is in join state,
    within the window), while clicks outside the attribution window never
    pair. Batch boundaries are driven explicitly via one file per chunk +
    maxFilesPerTrigger=1."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.joins import (
        click_purchase_join_stream,
    )

    chunk_dir = tmp_path / "chunks"
    base = "2024-01-01 12:{:02d}:00"
    rows1 = [  # chunk 1: clicks only
        (1, 7, base.format(0), "click", 1.0),   # inside 2h window
        (2, 7, base.format(5), "click", 1.0),   # inside
        (3, 8, base.format(0), "click", 1.0),   # other user -> no pair
        (4, 7, base.format(1), "view", 1.0),    # wrong type -> no pair
    ]
    rows2 = [  # chunk 2: the purchases (later event time)
        (10, 7, "2024-01-01 13:30:00", "purchase", 9.0),
        (11, 9, "2024-01-01 13:30:00", "purchase", 9.0),  # no clicks
    ]
    for i, rows in enumerate((rows1, rows2)):
        df = spark.createDataFrame(
            [(e, u, t, ty, v) for e, u, t, ty, v in rows],
            "event_id bigint, user_id bigint, ts_s string, "
            "event_type string, value double",
        ).select(
            "event_id",
            "user_id",
            F.to_timestamp("ts_s").alias("ts"),
            "event_type",
            "value",
        )
        df.coalesce(1).write.parquet(str(chunk_dir / f"c{i}"))
    # file source lists paths in order -> c0 then c1
    out = tmp_path / "out"
    q = (
        click_purchase_join_stream(spark, str(chunk_dir / "*"))
        .writeStream.format("parquet")
        .option("path", str(out / "data"))
        .option("checkpointLocation", str(out / "ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.purchase_id, r.click_id)
        for r in spark.read.parquet(str(out / "data")).collect()
    )
    assert got == [(10, 1), (10, 2)]


def test_chunk_feed_mtimes_follow_range_order(spark):
    """FileStreamSource orders files by MODIFICATION TIME, not path, so
    the watermark-safety argument in streaming/joins.py requires the
    chunk builder to stamp mtimes explicitly in range order: part-00000
    (the earliest event-time bucket) must carry the smallest mtime,
    strictly increasing from there (round-4 ADVICE, medium)."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        plain_event_feed,
    )

    chunks = Path(plain_event_feed(spark, SF_CORRECT))
    parts = sorted(p for p in chunks.glob("part-*") if p.is_file())
    assert len(parts) >= 2
    mtimes = [p.stat().st_mtime for p in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes), (
        list(zip((p.name for p in parts), mtimes))
    )
    # and range order really is event-time order: per-file max(ts) must
    # not decrease across the path-ordered (= mtime-ordered) files
    maxes = [
        spark.read.parquet(str(p)).agg(F.max("ts")).first()[0] for p in parts
    ]
    assert maxes == sorted(maxes)


def test_chunk_cache_keys_on_builder_version(spark):
    """A builder code change must never replay a stale /tmp chunk layout:
    bumping builder_version (or n_chunks) has to produce a different
    cache directory for the same source data (round-4 ADVICE, low)."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        ensure_event_chunks,
    )

    build = lambda: load_table(spark, SF_CORRECT, "events").select(  # noqa: E731
        "event_id", "user_id", "ts", "event_type", "value"
    )
    d1 = ensure_event_chunks(spark, SF_CORRECT, "vertest", build)
    d2 = ensure_event_chunks(
        spark, SF_CORRECT, "vertest", build, builder_version="2"
    )
    d3 = ensure_event_chunks(spark, SF_CORRECT, "vertest", build, n_chunks=4)
    assert len({d1, d2, d3}) == 3
    # same inputs -> cache hit on the same directory
    assert ensure_event_chunks(spark, SF_CORRECT, "vertest", build) == d1
    shutil.rmtree(Path(d1).parent, ignore_errors=True)


def test_interactive_example_end_to_end(spark):
    """The examples/interactive_session.py walkthrough must actually run:
    batch query, continuous ingest driven once, SHOW PIPES row for it,
    cache release."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    try:
        import interactive_session
    finally:
        sys.path.pop(0)

    out = interactive_session.main(spark, SF_SMOKE)
    assert out["q1_rows"] >= 0
    assert out["n_active_pipes"] >= 1
    assert out["pipe_active"] is True


def test_foreachbatch_upsert_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch must merge against the same base version it
    read the first time and overwrite its own output - state after the
    replay is byte-identical, never double-counted."""
    from pathlib import Path

    from data_engineering_spotify_etl_airflow_aws_spark.streaming.upsert_sink import (
        _versions,
        upsert_batch,
    )

    state = Path(tmp_path) / "state"
    state.mkdir()
    b0 = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00"), (2, 10, "2024-01-01 00:01:00")],
        "event_id bigint, user_id bigint, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = spark.createDataFrame(
        [(3, 10, "2024-01-01 00:02:00"), (4, 11, "2024-01-01 00:03:00")],
        "event_id bigint, user_id bigint, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))

    upsert_batch(spark, state, b0, 0)
    upsert_batch(spark, state, b1, 1)

    def snap():
        latest = _versions(state)[-1][1]
        return sorted(
            (r.user_id, r.n_events, r.last_ts_us)
            for r in spark.read.parquet(str(latest)).collect()
        )

    first = snap()
    assert first == [(10, 3, first[0][2]), (11, 1, first[1][2])]
    upsert_batch(spark, state, b1, 1)  # replay
    assert snap() == first


def test_foreachbatch_upsert_random_splits_match_global_agg(spark, tmp_path):
    """Property-based check: for ANY partition of the rows into ordered
    micro-batches (including empty batches and a replay of the final
    batch), folding them through upsert_batch must land exactly the
    global groupBy aggregate - the partial-merge associativity the sink
    depends on."""
    import datetime as dt
    import shutil
    from pathlib import Path

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from data_engineering_spotify_etl_airflow_aws_spark.streaming.upsert_sink import (
        _versions,
        upsert_batch,
    )

    rows_strategy = st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 100)),  # (user, minute)
        min_size=1,
        max_size=30,
    )
    cuts_strategy = st.lists(st.integers(0, 29), max_size=3)

    @settings(
        max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(rows=rows_strategy, cuts=cuts_strategy)
    def check(rows, cuts):
        state = Path(tmp_path) / f"state_{abs(hash((tuple(rows), tuple(cuts))))}"
        shutil.rmtree(state, ignore_errors=True)
        state.mkdir(parents=True)
        base = dt.datetime(2024, 1, 1)
        data = [
            (i, u, base + dt.timedelta(minutes=m))
            for i, (u, m) in enumerate(rows)
        ]
        bounds = sorted({c for c in cuts if c < len(data)} | {len(data)})
        batches, lo = [], 0
        for hi in bounds:
            batches.append(data[lo:hi])
            lo = hi
        batches.append(data[lo:])
        schema = "event_id bigint, user_id bigint, ts timestamp"
        for bid, batch in enumerate(batches):
            df = spark.createDataFrame(batch or [], schema)
            upsert_batch(spark, state, df, bid)
        # replay the last batch: state must not change
        upsert_batch(
            spark,
            state,
            spark.createDataFrame(batches[-1] or [], schema),
            len(batches) - 1,
        )
        latest = _versions(state)[-1][1]
        got = {
            r.user_id: (r.n_events, r.last_ts_us)
            for r in spark.read.parquet(str(latest)).collect()
        }
        want = {}
        for _, u, ts in data:
            n, last = want.get(u, (0, 0))
            want[u] = (n + 1, max(last, int(ts.timestamp() * 1_000_000)))
        assert got == want
        shutil.rmtree(state, ignore_errors=True)

    check()


def test_stream_rate_limit_matches_batch_window(spark):
    """The stateful stream limiter must reproduce the batch window's
    throttle accounting exactly (the two share one cap constant)."""
    from data_engineering_spotify_etl_airflow_aws_spark import registry

    batch = {
        r.event_type: (r.n_events, r.n_throttled)
        for r in registry.QUERIES["rate_limit_flags"](
            spark, SF_SMOKE
        ).collect()
    }
    stream = {
        r.event_type: (r.n_events, r.n_throttled)
        for r in registry.QUERIES["stream_rate_limit_flags"](
            spark, SF_SMOKE
        ).collect()
    }
    assert batch == stream


def test_rest_stream_resumes_from_checkpoint(spark, tmp_path):
    """The page-cursor offset must survive a restart: a single-batch run
    commits exactly one page; a second query on the SAME checkpoint must
    drain only the remaining pages (no replay, no skip)."""
    from data_engineering_spotify_etl_airflow_aws_spark.sources.rest_api_stream import (
        register_rest_stream_source,
    )

    register_rest_stream_source(spark)
    base = tmp_path / "rest_stream"

    def start(trigger_once: bool):
        w = (
            spark.readStream.format("playlist_rest_stream")
            .load()
            .writeStream.format("parquet")
            .option("path", str(base / "data"))
            .option("checkpointLocation", str(base / "checkpoint"))
        )
        if trigger_once:
            w = w.trigger(once=True)
        return w.start()

    q = start(trigger_once=True)
    q.awaitTermination()
    first = spark.read.parquet(str(base / "data"))
    assert first.count() == 50  # exactly the first page
    assert first.select("scrape_date").distinct().count() == 1

    q2 = start(trigger_once=False)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    back = spark.read.parquet(str(base / "data"))
    assert back.count() == 150
    # every (page, rank) appears exactly once: resumed, not replayed
    assert back.select("scrape_date", "rank").distinct().count() == 150


def test_stream_decode_matches_batch_twin(spark):
    """The streaming decode twin must be hash-equal to the batch decode
    query: same payload constructor, same codec, same stats — only the
    engine differs (micro-batch file-source vs one batch scan)."""
    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    stream_rows = sorted(
        tuple(r)
        for r in QUERIES["stream_multimodal_decode"](
            spark, SF_CORRECT
        ).collect()
    )
    batch_rows = sorted(
        tuple(r)
        for r in QUERIES["multimodal_ppm_decode_stats"](
            spark, SF_CORRECT
        ).collect()
    )
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_ppm_payload_feed_is_multi_file(spark):
    """The feed must produce >1 chunk so availableNow with
    maxFilesPerTrigger=2 genuinely exercises multiple micro-batches."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.decode import (
        ppm_payload_feed,
    )

    chunks = Path(ppm_payload_feed(spark, SF_CORRECT))
    parts = [p for p in chunks.glob("part-*") if p.is_file()]
    assert len(parts) > 2


def test_registered_streams_run_multiple_microbatches(spark):
    """maxFilesPerTrigger is a READER option — on the writer Spark
    silently ignores it, and availableNow collapses to one batch (the
    r9 review finding: six registered queries claimed '>1 real
    micro-batch' while running single-batch). Drive the fixed builders
    the way the registered queries do and assert the batch count from
    recentProgress."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        drain,
        plain_event_feed,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.decode import (
        decode_stream,
        ppm_payload_feed,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.dedup import (
        dedup_within_watermark_stream,
    )

    def n_batches(stream_df, name):
        _, q = drain(stream_df, f"mb_probe_{name}")
        return len([p for p in q.recentProgress if p["numInputRows"] > 0])

    decode_batches = n_batches(
        decode_stream(spark, ppm_payload_feed(spark, SF_SMOKE)), "decode"
    )
    assert decode_batches >= 2, decode_batches

    chunks = plain_event_feed(spark, SF_SMOKE)
    dedup_batches = n_batches(
        dedup_within_watermark_stream(spark, chunks, max_files_per_trigger=3),
        "dedup",
    )
    assert dedup_batches >= 2, dedup_batches


# ---------------------------------------------------------------------------
# Timer-bounded sessionization (streaming/sessions.py)


def _reference_session_rollup(ts_list):
    """Brute-force batch semantics (windows.py lag windows) for one user:
    (n_events, n_sessions, n_visits) over an ascending event-time list."""
    from data_engineering_spotify_etl_airflow_aws_spark.operators.windows import (
        _MACRO_GAP_US,
        _MICRO_GAP_US,
    )

    n_ev = len(ts_list)
    n_sess = n_vis = 0
    starts = []
    for i, us in enumerate(ts_list):
        if i == 0 or us - ts_list[i - 1] > _MICRO_GAP_US:
            starts.append(us)
    n_sess = len(starts)
    for j, st in enumerate(starts):
        if j == 0 or st - starts[j - 1] > _MACRO_GAP_US:
            n_vis += 1
    return n_ev, n_sess, n_vis


def test_fold_session_deltas_matches_batch_semantics():
    """The shared fold (used by BOTH the applyInPandasWithState operator
    and the transformWithStateInPandas twin) must reproduce the batch
    lag-window semantics for any batch split, and clearing state at a
    >MACRO_GAP boundary (what the event-time timer does) must not change
    the folded totals - the expiry-losslessness argument the registered
    query rests on."""
    import random

    from data_engineering_spotify_etl_airflow_aws_spark.operators.windows import (
        _MACRO_GAP_US,
        _MICRO_GAP_US,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.sessions import (
        _fold_session_deltas,
    )

    rng = random.Random(7)
    gaps = [
        1,
        1000,
        _MICRO_GAP_US,
        _MICRO_GAP_US + 1,
        _MACRO_GAP_US,
        _MACRO_GAP_US + 1,
        3 * _MACRO_GAP_US,
    ]
    for trial in range(200):
        n = rng.randint(1, 40)
        ts, cur = [], rng.randint(0, 10**9)
        for _ in range(n):
            cur += rng.choice(gaps)
            ts.append(cur)
        ref = _reference_session_rollup(ts)

        # arbitrary batch split, state threaded through
        k = rng.randint(1, n)
        cuts = sorted(rng.sample(range(1, n), k - 1)) if k > 1 else []
        pieces, prev = [], 0
        for c in cuts + [n]:
            pieces.append(ts[prev:c])
            prev = c
        tot = [0, 0, 0]
        last = start = None
        for piece in pieces:
            if not piece:
                continue
            # timer expiry: once every future event is beyond the MACRO
            # horizon, the operator clears state; emulate whenever the
            # piece's first event is past it
            if last is not None and piece[0] - last > _MACRO_GAP_US:
                last = start = None
            d_ev, d_s, d_v, last, start = _fold_session_deltas(
                last, start, piece
            )
            tot[0] += d_ev
            tot[1] += d_s
            tot[2] += d_v
        assert tuple(tot) == ref, (trial, ts)


def test_session_delta_stream_multibatch_and_timer_expiry(spark):
    """The registered sessionization query's operator must (a) run >1
    real micro-batch (reader-side maxFilesPerTrigger - the r9 lesson),
    and (b) have its event-time timers actually reclaim state mid-stream
    (numRowsRemoved > 0): bounded state is the operator's contract, not
    an aspiration. Uses the same chunk feed as the registered query."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        drain,
        plain_event_feed,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.sessions import (
        session_delta_stream,
        session_events,
    )

    stream = session_events(spark, plain_event_feed(spark, SF_SMOKE))
    out, q = drain(
        session_delta_stream(stream), "session_mb_probe", output_mode="append"
    )
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2, len(data_batches)
    removed = sum(
        so["numRowsRemoved"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert removed > 0, "event-time timers never reclaimed any state"
    # the deltas must also roll up to the batch answer
    from data_engineering_spotify_etl_airflow_aws_spark.operators.windows import (
        macro_session_rollup,
    )

    got = {
        r["user_id"]: (r["n_events"], r["n_sessions"], r["n_visits"])
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.sum("d_events").alias("n_events"),
            F.sum("d_sessions").alias("n_sessions"),
            F.sum("d_visits").alias("n_visits"),
        )
        .collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["n_sessions"], r["n_visits"])
        for r in macro_session_rollup(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_tws_processor_body_matches_fold():
    """The transformWithStateInPandas twin cannot EXECUTE in this
    container (no protobuf runtime - sessions.has_tws_runtime), but its
    processor body must not be dead weight: drive handleInputRows /
    handleExpiredTimer against a fake handle and check the emitted
    deltas, the stored state, and the timer bookkeeping."""
    import pandas as pd

    from data_engineering_spotify_etl_airflow_aws_spark.operators.windows import (
        _MACRO_GAP_US,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.sessions import (
        _expiry_ms,
        _make_session_processor,
    )

    class FakeState:
        def __init__(self):
            self.value = None

        def get(self):
            return self.value

        def update(self, v):
            self.value = tuple(v)

        def clear(self):
            self.value = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.timers = set()

        def getValueState(self, name, schema):
            return self.state

        def registerTimer(self, ms):
            self.timers.add(ms)

        def deleteTimer(self, ms):
            self.timers.discard(ms)

    proc = _make_session_processor()
    handle = FakeHandle()
    proc.init(handle)

    t0 = 1_700_000_000_000_000
    batch1 = pd.DataFrame({"ts_us": [t0, t0 + 1000], "event_id": [1, 2]})
    [out1] = list(proc.handleInputRows((42,), iter([batch1]), None))
    assert out1.iloc[0].tolist() == [42, 2, 1, 1]
    assert handle.timers == {_expiry_ms(t0 + 1000)}

    t1 = t0 + 2 * _MACRO_GAP_US
    batch2 = pd.DataFrame({"ts_us": [t1], "event_id": [3]})
    [out2] = list(proc.handleInputRows((42,), iter([batch2]), None))
    assert out2.iloc[0].tolist() == [42, 1, 1, 1]  # new session AND visit
    assert handle.timers == {_expiry_ms(t1)}  # old timer deleted

    [empty] = list(proc.handleExpiredTimer((42,), None, None))
    assert len(empty) == 0
    assert handle.state.value is None


def test_tws_session_stream_end_to_end(spark):
    """Execute the transformWithStateInPandas twin for real where the
    runtime allows; elsewhere skip with the dependency reason (this
    container ships no protobuf, which the TWS Python state protocol
    imports at run time)."""
    import pytest

    from data_engineering_spotify_etl_airflow_aws_spark.streaming.sessions import (
        has_tws_runtime,
        session_delta_stream_tws,
    )

    if not has_tws_runtime():
        pytest.skip(
            "transformWithStateInPandas needs the protobuf package "
            "(pyspark StateMessage_pb2) - not shipped in this container"
        )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        drain,
        plain_event_feed,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.sessions import (
        session_events,
    )

    stream = session_events(spark, plain_event_feed(spark, SF_SMOKE))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out, _ = drain(
            session_delta_stream_tws(stream),
            "session_tws_probe",
            output_mode="append",
        )
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    from data_engineering_spotify_etl_airflow_aws_spark.operators.windows import (
        macro_session_rollup,
    )

    got = {
        r["user_id"]: (r["n_events"], r["n_sessions"], r["n_visits"])
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.sum("d_events").alias("n_events"),
            F.sum("d_sessions").alias("n_sessions"),
            F.sum("d_visits").alias("n_visits"),
        )
        .collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["n_sessions"], r["n_visits"])
        for r in macro_session_rollup(spark, SF_SMOKE).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# The shared run-to-completion path (streaming/chunks.py)

_SP = "spark.sql.shuffle.partitions"


def test_drain_sets_and_restores_state_partitions(spark):
    """drain(state_partitions=n) runs the stateful operator on n state
    partitions and gives the session its own count back afterwards."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        drain,
        plain_event_feed,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.dedup import (
        dedup_within_watermark_stream,
    )

    before = spark.conf.get(_SP)
    spark.conf.set(_SP, "5")
    try:
        chunks = plain_event_feed(spark, SF_SMOKE)
        _, q = drain(
            dedup_within_watermark_stream(spark, chunks, max_files_per_trigger=3),
            "drain_state_partitions",
            state_partitions=3,
        )
        assert spark.conf.get(_SP) == "5"
        parts = {
            so["numShufflePartitions"]
            for p in q.recentProgress
            for so in p["stateOperators"]
        }
        assert parts == {3}, parts
    finally:
        spark.conf.set(_SP, before)


def test_drain_restores_state_partitions_when_batch_fails(spark):
    import pytest

    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        drain,
        plain_event_feed,
        read_events,
    )

    def fail(_out, _df, _batch_id):
        raise RuntimeError("sink down")

    before = spark.conf.get(_SP)
    spark.conf.set(_SP, "5")
    try:
        stream = read_events(spark, plain_event_feed(spark, SF_SMOKE))
        with pytest.raises(Exception, match="sink down"):
            drain(stream, "drain_fails", foreach_batch=fail, state_partitions=3)
        assert spark.conf.get(_SP) == "5"
    finally:
        spark.conf.set(_SP, before)


def test_drain_under_same_name_starts_fresh(spark):
    """A second drain under one name gets a fresh checkpoint (it re-reads
    the whole feed) and a fresh output (the first run's rows are gone,
    not doubled)."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.chunks import (
        append_batch,
        drain,
        plain_event_feed,
        read_events,
    )

    chunks = plain_event_feed(spark, SF_SMOKE)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    for _ in range(2):
        out, q = drain(
            read_events(spark, chunks, max_files_per_trigger=3),
            "drain_twice",
            foreach_batch=append_batch,
        )
        assert sum(p["numInputRows"] for p in q.recentProgress) == n_events
        assert spark.read.parquet(out).count() == n_events


def _run_mechanism_sites(path: str) -> list[str]:
    """availableNow triggers, shuffle-partition conf keys and event-schema
    literals in one module."""
    import ast
    import re

    with open(path) as f:
        tree = ast.parse(f.read())
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and any(
            k.arg == "availableNow" for k in node.keywords
        ):
            bad.append(f"line {node.lineno}: availableNow")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value == _SP:
                bad.append(f"line {node.lineno}: {_SP}")
            elif re.search(
                r"event_id\s+bigint.*event_type\s+string", node.value, re.S | re.I
            ):
                bad.append(f"line {node.lineno}: event schema")
    return bad


def test_only_chunks_module_runs_streams():
    """The availableNow drain and the event schema live in
    streaming/chunks.py alone: no other package module triggers
    availableNow or spells the event schema. Every module but session.py
    (whose with_shuffle_partitions is the one override, used by drain's
    state partitions and the graph loops' edge-frame width) leaves
    spark.sql.shuffle.partitions alone."""
    import os

    from data_engineering_spotify_etl_airflow_aws_spark import session
    from data_engineering_spotify_etl_airflow_aws_spark.streaming import chunks

    pkg_dir = os.path.dirname(engine.__file__)
    found = {}
    for root, _, files in os.walk(pkg_dir):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == chunks.__file__:
                continue
            bad = [
                b for b in _run_mechanism_sites(path)
                if path != session.__file__ or not b.endswith(_SP)
            ]
            if bad:
                found[os.path.relpath(path, pkg_dir)] = bad
    assert found == {}
    # ...chunks.py holds exactly one copy of each, session.py one key
    kinds = sorted(b.split(": ", 1)[1] for b in _run_mechanism_sites(chunks.__file__))
    assert kinds == sorted(["availableNow", "event schema"])
    kinds = [b.split(": ", 1)[1] for b in _run_mechanism_sites(session.__file__)]
    assert kinds == [_SP]
