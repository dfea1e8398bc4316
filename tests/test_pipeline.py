"""Property tests for the raw->star pipeline (SURVEY.md §5): rank density,
dedup idempotence/uniqueness, and end-to-end shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark.pipeline.schemas import (
    SONGS_SCHEMA,
)
from data_engineering_spotify_etl_airflow_aws_spark.pipeline.transforms import (
    album_dim,
    artist_dim,
    exploded_items,
    read_raw,
    songs_transform,
)

engine.load_all_operators()


def test_rank_dense_per_scrape_date(spark):
    """X1: rank must be exactly 1..50 within every scrape_date."""
    songs = songs_transform(spark)
    per_day = (
        songs.groupBy("scrape_date")
        .agg(
            F.count("*").alias("n"),
            F.min("rank").alias("lo"),
            F.max("rank").alias("hi"),
            F.countDistinct("rank").alias("n_ranks"),
        )
        .collect()
    )
    assert len(per_day) == 3
    for r in per_day:
        assert (r.n, r.lo, r.hi, r.n_ranks) == (50, 1, 50, 50), r


def test_dims_are_unique_and_idempotent(spark):
    album = album_dim(exploded_items(spark))
    artist = artist_dim(exploded_items(spark))
    assert album.count() == album.select("album_id").distinct().count()
    assert artist.count() == artist.select("artist_id").distinct().count()
    # dedup idempotence: re-deduping the dim is a no-op
    re_album = album.dropDuplicates(["album_id"])
    assert re_album.count() == album.count()


def test_mixed_precision_release_dates_parse(spark):
    """D3: every non-null raw release_date must parse; the planted null
    stays null."""
    album = album_dim(exploded_items(spark)).collect()
    nulls = [r.album_id for r in album if r.release_date is None]
    assert nulls == ["album_0013"]


def test_songs_schema_is_the_fact_schema(spark):
    """SONGS_SCHEMA, which the daily run reads its sink with, is the
    songs fact's own schema (names, order, types)."""
    declared = spark.createDataFrame([], SONGS_SCHEMA).schema
    fact = songs_transform(spark).schema
    assert [(f.name, f.dataType) for f in fact] == [
        (f.name, f.dataType) for f in declared
    ]


def test_raw_read_schema_stable(spark):
    raw = read_raw(spark)
    assert raw.columns == ["tracks", "scrape_date"]
    assert raw.count() == 3  # one row per daily file


def test_rest_source_partition_planning(spark):
    """S1: the Python DataSource plans one input partition per page and the
    http transport refuses to plan without credentials (no network here)."""
    from data_engineering_spotify_etl_airflow_aws_spark.sources.rest_api import (
        PlaylistRestReader,
        register_rest_source,
    )

    parts = PlaylistRestReader({}).partitions()
    assert [p.scrape_date for p in parts] == [
        "2025-07-18",
        "2025-07-19",
        "2025-07-20",
    ]

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="base_url"):
        PlaylistRestReader({"transport": "http"}).partitions()

    register_rest_source(spark)
    df = spark.read.format("playlist_rest").load()
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 150


def test_rest_source_matches_inbox_scan(spark):
    """S1 = S2: the REST source and the JSON inbox scan produce identical
    songs facts (same corpus through two ingest paths). Compared as row
    MULTISETS, not sets - a page emitted twice or a dropped row with an
    identical twin must fail (round-2 ADVICE)."""
    from collections import Counter

    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    rest = Counter(tuple(r) for r in QUERIES["rest_api_songs"](spark, "").collect())
    file_ = Counter(tuple(r) for r in QUERIES["star_songs_fact"](spark, "").collect())
    assert rest == file_


def test_page_url_percent_encodes_params():
    """F3: playlist ids and paging params must be URL-encoded before they
    reach the wire (reference P:38 uses an URL-encoded search query)."""
    from data_engineering_spotify_etl_airflow_aws_spark.sources.rest_api import (
        page_url,
    )

    url = page_url("https://api.example", "top 50 🎵/India", 50, 50)
    assert url == (
        "https://api.example/playlists/top%2050%20%F0%9F%8E%B5%2FIndia"
        "/tracks?offset=50&limit=50"
    )
    # a plain id passes through unchanged
    assert page_url("https://api.example", "abc123", 0, 50) == (
        "https://api.example/playlists/abc123/tracks?offset=0&limit=50"
    )


def test_sql_and_dataframe_forms_agree(spark):
    """SURVEY §3.3: the SQL and DataFrame forms of Q1-Q4 must return the
    same rows (both are also independently oracle-checked)."""
    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    for base in (
        "q1_top_trending",
        "q2_album_popularity",
        "q3_top_artist_presence",
        "q4_song_movement",
    ):
        df_rows = [tuple(r) for r in QUERIES[base](spark, "").collect()]
        sql_rows = [tuple(r) for r in QUERIES[base + "_sql"](spark, "").collect()]
        assert df_rows == sql_rows, base


def test_q2_sql_broadcast_hint_takes_effect(spark):
    """The /*+ BROADCAST(a) */ hint in the SQL form must produce the same
    broadcast-hash plan the DataFrame form gets from F.broadcast()."""
    from data_engineering_spotify_etl_airflow_aws_spark import plans
    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    df = QUERIES["q2_album_popularity_sql"](spark, "")
    assert "BroadcastHashJoin" in plans.executed_plan(df)


def test_tz_roundtrip_is_lossless_and_covers_all_offsets(spark):
    """TIMESTAMP_TZ analog (SURVEY §7 hard-part 1): every synthesized
    offset-carrying added_at must survive parse -> (instant, offset) ->
    re-render bit-identically, and the rank rotation must actually
    exercise non-UTC offsets in both directions."""
    from data_engineering_spotify_etl_airflow_aws_spark.registry import QUERIES

    rows = QUERIES["song_added_tz_roundtrip"](spark, "").collect()
    assert rows
    assert all(r.roundtrip_ok == 1 for r in rows)
    offsets = {r.src_offset_minutes for r in rows}
    assert {-480, -300, 0, 330, 540} <= offsets
    # offset preserved, instant normalized: non-UTC rows carry their
    # offset suffix in the rendering, and the stored instant equals the
    # suffix-shifted local clock for every row
    import datetime as dt

    for r in rows:
        if r.src_offset_minutes == 0:
            assert r.src_ts.endswith("Z")
        else:
            sgn = "+" if r.src_offset_minutes > 0 else "-"
            hh, mm = divmod(abs(r.src_offset_minutes), 60)
            assert r.src_ts.endswith(f"{sgn}{hh:02d}:{mm:02d}")
        local = dt.datetime.strptime(r.src_ts[:19], "%Y-%m-%dT%H:%M:%S")
        epoch = dt.datetime(1970, 1, 1)
        local_us = int((local - epoch).total_seconds()) * 1_000_000
        assert local_us - r.src_offset_minutes * 60_000_000 == r.song_added_us


def test_read_raw_survives_malformed_inbox_file(spark, tmp_path):
    """Ingest resilience: a corrupt JSON object landing in the inbox must
    not fail the scan or poison valid files - the declared-schema
    PERMISSIVE read yields a null-tracks row for the bad file (droppable
    by the existing P5 field-presence predicate), and every valid file's
    rows survive with their filename-derived scrape_date intact."""
    import shutil

    from data_engineering_spotify_etl_airflow_aws_spark.pipeline.fixture_gen import (
        INBOX_DIR,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.pipeline.transforms import (
        explode_raw,
        read_raw,
    )

    inbox = tmp_path / "inbox"
    shutil.copytree(INBOX_DIR, inbox)
    n_good = len(list(inbox.glob("*.json")))
    (inbox / "spotify_raw_2025-07-23.json").write_text('{"tracks": {"items": [')
    (inbox / "notes.txt").write_text("not json at all")  # glob-filtered out

    raw = read_raw(spark, inbox)
    rows = raw.collect()
    assert len(rows) == n_good + 1
    bad = [r for r in rows if r.tracks is None]
    assert len(bad) == 1
    assert str(bad[0].scrape_date) == "2025-07-23"
    ok = raw.where(F.col("tracks").isNotNull())
    assert explode_raw(ok).count() == n_good * 50


def _daily_pipeline_module():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "examples"))
    try:
        import daily_pipeline
    finally:
        sys.path.pop(0)
    return daily_pipeline


def _persisted_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_daily_pipeline_example_end_to_end(spark, tmp_path):
    """examples/daily_pipeline.py - the reference's daily DAG as one
    script - must ingest exactly-once, land the star schema, and emit
    all four analytics outputs from one parse of the inbox: exactly 21
    jobs in the caller's job group (fewer means a worker thread dropped
    the group), each Q count observed on its write, one part file per
    date of the fact and per other output, and nothing left persisted."""
    import uuid

    daily_pipeline = _daily_pipeline_module()
    sc = spark.sparkContext
    before = _persisted_rdd_ids(spark)
    group = f"daily-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = daily_pipeline.main(spark, str(tmp_path / "run1"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 21
    assert _persisted_rdd_ids(spark) <= before

    assert out["songs_ingested"] == 150
    assert out["q1_top_trending"] == 10
    assert out["q2_album_popularity"] > 0
    assert out["q3_top_artist_presence"] == 10
    assert out["q4_song_movement"] == 3
    run = tmp_path / "run1"
    analytics = ("q1_top_trending", "q2_album_popularity",
                 "q3_top_artist_presence", "q4_song_movement")
    for name in analytics:
        back = spark.read.option("header", "true").csv(str(run / "analytics" / name))
        assert out[name] == back.count(), name
    expected = {"warehouse/songs": 3, "warehouse/album": 1, "warehouse/artist": 1,
                **{f"analytics/{name}": 1 for name in analytics}}
    parts = {rel: len(list((run / rel).rglob("part-*"))) for rel in expected}
    assert parts == expected
    # idempotent daily re-run: streaming replays nothing, partitioned
    # fact overwrites dynamically
    again = daily_pipeline.main(spark, str(tmp_path / "run1"))
    assert again["songs_ingested"] == 150


def test_daily_pipeline_releases_its_persist_when_a_write_fails(
    spark, tmp_path, monkeypatch
):
    """A failing sink write propagates out of main and leaves no RDD
    persisted by the run."""
    from data_engineering_spotify_etl_airflow_aws_spark import sinks

    daily_pipeline = _daily_pipeline_module()

    def boom(df, path):
        raise RuntimeError("sink down")

    monkeypatch.setattr(sinks, "write_table_csv", boom)
    before = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="sink down"):
        daily_pipeline.main(spark, str(tmp_path / "run"))
    assert _persisted_rdd_ids(spark) <= before


def test_daily_pipeline_reraises_a_failed_ingest_and_joins_its_workers(
    spark, tmp_path, monkeypatch
):
    """The ingest runs on a worker thread; when it raises, main re-raises
    it after every output has finished, leaves no RDD persisted by the
    run and no worker thread alive."""
    import threading

    from data_engineering_spotify_etl_airflow_aws_spark.streaming import ingest

    daily_pipeline = _daily_pipeline_module()

    def boom(*args, **kwargs):
        raise RuntimeError("inbox unreachable")

    monkeypatch.setattr(ingest, "ingest_songs_available_now", boom)
    before = _persisted_rdd_ids(spark)
    threads = threading.active_count()
    with pytest.raises(RuntimeError, match="inbox unreachable"):
        daily_pipeline.main(spark, str(tmp_path / "run"))
    assert _persisted_rdd_ids(spark) <= before
    assert threading.active_count() == threads
