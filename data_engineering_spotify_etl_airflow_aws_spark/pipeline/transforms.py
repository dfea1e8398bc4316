"""Raw playlist JSON -> star schema -> the reference's four analytics
queries, all as registered oracle-checked queries.

Reference parity (cites into /root/reference):
  * nested projection (album)  P:96-105   -> item.track.album.* select
  * array explode (artist)     P:121-127  -> posexplode(item.track.artists)
  * array index (songs)        P:142-155  -> track.album.artists[0].id
  * positional rank X1         S:50       -> posexplode(tracks.items)+1,
                                            derived BEFORE any shuffle
  * scrape_date X2             S:51,P:68  -> parsed from the raw filename
  * date cascade D3            P:109      -> functions.to_date_cascade
  * ISO-8601 timestamp D4      P:158      -> to_timestamp(added_at)
  * dedup D1/D2                P:108,130  -> earliest-(scrape_date, rank)
                                            survivor via row_number
  * Q1-Q4                      S:93-126   -> q1_top_trending .. q4_song_movement

Scale notes (100 TB): one multiLine JSON read -> posexplode fan-out; the
raw scan is the only wide input and every downstream op is either a
narrow projection or a hash agg / broadcast join on star keys. Dims dedup
with a window over album_id/artist_id (high-cardinality keys). At real
scale the inbox read becomes the streaming file source (streaming/) and
songs lands date-partitioned (sinks) so Q1/Q4 prune by scrape_date.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import (
    oracle_format_ts_with_offset,
    oracle_ts_offset_minutes,
    to_date_cascade,
)
from ..registry import query
from .schemas import DUCK_RAW_COLUMNS, RAW_PLAYLIST_SCHEMA

INBOX_DIR = Path(__file__).resolve().parents[2] / "data" / "raw_inbox"

_DATE_RE = r"(\d{4}-\d{2}-\d{2})"


def read_raw(spark: SparkSession, inbox_dir: str | Path = INBOX_DIR) -> DataFrame:
    """S2: declared-schema multi-file JSON inbox scan (+P6 glob filter),
    scrape_date (X2) derived from the raw object key."""
    raw = (
        spark.read.schema(RAW_PLAYLIST_SCHEMA)
        .option("multiLine", "true")
        .option("pathGlobFilter", "*.json")
        .json(str(inbox_dir))
    )
    return with_scrape_date(raw)


def with_scrape_date(raw: DataFrame) -> DataFrame:
    """(tracks, scrape_date): the date taken from the raw object key.
    Works on batch and streaming DataFrames alike (pure projection)."""
    return raw.select(
        "tracks",
        F.to_date(
            F.regexp_extract(F.col("_metadata.file_path"), _DATE_RE, 1)
        ).alias("scrape_date"),
    )


def explode_raw(raw: DataFrame) -> DataFrame:
    """(scrape_date, rank, item): playlist position becomes chart rank (X1)
    via posexplode BEFORE any shuffle can reorder items (SURVEY §7.6).
    Works on batch and streaming DataFrames alike (pure projection)."""
    return raw.select(
        "scrape_date", F.posexplode("tracks.items").alias("pos", "item")
    ).select("scrape_date", (F.col("pos") + 1).alias("rank"), "item")


def exploded_items(spark: SparkSession) -> DataFrame:
    return explode_raw(read_raw(spark))


def songs_projection(ex: DataFrame) -> DataFrame:
    """P3 + D4 + X1 + X2 as a pure projection over exploded items - shared
    by the batch transform and the streaming ingest (streaming/ingest.py)."""
    return ex.select(
        F.col("item.track.id").alias("song_id"),
        F.col("item.track.name").alias("song_name"),
        F.col("item.track.duration_ms").alias("duration_ms"),
        F.col("item.track.external_urls.spotify").alias("url"),
        F.col("item.track.popularity").alias("popularity"),
        F.unix_micros(F.to_timestamp("item.added_at")).alias("song_added_us"),
        F.col("item.track.album.id").alias("album_id"),
        F.col("item.track.album.artists")[0]["id"].alias("artist_id"),
        "rank",
        "scrape_date",
    )


def songs_transform(spark: SparkSession) -> DataFrame:
    """The 10-column songs fact (Snowflake DDL S:41-56)."""
    return songs_projection(exploded_items(spark))


def album_dim(ex: DataFrame) -> DataFrame:
    """P1 + D1 + D3 over exploded items: nested album projection,
    mixed-precision date parse, deterministic earliest-(scrape_date, rank)
    survivor per album_id."""
    w = W.partitionBy("album_id").orderBy("scrape_date", "rank")
    return (
        ex.select(
            F.col("item.track.album.id").alias("album_id"),
            F.col("item.track.album.name").alias("album_name"),
            to_date_cascade(F.col("item.track.album.release_date")).alias(
                "release_date"
            ),
            F.col("item.track.album.total_tracks").alias("total_tracks"),
            F.col("item.track.album.external_urls.spotify").alias("url"),
            "scrape_date",
            "rank",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "album_id",
            "album_name",
            "release_date",
            "total_tracks",
            "url",
            F.col("scrape_date").alias("first_seen"),
        )
    )


def artist_dim(ex: DataFrame) -> DataFrame:
    """P2 + D2 over exploded items: artists[] explode (position-aware for
    a total dedup order)."""
    w = W.partitionBy("artist_id").orderBy("scrape_date", "rank", "artist_pos")
    return (
        ex.select(
            "scrape_date",
            "rank",
            F.posexplode("item.track.artists").alias("artist_pos", "artist"),
        )
        .select(
            F.col("artist.id").alias("artist_id"),
            F.col("artist.name").alias("artist_name"),
            F.col("artist.href").alias("url"),
            "scrape_date",
            "rank",
            "artist_pos",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "artist_id",
            "artist_name",
            "url",
            F.col("scrape_date").alias("first_seen"),
        )
    )


# ---------------------------------------------------------------------------
# Shared oracle CTE prefix: the same three files parsed with the same
# declared schema, rank/scrape_date derived the same way.
_ORACLE_BASE = f"""
    WITH raw AS (
        SELECT tracks,
               regexp_extract(filename, '{_DATE_RE}', 1)::DATE AS scrape_date
        FROM read_json('{INBOX_DIR}/*.json',
                       columns={DUCK_RAW_COLUMNS}, filename=true)
    ),
    ex AS (
        SELECT scrape_date,
               unnest(generate_series(1, len(tracks.items))) AS rank,
               unnest(tracks.items) AS item
        FROM raw
    ),
    songs AS (
        SELECT item.track.id AS song_id,
               item.track."name" AS song_name,
               item.track.duration_ms AS duration_ms,
               item.track.external_urls.spotify AS url,
               item.track.popularity AS popularity,
               epoch_us(strptime(item.added_at, '%Y-%m-%dT%H:%M:%SZ'))
                   AS song_added_us,
               item.track.album.id AS album_id,
               item.track.album.artists[1].id AS artist_id,
               rank, scrape_date
        FROM ex
    ),
    album AS (
        SELECT album_id, album_name, release_date, total_tracks, url,
               scrape_date AS first_seen
        FROM (
            SELECT item.track.album.id AS album_id,
                   item.track.album."name" AS album_name,
                   CAST(coalesce(
                       try_strptime(item.track.album.release_date, '%Y-%m-%d'),
                       try_strptime(item.track.album.release_date, '%Y-%m'),
                       try_strptime(item.track.album.release_date, '%Y')
                   ) AS DATE) AS release_date,
                   item.track.album.total_tracks AS total_tracks,
                   item.track.album.external_urls.spotify AS url,
                   scrape_date, rank,
                   row_number() OVER (
                       PARTITION BY item.track.album.id
                       ORDER BY scrape_date, rank
                   ) AS rn
            FROM ex
        ) WHERE rn = 1
    ),
    artist AS (
        SELECT artist_id, artist_name, url, scrape_date AS first_seen
        FROM (
            SELECT a.artist.id AS artist_id,
                   a.artist."name" AS artist_name,
                   a.artist.href AS url,
                   a.scrape_date, a.rank, a.artist_pos,
                   row_number() OVER (
                       PARTITION BY a.artist.id
                       ORDER BY a.scrape_date, a.rank, a.artist_pos
                   ) AS rn
            FROM (
                SELECT scrape_date, rank,
                       unnest(item.track.artists) AS artist,
                       unnest(generate_series(1, len(item.track.artists)))
                           AS artist_pos
                FROM ex
            ) a
        ) WHERE rn = 1
    )
"""


@query(
    "star_songs_fact",
    oracle=_ORACLE_BASE
    + "SELECT * FROM songs ORDER BY scrape_date, rank",
)
def star_songs_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full songs fact. sf_dir unused: the raw inbox is its own fixture."""
    return songs_transform(spark).orderBy("scrape_date", "rank")


@query(
    "star_album_dim",
    oracle=_ORACLE_BASE + "SELECT * FROM album ORDER BY album_id",
)
def star_album_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return album_dim(exploded_items(spark)).orderBy("album_id")


@query(
    "star_artist_dim",
    oracle=_ORACLE_BASE + "SELECT * FROM artist ORDER BY artist_id",
)
def star_artist_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return artist_dim(exploded_items(spark)).orderBy("artist_id")


# ---------------------------------------------------------------------------
# The reference's entire analytics workload (S:93-126 / A:7-40) as plans
# over the star's frames, so one parse of the inbox can feed all four (the
# daily run does). Recency anchors are data-relative (max scrape_date) so
# the frozen fixture stays stable; CURRENT_DATE is the degenerate case.
def top_trending(songs: DataFrame) -> DataFrame:
    """Q1. Column list matches the published workload exactly
    (spotify-analysis.sql:93-97 / athena_spotify_analysis.sql:7-11):
    song_id, song_name, artist_id, album_id, rank, scrape_date."""
    # broadcast 1-row scalar join instead of a driver collect(): one job
    cutoff = songs.agg(
        (F.max("scrape_date") - F.expr("INTERVAL 7 DAYS")).alias("_cutoff")
    )
    return (
        songs.join(F.broadcast(cutoff))
        .where(F.col("scrape_date") >= F.col("_cutoff"))
        .orderBy("rank", "scrape_date", "song_id")
        .select(
            "song_id", "song_name", "artist_id", "album_id", "rank", "scrape_date"
        )
        .limit(10)
    )


def album_popularity(songs: DataFrame, album: DataFrame) -> DataFrame:
    """Q2."""
    return (
        songs.join(F.broadcast(album), "album_id")
        .groupBy("album_id", "album_name", "scrape_date")
        .agg(F.avg("rank").alias("avg_rank"), F.count("*").alias("n_entries"))
        .orderBy("album_id", "scrape_date")
    )


def top_artist_presence(songs: DataFrame) -> DataFrame:
    """Q3."""
    return (
        songs.where(F.col("rank") <= 10)
        .groupBy("artist_id")
        .agg(F.count("*").alias("top_10_appearances"))
        .orderBy(F.desc("top_10_appearances"), "artist_id")
        .limit(10)
    )


def song_movement(songs: DataFrame) -> DataFrame:
    """Q4. Projection matches the published Q4 exactly (spotify-analysis.sql:
    121-126 / athena_spotify_analysis.sql:35-40): scrape_date, rank only."""
    return (
        songs.where(F.col("song_id") == "song_0000")
        .select("scrape_date", "rank")
        .orderBy("scrape_date")
    )


@query(
    "q1_top_trending",
    oracle=_ORACLE_BASE
    + """
    SELECT song_id, song_name, artist_id, album_id, rank, scrape_date
    FROM songs
    WHERE scrape_date >= (SELECT max(scrape_date) - INTERVAL 7 DAY FROM songs)
    ORDER BY rank, scrape_date, song_id
    LIMIT 10
    """,
)
def q1_top_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_trending(songs_transform(spark))


@query(
    "q2_album_popularity",
    oracle=_ORACLE_BASE
    + """
    SELECT s.album_id, a.album_name, s.scrape_date,
           avg(s.rank) AS avg_rank, count(*) AS n_entries
    FROM songs s JOIN album a ON s.album_id = a.album_id
    GROUP BY 1, 2, 3
    ORDER BY 1, 3
    """,
)
def q2_album_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = exploded_items(spark)
    return album_popularity(songs_projection(ex), album_dim(ex))


@query(
    "q3_top_artist_presence",
    oracle=_ORACLE_BASE
    + """
    SELECT artist_id, count(*) AS top_10_appearances
    FROM songs WHERE rank <= 10
    GROUP BY artist_id
    ORDER BY top_10_appearances DESC, artist_id
    LIMIT 10
    """,
)
def q3_top_artist_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_artist_presence(songs_transform(spark))


# ---------------------------------------------------------------------------
# K2-as-canonical + partition pruning, end to end: write the songs fact as
# date-partitioned Parquet, read it back, and answer a latest-day question
# that must touch exactly one partition (tests assert PartitionFilters).
@query(
    "partitioned_roundtrip_prune",
    oracle=_ORACLE_BASE
    + """
    SELECT album_id, count(*) AS n_tracks, avg(rank) AS avg_rank
    FROM songs
    WHERE scrape_date = (SELECT max(scrape_date) FROM songs)
    GROUP BY album_id
    ORDER BY album_id
    """,
)
def partitioned_roundtrip_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks import write_partitioned
    from ..streaming.chunks import run_scratch

    # r14 review: the rewrite OUTPUT is per-run work product, not a
    # marker-guarded shared fixture - pid-scope it (the run_scratch rule,
    # same class as compact_small_files' r13 fix) so two engine
    # processes round-tripping concurrently never interleave dynamic
    # partition overwrites under each other's reads
    path = str(run_scratch("star_songs_partitioned"))
    write_partitioned(songs_transform(spark), path)
    back = spark.read.parquet(path)
    # latest-day cutoff as an uncorrelated scalar subquery on the partition
    # column - no driver collect (round-2 verdict: the last collect() in any
    # registered query body). Spark executes the subquery before planning
    # the main scan, so its result lands in PartitionFilters and exactly one
    # partition is read; the subquery side itself only scans the partition
    # column (file listing, no row data).
    back.createOrReplaceTempView("__songs_partitioned")
    return (
        back.where(
            F.expr("scrape_date = (SELECT max(scrape_date) FROM __songs_partitioned)")
        )
        .groupBy("album_id")
        .agg(F.count("*").alias("n_tracks"), F.avg("rank").alias("avg_rank"))
        .orderBy("album_id")
    )


@query(
    "q4_song_movement",
    oracle=_ORACLE_BASE
    + """
    SELECT scrape_date, rank
    FROM songs WHERE song_id = 'song_0000'
    ORDER BY scrape_date
    """,
)
def q4_song_movement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return song_movement(songs_transform(spark))


# ---------------------------------------------------------------------------
# P5: column-existence predicates over the raw nested shape - the engine
# analog of the reference's defensive `if key == 'track'` scan (P:123-124).
# Exercised against real variation: the fixture plants one null
# release_date (album_0013).
@query(
    "raw_field_presence",
    oracle=_ORACLE_BASE
    + """
    SELECT scrape_date,
           count(*) AS n_items,
           count(item.track.id) AS n_with_track,
           CAST(sum(CASE WHEN item.track.album.release_date IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_release
    FROM ex
    GROUP BY scrape_date
    ORDER BY scrape_date
    """,
)
def raw_field_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = exploded_items(spark)
    return (
        ex.groupBy("scrape_date")
        .agg(
            F.count("*").alias("n_items"),
            F.count("item.track.id").alias("n_with_track"),
            F.sum(
                F.when(
                    F.col("item.track.album.release_date").isNull(), 1
                ).otherwise(0)
            ).alias("n_null_release"),
        )
        .orderBy("scrape_date")
    )


# ---------------------------------------------------------------------------
# F4: timestamp -> string key formatting (reference strftime P:68 and the
# Airflow ts_nodash CSV keys P:225) - the object-key naming scheme every
# sink in the reference derives from the ingest instant.
@query(
    "songs_export_keys",
    oracle=_ORACLE_BASE
    + """
    SELECT song_id, rank,
           strftime(make_timestamp(song_added_us), '%Y%m%dT%H%M%S')
               AS added_key,
           strftime(scrape_date, 'spotify_transformed_%Y%m%d.csv')
               AS object_key
    FROM songs
    ORDER BY scrape_date, rank
    """,
)
def songs_export_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        songs_transform(spark)
        .select(
            "song_id",
            "rank",
            F.date_format(
                F.timestamp_micros(F.col("song_added_us")), "yyyyMMdd'T'HHmmss"
            ).alias("added_key"),
            F.concat(
                F.lit("spotify_transformed_"),
                F.date_format("scrape_date", "yyyyMMdd"),
                F.lit(".csv"),
            ).alias("object_key"),
            "scrape_date",
        )
        .orderBy("scrape_date", "rank")
        .drop("scrape_date")
    )


# ---------------------------------------------------------------------------
# TIMESTAMP_TZ offset preservation (reference S:47 `song_added
# TIMESTAMP_TZ`; SURVEY §7 hard-part 1). Snowflake keeps each value's
# original UTC offset; Spark's TimestampType normalizes to the instant.
# The engine's analog is a column pair (UTC-instant micros, source offset
# minutes) - functions.ts_offset_minutes / format_ts_with_offset - which
# this query proves lossless: every playlist item's added_at is re-rendered
# at a deterministic non-UTC source offset (rank-rotated through five real
# zones, since the live feed only ever emits 'Z'), parsed back through the
# pair representation, and reconstructed bit-identically. Pure projection,
# no shuffle; the oracle parses independently via DuckDB's TIMESTAMPTZ.
_TZ_OFFSETS = [-480, -300, 0, 330, 540]  # PST, EST, UTC, IST, JST

_O_SRC_TS = oracle_format_ts_with_offset("song_added_us", "src_off")
_O_OFF_MIN = oracle_ts_offset_minutes("src_ts")
_O_RENDERED = oracle_format_ts_with_offset(
    "song_added_us", "src_offset_minutes"
)


@query(
    "song_added_tz_roundtrip",
    oracle=_ORACLE_BASE
    + f"""
    , src AS (
        SELECT song_id, rank, scrape_date,
               {_O_SRC_TS} AS src_ts
        FROM (
            SELECT song_id, rank, scrape_date, song_added_us,
                   ([{",".join(str(o) for o in _TZ_OFFSETS)}])[(rank % {len(_TZ_OFFSETS)}) + 1]
                       AS src_off
            FROM songs
        )
    ),
    parsed AS (
        SELECT song_id, rank, scrape_date, src_ts,
               epoch_us(CAST(src_ts AS TIMESTAMPTZ)) AS song_added_us,
               {_O_OFF_MIN} AS src_offset_minutes
        FROM src
    )
    SELECT song_id, rank, scrape_date, src_ts, song_added_us,
           src_offset_minutes,
           {_O_RENDERED} AS rendered,
           CAST({_O_RENDERED} = src_ts AS INT) AS roundtrip_ok
    FROM parsed
    ORDER BY scrape_date, rank
    """,
)
def song_added_tz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sf_dir unused: the raw inbox is its own fixture (as star_songs_fact).
    Cites: snowflake-pipeline-query/spotify-analysis.sql:47 (TIMESTAMP_TZ),
    Airflow-docker/dags/spotify-airflow-pipeline.py:149,158 (added_at)."""
    from ..functions import format_ts_with_offset, ts_offset_minutes

    ex = exploded_items(spark)
    utc_us = F.unix_micros(F.to_timestamp("item.added_at"))
    src_off = F.element_at(
        F.array(*[F.lit(o) for o in _TZ_OFFSETS]),
        (F.col("rank") % len(_TZ_OFFSETS) + 1).cast("int"),
    )
    src = ex.select(
        F.col("item.track.id").alias("song_id"),
        "rank",
        "scrape_date",
        format_ts_with_offset(utc_us, src_off).alias("src_ts"),
    )
    # the capability under test: src_ts is the ONLY timestamp input from
    # here on - instant + offset both come back out of the string
    parsed = src.select(
        "song_id",
        "rank",
        "scrape_date",
        "src_ts",
        F.unix_micros(F.to_timestamp("src_ts")).alias("song_added_us"),
        ts_offset_minutes("src_ts").alias("src_offset_minutes"),
    )
    rendered = format_ts_with_offset(
        F.col("song_added_us"), F.col("src_offset_minutes")
    )
    return parsed.select(
        "*",
        rendered.alias("rendered"),
        (rendered == F.col("src_ts")).cast("int").alias("roundtrip_ok"),
    ).orderBy("scrape_date", "rank")
