"""Explicit schemas for the raw playlist document and the star tables.

The raw item shape mirrors what the reference's pandas loops consume
(/root/reference Airflow-docker/dags/spotify-airflow-pipeline.py:96-155):
a wrapper response object holding tracks.items[], each item an added_at
wrapper around a track struct with nested album (incl. artists[]) and a
top-level artists[] array. Declared, not inferred (SURVEY.md §1.3 regime 2)
so reads are stable across files and Catalyst can prune nested fields
(spark.sql.optimizer.nestedSchemaPruning.enabled).

Star schema (SURVEY.md §1.1, Snowflake DDL S:27-56 with the album_name fix
from SURVEY §3.4, plus the Glue-derived rank/scrape_date X1/X2):
    album(album_id, album_name, release_date DATE, total_tracks, url)
    artist(artist_id, artist_name, url)
    songs(song_id, song_name, duration_ms, popularity, url,
          song_added TIMESTAMP, album_id, artist_id, rank, scrape_date)
"""

from __future__ import annotations

from pyspark.sql import types as T

_URLS = T.StructType([T.StructField("spotify", T.StringType())])

_ARTIST = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("href", T.StringType()),
    ]
)

_ALBUM = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("release_date", T.StringType()),  # yyyy[-MM[-dd]]
        T.StructField("total_tracks", T.LongType()),
        T.StructField("external_urls", _URLS),
        T.StructField("artists", T.ArrayType(_ARTIST)),
    ]
)

_TRACK = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("popularity", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("external_urls", _URLS),
        T.StructField("album", _ALBUM),
        T.StructField("artists", T.ArrayType(_ARTIST)),
    ]
)

_ITEM = T.StructType(
    [
        T.StructField("added_at", T.StringType()),  # ISO-8601 Z
        T.StructField("track", _TRACK),
    ]
)

RAW_PLAYLIST_SCHEMA = T.StructType(
    [
        T.StructField(
            "tracks",
            T.StructType([T.StructField("items", T.ArrayType(_ITEM))]),
        )
    ]
)

# The songs fact as songs_projection emits it and its Parquet sinks store it
# (scrape_date, the partition column, last). Reading a sink with it skips
# the schema-inference job.
SONGS_SCHEMA = (
    "song_id STRING, song_name STRING, duration_ms BIGINT, url STRING, "
    "popularity BIGINT, song_added_us BIGINT, album_id STRING, "
    "artist_id STRING, rank INT, scrape_date DATE"
)

# DuckDB read_json columns spec matching RAW_PLAYLIST_SCHEMA exactly, so the
# oracle parses the same files with the same declared types.
_DUCK_ARTIST = "STRUCT(id VARCHAR, \"name\" VARCHAR, href VARCHAR)"
DUCK_RAW_COLUMNS = (
    "{'tracks': 'STRUCT(items STRUCT("
    "added_at VARCHAR, "
    "track STRUCT("
    "id VARCHAR, \"name\" VARCHAR, popularity BIGINT, duration_ms BIGINT, "
    "external_urls STRUCT(spotify VARCHAR), "
    "album STRUCT(id VARCHAR, \"name\" VARCHAR, release_date VARCHAR, "
    f"total_tracks BIGINT, external_urls STRUCT(spotify VARCHAR), "
    f"artists {_DUCK_ARTIST}[]), "
    f"artists {_DUCK_ARTIST}[]"
    "))[])'}"
)
