"""Q1-Q4 as ANSI spark.sql strings over registered star views (SURVEY §3.3:
the engine must expose BOTH DataFrame and SQL forms; the reference's users
live in SQL - snowflake-pipeline-query/spotify-analysis.sql:93-126 and
athena-query/query.sql).

Each *_sql query reuses the DataFrame twin's DuckDB oracle verbatim, so the
correctness gate proves DataFrame form == SQL form == oracle. Catalyst
compiles both forms to the same optimized plan shape (same views, same
predicates); tests/test_pipeline.py asserts result equality row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import ORACLES, query
from .transforms import album_dim, artist_dim, exploded_items, songs_projection


def register_star_views(spark: SparkSession) -> None:
    """The transformed star, built from one parse of the inbox, as temp
    views - the engine-side analog of the reference's post-COPY warehouse
    tables (S:27-56)."""
    ex = exploded_items(spark)
    songs_projection(ex).createOrReplaceTempView("songs")
    album_dim(ex).createOrReplaceTempView("album")
    artist_dim(ex).createOrReplaceTempView("artist")


Q1_SQL = """
    SELECT song_id, song_name, artist_id, album_id, rank, scrape_date
    FROM songs
    WHERE scrape_date >= (SELECT max(scrape_date) - INTERVAL 7 DAY FROM songs)
    ORDER BY rank, scrape_date, song_id
    LIMIT 10
"""

Q2_SQL = """
    SELECT /*+ BROADCAST(a) */
           s.album_id, a.album_name, s.scrape_date,
           avg(s.rank) AS avg_rank, count(*) AS n_entries
    FROM songs s JOIN album a ON s.album_id = a.album_id
    GROUP BY s.album_id, a.album_name, s.scrape_date
    ORDER BY s.album_id, s.scrape_date
"""

Q3_SQL = """
    SELECT artist_id, count(*) AS top_10_appearances
    FROM songs WHERE rank <= 10
    GROUP BY artist_id
    ORDER BY top_10_appearances DESC, artist_id
    LIMIT 10
"""

Q4_SQL = """
    SELECT scrape_date, rank
    FROM songs WHERE song_id = 'song_0000'
    ORDER BY scrape_date
"""


def _sql_query(name: str, df_twin: str, sql: str) -> None:
    @query(name, oracle=ORACLES[df_twin])
    def run(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        register_star_views(spark)
        return spark.sql(_sql)

    run.__name__ = name
    run.__doc__ = f"spark.sql twin of {df_twin} (same oracle)."


_sql_query("q1_top_trending_sql", "q1_top_trending", Q1_SQL)
_sql_query("q2_album_popularity_sql", "q2_album_popularity", Q2_SQL)
_sql_query("q3_top_artist_presence_sql", "q3_top_artist_presence", Q3_SQL)
_sql_query("q4_song_movement_sql", "q4_song_movement", Q4_SQL)
