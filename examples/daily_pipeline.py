"""The reference repo's daily run, end to end, as one spark-submit-able
script - what `spotify-airflow-pipeline.py`'s task DAG (P:270-276)
collapses to on Spark:

  extract  -> the raw-JSON inbox (here: the committed fixture inbox; a
              live deployment calls sources.rest_api and lands the
              day's file first)
  ingest   -> exactly-once Structured Streaming file ingest of the
              songs fact (Snowpipe analog, checkpointed, archival)
  transform-> one parse of the inbox, persisted, feeds the album/artist
              dims and the date-partitioned songs fact, written as the
              analytical star schema
  analyze  -> the four published analytics queries (S:93-126 / A:7-40)
              over the same persisted parse, each written once with
              its row count observed on the write

As in the reference (P:92-163), the day's JSON is parsed once and every
output derives from that one parse; the persist is released on the way
out, also when a write fails. Scheduling is whatever calls this script
daily (cron, Airflow BashOperator, Databricks job - orchestration is
external to the engine).

Run: `python examples/daily_pipeline.py [output_dir]`, or import and
call main(spark, output_dir) with an existing session (the test does).
Writes only under the given output_dir (default: a fresh /tmp dir).
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path


def main(spark, out_dir: str | None = None) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import data_engineering_spotify_etl_airflow_aws_spark as engine
    from data_engineering_spotify_etl_airflow_aws_spark.pipeline.schemas import (
        SONGS_SCHEMA,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.pipeline.transforms import (
        INBOX_DIR,
        album_dim,
        album_popularity,
        artist_dim,
        exploded_items,
        song_movement,
        songs_projection,
        top_artist_presence,
        top_trending,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.sinks import (
        write_partitioned,
        write_table_csv,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.ingest import (
        ingest_songs_available_now,
    )

    engine.load_all_operators()
    out = Path(out_dir or tempfile.mkdtemp(prefix="daily_pipeline_"))
    results: dict = {"output_dir": str(out)}

    # -- ingest: exactly-once streaming load of today's (and any missed)
    # inbox files; re-running the script replays nothing (checkpoint).
    ingest_songs_available_now(
        spark,
        str(INBOX_DIR),
        str(out / "warehouse" / "songs_stream"),
        str(out / "checkpoints" / "songs"),
    )
    results["songs_ingested"] = (
        spark.read.schema(SONGS_SCHEMA)
        .parquet(str(out / "warehouse" / "songs_stream"))
        .count()
    )

    # -- transform: the star schema. Fact is date-partitioned parquet
    # (dynamic overwrite = idempotent daily re-runs); dims are small and
    # land as CSV exactly like the reference's interchange format.
    ex = exploded_items(spark).persist()
    try:
        songs, album = songs_projection(ex), album_dim(ex)
        write_partitioned(songs, str(out / "warehouse" / "songs"))
        write_table_csv(album, str(out / "warehouse" / "album"))
        write_table_csv(artist_dim(ex), str(out / "warehouse" / "artist"))

        # -- analyze: the four published analytics queries over the same
        # parse; each output's row count is observed on its write
        for name, df in (
            ("q1_top_trending", top_trending(songs)),
            ("q2_album_popularity", album_popularity(songs, album)),
            ("q3_top_artist_presence", top_artist_presence(songs)),
            ("q4_song_movement", song_movement(songs)),
        ):
            obs = Observation(name)
            n = F.count(F.lit(1)).alias("n")
            write_table_csv(df.observe(obs, n), str(out / "analytics" / name))
            results[name] = obs.get["n"]
    finally:
        ex.unpersist()
    return results


if __name__ == "__main__":
    # running as `python examples/<script>.py` puts examples/ (not the
    # repo root) on sys.path - add the root so the package resolves
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark

    dest = sys.argv[1] if len(sys.argv) > 1 else None
    print(main(get_spark(app_name="daily-pipeline"), dest))
