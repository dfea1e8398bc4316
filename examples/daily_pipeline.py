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
out, also when a write fails.

The outputs are independent, so they overlap, as the reference's DAG
runs its transform tasks side by side (P:271-273): the ingest runs on a
worker thread beside the transform; the songs fact is written on the
calling thread, which materializes the persisted parse; then the album
and artist dims and Q1-Q4 are written at once on worker threads, each
reading the cached parse. Every worker inherits the caller's local
properties, so its jobs stay in the caller's job group. The parse is
released only after every output has finished, and the first failure
is re-raised. Scheduling is whatever calls this script daily (cron,
Airflow BashOperator, Databricks job - orchestration is external to
the engine).

Run: `python examples/daily_pipeline.py [output_dir]`, or import and
call main(spark, output_dir) with an existing session (the test does).
Writes only under the given output_dir (default: a fresh /tmp dir).
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path


def main(spark, out_dir: str | None = None) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
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

    def ingest() -> int:
        # -- ingest: exactly-once streaming load of today's (and any missed)
        # inbox files; re-running the script replays nothing (checkpoint).
        ingest_songs_available_now(
            spark,
            str(INBOX_DIR),
            str(out / "warehouse" / "songs_stream"),
            str(out / "checkpoints" / "songs"),
        )
        return (
            spark.read.schema(SONGS_SCHEMA)
            .parquet(str(out / "warehouse" / "songs_stream"))
            .count()
        )

    def write_observed(name: str, df) -> int:
        # each analytics output's row count is observed on its write
        obs = Observation(name)
        n = F.count(F.lit(1)).alias("n")
        write_table_csv(df.observe(obs, n), str(out / "analytics" / name))
        return obs.get["n"]

    # one worker per concurrent output: the ingest and the six writes
    # fanned out after the fact
    pool = ThreadPoolExecutor(max_workers=7)

    def submit(fn, *args):
        # wrapped on the calling thread, so each task runs its jobs under
        # its own copy of the caller's local properties (the job group)
        return pool.submit(inheritable_thread_target(spark)(fn), *args)

    ingested = submit(ingest)
    # -- transform: the star schema. Fact is date-partitioned parquet
    # (dynamic overwrite = idempotent daily re-runs); dims are small and
    # land as CSV exactly like the reference's interchange format.
    ex = exploded_items(spark).persist()
    try:
        songs, album = songs_projection(ex), album_dim(ex)
        # the first write materializes the persisted parse; every write
        # fanned out after it reads the cache instead of building it
        write_partitioned(songs, str(out / "warehouse" / "songs"))
        dims = [
            submit(write_table_csv, album, str(out / "warehouse" / "album")),
            submit(write_table_csv, artist_dim(ex), str(out / "warehouse" / "artist")),
        ]
        # -- analyze: the four published analytics queries over the same parse
        counts = {
            name: submit(write_observed, name, df)
            for name, df in (
                ("q1_top_trending", top_trending(songs)),
                ("q2_album_popularity", album_popularity(songs, album)),
                ("q3_top_artist_presence", top_artist_presence(songs)),
                ("q4_song_movement", song_movement(songs)),
            )
        }
        results["songs_ingested"] = ingested.result()
        for dim in dims:
            dim.result()
        results.update({name: c.result() for name, c in counts.items()})
    finally:
        pool.shutdown()  # joins every output before the parse is released
        ex.unpersist()
    return results


if __name__ == "__main__":
    # running as `python examples/<script>.py` puts examples/ (not the
    # repo root) on sys.path - add the root so the package resolves
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark

    dest = sys.argv[1] if len(sys.argv) > 1 else None
    print(main(get_spark(app_name="daily-pipeline"), dest))
