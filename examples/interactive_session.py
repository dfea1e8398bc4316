"""Runnable walkthrough of the engine's interactive/operational surface:

  1. batch analytics via the query registry,
  2. continuous auto-ingest (the Snowpipe AUTO_INGEST analog) driven and
     introspected with pipe_status() - SHOW PIPES / DESC PIPE,
  3. cache lifecycle: persisted and checkpointed operator relations are
     query-scoped - building the next query through the registry
     releases them, and caches.release_all() frees the last query's in
     one call.

Run it directly (`python examples/interactive_session.py [sf_dir]`) or
import and call main(spark, sf_dir) from a notebook/test with an
existing session. Writes only under /tmp.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path


def main(spark, sf_dir: str = "/root/testdata/sf0.001") -> dict:
    import data_engineering_spotify_etl_airflow_aws_spark as engine
    from data_engineering_spotify_etl_airflow_aws_spark import caches, registry
    from data_engineering_spotify_etl_airflow_aws_spark.pipeline.transforms import (
        INBOX_DIR,
    )
    from data_engineering_spotify_etl_airflow_aws_spark.streaming.ingest import (
        ingest_songs_continuous,
        pipe_status,
    )

    engine.load_all_operators()
    out: dict = {}

    # -- 1. batch analytics: any registered query is (spark, sf_dir) -> DF
    top = registry.QUERIES["q1_top_trending"](spark, sf_dir)
    out["q1_rows"] = top.count()

    # a query that persists a shared base relation (kept until the next
    # registry query is built, or released in step 3)
    out["lsh_rows"] = registry.QUERIES["minhash_lsh_near_dup"](
        spark, sf_dir
    ).count()

    # -- 2. continuous ingest + SHOW PIPES (inbox = the committed raw
    # JSON landing zone under data/raw_inbox)
    work = Path(tempfile.mkdtemp(prefix="interactive_ingest_"))
    q = ingest_songs_continuous(
        spark,
        str(INBOX_DIR),
        str(work / "data"),
        str(work / "checkpoint"),
        processing_interval="0 seconds",
    )
    try:
        q.processAllAvailable()  # drive the poll loop once, deterministic
        pipes = pipe_status(spark)  # SHOW PIPES: every active query
        out["n_active_pipes"] = pipes.count()
        mine = pipe_status(spark, q)  # DESC PIPE: this query's row
        out["pipe_active"] = bool(mine.first()["is_active"])
    finally:
        q.stop()
        shutil.rmtree(work, ignore_errors=True)

    # -- 3. executor memory back without building another query or
    # waiting for session shutdown: the scope holds only the last
    # registry query's relations (here minhash_lsh_near_dup's)
    caches.release_all()
    return out


if __name__ == "__main__":
    # running as `python examples/<script>.py` puts examples/ (not the
    # repo root) on sys.path - add the root so the package resolves
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    print(main(get_spark(app_name="interactive-example"), sf))
