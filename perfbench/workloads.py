"""The two workloads and their operations.

An operation is timed from the start of ``build`` to the end of ``act``;
``prepare`` (input landing) and ``check`` (output verification) run
outside that window. Membership is frozen by name in ``membership.json``;
the seed only orders the operations of a pass and, for ``chart_etl``,
generates the backfill inbox. Every workload runs at ``SF``.
"""

from __future__ import annotations

import importlib
import importlib.util
import json
import shutil
from pathlib import Path

from . import chart_inbox, checks

HERE = Path(__file__).resolve().parent
PKG = "data_engineering_spotify_etl_airflow_aws_spark"

SF = "sf0.01"
# Queries set-up runs to warm a fresh session.
WARMUPS = ("count_star",)
# Days the chart_etl backfill can land in one run (one per backfill op).
MAX_BACKFILL_DAYS = 400
DAILY_OUTPUTS = ("star_songs_fact", "star_album_dim", "star_artist_dim",
                 "q1_top_trending", "q2_album_popularity",
                 "q3_top_artist_presence", "q4_song_movement")


def load_json(name: str) -> dict:
    return json.loads((HERE / name).read_text())


def oracle_rows(con, sql: str):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


class QueryOp:
    """One registered query: build the DataFrame, collect it, compare the
    rows' digest with the golden digest frozen for its scale factor."""

    def __init__(self, name: str, sf_dir: str, expected: str):
        from data_engineering_spotify_etl_airflow_aws_spark import registry

        self.name, self.sf_dir, self.expected = name, sf_dir, expected
        self.fn = registry.QUERIES[name]

    def prepare(self, ctx):
        pass

    def build(self, ctx):
        return self.fn(ctx.spark, self.sf_dir)

    def act(self, ctx, df):
        return df.columns, df.collect()

    def rows(self, result) -> int | None:
        return len(result[1])

    def check(self, ctx, result) -> str | None:
        got = checks.df_digest(*result)
        return None if got == self.expected else f"digest {got} != golden {self.expected}"


class DailyRunOp:
    """``examples/daily_pipeline.main(spark, fresh_dir)`` - ingest -> star
    schema -> Q1-Q4, timed as one unit. Every written table and analytics
    output is read back and compared with the DuckDB inbox oracles."""

    name = "daily_run"

    def __init__(self, root: Path):
        spec = importlib.util.spec_from_file_location(
            "perfbench_daily_pipeline", root / "examples" / "daily_pipeline.py")
        self.module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.module)
        self.runs = 0
        self._expected = None

    def prepare(self, ctx):
        self.out = ctx.state / "daily" / f"run{self.runs}"
        self.runs += 1
        shutil.rmtree(self.out, ignore_errors=True)

    def build(self, ctx):
        return None

    def act(self, ctx, _df):
        self.module.main(ctx.spark, str(self.out))
        return self.out

    def rows(self, result) -> int | None:
        return None

    def check(self, ctx, out: Path) -> str | None:
        from data_engineering_spotify_etl_airflow_aws_spark import registry

        con = ctx.duck()
        if self._expected is None:
            self._expected = {n: oracle_rows(con, registry.ORACLES[n]) for n in DAILY_OUTPUTS}
        exp = self._expected
        want = checks.digest(*exp["star_songs_fact"])
        for table in ("songs_stream", "songs"):
            got = checks.digest(*checks.parquet_rows(con, out / "warehouse" / table))
            if got != want:
                return f"warehouse/{table}: {got} != oracle {want}"
        csvs = {"warehouse/album": "star_album_dim", "warehouse/artist": "star_artist_dim"}
        csvs.update({f"analytics/{q}": q for q in DAILY_OUTPUTS[3:]})
        for rel, oracle in csvs.items():
            if not checks.same_as_csv(*exp[oracle], *checks.csv_rows(out / rel)):
                return f"{rel} differs from the {oracle} oracle"
        return None


class BackfillOp:
    """Land the next seeded chart day in the inbox (untimed), then drain it
    with ``streaming.ingest.ingest_songs_available_now`` against one
    persistent checkpoint. After each day the sink must hold every landed
    day exactly once, as the DuckDB inbox oracle computes it.

    One instance stands for the ``per_pass`` backfill slots of a pass. It
    is named after the slot it runs, ``backfill_day_<k>`` for the k-th day
    landed in the pass, so per-operation figures pair like with like."""

    def __init__(self, seed: int, per_pass: int):
        self.seed, self.per_pass = seed, per_pass
        self.days = None
        self.landed = 0
        self.name = "backfill_day_1"

    def prepare(self, ctx):
        if self.days is None:
            self.days = chart_inbox.chart_days(self.seed, MAX_BACKFILL_DAYS)
            self.inbox = ctx.state / "backfill" / "inbox"
            self.dest = ctx.state / "backfill" / "songs"
            self.ckpt = ctx.state / "backfill" / "checkpoint"
        self.name = f"backfill_day_{self.landed % self.per_pass + 1}"
        chart_inbox.land(self.inbox, *self.days[self.landed])
        self.landed += 1

    def build(self, ctx):
        return None

    def act(self, ctx, _df):
        from data_engineering_spotify_etl_airflow_aws_spark.streaming import ingest

        ingest.ingest_songs_available_now(
            ctx.spark, str(self.inbox), str(self.dest), str(self.ckpt))
        return self.landed

    def rows(self, result) -> int | None:
        return None

    def check(self, ctx, _result) -> str | None:
        con = ctx.duck()
        want = checks.digest(*checks.inbox_oracle(
            con, self.inbox, "SELECT * FROM songs"))
        got = checks.digest(*checks.parquet_rows(con, self.dest))
        return None if got == want else f"sink {got} != inbox oracle {want} after {self.landed} days"


class Workload:
    """Operations of one pass and the fixtures set-up prepares."""

    def __init__(self, name: str, root: Path, seed: int):
        spec = load_json("membership.json")[name]
        gold = load_json("golden.json")
        data = root / "perfbench" / "data"
        self.name = name
        self.sf_dir = str(data / SF)
        self.fixtures = spec["fixtures"]
        self.ops = [QueryOp(q, self.sf_dir, gold[SF][q]) for q in spec["queries"]]
        if name == "chart_etl":
            per_pass = spec["backfill_days_per_pass"]
            self.ops += [DailyRunOp(root)] + [BackfillOp(seed, per_pass)] * per_pass

    def prepare_fixtures(self, spark):
        prepare_fixtures(spark, self.fixtures, self.sf_dir)


def prepare_fixtures(spark, fixtures: list[str], sf_dir: str):
    """Build the chunk feeds and derived tables (``module.function`` names
    under the engine package) the way ``bench.py`` builds them."""
    for dotted in fixtures:
        mod, fn = dotted.rsplit(".", 1)
        getattr(importlib.import_module(f"{PKG}.{mod}"), fn)(spark, sf_dir)
