"""Freeze the golden output digests the benchmark checks against.

Run from the root of a checkout of the commit whose outputs are to be
frozen:

    python3 perfbench/make_golden.py

For every registered query a workload runs (``membership.json``), at the
scale factor it runs at, this collects the Spark result and runs the
query's DuckDB oracle (``registry.ORACLES``) over the same parquet
files. Both digests must agree; the Spark digest is written to
``golden.json``. Exit code 1 (and no file written) on any disagreement.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))

from perfbench import checks, run, workloads  # noqa: E402


def main() -> int:
    state = ROOT / ".bench_state" / "golden"
    run.pin_environment(ROOT, state)
    import duckdb

    import data_engineering_spotify_etl_airflow_aws_spark as engine
    from data_engineering_spotify_etl_airflow_aws_spark import caches, registry
    from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark
    from data_engineering_spotify_etl_airflow_aws_spark.tables import TABLES

    engine.load_all_operators()
    run.redirect_fixture_roots(state / "fixtures")
    spark = get_spark(app_name="perfbench-golden")
    golden: dict[str, dict[str, str]] = {}
    bad = []
    sf = workloads.SF
    sf_dir = str(ROOT / "perfbench" / "data" / sf)
    for name, spec in workloads.load_json("membership.json").items():
        workloads.prepare_fixtures(spark, spec["fixtures"], sf_dir)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for q in spec["queries"]:
            df = registry.QUERIES[q](spark, sf_dir)
            got = checks.df_digest(df.columns, df.collect())
            caches.release_all()
            spark.catalog.clearCache()
            want = checks.digest(*workloads.oracle_rows(con, registry.ORACLES[q]))
            print(f"{name:12s} {sf:8s} {q:45s} {got} {'ok' if got == want else 'MISMATCH'}",
                  file=sys.stderr)
            if got != want:
                bad.append((sf, q, got, want))
            golden.setdefault(sf, {})[q] = got
        con.close()
    spark.stop()
    if bad:
        print(f"{len(bad)} Spark/DuckDB disagreements: {bad}", file=sys.stderr)
        return 1
    out = ROOT / "perfbench" / "golden.json"
    out.write_text(json.dumps({sf: dict(sorted(d.items())) for sf, d in sorted(golden.items())},
                              indent=1) + "\n")
    print(f"wrote {out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
