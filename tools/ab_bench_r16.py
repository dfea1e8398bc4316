"""Interleaved min-of-N A/B for r16 optimization changes (standing A/B
discipline: any perf-relevant change ships with an interleaved pair in
evidence/).

Generalizes ab_bench_r15.py (deleted; in git history) to an arbitrary
query list: compares a PRE tree (a git worktree pinned at the
pre-change commit) against the working tree. Interleaving: A B A B ...
N times each, one process per sample (fresh JVM, same warmup), min-of-N
per query per side. Values are verified identical between sides before
timing counts.

Usage:
    python tools/ab_bench_r16.py --pre /tmp/spark_graft_pre_r16 \
        --queries pagerank_trade_graph,recsys_holdout_eval \
        --out evidence/ab_r16_batch1.json [--n 3]
Run UNCONTENDED.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark import registry
from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark
engine.load_all_operators()
sf_dir = sys.argv[2]
names = json.loads(sys.argv[3])
mode = sys.argv[4]  # "time" or "values"
spark = get_spark(app_name="ab-r16")
# shared warmup: first-run codegen must not land inside measured windows
warm = sf_dir.rstrip("/").rsplit("/", 1)[0] + "/sf0.001"
if not os.path.isdir(warm):
    warm = "/root/testdata/sf0.001"
for n in names:
    try:
        registry.QUERIES[n](spark, warm).collect()
    except Exception:
        pass
spark.catalog.clearCache()
out = {}
for n in names:
    if mode == "values":
        rows = registry.QUERIES[n](spark, sf_dir).collect()
        out[n] = sorted(str(tuple(r)) for r in rows)
    else:
        t0 = time.perf_counter()
        registry.QUERIES[n](spark, sf_dir).collect()
        out[n] = round(time.perf_counter() - t0, 4)
    spark.catalog.clearCache()
print("###AB###" + json.dumps(out))
"""


def run_side(root: str, sf_dir: str, names: list[str], mode: str) -> dict:
    env = dict(os.environ)
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, root, sf_dir, json.dumps(names), mode],
        capture_output=True,
        text=True,
        env=env,
    )
    for line in p.stdout.splitlines():
        if line.startswith("###AB###"):
            return json.loads(line[len("###AB###"):])
    raise RuntimeError(f"side {root} produced no result: {p.stderr[-2000:]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pre", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]
    post = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def loadavg() -> list[float]:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]

    load_before = loadavg()

    # values must agree before timing means anything
    va = run_side(args.pre, args.sf_dir, queries, "values")
    vb = run_side(post, args.sf_dir, queries, "values")
    mismatch = [n for n in queries if va[n] != vb[n]]

    mins: dict[str, dict[str, float]] = {n: {} for n in queries}
    samples: dict[str, dict[str, list[float]]] = {
        n: {"pre": [], "post": []} for n in queries
    }
    for _ in range(args.n):
        for side, root in (("pre", args.pre), ("post", post)):
            t = run_side(root, args.sf_dir, queries, "time")
            for n in queries:
                samples[n][side].append(t[n])
                cur = mins[n].get(side)
                mins[n][side] = min(cur, t[n]) if cur is not None else t[n]
    out = {
        "sf_dir": args.sf_dir,
        "n": args.n,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "values_identical": not mismatch,
        "value_mismatches": mismatch,
        "min_of_n": mins,
        "samples": samples,
        "deltas": {
            n: round(mins[n]["post"] - mins[n]["pre"], 4) for n in queries
        },
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out["deltas"], indent=1))
    print("values_identical:", not mismatch, mismatch)
    return 0


if __name__ == "__main__":
    sys.exit(main())
