"""Opt-in oracle parity at sf1 — one hundred times the driver's
correctness scale, and the last scale regime where the engine had a bench
(343 queries, zero failures, r13) but no correctness validation (r13
verdict gap #1). The failure class this regime uniquely exposes is the
one r13 found in miniature: float-tie/threshold boundaries that shift
with corpus size, fixed-count picks against a 100x corpus, and — the
r13 lesson — ORACLES that themselves stop working at scale (the
internal-moment narrowing class made DuckDB crash instead of validate).

Off by default (hundreds of Spark+DuckDB pairs over the ~237 MB tiled
sf1 fixture at data/sf1, tens of minutes); enable with

    SPARK_GRAFT_SF1_PARITY=1    python -m pytest tests/test_parity_sf1.py
    SPARK_GRAFT_SF1_PARITY=full python -m pytest tests/test_parity_sf1.py

"1" runs the same hand-classified AT_RISK window the sf0.1 suite uses
(the risk classification is scale-independent: decimal overflow,
hash-order flips, threshold boundaries, fixed-count picks); "full" runs
the whole registry minus the documented oracle-infeasible set below;
"rest" runs the full-mode set MINUS the at-risk window, so a complete
sf1 validation composes as two complementary SWEEPS rows (at_risk 154 +
rest 189) without recomputing the at-risk half - each sf1 query pair costs
real minutes, and the union of the two modes is exactly full mode.
Outcomes append to SWEEPS.json via the conftest recorder
(sf1_oracle_parity_at_risk / sf1_oracle_parity_full /
sf1_oracle_parity_rest).

Like the sf0.001 suite, NO mode requires rows>0: agreement is the only
assertion. (The at-risk mode originally asserted non-empty results, but
corpus-RELATIVE thresholds legitimately empty at scale —
tpch_q11_important_stock's 0.0001/SF fraction-of-total gate returns
zero rows at sf1 under copy-local tiling, correctly, on BOTH engines.
See the in-body comment at the assertion site.)

ORACLE-INFEASIBLE EXCLUSIONS (full mode): a few oracles are deliberate
brute-force proofs — all-pairs O(n^2 * |shingles|) joins whose entire
point is proving the Spark side's prefix/band pruning lossless. At sf1
(50k documents -> 1.25e9 candidate pairs, each a list_intersect over
~hundreds of shingles) the ORACLE costs hours-to-days while the Spark
side stays seconds; the measured DuckDB-side cost forecast lives in
evidence/sf1_oracle_cost_forecast.json. Exclusions are emitted as
SKIPS (visible in the SWEEPS row), never silently dropped, and each
carries its alternative evidence in SF1_ORACLE_INFEASIBLE below.
"""

from __future__ import annotations

import os

import pytest

import data_engineering_spotify_etl_airflow_aws_spark as engine
from data_engineering_spotify_etl_airflow_aws_spark import registry

from .conftest import make_duckdb
from .test_oracle_parity import rows_to_multiset
from .test_parity_sf01 import AT_RISK

engine.load_all_operators()

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/data/sf1")

# Oracle-side cost is the bound, not the engine: these DuckDB oracles are
# intentionally brute-force lossless-pruning proofs, quadratic in the doc
# count. STANDING ALTERNATIVE EVIDENCE (r15, verdict ask #3): all four
# run with their FULL brute-force oracles against the deterministic
# 5k-doc hash sample of the sf1 documents table — sf1 vocabulary, sf1
# shingle statistics, all ten copy bijections, at the sf0.1 pair count —
# in tests/test_parity_sf1_sampled.py (SPARK_GRAFT_SF1_SAMPLED_PARITY=1;
# SWEEPS row sf1_sampled_quadratic_parity). A sync test there fails if
# this dict gains an exclusion without sampled evidence.
SF1_ORACLE_INFEASIBLE: dict[str, str] = {
    "ngram_jaccard_near_dup": (
        "all-pairs Jaccard oracle over 50k docs (1.25e9 list_intersect "
        "pairs); values are exact integer/string set ops outside the "
        "float-tie class, green in the r13 full sf0.1 sweep (343/343), "
        "the standing sf0.01 driver suite, and the r15 sampled-sf1 "
        "sweep (test_parity_sf1_sampled.py)"
    ),
    "containment_near_dup": (
        "all-pairs containment oracle, same O(n^2) shape and same "
        "exact-set-op value class; green at sf0.1 full + sf0.01 + "
        "sampled sf1"
    ),
    "near_dup_recall_eval": (
        "oracle embeds the ngram_jaccard all-pairs CTE verbatim; the "
        "banding-recall arithmetic it adds is a count ratio, green at "
        "sf0.1 full + sf0.01 + sampled sf1"
    ),
    # found by measurement, not analysis: tools/oracle_cost_forecast.py
    # timed this oracle at 20.5s/sf0.001 and 1315s/sf0.1 (the single
    # most expensive oracle in the r13 full-sf0.1 sweep), extrapolating
    # to ~84,000s at sf1 - its recursive-CTE connected-components walk
    # is quadratic-ish in component edges. The Spark side's pointer-
    # jumping CC is sf1-benched (20.9s, exp 0.58, zero flags); values
    # are exact integer set/graph ops, green at sf0.1 full + sf0.01.
    "dedup_clusters": (
        "oracle est ~84,000s at sf1 (measured forecast, "
        "evidence/sf1_oracle_cost_forecast.json); exact integer graph "
        "ops, green at sf0.1 full + sf0.01 + sampled sf1 (the sample "
        "bounds component edges, restoring recursive-CTE feasibility)"
    ),
}

_MODE = os.environ.get("SPARK_GRAFT_SF1_PARITY", "")

pytestmark = [
    pytest.mark.skipif(
        _MODE not in ("1", "full", "rest"),
        reason="sf1 parity is opt-in (SPARK_GRAFT_SF1_PARITY=1 for the "
        "at-risk window, =full for the whole registry, =rest for "
        "full-minus-at-risk); the default suite runs the full registry "
        "at sf0.01",
    ),
    pytest.mark.skipif(
        not os.path.isdir(SF1),
        reason=f"sf1 fixture missing at {SF1}; regenerate with "
        "tools/gen_sf1.py",
    ),
]

if _MODE == "full":
    _NAMES = sorted(registry.ORACLES)
elif _MODE == "rest":
    _NAMES = sorted(set(registry.ORACLES) - set(AT_RISK))
else:
    _NAMES = list(AT_RISK)


@pytest.fixture(scope="module")
def duck1():
    con = make_duckdb(SF1)
    yield con
    con.close()


@pytest.mark.parametrize("name", _NAMES)
def test_parity_at_sf1(name, spark, duck1):
    if _MODE in ("full", "rest") and name in SF1_ORACLE_INFEASIBLE:
        pytest.skip(f"oracle infeasible at sf1: {SF1_ORACLE_INFEASIBLE[name]}")
    sdf = registry.QUERIES[name](spark, SF1)
    rel = duck1.execute(registry.ORACLES[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols)
    s = rows_to_multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
    d = rows_to_multiset(duck_cols, duck_rows)
    assert len(s) == len(d)
    # NO rows>0 requirement at sf1, in any mode (the sf0.001 suite's
    # rule, for the mirror-image reason): corpus-RELATIVE thresholds
    # legitimately empty a query as the corpus grows. Measured in the
    # first r14 at-risk run: tpch_q11_important_stock keeps parts whose
    # stock value exceeds a fixed fraction of the TOTAL - under
    # copy-local tiling per-part values are constant while the total
    # grows 10x, so at sf1 no part clears the cutoff and BOTH engines
    # correctly return zero rows. Agreement is the assertion.
    assert s == d
