"""The benchmark's own tests (no Spark session needed).

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import decimal
import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import chart_inbox, checks, run, tracer, workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_counts():
    e2e = [m["name"] for m in BENCH["end_to_end"]]
    layers = [m["name"] for m in BENCH["per_layer"]]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    for n in e2e + layers:
        assert NAME.match(n) and len(n) <= 64, n
    assert len(set(e2e + layers)) == len(e2e) + len(layers)


def test_emitted_metrics_match_benchmark_json():
    assert run.END_TO_END == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert tracer.LAYER_UNITS == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {w["name"] for w in BENCH["workloads"]} == set(run.WORKLOADS)
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def test_tracer_emits_every_layer_metric():
    from types import SimpleNamespace as NS

    bus = NS(waitUntilEmpty=lambda: None)
    sc = NS(_jsc=NS(sc=lambda: NS(listenerBus=lambda: bus)))
    tr = tracer.Tracer(NS(sparkContext=sc), cores=4)
    tr._progress.append((10, {"triggerExecution": 5, "addBatch": 3}, 2, 64))
    layers = tr.metrics(passes=2)
    layers.update(dict.fromkeys(  # set by run.py
        ("harness.hygiene_s", "trace.overhead_frac",
         "session.start_s", "session.warmup_s", "session.fixture_prep_s"), 0.0))
    assert set(layers) == set(tracer.LAYER_UNITS)
    assert layers["streaming.input_rows"] == 5 and layers["streaming.trigger_ms_p50"] == 5


def test_merged_job_intervals():
    assert tracer._merged_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert tracer._merged_seconds([]) == 0.0


def _metrics(n_ops):
    lat = [0.01 * (i + 1) for i in range(n_ops)]
    return run.workload_metrics(lat, lat, 2.0, 100.0, n_ops, 0, [])


def test_p90_only_with_enough_operations():
    assert "latency_p90_s" not in _metrics(run.P90_MIN_OPS - 1)
    m = _metrics(run.P90_MIN_OPS)
    assert m["latency_p90_s"] == pytest.approx(0.9)  # 10 samples lie beyond it
    assert m["setup_s"] == 2.0


def test_fastest_pass_takes_each_operation_at_its_best():
    passes = [[("a", 1.0), ("b", 2.0), ("c", 3.0)], [("a", 0.5), ("c", 2.5), ("b", 2.5)]]
    assert sorted(run.fastest_pass(passes)) == [0.5, 2.0, 2.5]


def test_timed_pass_count_depends_on_seconds_only():
    assert run.timed_pass_count(3 * run.TIMED_PASS_S) == 3
    assert run.timed_pass_count(0.1) == run.MIN_TIMED_PASSES


def test_backfill_slots_are_named_by_position_in_the_pass(tmp_path):
    from types import SimpleNamespace as NS

    per_pass = 3
    op = workloads.BackfillOp(seed=1, per_pass=per_pass)
    ctx = NS(state=tmp_path)
    names = []
    for _ in range(2 * per_pass):
        op.prepare(ctx)
        names.append(op.name)
    slots = [f"backfill_day_{k}" for k in range(1, per_pass + 1)]
    assert names == slots * 2


def test_percentile_nearest_rank():
    xs = list(range(1, 11))
    assert run.percentile(xs, 0.5) == 5
    assert run.percentile(xs, 0.9) == 9
    assert run.percentile(xs, 1.0) == 10


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    catalog = _Catalog()


class _Op:
    def __init__(self, name, fail=None):
        self.name, self.fail = name, fail

    def prepare(self, ctx):
        pass

    def build(self, ctx):
        if self.fail == "raise":
            raise RuntimeError("boom")
        return None

    def act(self, ctx, df):
        return (["x"], [(1,)] if self.fail != "wrong" else [(2,)])

    def rows(self, result):
        return 1

    def check(self, ctx, result):
        want = checks.digest(["x"], [(1,)])
        got = checks.digest(*result)
        return None if got == want else "digest differs"


def test_raised_and_wrong_outputs_count_as_failed():
    runner = run.Runner(ROOT, "registry", 1, 1.0, False)
    ctx = run.Context(ROOT / ".bench_state" / "unit")
    ctx.spark = _Spark()
    lat = [runner.run_op(ctx, _Op(n, f)) for n, f in
           (("ok", None), ("raises", "raise"), ("wrong", "wrong"))]
    assert lat[0] is not None and lat[1] is None and lat[2] is None
    assert (runner.attempted, runner.failed) == (3, 2)
    m = run.workload_metrics([lat[0]], [lat[0]], 1.0, 1.0, runner.attempted, runner.failed, [])
    assert m["error_rate"] == pytest.approx(2 / 3)
    line = json.loads(run.result_line(runner.attempted, runner.failed, m, run.END_TO_END))
    assert line["correct"] is False and line["failed"] == 2


def test_normalize_matches_oracle_parity_suite():
    parity = pytest.importorskip("tests.test_oracle_parity")
    values = [None, True, 3, 2.5, float("nan"), decimal.Decimal("1.25"), "s",
              datetime.date(2025, 7, 1), datetime.datetime(2025, 7, 1, 3, 4, 5),
              [1, decimal.Decimal("2.5")], (None, "a")]
    for v in values:
        assert checks.normalize(v) == parity.normalize(v)


def test_digest_is_order_and_column_order_insensitive():
    a = checks.digest(["b", "a"], [(1, "x"), (2, "y")])
    b = checks.digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a != checks.digest(["a", "b"], [("y", 2)])
    assert a != checks.digest(["a", "c"], [("y", 2), ("x", 1)])


def test_csv_comparison_parses_numbers():
    cols, rows = ["id", "avg", "d"], [("a", 1.5, datetime.date(2025, 1, 2)), ("b", None, None)]
    assert checks.same_as_csv(cols, rows, ["avg", "id", "d"],
                              [("1.5", "a", "2025-01-02"), (None, "b", None)])
    assert not checks.same_as_csv(cols, rows, ["avg", "id", "d"],
                                  [("1.25", "a", "2025-01-02"), (None, "b", None)])


def test_chart_inbox_is_seeded_and_has_the_edge_cases():
    days = chart_inbox.chart_days(7, 4)
    assert days == chart_inbox.chart_days(7, 4)
    assert days != chart_inbox.chart_days(8, 4)
    orders, precisions, null_release, multi_artist = [], set(), False, False
    for name, body in days:
        assert re.fullmatch(r"spotify_raw_\d{4}-\d{2}-\d{2}\.json", name)
        items = json.loads(body)["tracks"]["items"]
        assert len(items) == chart_inbox.N_PER_DAY
        ids = [it["track"]["id"] for it in items]
        assert "song_0000" in ids
        orders.append(ids)
        for it in items:
            rel = it["track"]["album"]["release_date"]
            null_release |= rel is None
            if rel:
                precisions.add(rel.count("-"))
            multi_artist |= len(it["track"]["artists"]) > 1
    assert precisions == {0, 1, 2} and null_release and multi_artist
    assert len({tuple(o) for o in orders}) == len(orders)  # rank churn


def test_membership_is_frozen_and_golden_covers_it():
    spec = workloads.load_json("membership.json")
    gold = workloads.load_json("golden.json")
    assert set(spec) == set(run.WORKLOADS)
    for name, w in spec.items():
        assert w["queries"] == sorted(set(w["queries"])), name
        assert set(w["queries"]) <= set(gold[workloads.SF]), name
    assert (ROOT / "perfbench" / "data" / workloads.SF).is_dir()
